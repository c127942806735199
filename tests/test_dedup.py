"""Correctness of the engine-hash dedup/fingerprint operators that carry no
DuckDB oracle: MinHash ≈ Jaccard, LSH candidate recall vs exact n-gram
Jaccard, SimHash Hamming locality, fingerprint determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.queries import (
    N_MINHASH,
    _minhash_sig_df,
    q_lsh_bucket_candidates,
    q_minhash_signatures,
    q_ngram_jaccard_pairs,
    q_simhash_fingerprint,
    q_doc_fingerprint,
)

SF = "/root/testdata/sf0.001"


def _shingles(text: str) -> set[str]:
    t = text.split(" ")
    return {" ".join(t[i : i + 3]) for i in range(max(len(t) - 2, 1))}


@pytest.fixture(scope="module")
def docs(spark):
    return {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }


def test_minhash_estimates_jaccard(spark, docs):
    sigs = {r["doc_id"]: r["minhash"] for r in _minhash_sig_df(spark, SF).collect()}
    assert all(len(s) == N_MINHASH for s in sigs.values())
    ids = sorted(docs)[:30]
    errs = []
    for a in ids:
        for b in ids:
            if a >= b:
                continue
            sa, sb = _shingles(docs[a]), _shingles(docs[b])
            true_j = len(sa & sb) / len(sa | sb)
            est = sum(x == y for x, y in zip(sigs[a], sigs[b])) / N_MINHASH
            errs.append(abs(true_j - est))
    # 16 permutations → σ ≈ sqrt(j(1-j)/16) ≤ 0.125; mean abs error well under
    assert sum(errs) / len(errs) < 0.15


def test_lsh_candidates_superset_of_strong_pairs(spark, docs):
    """Any pair with exact Jaccard ≥ 0.8 must land in an LSH bucket
    (4 bands x 4 rows → P(candidate | j=0.8) = 1-(1-0.8^4)^4 ≈ 0.93; the
    synthetic near-dup pairs in testdata are exact dups, j=1 → P=1)."""
    strong = {
        (r["doc_a"], r["doc_b"])
        for r in q_ngram_jaccard_pairs(spark, SF).collect()
        if r["jaccard"] >= 0.999
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in q_lsh_bucket_candidates(spark, SF).collect()
    }
    assert strong <= cands
    # and LSH isn't degenerate (doesn't pair everything with everything)
    n_docs = len(docs)
    assert len(cands) < n_docs * (n_docs - 1) / 20


def test_simhash_locality(spark, docs):
    sh = {r["doc_id"]: r["simhash"] for r in q_simhash_fingerprint(spark, SF).collect()}

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # identical texts → identical simhash
    by_text: dict[str, list[int]] = {}
    for d, t in docs.items():
        by_text.setdefault(t, []).append(d)
    for ids in by_text.values():
        vals = {sh[i] for i in ids}
        assert len(vals) == 1
    # locality: pairs with higher token-set Jaccard must sit closer in
    # Hamming space than low-Jaccard pairs (the testdata vocabulary is tiny,
    # so absolute distances are small — the ORDERING is the property).
    ids = sorted(docs)[:40]
    scored = []
    for a in ids:
        for b in ids:
            if a >= b or docs[a] == docs[b]:
                continue
            ta, tb = set(docs[a].split()), set(docs[b].split())
            j = len(ta & tb) / len(ta | tb)
            scored.append((j, hamming(sh[a], sh[b])))
    scored.sort()
    k = len(scored) // 10
    low_j = sum(h for _, h in scored[:k]) / k
    high_j = sum(h for _, h in scored[-k:]) / k
    assert high_j < low_j


def test_minhash_query_matches_internal_signatures(spark):
    """The registered scalar query is the exploded view of the internal
    array signature — same (doc_id, k) → sig_k mapping, nothing lost."""
    arr = {
        (r["doc_id"], k): v
        for r in _minhash_sig_df(spark, SF).collect()
        for k, v in enumerate(r["minhash"])
    }
    flat = {
        (r["doc_id"], r["k"]): r["sig_k"]
        for r in q_minhash_signatures(spark, SF).collect()
    }
    assert arr == flat and len(flat) > 0


def test_fingerprint_deterministic(spark):
    a = {tuple(r) for r in q_doc_fingerprint(spark, SF).collect()}
    b = {tuple(r) for r in q_doc_fingerprint(spark, SF).collect()}
    assert a == b and len(a) > 0


def _write_docs(spark, tmp_path, texts):
    rows = [
        (i, t, "en", "src0", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_shingle_df_cap_bounds_hot_key(spark, tmp_path):
    """A stop-shingle shared by every document must stop feeding the
    self-join once its df exceeds the cap: with the cap binding, only the
    genuine near-dup pair survives; without it, the hot shingle alone
    creates O(n²) intersection rows."""
    hot = "alpha beta gamma"
    texts = [f"{hot} unique{i} tail{i} end{i} more{i} pad{i}" for i in range(40)]
    texts += [
        "real duplicate content body words here seven eight nine ten",
        "real duplicate content body words here seven eight nine ten",
    ]
    sf = _write_docs(spark, tmp_path, texts)
    uncapped = q_ngram_jaccard_pairs(
        spark, sf, max_shingle_df=10**9, min_jaccard=0.0
    )
    capped = q_ngram_jaccard_pairs(
        spark, sf, max_shingle_df=8, min_jaccard=0.0
    )
    # the capped plan's candidate space excludes every hot-shingle-only pair
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert capped_pairs == {(40, 41)}
    # the uncapped plan materializes the quadratic hot-key blowup
    assert uncapped.count() >= 40 * 39 / 2


def test_lsh_bucket_cap_drops_degenerate_bucket(spark, tmp_path):
    """A band bucket holding a giant identical-document cluster implies
    s(s-1)/2 pairs on one reducer; a binding cap drops it while normal-size
    buckets keep their candidates."""
    texts = ["same degenerate boilerplate text repeated everywhere ok"] * 30
    texts += [
        "genuine article one about spark shuffles and joins here now",
        "genuine article one about spark shuffles and joins here now",
    ]
    sf = _write_docs(spark, tmp_path, texts)
    uncapped = q_lsh_bucket_candidates(spark, sf, max_bucket=10**9)
    assert uncapped.count() >= 30 * 29 / 2  # degenerate cluster blowup
    capped = q_lsh_bucket_candidates(spark, sf, max_bucket=8)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (30, 31) in pairs  # the real near-dup survives
    assert all(a >= 30 for a, _ in pairs)  # degenerate bucket gone


def test_fingerprint_no_python_udf(spark):
    """All engine-hash ops must stay JVM-side: no BatchEvalPython /
    ArrowEvalPython / mapInPandas in their physical plans. The LSH-fed
    clustering runs its CC fixpoint at construction, so its returned plan
    covers the assignment tail over the checkpointed labels — still a
    Python-free surface worth pinning."""
    from engine.queries import q_neardup_clusters_lsh

    for q in (
        q_minhash_signatures,
        q_simhash_fingerprint,
        q_doc_fingerprint,
        q_lsh_bucket_candidates,
        q_neardup_clusters_lsh,
    ):
        plan = q(spark, SF)._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan, q.__name__


def test_incremental_dedup_below_gate_call_releases_previous_persist(spark):
    """The shingle-postings persist is size-gated; the previous call's
    persist must be released on every call, so a below-gate call after an
    above-gate one leaves no persisted shingle frame behind."""
    from unittest import mock

    from pyspark import StorageLevel

    from engine import queries as Q

    with mock.patch.object(Q, "_INC_DEDUP_PERSIST_MIN_BYTES", 0):
        Q.q_incremental_dedup(spark, SF)  # above the gate: persists
    (sh,) = Q._INC_DEDUP_CACHED
    assert sh.storageLevel != StorageLevel.NONE
    with mock.patch.object(Q, "_INC_DEDUP_PERSIST_MIN_BYTES", 1 << 62):
        Q.q_incremental_dedup(spark, SF)  # below the gate
    assert Q._INC_DEDUP_CACHED == []
    assert sh.storageLevel == StorageLevel.NONE
