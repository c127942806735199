"""Adversarial-input oracle parity: the sf-testdata is clean (no nulls, no
malformed payloads, ≥10 tokens/doc), so it cannot catch engine-semantics
divergences on degenerate rows — exactly where Spark-vs-DuckDB differ
(NULL propagation through list lambdas, ANSI casts, malformed JSON).
These corpora pin the declared degradation semantics: bad rows become
NULLs, never task failures, and both engines agree value-exactly.

Found-by-this-test (round 2): token_correction_stats NULL-text n_corr
divergence; json_funcs ANSI-cast task kill on a non-numeric payload value;
json_roundtrip DuckDB error on malformed JSON.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest

from engine.queries import _ORACLE, _QUERIES
from tests.oracle_harness import frame_fingerprint

ADVERSARIAL_DOCS = [
    (0, None, "en", "src0", 0),
    (1, "", "en", "src0", 0),
    (2, "   ", "en", "src1", 3),
    (3, "héllo wörld héllo wörld naïve", "fr", "src0", 29),
    (4, "中文 文本 中文 文本 测试", "zh", "src0", 12),
    (5, "a", "en", "src1", 1),
    (6, "tab\tand\nnewline mix  double  space", "en", "src0", 34),
    (7, "émoji 🎉 and 🎉 again", "en", "src2", 20),
    (8, "the of the and to in is for on with", "en", "src0", 35),
    (9, "the of the and to in is for on with", "en", "src1", 35),
    # real PII + emoji width + null source: the scrub chain must agree
    # byte-for-byte and the injected layer must survive a null source
    (10, "mail a@b.co ip 10.0.0.1 tel 555-123-4567 🎉", "en", None, 43),
    # decomposed é (e+U+0301), NBSP, vertical tab, control char: the NFC +
    # explicit-whitespace-class normalization must agree byte-for-byte
    (11, "café x y\x0bz \x07bell", "fr", "src2", 20),
]

_TS = datetime.datetime(2024, 1, 1)
ADVERSARIAL_EVENTS = [
    (0, _TS, 1, "click", 1.5, '{"k": 1}'),
    (1, _TS, 1, "view", -0.0, None),
    (2, _TS, 2, "click", 0.005, "{}"),
    (3, _TS, 2, "weird", 1e9, "not json"),
    (4, _TS, 3, "click", -5.25, '{"k": null}'),
    (5, _TS, 3, "view", 0.0, '{"k": "txt"}'),
    (6, _TS, None, "click", None, '{"k": 2, "extra": true}'),
    (7, _TS, 4, "purchase", 1e-9, '{"k": -9223372036854775808}'),
    (8, None, 1, "click", 2.0, '{"k": 3}'),  # null ts: window-order parity
    (9, _TS, 2, None, 0.5, '{"k": 4}'),  # null event_type: NULL group /
    # pivot / map key — map_from_entries raises [NULL_MAP_KEY] unless the
    # entry is filtered (advice finding, round 3)
]

_TS2 = datetime.datetime(2024, 1, 2)
ADVERSARIAL_ORDERS = [
    (1, 5, 100.0, _TS2),
    (2, 5, None, _TS2),  # null price
    (3, None, 50.0, _TS2),  # null join key
    (4, 7, 0.0, None),  # null date
    (5, 7, -10.0, _TS2),
]

ADVERSARIAL_LINEITEM = [
    (1, 10, 100, 1, 5.0, 1000.0, 0.05, 0.02, "A", "F", _TS),
    (2, 10, 100, 1, None, None, None, None, "N", "O", _TS),
    (3, 11, 101, 2, 0.0, 0.0, 0.0, 0.0, "R", "F", None),
    (4, 12, 102, 1, 1e8, 1e12, 1.0, 1.0, "A", "F", _TS),
    (5, 13, 103, 1, -3.0, -50.5, 0.5, 0.5, "R", "O", _TS),
    # null part key (no edge) + a 3-part order (one real triangle) for
    # the co-purchase triangle query
    (6, None, 104, 1, 2.0, 20.0, 0.1, 0.0, "A", "F", _TS),
    (7, 20, 105, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
    (7, 21, 106, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
    (7, 22, 107, 3, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
]

DOC_QUERIES = [
    "string_funcs",
    "token_count",
    "lang_id_heuristic",
    "quality_score",
    "dedup_exact",
    "training_set_selection",
    "ngram_jaccard_pairs",
    "neardup_clusters",
    "training_set_selection_neardup",
    "token_correction_stats",
    "rollup_doc_metrics",
    "set_ops",
    "repetition_metrics",
    "ngram_decontaminate",
    "passage_dedup",
    "mixture_sample",
    "sequence_pack",
    "column_profile",
    "pii_redact_stats",
    "tfidf_topk_terms",
    "mixture_sample_temp",
    "dataset_split",
    "source_cap_sample",
    "bigram_novelty_scores",
    "dataset_shard_order",
    "text_normalize_stats",
    "keyword_search_topk",
    # doc 6's newline-terminated token is exactly the corpus that caught
    # the rlike-$ vs regexp_full_match anchor divergence (r5 finding)
    "bpe_train_merges",
    "bpe_encode_stats",
    # non-ASCII / newline / empty docs exercise winnowing's printable-
    # ASCII token domain and zero-gram exclusion on both engines
    "winnow_fingerprints",
]
EVENT_QUERIES = [
    "json_funcs",
    "json_roundtrip",
    "map_funcs",
    "distinct_agg",
    "date_funcs",
    "time_window_agg",
    "window_analytics",
    "pivot_events",
    "latest_crawl_dedup",
    "topk_hot_keys",
    "cube_events",
    "running_totals",
    "interval_join_events",
    "sessionize_events",
    "grouping_sets_events",
]


def _compare(spark, sf_dir, table, names):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM "
        f"read_parquet('{sf_dir}/{table}.parquet/*.parquet')"
    )
    bad = {}
    for name in names:
        sdf = _QUERIES[name](spark, sf_dir)
        s = frame_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = con.execute(_ORACLE[name])
        d = frame_fingerprint(
            [c[0] for c in cur.description], [tuple(r) for r in cur.fetchall()]
        )
        if s != d:
            bad[name] = {"spark": s, "duckdb": d}
    return bad


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("fuzz_docs"))
    spark.createDataFrame(
        ADVERSARIAL_DOCS,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    return sf


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("fuzz_events"))
    spark.createDataFrame(
        ADVERSARIAL_EVENTS,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.parquet(f"{sf}/events.parquet")
    return sf


@pytest.fixture(scope="module")
def lineitem_dir(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("fuzz_li"))
    spark.createDataFrame(
        ADVERSARIAL_LINEITEM,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    return sf


def test_lineitem_queries_survive_adversarial_rows(spark, lineitem_dir):
    bad = _compare(
        spark,
        lineitem_dir,
        "lineitem",
        ["pricing_summary", "math_funcs", "stats_agg", "triangle_parts"],
    )
    assert not bad, bad


def _adversarial_embeddings():
    import random

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(64)], i % 3) for i in range(20)
    ]
    rows += [
        (20, [0.0] * 64, 0),  # zero vector: undefined cosine
        (21, None, 1),  # failed encoder: null embedding
        (22, [1.0] * 64, 2),
        (23, [1.0] * 64, 2),  # exact dup pair (22, 23)
        (24, [1.0, None] + [0.5] * 62, 0),  # null ELEMENT: engines differ
        # on list-lambda NULL propagation unless excluded explicitly
    ]
    return rows


def _emb_schema():
    from pyspark.sql import types as T

    # explicit containsNull=True: the DDL shorthand asserts non-null array
    # elements on createDataFrame, defeating the null-element case
    return T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField(
                "embedding", T.ArrayType(T.DoubleType(), containsNull=True)
            ),
            T.StructField("label", T.IntegerType()),
        ]
    )


@pytest.fixture(scope="module")
def emb_dir(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("fuzz_emb"))
    spark.createDataFrame(
        _adversarial_embeddings(), _emb_schema()
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
    return sf


def test_embedding_oracles_survive_zero_and_null_vectors(spark, emb_dir):
    """Zero-norm / null embeddings are excluded by the declared operator
    domain (unfiltered: ANSI DIVIDE_BY_ZERO kills the job); the oracle
    pairs must agree after the same exclusion."""
    bad = _compare(
        spark,
        emb_dir,
        "embeddings",
        [
            "array_funcs",
            "ann_cosine_topk",
            "embedding_neardup_pairs",
            "semdedup_prune",
            # the Arrow block-pair path must survive the same degenerate
            # domain (null-element / zero vectors) with the same answer
            "semdedup_prune_fast",
        ],
    )
    assert not bad, bad


def test_embedding_kernels_survive_zero_and_null_vectors(spark, emb_dir):
    """Every no-oracle embedding kernel must run (no divide-by-zero, no
    NaN cells) and the scale paths must still find the planted dup pair."""
    from engine.queries import _QUERIES

    for name in (
        "ann_lsh_bucketed",
        "ann_ivf",
        "embedding_neardup_pairs_fast",
        "embedding_neardup_pairs_lsh",
    ):
        out = _QUERIES[name](spark, emb_dir).collect()
        assert all(
            not (isinstance(v, float) and v != v) for r in out for v in r
        ), name
        if "pairs" in name:
            pairs = {(r["vec_a"], r["vec_b"]) for r in out}
            assert (22, 23) in pairs, name
            ids = {a for a, _ in pairs} | {b for _, b in pairs}
        else:
            ids = {r[0] for r in out}
        # invalid vectors appear on NEITHER side of any output row
        assert not (ids & {20, 21, 24}), name


def test_ann_degrades_to_empty_when_query_vector_invalid(spark, tmp_path):
    """If the designated query vector (vec_id=0) is itself null/zero-norm,
    every ANN operator returns an empty frame — never an IndexError on the
    driver (code-review finding)."""
    import random

    from engine.queries import _QUERIES

    rng = random.Random(5)
    rows = [(0, [0.0] * 64, 0)] + [
        (i, [rng.gauss(0, 1) for _ in range(64)], 1) for i in range(1, 10)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).coalesce(1).write.parquet(f"{sf}/embeddings.parquet")
    for name in ("ann_cosine_topk", "ann_lsh_bucketed", "ann_ivf"):
        assert _QUERIES[name](spark, sf).count() == 0, name


def test_documents_queries_survive_adversarial_rows(spark, docs_dir):
    bad = _compare(spark, docs_dir, "documents", DOC_QUERIES)
    assert not bad, bad


def test_bpe_survives_merge_exhaustion(spark, tmp_path):
    """A corpus whose mergeable pairs dry up before BPE_ROUNDS must NOT
    collapse to zero rows: the learned-merge join is left-on-TRUE, so an
    empty best-pair frame leaves the vocabulary intact (a cross join
    annihilated it — and the twin collapsed identically, so only a
    concrete expectation catches it; code-review finding, r5). Single
    word type 'ab': round 1 merges (a,b), rounds 2-3 find nothing."""
    sf = str(tmp_path)
    spark.createDataFrame(
        [(0, "ab ab ab ab", "en", "s0", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")
    bad = _compare(
        spark, sf, "documents", ["bpe_train_merges", "bpe_encode_stats"]
    )
    assert not bad, bad
    enc = _QUERIES["bpe_encode_stats"](spark, sf).collect()
    assert [tuple(r) for r in enc] == [("s0", 4, 8, 4)]
    tr = {r.merge_round: tuple(r)[1:] for r in
          _QUERIES["bpe_train_merges"](spark, sf).collect()}
    assert tr[1] == ("a", "b", 4, 4)
    assert tr[2] == (None, None, None, 4)
    assert tr[3] == (None, None, None, 4)


def test_triangle_packed_key_guard(spark, lineitem_dir, tmp_path):
    """The closing-probe key packing ((u << 31) | v) is guarded on the
    real partkey range: ids at/above 2^31 (or negative) must fall back to
    the two-column key and still agree value-exactly with the oracle,
    while in-range corpora take the packed path (r6 optimization pin)."""
    import engine.queries as Q

    # in-range corpus (the adversarial lineitem fixture): packed path
    plan = Q.q_triangle_parts(
        spark, lineitem_dir
    )._jdf.queryExecution().executedPlan().toString()
    assert "shiftleft" in plan, plan

    # out-of-range ids: same triangle topology as the fixture's order 7,
    # but partkeys straddle 2^31 and include a negative id
    big = 1 << 31
    rows = [
        (7, big + 20, 105, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
        (7, big + 21, 106, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
        (7, -22, 107, 3, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
        (8, big + 20, 105, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
        (8, big + 21, 106, 2, 1.0, 10.0, 0.0, 0.0, "N", "O", _TS),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.parquet(f"{sf}/lineitem.parquet")
    plan = Q.q_triangle_parts(
        spark, sf
    )._jdf.queryExecution().executedPlan().toString()
    assert "shiftleft" not in plan, plan
    bad = _compare(spark, sf, "lineitem", ["triangle_parts"])
    assert not bad, bad


def test_triangle_int32_partkey_no_wrap(spark, tmp_path):
    """An int32 l_partkey column passes the packed-key range guard; the
    packing must still not wrap in 32 bits. Orders 1-3 give edges (2,3),
    (3,5), (4,5): the wedge 2-3-5 has no closing edge (2,5), but a 32-bit
    (u << 31) | v packs (2,5) and (4,5) alike to 5, which invented the
    triangle {2,3,5}. Order 4 holds the one real triangle {6,7,8}."""
    import engine.queries as Q

    rows = [
        (1, 2), (1, 3), (2, 3), (2, 5), (3, 4), (3, 5), (4, 6), (4, 7), (4, 8),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows, "l_orderkey int, l_partkey int").coalesce(
        1
    ).write.parquet(f"{sf}/lineitem.parquet")
    plan = Q.q_triangle_parts(
        spark, sf
    )._jdf.queryExecution().executedPlan().toString()
    assert "shiftleft" in plan, plan  # the packed path is the one under test
    bad = _compare(spark, sf, "lineitem", ["triangle_parts"])
    assert not bad, bad
    got = [tuple(r) for r in Q.q_triangle_parts(spark, sf).collect()]
    assert got == [(6, 1), (7, 1), (8, 1)]


def test_events_queries_survive_adversarial_rows(spark, events_dir):
    bad = _compare(spark, events_dir, "events", EVENT_QUERIES)
    assert not bad, bad


def test_join_queries_survive_null_keys(spark, events_dir, tmp_path):
    """Null join keys, null prices, null dates: the salted join, the as-of
    union-window, and the decorrelated subquery must agree value-exactly
    with the oracle (null keys never match in either engine)."""
    import shutil

    sf = str(tmp_path)
    shutil.copytree(f"{events_dir}/events.parquet", f"{sf}/events.parquet")
    spark.createDataFrame(
        ADVERSARIAL_ORDERS,
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp",
    ).coalesce(1).write.parquet(f"{sf}/orders.parquet")
    con = duckdb.connect()
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet/*.parquet')"
        )
    bad = {}
    for name in (
        "salted_skew_join",
        "asof_join",
        "correlated_above_avg",
        "full_outer_reconcile",
    ):
        sdf = _QUERIES[name](spark, sf)
        s = frame_fingerprint(sdf.columns, [tuple(r) for r in sdf.collect()])
        cur = con.execute(_ORACLE[name])
        d = frame_fingerprint(
            [c[0] for c in cur.description], [tuple(r) for r in cur.fetchall()]
        )
        if s != d:
            bad[name] = {"spark": s, "duckdb": d}
    assert not bad, bad
