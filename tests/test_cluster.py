"""Pins for engine/cluster.py (pairs → clusters) and the two registered
clustering queries.

The load-bearing pin is the convergence bound: pointer jumping must make a
64-node PATH (worst-case diameter for its size) converge within 10 rounds —
plain min-label propagation would need 63, so this fails if the doubling
step is ever dropped or broken.
"""

from __future__ import annotations

import pytest

from engine import cluster
from engine.cluster import connected_components
from engine.queries import _QUERIES

SF = "/root/testdata/sf0.001"


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long")


def _assign(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_components_on_known_graph(spark):
    # {0,1,2,3} via a chain + a redundant edge, {10,11}, 20–21 via 21→20
    got = _assign(
        connected_components(
            _edges(
                spark,
                [(1, 0), (1, 2), (2, 3), (0, 3), (10, 11), (21, 20)],
            )
        )
    )
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 21: 20}


def test_path_graph_converges_in_log_rounds(spark, monkeypatch):
    """A 64-node path has diameter 63: propagation alone needs 63 rounds,
    propagation+jumping needs O(log 63) ≈ 6. MAX_ITER=10 binds the log
    behaviour — this test is THE regression guard for pointer jumping."""
    monkeypatch.setattr(cluster, "MAX_ITER", 10)
    path = _edges(spark, [(i, i + 1) for i in range(63)])
    got = _assign(connected_components(path))
    assert got == {i: 0 for i in range(64)}


def test_null_endpoints_are_dropped_not_fatal(spark):
    got = _assign(
        connected_components(
            spark.createDataFrame(
                [(1, 2), (3, None), (None, None)], "src long, dst long"
            )
        )
    )
    # (3, NULL) is a degenerate row, not an edge: 3 never enters the graph
    assert got == {1: 1, 2: 1}


def test_empty_edges_empty_result(spark):
    assert connected_components(_edges(spark, [])).count() == 0


def test_unconverged_raises(spark, monkeypatch):
    monkeypatch.setattr(cluster, "MAX_ITER", 1)
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(_edges(spark, [(i, i + 1) for i in range(63)]))


def test_neardup_clusters_plan_is_python_free(spark):
    """The clustering stage is joins/aggs over (id,label) longs — no
    Python in the plan (the checkpointed pair computation upstream is the
    already-pinned jaccard plan)."""
    plan = _QUERIES["neardup_clusters"](
        spark, SF
    )._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "MapInPandas", "MapInArrow", "PythonUDF"):
        assert marker not in plan, marker


def test_neardup_clusters_properties(spark):
    rows = _QUERIES["neardup_clusters"](spark, SF).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    # total assignment: every doc exactly once
    assert len(by_doc) == len(rows)
    for r in rows:
        # representative is the cluster min and is marked
        assert r["cluster_id"] <= r["doc_id"]
        assert r["is_rep"] == int(r["doc_id"] == r["cluster_id"])
        assert by_doc[r["cluster_id"]]["is_rep"] == 1
    # cluster_n agrees with the actual membership counts
    from collections import Counter

    sizes = Counter(r["cluster_id"] for r in rows)
    assert all(sizes[r["cluster_id"]] == r["cluster_n"] for r in rows)


def test_neardup_clusters_lsh_is_valid_cc_of_candidates(spark):
    """The LSH-fed clustering (rows-only — engine-hash pair set) must be a
    VALID connected-components assignment of its own candidate pairs:
    every candidate pair co-clustered, representatives cluster-minimal,
    two runs bit-identical."""
    rows = _QUERIES["neardup_clusters_lsh"](spark, SF).collect()
    by_doc = {r["doc_id"]: r["cluster_id"] for r in rows}
    assert len(by_doc) == len(rows)  # total assignment, once per doc
    pairs = _QUERIES["lsh_bucket_candidates"](spark, SF).collect()
    for p in pairs:  # co-clustering: the defining CC property
        assert by_doc[p["doc_a"]] == by_doc[p["doc_b"]]
    for r in rows:
        assert r["cluster_id"] <= r["doc_id"]
        assert r["is_rep"] == int(r["doc_id"] == r["cluster_id"])
    again = {
        r["doc_id"]: r["cluster_id"]
        for r in _QUERIES["neardup_clusters_lsh"](spark, SF).collect()
    }
    assert by_doc == again


def test_neardup_clusters_emb_is_valid_cc_of_pairs(spark):
    """The embedding-LSH-fed clustering (rows-only — probabilistic pair
    set) must be a VALID connected-components assignment of its own
    verified pair set: every vector assigned once, every verified pair
    co-clustered, representatives cluster-minimal and marked, cluster_n
    consistent, two runs bit-identical."""
    rows = _QUERIES["neardup_clusters_emb"](spark, SF).collect()
    by_vec = {r["vec_id"]: r["cluster_id"] for r in rows}
    assert len(by_vec) == len(rows)  # total assignment, once per vector
    pairs = _QUERIES["embedding_neardup_pairs_lsh"](spark, SF).collect()
    assert pairs  # non-vacuous: the battery threshold yields real pairs
    for p in pairs:  # co-clustering: the defining CC property
        assert by_vec[p["vec_a"]] == by_vec[p["vec_b"]]
    from collections import Counter

    sizes = Counter(r["cluster_id"] for r in rows)
    for r in rows:
        assert r["cluster_id"] <= r["vec_id"]
        assert r["is_rep"] == int(r["vec_id"] == r["cluster_id"])
        assert sizes[r["cluster_id"]] == r["cluster_n"]
    again = {
        r["vec_id"]: r["cluster_id"]
        for r in _QUERIES["neardup_clusters_emb"](spark, SF).collect()
    }
    assert by_vec == again


def test_selection_neardup_subset_of_exact_selection(spark):
    """Near-dup selection can only shrink the exact-dedup selection, and
    representatives must be selected docs."""
    exact = {
        r["doc_id"] for r in _QUERIES["training_set_selection"](spark, SF).collect()
    }
    near = _QUERIES["training_set_selection_neardup"](spark, SF).collect()
    near_ids = {r["doc_id"] for r in near}
    assert near_ids <= exact
    assert sum(r["n_members"] for r in near) == len(exact)


def test_pagerank_mass_conserved_and_deterministic(spark):
    """PageRank invariants: total n-scaled rank mass == n (damped walk
    conserves probability on the symmetrized graph), every rank positive,
    two runs bit-identical (checkpointed iterations are deterministic)."""
    from pyspark.sql import functions as F

    from engine.queries import q_pagerank_txn_graph

    sf = "/root/testdata/sf0.001"
    df = q_pagerank_txn_graph(spark, sf)
    rows = {(r["node_type"], r["key"]): r["rank_scaled"] for r in df.collect()}
    agg = q_pagerank_txn_graph(spark, sf).agg(
        F.sum("rank_scaled").alias("mass"), F.count("*").alias("n"),
        F.min("rank_scaled").alias("lo"),
    ).collect()[0]
    assert abs(agg["mass"] - agg["n"]) < 0.01 * agg["n"]
    assert agg["lo"] > 0
    again = {
        (r["node_type"], r["key"]): r["rank_scaled"]
        for r in q_pagerank_txn_graph(spark, sf).collect()
    }
    assert rows == again


def test_pagerank_construction_survives_stale_cache_entries(spark):
    """Review finding: the pagerank call scope may hold DataFrames of a
    stopped SparkSession (bench.py stops/recreates sessions in-process). A
    dead handle must not crash query CONSTRUCTION on the next call."""
    from engine import queries as Q

    class _Dead:
        def unpersist(self):
            raise RuntimeError("Cannot call methods on a stopped SparkContext")

    Q._CALL_PERSISTS.setdefault("pagerank", []).append(_Dead())
    df = Q.q_pagerank_txn_graph(spark, SF)
    assert df.schema is not None  # construction completed
    # the slot now holds exactly this call's two persists (edges, nodetab)
    held = Q._CALL_PERSISTS["pagerank"]
    assert len(held) == 2
    assert all(h.sparkSession is spark for h in held)


def test_pagerank_construction_raises_on_current_session_release_failure(
    spark,
):
    """The other half of the stale-handle rule: a failed unpersist of a
    frame from the CURRENT session is a real leak (the frame would stay
    cached with no owner and the next timed pass would hit a warm cache),
    so construction must raise instead of skipping it."""
    from engine import queries as Q

    class _Live:
        sparkSession = spark

        def unpersist(self):
            raise RuntimeError("unpersist failed")

    Q._CALL_PERSISTS.setdefault("pagerank", []).append(_Live())
    with pytest.raises(RuntimeError, match="unpersist failed"):
        Q.q_pagerank_txn_graph(spark, SF)
