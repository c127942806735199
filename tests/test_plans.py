"""Physical-plan regression tests — the scale properties the engine claims
(SURVEY.md §5.2, BENCH/BASELINE.md) must stay visible in the plans:
column pruning into the Arrow channel, pushed filters, broadcast joins,
top-k without a global sort, map-only extraction (no exchange)."""

from __future__ import annotations

import pytest

from engine.extract.udf import run_extract
from engine.queries import (
    q_broadcast_dim_join,
    q_pricing_summary,
    q_topk_hot_keys,
)
from engine.synth import generate_pages

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "pages.parquet")
    generate_pages(spark, 100, partitions=2).write.parquet(p)
    return p


def test_extract_scan_prunes_to_url_html(spark, pages_path):
    plan = _plan(run_extract(spark.read.parquet(pages_path)))
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    assert "MapInArrow" in plan
    # map-only: no shuffle/exchange anywhere in the extract stage
    assert "Exchange" not in plan


def _udf_write_trees(spark, action):
    """Run `action` and return the executed plan tree (the text above the
    node details) of every SQL execution it ran whose plan holds
    MapInArrow, read from the SQL status store, final AQE plan first."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    runs = store.executionsList()
    first = runs.last().executionId() + 1 if runs.nonEmpty() else 0
    action()
    bus.waitUntilEmpty()
    runs = store.executionsList()
    trees = []
    for i in range(runs.size() - 1, -1, -1):
        run = runs.apply(i)
        if run.executionId() < first:
            break
        tree = run.physicalPlanDescription().split("\n\n", 1)[0]
        if "MapInArrow" in tree:
            trees.append(tree)
    return trees[::-1]


def _exchanges_above_udf(tree):
    """Lines from the write command down to the first MapInArrow below it
    that name an exchange."""
    lines = tree.splitlines()
    top = next(i for i, ln in enumerate(lines) if "Execute " in ln)
    udf = next(i for i in range(top, len(lines)) if "MapInArrow" in lines[i])
    return [ln for ln in lines[top:udf] if "Exchange" in ln]


def test_extract_udf_runs_in_the_write_result_stage(spark, tmp_path):
    """Waves and retries take lineage and their row count from an
    accumulator the extract UDF fills (`_write_with_lineage`), and Spark
    applies a task's accumulator update exactly once only in a result
    stage. So in every write that UDF feeds, no Exchange sits between the
    write command and MapInArrow: a staged wave, an unstaged single wave,
    a catalog-sink wave (its create and its replace) and the retry's
    overlay write, whose clustering shuffle must stay below the UDF."""
    from engine.catalog import SINK_TABLE_CONF
    from engine.jobs.extract_job import enqueue, retry_failed, run_extract_job

    path = str(tmp_path / "pages.parquet")
    generate_pages(spark, 200, partitions=2).write.parquet(path)
    pages = spark.read.parquet(path)
    root = str(tmp_path / "runs")

    def run(run_id, wave_size):
        man = enqueue(spark, pages, root, run_id=run_id)
        return man, _udf_write_trees(
            spark, lambda: run_extract_job(spark, pages, man, wave_size=wave_size)
        )

    _, staged = run("staged", 4)
    single_man, single = run("single", 8)
    retry = _udf_write_trees(
        spark, lambda: retry_failed(spark, pages, single_man)
    )
    table = "spark_catalog.default.udf_result_stage"
    spark.conf.set(SINK_TABLE_CONF, table)
    try:
        _, catalog = run("catalog", 4)
    finally:
        spark.conf.unset(SINK_TABLE_CONF)
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    writes = {"staged": staged, "single": single, "retry": retry,
              "catalog": catalog}
    # two waves each for the staged and the catalog run (the catalog's
    # first wave is its create, planned as a command over a nested insert)
    assert {k: len(v) for k, v in writes.items()} == {
        "staged": 2, "single": 1, "retry": 1, "catalog": 3,
    }, writes
    assert all("Exchange" in t for t in retry), retry  # below the UDF
    for name, trees in writes.items():
        for tree in trees:
            assert _exchanges_above_udf(tree) == [], (name, tree)


def test_dim_joins_broadcast_with_pushdown(spark):
    plan = _plan(q_broadcast_dim_join(spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "p_size" in plan and "PushedFilters" in plan


def test_pricing_scan_pushes_date_filter(spark):
    plan = _plan(q_pricing_summary(spark, SF))
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # column pruning: unused cols never reach the scan
    read = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_comment" not in read and "l_partkey" not in read


def test_topk_avoids_global_sort(spark):
    plan = _plan(q_topk_hot_keys(spark, SF))
    assert "TakeOrderedAndProject" in plan


def test_blocked_neardup_plan_shape(spark):
    """Exact near-dup scale path: block-pair list broadcasts, ONE data
    shuffle (the groupBy on block pairs), one grouped-Arrow kernel, never a
    cartesian product."""
    from engine.queries import q_embedding_neardup_pairs_fast

    plan = _plan(q_embedding_neardup_pairs_fast(spark, SF))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_lsh_neardup_plan_shape(spark):
    """Sub-quadratic near-dup path, r6 dense shape: band codes cross once
    (MapInPandas), pairs are scored inside bucketed block-pair Arrow
    tasks (FlatMapGroupsInPandas) — the only nested loop is the
    broadcast replication against the tiny block-pair table (the
    fast-kernel pattern); no cartesian product, no candidate
    re-attachment joins."""
    from engine.queries import _neardup_lsh_pairs, q_embedding_neardup_pairs_lsh

    plan = _plan(q_embedding_neardup_pairs_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BroadcastExchange" in plan

    # SPARSE configs (production bits=8) keep the candidate equi-join +
    # verify shape: a real hash/merge join on (band, code), no nested
    # loop anywhere, Arrow-batched verification
    sparse = _plan(
        _neardup_lsh_pairs(spark, SF, bits=8, bands=12, threshold=0.9)
    )
    assert "CartesianProduct" not in sparse
    assert "BroadcastNestedLoopJoin" not in sparse
    assert "MapInPandas" in sparse


def test_token_correction_stats_map_only_jvm(spark):
    """The JVM CASE-chain correction path: pure expressions — no Python
    operator; the only exchange is the deliberate _t_spread round-robin
    fan-out (task granularity for the CPU-heavy stage), never a keyed
    shuffle."""
    from engine.queries import q_token_correction_stats

    plan = _plan(q_token_correction_stats(spark, SF))
    assert "Python" not in plan
    assert plan.count("Exchange") == 1
    assert "RoundRobinPartitioning" in plan
    assert "Exchange hashpartitioning" not in plan


def test_minhash_explode_first_plan(spark):
    """The scalar minhash query must explode the cheap k-sequence (a
    constant-folded literal array), NOT the computed signature — the
    generator line carrying the fold would mean the optimizer re-inlined
    the 16x shingle recompute (the 55 s regression)."""
    from engine.queries import q_minhash_signatures

    plan = _plan(q_minhash_signatures(spark, SF))
    gen_lines = [ln for ln in plan.splitlines() if "Generate" in ln]
    assert gen_lines, plan
    assert all("xxhash64" not in ln for ln in gen_lines), gen_lines


def test_window_analytics_single_shuffle(spark):
    """All five window functions share the user_id partitioning → exactly
    one hash exchange feeds every Sort+Window."""
    from engine.queries import q_window_analytics

    plan = _plan(q_window_analytics(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_interval_join_is_swept_not_paired(spark):
    """The fixed-window range join must never enumerate (anchor, event)
    pairs (the r5 hour-bucket equi-join was quadratic in event density —
    468 s at sf1.0): the r6 sweep computes every aggregate as differences
    of bucket-partitioned running sums, so the only join is the broadcast
    attach of the bucket-offset totals — no cartesian, no nested loop,
    and Window running sums over the hour-bucket partitioning."""
    from engine.queries import q_interval_join_events

    plan = _plan(q_interval_join_events(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the bucket-offset attach
    assert "Window" in plan
    assert "SortMergeJoin" not in plan  # nothing pair-shaped survives


def test_sessionize_single_shuffle(spark):
    """lag, the running session-number sum, and the per-session groupBy
    all reuse the ONE user_id hash partitioning."""
    from engine.queries import q_sessionize_events

    plan = _plan(q_sessionize_events(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1


def test_dedup_exact_shuffles_digest_not_text(spark):
    """The dedup shuffle key is the sha2 digest (bounded width), computed
    BEFORE the exchange (partial agg side)."""
    from engine.queries import q_dedup_exact

    plan = _plan(q_dedup_exact(spark, SF))
    assert "sha2" in plan
    # map-side partial agg computes the digest grouping expression, so the
    # exchange partitions on it — never on the raw text column
    assert "partial_min" in plan
    assert "hashpartitioning(text#" not in plan


def test_repetition_metrics_map_only_jvm(spark):
    """The Gopher-repetition filter computes the token mode as a JVM fold
    over the sorted array — NO explode, NO per-doc shuffle, NO Python. The
    only exchange is the deliberate fan-out repartition (_t_spread)."""
    from engine.queries import q_repetition_metrics

    plan = _plan(q_repetition_metrics(spark, SF))
    assert plan.count("Exchange") == 1  # the round-robin fan-out only
    assert "Exchange hashpartitioning" not in plan
    for py in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark n-gram set is the broadcast side; the 10^12-doc corpus
    probe must never sort-merge or nest-loop."""
    from engine.queries import q_ngram_decontaminate

    plan = _plan(q_ngram_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_passage_dedup_two_shuffles(spark):
    """Corpus-wide passage dedup = exactly two hash shuffles: digest-keyed
    first-occurrence window + doc_id reassembly groupBy. The window shuffle
    key is sha2(chunk) (32 bytes), never the chunk text."""
    from engine.queries import q_passage_dedup

    plan = _plan(q_passage_dedup(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "sha2" in plan
    assert "hashpartitioning(chunk#" not in plan
    for py in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_mixture_sample_single_shuffle(spark):
    """Hash-bucket sampling is map-side (md5 visible pre-exchange); the only
    shuffle carries per-source partial aggregates."""
    from engine.queries import q_mixture_sample

    plan = _plan(q_mixture_sample(spark, SF))
    assert plan.count("Exchange") == 1
    assert "md5" in plan
    assert "partial_count" in plan or "partial" in plan


def test_sequence_pack_single_shuffle_jvm(spark):
    """Per-stratum packing = one source-keyed hash shuffle for the ordered
    running-sum window; no Python, no global sort."""
    from engine.queries import q_sequence_pack

    plan = _plan(q_sequence_pack(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global order
    for py in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_pii_redact_map_only_jvm(spark):
    """The redaction pass must be a pure map stage: regexp_count/replace
    as whole-stage-codegen expressions, zero shuffles, zero Python — the
    only plan shape that scrubs 100 TB at scan speed."""
    from engine.queries import q_pii_redact_stats

    plan = _plan(q_pii_redact_stats(spark, SF))
    assert "Exchange" not in plan
    assert "sha2" in plan
    for py in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_tfidf_plan_shape(spark):
    """tf⋈df join strategy stays size-driven (broadcast at test scale,
    sort-merge at web scale — NOT pinned); what IS pinned: |D| is the
    only nested-loop join (1-row aggregate), the per-doc top-3 prunes via
    WindowGroupLimit BEFORE the final exchange, and no Python anywhere."""
    from engine.queries import q_tfidf_topk_terms

    plan = _plan(q_tfidf_topk_terms(spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") == 1  # the 1-row |D|
    assert "WindowGroupLimit" in plan  # top-k pushed below the shuffle
    for py in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_mixture_temp_broadcasts_threshold_dim(spark):
    """The per-source threshold table is a genuinely broadcastable dim
    (#sources rows): pinned as a BroadcastHashJoin; the bucket compare is
    map-side (md5 visible pre-exchange)."""
    from engine.queries import q_mixture_sample_temp

    plan = _plan(q_mixture_sample_temp(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "md5" in plan
    for py in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_dataset_shard_order_no_global_sort(spark):
    """Sharded training order must NOT serialize into a single-partition
    global window: exactly one hash shuffle on shard, no range
    partitioning, no Python."""
    from engine.queries import q_dataset_shard_order

    plan = _plan(q_dataset_shard_order(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    for py in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan


def test_text_normalize_one_arrow_crossing_no_shuffle(spark):
    """The NFC seam costs exactly ONE Arrow-batched Python eval; the
    scrub/collapse chain stays JVM-side and the whole query is map-only
    (zero exchanges) — a normalization pass must run at scan speed."""
    from engine.queries import q_text_normalize_stats

    plan = _plan(q_text_normalize_stats(spark, SF))
    assert "Exchange" not in plan
    n_py = sum(plan.count(p) for p in ("ArrowEvalPython", "BatchEvalPython"))
    assert n_py == 1, plan
    assert "BatchEvalPython" not in plan  # Arrow-batched, never pickled rows


def test_keyword_search_filters_before_shuffle_topk_no_sort(spark):
    """The query-term filter must land on the exploded token stream
    map-side (shuffled postings = |q| terms only, not the corpus), and
    the final top-k must be TakeOrderedAndProject, not a global sort."""
    from engine.queries import q_keyword_search_topk

    plan = _plan(q_keyword_search_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    # tree prints top-down, so "below every exchange" = textually AFTER
    # the last hash exchange and BEFORE its child Generate
    last_ex = plan.rfind("Exchange hashpartitioning")
    f = plan.find("Filter term")
    g = plan.find("Generate")
    assert last_ex < f < g, plan


def test_source_cap_sample_single_shuffle(spark):
    """The cap window partitions by source and the aggregation groups by
    source — Catalyst must reuse the window's hash partitioning for the
    agg, leaving exactly ONE exchange in the plan."""
    from engine.queries import q_source_cap_sample

    plan = _plan(q_source_cap_sample(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_column_profile_approx_no_expand(spark):
    """The exact profile pays a k-way Expand for multi-column exact
    COUNT(DISTINCT); the HLL++ twin must NOT — one scan, one partial+final
    hash agg over sketch state, no input replication."""
    from engine.queries import q_column_profile, q_column_profile_approx

    assert "Expand" in _plan(q_column_profile(spark, SF))
    plan = _plan(q_column_profile_approx(spark, SF))
    assert "Expand" not in plan, plan
    assert "Exchange" in plan  # still a distributed partial+final agg


def test_triangle_parts_no_cartesian(spark):
    """Triangle enumeration = hash/merge equi-joins only — a cartesian or
    nested-loop anywhere means the orientation predicates fell out of the
    join keys."""
    from engine.queries import q_triangle_parts

    plan = _plan(q_triangle_parts(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_triangle_closing_probe_broadcast_is_gated(spark, monkeypatch):
    """The closing-probe broadcast must be size-adaptive, not a hard-coded
    hint (round-4 verdict): below TRIANGLE_BROADCAST_MAX_EDGES the edge
    list broadcasts (2x measured win), above it the same plan falls back
    to a shuffle join — and both shapes return identical rows."""
    import engine.queries as Q

    assert Q.TRIANGLE_BROADCAST_MAX_EDGES >= 1_000_000
    # kill stats-based auto-broadcast so the explicit hint is the ONLY
    # possible source of a BroadcastHashJoin — at sf0.001 every table is
    # under the default threshold and Catalyst would broadcast anyway
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fast = Q.q_triangle_parts(spark, SF)
        assert "BroadcastHashJoin" in _plan(fast)
        rows_fast = fast.collect()

        monkeypatch.setattr(Q, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
        big = Q.q_triangle_parts(spark, SF)
        plan_big = _plan(big)
        # gate open → no hint → no broadcast anywhere: pure shuffle joins
        assert "BroadcastHashJoin" not in plan_big, plan_big
        assert "SortMergeJoin" in plan_big, plan_big
        assert "CartesianProduct" not in plan_big
        assert big.collect() == rows_fast
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bm25_scan_once_no_explode(spark):
    """BM25's scoring pass must stay in the scan-once shape the docstring
    claims: per-term tf via higher-order F.filter (no Generate/explode,
    no posting-list shuffle), corpus stats as ONE 1-row broadcast cross
    join, and top-k via TakeOrderedAndProject — never a global sort."""
    from engine.queries import q_bm25_topk

    plan = _plan(q_bm25_topk(spark, SF))
    assert "Generate" not in plan, plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan
    # the stats row rides one identity-broadcast cross join; nothing else
    # may introduce a nested-loop join
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "IdentityBroadcastMode" in plan
    # whole pipeline is JVM expressions — no Python eval anywhere
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, marker


def test_dup_span_stats_counts_by_agg_not_window(spark):
    """Gram occurrence counts must come from groupBy + join-back (map-side
    partial agg, AQE-splittable join), NEVER a count-over-window keyed on
    the gram — a mega-hot gram would buffer its whole position list in
    one task. Windows may partition only by doc_id (bounded keys, span
    merge)."""
    from engine.queries import q_dup_span_stats

    plan = _plan(q_dup_span_stats(spark, SF))
    assert "windowspecdefinition(gram" not in plan, plan
    assert "windowspecdefinition(doc_id" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, marker


def test_bpe_merge_pass_broadcast_jvm(spark):
    """Every BPE round's merge pass must apply the 1-row best-pair via a
    BROADCAST nested loop onto the vocabulary table (map-side — the
    histogram never shuffles to meet the argmax), with the fold itself a
    JVM higher-order aggregate: no Python eval anywhere, no cartesian
    fallback, and the per-round argmax as TakeOrderedAndProject (a
    vocab²-bounded sort-limit, never a global sort)."""
    from engine.queries import BPE_ROUNDS, q_bpe_train_merges

    plan = _plan(q_bpe_train_merges(spark, SF))
    # each round's persisted frame prints as an InMemoryRelation carrying
    # its cached plan, so every round's summary re-embeds every prior
    # round's merge join and the count exceeds BPE_ROUNDS; the contract is
    # that merge application is ALWAYS the broadcast shape, never a shuffle
    assert plan.count("BroadcastNestedLoopJoin") >= BPE_ROUNDS, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, marker


def test_winnow_jvm_only_no_cartesian(spark):
    """Winnowing must stay entirely JVM-side (fold-arithmetic hashing,
    explode-into-windows, groupBy selection) with no Python eval and no
    cartesian product — the window membership comes from exploding a
    bounded sequence, never a per-doc self-join."""
    from engine.queries import q_winnow_fingerprints

    plan = _plan(q_winnow_fingerprints(spark, SF))
    assert "CartesianProduct" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, marker


def test_semdedup_fast_single_arrow_crossing(spark):
    """The scale-path variant's pair stage must be EXACTLY ONE Arrow
    crossing (the per-(cell, block-pair) integer matmul), with the seed
    assignment still a broadcast nested loop and no cartesian anywhere —
    the block-pair replication join is itself broadcast (G(G+1)/2 rows)."""
    from engine.queries import q_semdedup_prune_fast

    plan = _plan(q_semdedup_prune_fast(spark, SF))
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, marker


def test_bpe_encode_broadcast_merges_no_cartesian(spark):
    """bpe_encode_stats must apply every learned merge to BOTH the
    training vocab and the full vocabulary table via broadcast-1-row
    nested loops (2 per round), keep the word-histogram factorization
    free of cartesian products, and stay Python-free; the final
    vocab-word join is a legitimate equi-join (any shuffle/broadcast
    shape), so SMJ is NOT forbidden here."""
    from engine.queries import BPE_ROUNDS, q_bpe_encode_stats

    plan = _plan(q_bpe_encode_stats(spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") >= 2 * BPE_ROUNDS, plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan, plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, marker


def test_kmeans_assignment_broadcasts_centroids(spark):
    """Every Lloyd round must score points against a BROADCAST centroid
    set (K-row nested loop, map-side) — a point never shuffles to reach
    a centroid; the only hash exchanges carry partial-aggregated
    (vec_id-argmin / cid-sum) rows. All-JVM: no Python eval, no
    cartesian fallback."""
    from engine.queries import KMEANS_ITERS, q_kmeans_clusters

    plan = _plan(q_kmeans_clusters(spark, SF))
    assert plan.count("BroadcastNestedLoopJoin") == KMEANS_ITERS, plan
    assert plan.count("IdentityBroadcastMode") == KMEANS_ITERS, plan
    assert "CartesianProduct" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInArrow",
                   "FlatMapGroupsInPandas", "MapInPandas"):
        assert marker not in plan, marker
