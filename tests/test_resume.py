"""Queue-semantics tests: enqueue sizing, wave commit, kill/resume,
idempotent re-run, retry-failed, metrics rollup (SURVEY.md §6.2 item 4,
FIXTURES.md §3 resume fixture)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.jobs.extract_job import (
    enqueue,
    export_run,
    rollup_hosts,
    with_host_salted_partition_id,
    plan_partitions,
    read_current_extracted,
    read_extracted,
    read_lineage,
    retry_failed,
    rollup_metrics,
    run_extract_job,
)
from engine.manifest import RunManifest
from engine.synth import generate_pages

N_DOCS = 400


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    # materialize to parquet so each wave scans a real source
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    generate_pages(spark, N_DOCS, partitions=4).write.parquet(path)
    return spark.read.parquet(path)


def test_plan_partitions_bounds():
    assert plan_partitions(0) == 8  # min bound
    assert plan_partitions(640 << 20, target_partition_bytes=64 << 20) == 10
    assert plan_partitions(1 << 50, max_partitions=100) == 100


def test_kill_and_resume_no_reprocessing(spark, pages, tmp_path):
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=12, run_id="resume-test")
    n = man.state()["n_partitions"]
    assert n == 12

    # simulate a kill after 2 waves of 4 partitions (8 of 12 committed)
    r1 = run_extract_job(spark, pages, man, wave_size=4, max_waves=2)
    assert r1["waves_run"] == 2 and not r1["complete"]
    man2 = RunManifest.load(root, "resume-test")
    assert len(man2.committed_partitions()) == 8
    assert man2.pending_partitions() == man.pending_partitions()

    # resume: must process EXACTLY the n-k remaining partitions
    r2 = run_extract_job(spark, pages, man2, wave_size=4)
    assert r2["complete"]
    lin = read_lineage(spark, man2)
    # each partition committed exactly once
    per_part = lin.groupBy("partition_id").count().collect()
    assert len(per_part) == n and all(r["count"] == 1 for r in per_part)

    # output complete and unique per (url, warc_ts-instance)
    out = read_extracted(spark, man2)
    assert out.count() == pages.count()
    assert out.select("url").distinct().count() == pages.select("url").distinct().count()

    # fully committed run re-runs as a no-op (Q5 idempotency)
    r3 = run_extract_job(spark, pages, man2, wave_size=4)
    assert r3["waves_run"] == 0 and r3["docs_processed"] == 0
    assert read_lineage(spark, man2).count() == n
    # the staged input copy is reclaimed once the run completes
    import os

    assert not os.path.exists(man2.staged_path)


def test_lineage_doc_and_byte_counts(spark, pages, tmp_path):
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="lin-test")
    run_extract_job(spark, pages, man, wave_size=8)
    lin = read_lineage(spark, man)
    tot = lin.agg(F.sum("doc_count").alias("d")).collect()[0]["d"]
    assert tot == pages.count()
    assert lin.where(F.col("checksum").isNull()).count() == 0
    assert lin.where(F.col("stage") != "extract").count() == 0


def test_retry_failed_and_current_view(spark, pages, tmp_path):
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="retry-test")
    run_extract_job(spark, pages, man, wave_size=8)
    out = read_extracted(spark, man)
    n_failed = out.where(F.col("status") == "failed").select("url").distinct().count()
    res = retry_failed(spark, pages, man)
    assert res["retried"] >= n_failed  # re-crawled urls may add rows
    cur = read_current_extracted(spark, man)
    # current view: one row per url, retry rows took precedence
    assert cur.count() == out.select("url").distinct().count()
    # junk docs stay failed after retry (deterministic input), but the
    # lifecycle ran; urls that failed still have exactly one current row
    assert cur.where(F.col("status") == "failed").count() <= n_failed
    # retry wave is auditable: lineage carries stage='retry' rows whose
    # doc_count covers the retried urls
    lin = read_lineage(spark, man)
    retry_docs = (
        lin.where(F.col("stage") == "retry")
        .agg(F.sum("doc_count").alias("d"))
        .collect()[0]["d"]
    )
    assert retry_docs == res["retried"]


class _Kill(RuntimeError):
    pass


_MASK40 = (1 << 40) - 1


def _expected_lineage(rows_df, hashed_col):
    """{partition_id: (doc_count, byte_count, checksum)} recomputed on the
    driver from the rows themselves: the per-row xxhash64 comes from
    Spark, the count, byte sum, 40-bit lane sums and sha256 from Python."""
    import hashlib

    acc = {}
    for r in rows_df.select(
        "partition_id",
        F.coalesce(F.col("n_chars"), F.lit(0)).alias("n"),
        F.xxhash64("url", F.coalesce(F.col(hashed_col), F.lit(""))).alias("h"),
    ).collect():
        c, b, l1, l2 = acc.get(r["partition_id"], (0, 0, 0, 0))
        h = r["h"] & ((1 << 64) - 1)
        acc[r["partition_id"]] = (
            c + 1, b + r["n"], l1 + (h & _MASK40), l2 + ((h >> 20) & _MASK40)
        )
    return {
        p: (c, b, hashlib.sha256(f"{c}:{l1}:{l2}".encode()).hexdigest())
        for p, (c, b, l1, l2) in acc.items()
    }


@pytest.fixture(scope="module")
def interrupted_run(spark, pages, tmp_path_factory):
    """A run with a committed wave, a wave killed between its lineage
    write and its commit, the resume, and one retry — with every lineage
    frame the job builds recorded on the way."""
    import engine.jobs.extract_job as job

    root = str(tmp_path_factory.mktemp("interrupted") / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="lin-values")
    frames = []
    real_frame = job.lineage_frame

    def spy(*args):
        frames.append(real_frame(*args))
        return frames[-1]

    job.lineage_frame = spy
    try:
        run_extract_job(spark, pages, man, wave_size=4, max_waves=1)
        real_commit = man.commit_partitions
        man.commit_partitions = lambda wave: (_ for _ in ()).throw(_Kill())
        with pytest.raises(_Kill):
            run_extract_job(spark, pages, man, wave_size=4)
        man.commit_partitions = real_commit
        resumed_parts = man.pending_partitions()
        resumed = run_extract_job(spark, pages, man, wave_size=4)
        retried = retry_failed(spark, pages, man)
    finally:
        job.lineage_frame = real_frame
    return {
        "manifest": man, "frames": frames, "resumed": resumed,
        "resumed_parts": resumed_parts, "retried": retried,
    }


def test_lineage_values_match_committed_rows(spark, interrupted_run):
    """Every lineage row's doc_count / byte_count / checksum equals the
    aggregate recomputed from the committed rows (read_extracted for the
    extract waves, the retry attempt's own rows for the retry), and
    docs_processed counts exactly the resumed wave."""
    from engine.extract.core import EXTRACTOR_VERSION

    man, retried = interrupted_run["manifest"], interrupted_run["retried"]
    assert interrupted_run["resumed"]["complete"]
    assert interrupted_run["resumed"]["waves_run"] == 1
    assert retried["retried"] > 0
    want = {
        ("extract", p): v
        for p, v in _expected_lineage(read_extracted(spark, man), "text").items()
    }
    attempt_rows = spark.read.parquet(man.retry_path).where(
        F.col("attempt") == retried["attempt"]
    )
    want.update(
        (("retry", p), v)
        for p, v in _expected_lineage(attempt_rows, "status").items()
    )
    lin = read_lineage(spark, man).collect()
    got = {
        (r["stage"], r["partition_id"]):
            (r["doc_count"], r["byte_count"], r["checksum"])
        for r in lin
    }
    assert got == want
    # one row per (stage, partition): the resume overwrote the killed
    # wave's orphan lineage file instead of adding to it
    assert len(lin) == len(got)
    assert sum(stage == "extract" for stage, _ in got) == 8
    assert {(r["run_id"], r["extractor_version"]) for r in lin} == {
        ("lin-values", EXTRACTOR_VERSION)
    }
    assert all(r["wall_ms"] >= 0 for r in lin)
    assert interrupted_run["resumed"]["docs_processed"] == sum(
        want[("extract", p)][0] for p in interrupted_run["resumed_parts"]
    )


def test_lineage_frames_are_python_free(interrupted_run):
    """Lineage is job-path bookkeeping: every frame the extract waves and
    the retry wrote must plan as a pure JVM aggregate (no collected rows
    re-parallelized from Python, no Python UDF or Arrow map)."""
    frames = interrupted_run["frames"]
    assert len(frames) == 4  # committed, killed, resumed wave + the retry
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("ExistingRDD", "BatchEvalPython", "ArrowEvalPython",
                     "MapInArrow"):
            assert node not in plan, plan


def test_rollup_metrics(spark, pages, tmp_path):
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="rollup-test")
    run_extract_job(spark, pages, man, wave_size=4)
    roll = rollup_metrics(spark, man).collect()
    grand = [r for r in roll if r["run_id"] is None]
    per_run = [r for r in roll if r["run_id"] and r["partition_id"] is None]
    per_part = [r for r in roll if r["partition_id"] is not None]
    assert len(grand) == 1 and len(per_run) == 1 and len(per_part) == 8
    assert grand[0]["docs"] == pages.count()
    assert per_run[0]["docs_per_sec"] is not None and per_run[0]["docs_per_sec"] > 0
    # each wave file repeats its wall_ms on all 4 of its partition rows; the
    # run and grand levels count every wave's wall exactly once
    walls = [
        spark.read.parquet(str(p)).select("wall_ms").distinct().collect()
        for p in man.lineage_dir.glob("wave-*.parquet")
    ]
    assert len(walls) == 2 and all(len(w) == 1 for w in walls)
    run_wall = sum(w[0]["wall_ms"] for w in walls)
    assert per_run[0]["wall_ms"] == grand[0]["wall_ms"] == run_wall
    assert per_run[0]["n_rows"] == 8
    if run_wall:
        assert per_run[0]["docs_per_sec"] == pytest.approx(
            pages.count() / (run_wall / 1000.0)
        )
    # per-partition rows keep the wall of the wave that committed them
    assert {r["wall_ms"] for r in per_part} == {w[0]["wall_ms"] for w in walls}


def test_rollup_hosts(spark, pages, tmp_path):
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="hosts-test")
    run_extract_job(spark, pages, man, wave_size=8)
    rows = rollup_hosts(spark, man).collect()
    grand = [r for r in rows if r["host"] is None and r["status"] is None]
    per_host = [r for r in rows if r["host"] is not None and r["status"] is None]
    assert len(grand) == 1 and grand[0]["docs"] == pages.count()
    assert len(per_host) >= 10  # zipf host spread
    assert all(r["host"].endswith(".example.org") for r in per_host)


def test_rollup_hosts_golden_levenshtein(spark, pages, tmp_path):
    """R7/R8 secondary accuracy metric: with a golden (url, expected_text)
    table the host rollup reports avg levenshtein vs golden; perfect
    extraction of the synthetic corpus means a small grand-total drift."""
    from engine.synth import gen_doc_with_expected

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="lev-test")
    run_extract_job(spark, pages, man, wave_size=8)
    golden_rows = []
    for i in range(N_DOCS):
        rows, expected = gen_doc_with_expected(i)
        if expected is not None:
            golden_rows.append((rows[0]["url"], expected))
    golden = spark.createDataFrame(
        golden_rows, "url string, expected_text string"
    )
    roll = rollup_hosts(spark, man, golden=golden).collect()
    grand = [r for r in roll if r["host"] is None and r["status"] is None][0]
    assert grand["avg_lev_vs_golden"] is not None
    # word-level P/R ≈ 1.0 on this corpus (test_quality_eval) → the 200-char
    # prefix drift must be far below the prefix length
    assert 0 <= grand["avg_lev_vs_golden"] < 100
    # without a golden table the column exists and is null
    plain = rollup_hosts(spark, man).collect()
    g2 = [r for r in plain if r["host"] is None and r["status"] is None][0]
    assert g2["avg_lev_vs_golden"] is None


def test_export_completed_run_only(spark, pages, tmp_path):
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="export-test")
    run_extract_job(spark, pages, man, wave_size=4, max_waves=1)
    with pytest.raises(RuntimeError):
        export_run(spark, man, str(tmp_path / "never"))
    run_extract_job(spark, pages, man, wave_size=8)
    res = export_run(spark, man, str(tmp_path / "out"))
    # current view: one row per url
    assert res["rows"] == pages.select("url").distinct().count()


def test_compact_run_reduces_files_preserves_rows(spark, pages, tmp_path):
    """Compaction: fewer files, identical committed rows, incomplete runs
    refused, partition layout preserved."""
    from engine.jobs.extract_job import compact_run

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=12, run_id="compact-test")
    run_extract_job(spark, pages, man, wave_size=3)
    before = read_extracted(spark, man)
    before_fp = {
        (r["url"], r["n_chars"], r["status"]) for r in before.collect()
    }
    res = compact_run(spark, man, target_file_bytes=1 << 30)
    assert res["files_after"] < res["files_before"]
    assert res["files_after"] <= 12  # ~one file per partition at this size
    after = read_extracted(spark, man)
    assert {
        (r["url"], r["n_chars"], r["status"]) for r in after.collect()
    } == before_fp
    # partition dirs survive (read_extracted's committed filter still prunes)
    import os

    assert any(
        d.startswith("partition_id=")
        for d in os.listdir(man.extracted_path)
    )
    # incomplete runs refused
    man2 = enqueue(spark, pages, root, min_partitions=12, run_id="compact-inc")
    run_extract_job(spark, pages, man2, wave_size=3, max_waves=1)
    with pytest.raises(RuntimeError):
        compact_run(spark, man2)


def test_host_salting_spreads_hot_hosts(spark, pages):
    """The Zipf-head host must spread across >1 partition under the salted
    layout, and across <= n_salt partitions (bounded skew)."""
    n_parts, n_salt = 32, 8
    keyed = with_host_salted_partition_id(pages, n_parts, n_salt=n_salt)
    hot = (
        keyed.withColumn("host", F.parse_url("url", F.lit("HOST")))
        .groupBy("host")
        .agg(F.count("*").alias("n"), F.countDistinct("partition_id").alias("p"))
        .orderBy(F.desc("n"))
        .limit(1)
        .collect()[0]
    )
    assert hot["n"] > 20  # zipf head is actually hot in this corpus
    assert 1 < hot["p"] <= n_salt
    # unsalted-by-host layout would put every row of the host in ONE part
    unsalted = (
        pages.withColumn(
            "partition_id",
            F.pmod(F.hash(F.parse_url("url", F.lit("HOST"))), F.lit(n_parts)),
        )
        .where(F.parse_url("url", F.lit("HOST")) == hot["host"])
        .select("partition_id")
        .distinct()
        .count()
    )
    assert unsalted == 1


def test_kill_between_write_and_commit_no_duplicates(spark, pages, tmp_path):
    """ADVICE(high): a crash AFTER the wave's parquet write but BEFORE the
    manifest flip leaves orphan rows; the resume must REPLACE them (dynamic
    partition overwrite), not append duplicates."""
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=12, run_id="orphan-test")
    run_extract_job(spark, pages, man, wave_size=4, max_waves=1)

    real_commit = man.commit_partitions
    man.commit_partitions = lambda wave: (_ for _ in ()).throw(_Kill())
    with pytest.raises(_Kill):
        run_extract_job(spark, pages, man, wave_size=4, max_waves=1)
    man.commit_partitions = real_commit

    # orphan rows + orphan lineage now exist for the killed wave; resume
    man2 = RunManifest.load(root, "orphan-test")
    assert len(man2.committed_partitions()) == 4
    r = run_extract_job(spark, pages, man2, wave_size=4)
    assert r["complete"]
    out = read_extracted(spark, man2)
    assert out.count() == pages.count()  # no duplicates
    # every url appears exactly as often as in the input (orphan rows would
    # inflate its count)
    in_urls = {r["url"]: r["count"] for r in pages.groupBy("url").count().collect()}
    out_urls = {r["url"]: r["count"] for r in out.groupBy("url").count().collect()}
    assert out_urls == in_urls
    lin = read_lineage(spark, man2)
    per_part = lin.groupBy("partition_id").count().collect()
    assert len(per_part) == 12 and all(r["count"] == 1 for r in per_part)
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == pages.count()


def test_waves_read_only_their_partitions(spark, pages, tmp_path):
    """Scale invariant: after the one-time staging write, a wave's scan
    touches ONLY its partition directories (file pruning on the staged
    layout), not the whole corpus — W waves must not mean W full scans."""
    from engine.jobs.extract_job import stage_pages

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=12, run_id="prune-test")
    staged = stage_pages(spark, pages, man)
    wave = [0, 1, 2]
    batch = spark.read.parquet(staged).where(F.col("partition_id").isin(wave))
    # the wave filter must land as a PARTITION filter on the scan (directory
    # pruning), not a post-scan data filter over the whole corpus
    plan = batch._jdf.queryExecution().executedPlan().toString()
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines and "PartitionFilters: [partition_id" in scan_lines[0]
    assert " IN (0,1,2)" in scan_lines[0], scan_lines[0]
    # and the pruned read returns only the wave's rows
    got_parts = {r["partition_id"] for r in batch.select("partition_id").distinct().collect()}
    assert got_parts <= set(wave) and got_parts


def test_second_retry_preserves_first_audit_rows(spark, pages, tmp_path):
    """ADVICE(low): retry attempts are numbered; a second retry writes its
    own lineage file and rows instead of erasing the first's."""
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="retry2-test")
    run_extract_job(spark, pages, man, wave_size=8)
    r1 = retry_failed(spark, pages, man)
    if r1["retried"] == 0:
        pytest.skip("corpus produced no failed docs")
    assert r1["attempt"] == 1
    r2 = retry_failed(spark, pages, man)
    assert r2.get("attempt", 2) == 2 or r2["retried"] == 0
    lin = read_lineage(spark, man)
    retry_rows = lin.where(F.col("stage") == "retry")
    # first attempt's audit rows survive the second retry
    assert retry_rows.agg(F.sum("doc_count")).collect()[0][0] >= r1["retried"]
    # current view still exactly one row per url
    cur = read_current_extracted(spark, man)
    assert cur.count() == cur.select("url").distinct().count()


def _ok_pages(spark, n):
    """n small pages that all extract with status ok, one url each."""
    import datetime as dt

    body = "Plain article words for the retry test, long enough to keep. " * 4
    return spark.createDataFrame(
        [
            (f"http://ok.example/{i}", dt.datetime(2024, 1, 1),
             f"<html><body><p>{i} {body}</p></body></html>".encode(), None, None)
            for i in range(n)
        ],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )


def test_retry_with_nothing_failed_leaves_no_attempt(spark, tmp_path):
    """On a complete run whose current view has no failed row, a retry
    returns {"retried": 0}, writes no retry lineage file and no overlay
    directory, and the next real retry is attempt 1."""
    import os
    import shutil

    pages = _ok_pages(spark, 12)
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=4, run_id="no-fail")
    run_extract_job(spark, pages, man, wave_size=4)
    assert read_current_extracted(spark, man).where(
        F.col("status") != "ok"
    ).count() == 0
    before = sorted(os.listdir(man.dir))

    assert retry_failed(spark, pages, man) == {"retried": 0}
    assert sorted(os.listdir(man.dir)) == before
    assert not os.path.exists(man.retry_path)
    assert not any(
        os.path.basename(f).startswith("retry-") for f in man.lineage_files()
    )
    assert man.next_retry_attempt() == 1

    # make one committed row a failure: rewrite the base table with it
    url = "http://ok.example/3"
    base = read_extracted(spark, man)
    tmp = str(tmp_path / "rewritten")
    base.withColumn(
        "status",
        F.when(F.col("url") == url, F.lit("failed")).otherwise(F.col("status")),
    ).write.partitionBy("partition_id").parquet(tmp)
    shutil.rmtree(man.extracted_path)
    os.rename(tmp, man.extracted_path)

    res = retry_failed(spark, pages, man)
    assert res == {"retried": 1, "attempt": 1}
    cur = read_current_extracted(spark, man).where(F.col("url") == url)
    assert [r["status"] for r in cur.collect()] == ["ok"]


def test_retry_counts_every_recrawl_row(spark, pages, tmp_path):
    """With duplicate input urls (re-crawls), `retried` is the number of
    page rows re-extracted, and equals the attempt's lineage doc_count
    sum and its overlay rows."""
    import datetime as dt

    junk = spark.createDataFrame(
        [("http://junk.example/x", dt.datetime(2024, m, 1), b"\x00\x01", None,
          None) for m in (1, 2, 3)],
        pages.schema,
    )
    crawl = pages.unionByName(junk)
    root = str(tmp_path / "runs")
    man = enqueue(spark, crawl, root, min_partitions=8, run_id="recrawl")
    run_extract_job(spark, crawl, man, wave_size=8)
    failed = (
        read_current_extracted(spark, man)
        .where(F.col("status") == "failed").select("url").distinct()
    )
    want = crawl.join(failed, "url", "left_semi").count()
    assert want > failed.count()  # some failed url has several rows

    res = retry_failed(spark, pages.unionByName(junk), man)
    assert res["retried"] == want
    lin = read_lineage(spark, man).where(F.col("stage") == "retry")
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == want
    rows = spark.read.parquet(man.retry_path)
    assert rows.where(F.col("attempt") == res["attempt"]).count() == want


def test_legacy_retry_overlay_fails_loudly(spark, pages, tmp_path):
    """Runs that older code compacted and then retried keep attempts in
    extracted.gen-NNNN_retry/, which nothing reads. The current view (and
    so retry and export) refuses to read such a run, naming the directory
    and the fix; after the documented move the attempts are read."""
    import os
    import pathlib

    from engine.jobs.extract_job import compact_run

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="legacy")
    run_extract_job(spark, pages, man, wave_size=8)
    retry_failed(spark, pages, man)
    compact_run(spark, man, target_file_bytes=1 << 30)
    # what older code did: the overlay followed the generation pointer
    legacy = man.extracted_path + "_retry"
    os.rename(man.retry_path, legacy)
    assert man.legacy_retry_paths() == [legacy]

    for verb in (
        lambda: read_current_extracted(spark, man),
        lambda: retry_failed(spark, pages, man),
        lambda: export_run(spark, man, str(tmp_path / "out")),
    ):
        with pytest.raises(RuntimeError) as e:
            verb()
        msg = str(e.value)
        assert os.path.basename(legacy) in msg
        assert os.path.basename(man.retry_path) in msg
        assert "partition_id=*" in msg

    # the fix the message names: move each partition dir's files
    for part in pathlib.Path(legacy).glob("partition_id=*"):
        dest = pathlib.Path(man.retry_path) / part.name
        dest.mkdir(parents=True, exist_ok=True)
        for f in part.iterdir():
            f.rename(dest / f.name)
    import shutil

    shutil.rmtree(legacy)
    assert man.legacy_retry_paths() == []
    cur = read_current_extracted(spark, man)
    assert cur.count() == cur.select("url").distinct().count()
    assert spark.read.parquet(man.retry_path).where(
        F.col("attempt") == 1
    ).count() > 0


def test_manifest_create_refuses_overwrite(spark, pages, tmp_path):
    """ADVICE(low): re-creating an existing run must be an explicit,
    data-clearing act, never a silent pending-reset over live data."""
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="guard-test")
    run_extract_job(spark, pages, man, wave_size=8)
    with pytest.raises(FileExistsError):
        RunManifest.create(root, 8, 1, run_id="guard-test")
    import os

    man2 = RunManifest.create(root, 8, 1, run_id="guard-test", force=True)
    assert man2.pending_partitions() == list(range(8))
    assert not os.path.exists(man2.extracted_path)
    assert not os.path.exists(man2.staged_path)


def test_fresh_run_reads_as_empty(spark, pages, tmp_path):
    """retry/rollup on a never-run manifest must not crash."""
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="fresh-test")
    assert read_extracted(spark, man).count() == 0
    assert retry_failed(spark, pages, man) == {"retried": 0}
    assert read_lineage(spark, man).count() == 0


def test_corrupt_extracted_layout_raises(spark, pages, tmp_path):
    """Review finding: only the no-data AnalysisException classes may
    degrade to an empty committed view. A run the manifest says has data
    but whose extracted/ layout is broken (conflicting partition dirs)
    must RAISE — silently reading 0 rows would let export publish an
    empty table with exit code 0."""
    import os
    import shutil

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=4, run_id="corrupt-test")
    run_extract_job(spark, pages, man, wave_size=4)
    assert read_extracted(spark, man).count() > 0
    # break partition discovery: one leaf with a DIFFERENT partition key
    src = next(
        d for d in os.listdir(man.extracted_path)
        if d.startswith("partition_id=")
    )
    shutil.copytree(
        os.path.join(man.extracted_path, src),
        os.path.join(man.extracted_path, "other_key=1"),
    )
    with pytest.raises(Exception, match="(?i)conflicting|partition"):
        read_extracted(spark, man).count()


def test_increment_canonical_skips_respelled_base_urls(spark, tmp_path):
    """canonical_urls=True must apply the canonical key to BOTH the
    within-crawl dedup AND the cross-run anti-join (review round 5): a
    base-committed resource re-crawled under a trivially different
    spelling is a skip, not a re-extract."""
    import datetime as dt

    from engine.jobs.extract_job import enqueue_increment

    t0, t1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    base_pages = spark.createDataFrame(
        [
            ("http://s.com/a", t0, b"<p>a</p>", None, None),
            ("http://s.com/b", t0, b"<p>b</p>", None, None),
        ],
        schema,
    )
    root = str(tmp_path / "runs")
    man = enqueue(spark, base_pages, root, run_id="cb")
    run_extract_job(spark, base_pages, man)

    crawl = spark.createDataFrame(
        [
            # the base's /a again, respelled (tracking param + case)
            ("HTTP://s.com:80/a?utm_source=x", t1, b"<p>a2</p>", None, None),
            ("http://s.com/b", t1, b"<p>b2</p>", None, None),  # raw match
            ("http://s.com/c", t1, b"<p>c</p>", None, None),   # genuinely new
        ],
        schema,
    )
    inc, new_pages = enqueue_increment(
        spark, crawl, root, ["cb"], run_id="ci", canonical_urls=True
    )
    got = {r["url"] for r in new_pages.select("url").collect()}
    assert got == {"http://s.com/c"}, got

    # without the flag the respelled /a slips through (the raw-key
    # baseline this feature exists to fix)
    inc2, raw_pages = enqueue_increment(
        spark, crawl, root, ["cb"], run_id="ci-raw"
    )
    got_raw = {r["url"] for r in raw_pages.select("url").collect()}
    assert got_raw == {"HTTP://s.com:80/a?utm_source=x", "http://s.com/c"}


def test_increment_extracts_only_new_urls(spark, pages, tmp_path):
    """Incremental append (daily-crawl increment): a second crawl that is a
    superset of the base extracts EXACTLY the never-seen urls, the union
    view is url-disjoint and complete, and an increment with nothing new
    creates no run."""
    from engine.jobs.extract_job import (
        enqueue_increment,
        read_extracted,
        read_extracted_across,
    )

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, run_id="base")
    run_extract_job(spark, pages, man)

    # the new crawl: superset corpus (prefix-stable synth → the base's
    # urls re-appear, some as re-crawls) + genuinely new docs
    bigger = generate_pages(spark, N_DOCS + 150, partitions=4)
    base_urls = {r["url"] for r in pages.select("url").distinct().collect()}
    new_urls = {
        r["url"] for r in bigger.select("url").distinct().collect()
    } - base_urls
    assert new_urls  # sanity: the superset really adds urls

    inc, new_pages = enqueue_increment(spark, bigger, root, ["base"],
                                       run_id="inc1")
    assert inc is not None
    res = run_extract_job(spark, new_pages, inc)
    assert res["complete"]
    inc_urls = {
        r["url"]
        for r in read_extracted(spark, inc).select("url").distinct().collect()
    }
    assert inc_urls == new_urls  # only the new docs were processed

    # one logical table: disjoint by construction, complete
    across = read_extracted_across(spark, root, ["base", "inc1"])
    assert across.select("url").distinct().count() == len(base_urls) + len(
        new_urls
    )
    # the CURRENT view is one row per url per run, and runs are
    # url-disjoint → the union is one row per url, full stop
    assert across.count() == len(base_urls) + len(new_urls)

    # idempotent: re-incrementing the same crawl finds nothing new
    inc2, leftover = enqueue_increment(
        spark, bigger, root, ["base", "inc1"], run_id="inc2"
    )
    assert inc2 is None
    assert leftover.count() == 0
    import os

    assert not os.path.exists(os.path.join(root, "inc2"))


def test_increment_refuses_incomplete_base(spark, pages, tmp_path):
    """Incrementing against an incomplete base would hand the base's
    pending urls to the increment; when the base later resumes, the union
    view would stop being url-disjoint — refused up front."""
    from engine.jobs.extract_job import enqueue_increment

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=12, run_id="partial")
    run_extract_job(spark, pages, man, wave_size=4, max_waves=1)
    with pytest.raises(RuntimeError, match="pending"):
        enqueue_increment(spark, pages, root, ["partial"])


def test_export_across_base_and_increment(spark, pages, tmp_path):
    from engine.jobs.extract_job import enqueue_increment

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, run_id="base")
    run_extract_job(spark, pages, man)
    bigger = generate_pages(spark, N_DOCS + 100, partitions=4)
    inc, new_pages = enqueue_increment(spark, bigger, root, ["base"],
                                       run_id="inc")
    run_extract_job(spark, new_pages, inc)
    res = export_run(spark, [man, inc], str(tmp_path / "table"))
    assert res["run_id"] == "base,inc"
    assert res["rows"] == bigger.select("url").distinct().count()


def test_increment_killed_midrun_resumes_from_recorded_input(
    spark, pages, tmp_path
):
    """A mid-run kill of an increment must resume from the RECORDED
    anti-joined input — never the raw crawl — or base-committed urls would
    be re-extracted into the increment and break cross-run disjointness."""
    from engine.jobs.extract_job import (
        enqueue_increment,
        read_extracted,
        read_extracted_across,
    )

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, run_id="base")
    run_extract_job(spark, pages, man)
    base_urls = {r["url"] for r in pages.select("url").distinct().collect()}

    bigger = generate_pages(spark, N_DOCS + 120, partitions=4)
    inc, new_pages = enqueue_increment(
        spark, bigger, root, ["base"], run_id="inc", min_partitions=8
    )
    run_extract_job(spark, new_pages, inc, wave_size=4, max_waves=1)  # kill

    # resume: same call, same run_id — returns the durable recorded input
    inc2, resumed_pages = enqueue_increment(
        spark, bigger, root, ["base"], run_id="inc"
    )
    assert inc2.run_id == "inc"
    assert resumed_pages.count() == new_pages.count()
    run_extract_job(spark, resumed_pages, inc2)

    inc_urls = {
        r["url"]
        for r in read_extracted(spark, inc2).select("url").distinct().collect()
    }
    assert not (inc_urls & base_urls)  # disjointness survived the kill
    across = read_extracted_across(spark, root, ["base", "inc"])
    assert across.count() == across.select("url").distinct().count()


def test_vacuum_expires_artifacts_and_reincrement_noops(
    spark, pages, tmp_path
):
    from engine.jobs.extract_job import enqueue_increment, vacuum_run

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, run_id="base")
    run_extract_job(spark, pages, man)
    bigger = generate_pages(spark, N_DOCS + 80, partitions=4)
    inc, new_pages = enqueue_increment(spark, bigger, root, ["base"],
                                       run_id="inc")
    with pytest.raises(RuntimeError, match="pending"):
        vacuum_run(spark, inc)  # live resume sources: refused
    run_extract_job(spark, new_pages, inc)
    res = vacuum_run(spark, inc)
    assert "increment_input" in res["removed"]
    assert res["freed_bytes"] > 0
    import os

    assert not os.path.exists(os.path.join(root, "inc", "increment_input"))
    # post-vacuum re-increment of the same run_id: clean no-op
    inc2, leftover = enqueue_increment(spark, bigger, root, ["base"],
                                       run_id="inc")
    assert inc2.run_id == "inc" and inc2.is_complete()
    assert leftover.count() == 0
    r = run_extract_job(spark, leftover, inc2)
    assert r["waves_run"] == 0


def test_increment_resume_rejects_changed_base_set(spark, pages, tmp_path):
    """An increment's anti-join is frozen against its enqueue-time base
    set; resuming with a different one must be refused (the recorded input
    may contain urls the new base has already committed)."""
    from engine.jobs.extract_job import enqueue_increment

    root = str(tmp_path / "runs")
    m1 = enqueue(spark, pages, root, run_id="b1")
    run_extract_job(spark, pages, m1)
    small = generate_pages(spark, 50, partitions=2)
    m2 = enqueue(spark, small, root, run_id="b2")
    run_extract_job(spark, small, m2)
    bigger = generate_pages(spark, N_DOCS + 60, partitions=4)
    inc, new_pages = enqueue_increment(spark, bigger, root, ["b1"],
                                       run_id="inc")
    run_extract_job(spark, new_pages, inc, wave_size=4, max_waves=1)  # kill
    with pytest.raises(RuntimeError, match="base set"):
        enqueue_increment(spark, bigger, root, ["b1", "b2"], run_id="inc")
    # same base set resumes fine
    inc2, resumed = enqueue_increment(spark, bigger, root, ["b1"],
                                      run_id="inc")
    assert inc2.run_id == "inc" and resumed.count() == new_pages.count()


def test_lost_extracted_dir_raises_not_empty(spark, pages, tmp_path):
    """ADVICE round-3: if lineage says docs were committed but extracted/
    is wholly gone (not just a broken layout), read_extracted must RAISE —
    PATH_NOT_FOUND used to degrade to an empty table, letting export
    publish 0 rows with exit code 0."""
    import shutil

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=4, run_id="lost-test")
    run_extract_job(spark, pages, man, wave_size=4)
    assert read_extracted(spark, man).count() > 0
    shutil.rmtree(man.extracted_path)
    with pytest.raises(RuntimeError, match="lineage records"):
        read_extracted(spark, man).count()


def test_emptied_extracted_dir_raises_not_empty(spark, pages, tmp_path):
    """The data-loss case a declared-schema read would turn into an empty
    table: extracted/ and its partition dirs survive but every data file
    is gone. Lineage says docs were committed, so read_extracted must
    raise, not read 0 rows."""
    import pathlib

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=4, run_id="emptied-test")
    run_extract_job(spark, pages, man, wave_size=4)
    assert read_extracted(spark, man).count() > 0
    data = [p for p in pathlib.Path(man.extracted_path).rglob("*") if p.is_file()]
    assert data
    for p in data:
        p.unlink()
    assert pathlib.Path(man.extracted_path).is_dir()
    with pytest.raises(RuntimeError, match="lineage records"):
        read_extracted(spark, man).count()


def test_empty_corpus_run_still_reads_as_empty(spark, pages, tmp_path):
    """The legitimate degradation case the lost-dir guard must NOT break:
    a committed run over an empty corpus writes no data files and reads
    as an empty table (lineage doc sum is 0)."""
    root = str(tmp_path / "runs")
    man = enqueue(
        spark, pages.limit(0), root, min_partitions=4, run_id="empty-test"
    )
    r = run_extract_job(spark, pages.limit(0), man, wave_size=4)
    assert man.is_complete()
    assert r["waves_run"] == 1 and r["docs_processed"] == 0
    assert read_extracted(spark, man).count() == 0
    assert read_lineage(spark, man).count() == 0


def test_increment_refuses_empty_base_set(spark, pages, tmp_path):
    """ADVICE round-3: an increment with no bases would skip the anti-join
    and re-extract every base url (a later multi-run export then
    double-counts) — it must raise, not silently behave like enqueue."""
    from engine.jobs.extract_job import enqueue_increment

    with pytest.raises(ValueError, match="at least one base run"):
        enqueue_increment(spark, pages, str(tmp_path / "runs"), [])


def test_increment_content_dedup(spark, pages, tmp_path):
    """The weekly-crawl content channel: enqueue_increment skips
    re-crawled base URLS, but the SAME content re-crawled under a NEW url
    re-enters the corpus — dedup_increment_docs must classify it. Plant
    one exact copy (identical html, new url), one near-dup (one extra
    sentence spliced into the page stream, new url), and one genuinely
    new page; re-crawl 10 base urls to confirm they are never
    re-extracted and never classified."""
    from engine.jobs.extract_job import dedup_increment_docs, enqueue_increment
    from engine.synth import gen_doc

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="cbase")
    run_extract_job(spark, pages, man, wave_size=8)

    base_rows = (
        pages.where(F.col("lang") == "en").orderBy("url").limit(30).collect()
    )
    # longest doc for the near-dup source: one spliced sentence then moves
    # the shingle Jaccard least, keeping the pair well above the 0.5
    # threshold AND comfortably inside MinHash-LSH banding recall
    src_near = max(
        (r for r in base_rows if b"</h2><p>" in r["html"]),
        key=lambda r: len(r["html"]),
    )
    src_exact = next(r for r in base_rows if r["url"] != src_near["url"])
    recrawls = [
        r for r in base_rows
        if r["url"] not in (src_near["url"], src_exact["url"])
    ][:10]
    fresh = gen_doc(10_000_000)[0]  # far outside the base id range
    near_html = src_near["html"].replace(
        b"</h2><p>",
        b"</h2><p>An entirely new leading sentence planted for the "
        b"incremental dedup test case.</p><p>",
        1,
    )
    assert near_html != src_near["html"]  # the splice anchored
    inc_rows = [
        # 10 re-crawls of base urls: dropped by the url anti-join
        *[(r["url"], r["warc_ts"], r["html"], None, r["lang"])
          for r in recrawls],
        ("http://inc.example/copy", src_exact["warc_ts"],
         src_exact["html"], None, "en"),
        ("http://inc.example/near", src_near["warc_ts"],
         near_html, None, "en"),
        (fresh["url"], fresh["warc_ts"], fresh["html"], None, fresh["lang"]),
    ]
    inc_df = spark.createDataFrame(inc_rows, pages.schema)
    m2, new_pages = enqueue_increment(spark, inc_df, root, ["cbase"],
                                      run_id="cinc")
    res = run_extract_job(spark, new_pages, m2, wave_size=8)
    assert res["complete"] and res["docs_processed"] == 3  # re-crawls skipped

    cls = {
        r["url"]: (r["status"], r["dup_of"])
        for r in dedup_increment_docs(spark, root, ["cbase"], "cinc").collect()
    }
    assert len(cls) == 3  # only the increment's own ok docs are classified
    assert cls["http://inc.example/copy"] == ("exact_dup", src_exact["url"])
    assert cls["http://inc.example/near"][0] == "near_dup"
    assert cls["http://inc.example/near"][1] == src_near["url"]
    assert cls[fresh["url"]] == ("kept", None)


def test_compact_kill_window_leaves_readable_table(spark, pages, tmp_path):
    """Pointer-flip compaction (round-3 verdict item 9): a kill at ANY
    instant of compact_run leaves a readable active table, because the
    only publish step is one atomic manifest-pointer commit. Simulate the
    two crash states directly: (a) rewrite written but pointer NOT yet
    flipped — the active table is still the old generation and vacuum
    expires the orphan rewrite; (b) pointer flipped but the superseded
    generation not yet deleted — the active table is the new generation
    and vacuum expires the stale one."""
    import os
    import shutil

    from engine.jobs.extract_job import compact_run, vacuum_run

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="kcompact")
    run_extract_job(spark, pages, man, wave_size=8)

    def fp():
        return {
            (r["url"], r["n_chars"])
            for r in read_extracted(spark, man).collect()
        }

    frozen = fp()

    # (a) crash BEFORE the pointer flip: orphan rewrite on disk
    orphan = os.path.join(str(man.dir), "extracted.gen-0007")
    shutil.copytree(man.extracted_path, orphan)
    assert fp() == frozen  # active table untouched
    res = vacuum_run(spark, man)
    assert "extracted.gen-0007" in res["removed"]
    assert not os.path.exists(orphan)

    # real compact publishes gen-0001 and expires extracted/
    res = compact_run(spark, man, target_file_bytes=1 << 30)
    assert res["files_after"] <= 8
    assert os.path.basename(man.extracted_path) == "extracted.gen-0001"
    assert not os.path.exists(os.path.join(str(man.dir), "extracted"))
    assert fp() == frozen

    # (b) crash AFTER the flip, in its REAL shape: the first compaction's
    # superseded table is the PLAIN "extracted" directory (review finding:
    # a gen-* glob alone would leak it forever). In the real crash the
    # leftover PREDATES the generation that superseded it — backdate the
    # simulated copy to match (a copytree stamps "now", which is the
    # restore case tested below, not the crash case)
    stale = os.path.join(str(man.dir), "extracted")
    shutil.copytree(man.extracted_path, stale)
    t = os.path.getmtime(man.extracted_path) - 60
    os.utime(stale, (t, t))
    assert fp() == frozen
    res = vacuum_run(spark, man)
    assert "extracted" in res["removed"]
    assert not os.path.exists(stale)

    # a plain "extracted" dir NEWER than the active generation is NOT the
    # crash leftover — it is an in-flight recovery restore (advice round
    # 4): vacuum must leave it alone and say why
    restored = os.path.join(str(man.dir), "extracted")
    shutil.copytree(man.extracted_path, restored)
    # copytree preserves the source's mtime (cp -rp); a plain cp -r /
    # freshly-written restore stamps "now" — that's the detectable case
    os.utime(restored, None)
    res = vacuum_run(spark, man)
    assert "extracted" not in res["removed"]
    assert res["skipped"] == ["extracted"] and "recovery" in res["skipped_reason"]
    assert os.path.exists(restored)
    shutil.rmtree(restored)

    # and a superseded *generation* name is expired the same way
    stale_gen = os.path.join(str(man.dir), "extracted.gen-0000")
    shutil.copytree(man.extracted_path, stale_gen)
    res = vacuum_run(spark, man)
    assert "extracted.gen-0000" in res["removed"]

    # the pointer may only name "extracted" or a generation — recovery
    # artifacts must be renamed, never pointed at (else a later vacuum
    # could delete the active table)
    import pytest

    with pytest.raises(ValueError, match="not a legal extracted dir"):
        man.set_extracted_dir("extracted.pre_compact")

    # compacting a compacted run stacks generations monotonically
    compact_run(spark, man, target_file_bytes=1 << 30)
    assert os.path.basename(man.extracted_path) == "extracted.gen-0002"
    assert not os.path.exists(os.path.join(str(man.dir), "extracted.gen-0001"))
    assert fp() == frozen


def test_retry_overlay_survives_compaction(spark, pages, tmp_path):
    """The retry overlay is one fixed directory, not derived from the
    active-table pointer. Retry then compact: the current view still reads
    every earlier attempt, and a later-attempt overlay row still wins over
    its base row. Retry, compact, retry, compact, vacuum: vacuum expires
    no overlay, and each attempt's rows stay readable and match the
    attempt's retry-NNN lineage rows."""
    import os

    from engine.jobs.extract_job import compact_run, vacuum_run

    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, min_partitions=8, run_id="retry-compact")
    run_extract_job(spark, pages, man, wave_size=8)
    first = retry_failed(spark, pages, man)
    assert first["attempt"] == 1 and first["retried"] > 0
    overlay = man.retry_path
    overlay_files = set(spark.read.parquet(overlay).inputFiles())

    compact_run(spark, man, target_file_bytes=1 << 30)
    assert overlay_files <= set(read_current_extracted(spark, man).inputFiles())
    url = read_extracted(spark, man).where(F.col("status") == "ok").first()["url"]
    (
        read_extracted(spark, man).where(F.col("url") == url)
        .withColumn("text", F.lit("planted later attempt"))
        .withColumn("attempt", F.lit(99))
        .write.mode("append").partitionBy("partition_id").parquet(overlay)
    )
    cur = read_current_extracted(spark, man).where(F.col("url") == url)
    assert [r["text"] for r in cur.collect()] == ["planted later attempt"]

    second = retry_failed(spark, pages, man)
    assert second["attempt"] == 2 and second["retried"] > 0
    compact_run(spark, man, target_file_bytes=1 << 30)
    removed = vacuum_run(spark, man)["removed"]
    assert os.path.basename(overlay) not in removed
    assert all("retry" not in name for name in removed)
    rows = spark.read.parquet(overlay)
    for attempt in (1, 2):
        lin = spark.read.parquet(man.retry_lineage_path(attempt)).collect()
        got = {
            r["partition_id"]: (r["doc_count"], r["byte_count"], r["checksum"])
            for r in lin
        }
        want = _expected_lineage(
            rows.where(F.col("attempt") == attempt), "status"
        )
        assert want and got == want, attempt


# string constants that name a run artifact: exact names and prefixes of
# the run directory's entries, and substrings only a run path contains
_RUN_NAMES = {"extracted", "staged", "lineage"}
_RUN_PREFIXES = ("wave-", "retry-", "_retry")
_RUN_SUBSTRINGS = (
    "extracted.", "extracted_retry", "increment_input", "staged.tmp",
    ".input.tmp", "pre_compact", "compact_tmp", "manifest.json",
    "_increment_meta",
)


def test_only_the_manifest_names_run_paths():
    """Tooling guard: RunManifest (engine/manifest.py) is the one owner of
    the run-directory layout. No other engine module holds a string
    constant (docstrings aside) naming a run artifact, so no caller can
    compose a run path that drifts from the manifest's."""
    import ast
    import pathlib

    import engine

    hits = []
    for path in sorted(pathlib.Path(engine.__file__).parent.rglob("*.py")):
        if path.name == "manifest.py":
            continue
        tree = ast.parse(path.read_text())
        docs = {
            id(n.body[0].value)
            for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body
            and isinstance(n.body[0], ast.Expr)
            and isinstance(n.body[0].value, ast.Constant)
        }
        hits += [
            (path.name, n.lineno, n.value)
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and id(n) not in docs
            and (
                n.value in _RUN_NAMES
                or n.value.startswith(_RUN_PREFIXES)
                or any(t in n.value for t in _RUN_SUBSTRINGS)
            )
        ]
    assert hits == []


# Spark jobs per verb of one warm lifecycle, counted through job groups and
# pinned as caps (equal to the measured counts) so no change adds a Spark
# round-trip to the job path unnoticed. A Python-touching job costs a fixed
# ~0.25 s before its UDF runs (CLAUDE.md job-path rule). run/resume: the
# wave write and the lineage write (2 AQE stages); retry: the one overlay
# write (failed-url window + semi join) and its lineage write; stats: one
# aggregate.
_JOBS_PER_VERB_CAP = {
    "enqueue": 2, "stage": 1, "run": 3, "resume": 3, "retry": 5, "stats": 2,
}


def _job_labels(spark, job_ids):
    """(description, call site) of each job, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for i in job_ids:
        job = store.job(i)
        desc = job.description()
        out.append((desc.get() if desc.isDefined() else None, job.name()))
    return out


def test_spark_jobs_per_verb_capped(spark, pages, tmp_path):
    from engine.jobs.extract_job import run_stats, stage_pages

    sc = spark.sparkContext

    def lifecycle(tag):
        jobs, labels = {}, {}

        def step(verb, fn):
            group = f"jobs-per-verb-{tag}-{verb}"
            sc.setJobGroup(group, group)
            try:
                value = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            ids = sorted(sc.statusTracker().getJobIdsForGroup(group))
            jobs[verb], labels[verb] = len(ids), _job_labels(spark, ids)
            return value

        root = str(tmp_path / f"runs-{tag}")
        m = step("enqueue", lambda: enqueue(spark, pages, root, min_partitions=8, run_id="jobs"))
        step("stage", lambda: stage_pages(spark, pages, m))
        run = step("run", lambda: run_extract_job(spark, pages, m, wave_size=4, max_waves=1))
        resume = step("resume", lambda: run_extract_job(spark, pages, m, wave_size=4))
        retried = step("retry", lambda: retry_failed(spark, pages, m))
        step("stats", lambda: run_stats(spark, m))
        assert (run["complete"], resume["complete"]) == (False, True)
        assert retried["retried"] > 0
        return jobs, labels

    lifecycle("warm")
    jobs, labels = lifecycle("counted")
    over = {
        v: (n, _JOBS_PER_VERB_CAP[v], labels[v])
        for v, n in jobs.items() if n > _JOBS_PER_VERB_CAP[v]
    }
    assert not over, (
        f"verbs over their Spark-job cap (count, cap, [(description, "
        f"call site) per job]): {over}"
    )
    assert all(n > 0 for n in jobs.values()), jobs
    # each verb labels its jobs "<verb> run=<id>[ wave=<first pid>]"
    want = {
        "enqueue": {"enqueue run=jobs"}, "stage": {"stage run=jobs"},
        "run": {"run run=jobs wave=0"}, "resume": {"run run=jobs wave=4"},
        "retry": {"retry run=jobs"}, "stats": {"stats run=jobs"},
    }
    assert {v: {d for d, _ in ls} for v, ls in labels.items()} == want


def test_job_description_restored_after_verb(
    spark, pages, tmp_path, monkeypatch
):
    """A verb's job label is scoped to the verb: the caller's description
    is back in place afterwards, also when the verb raises mid-wave."""
    import engine.jobs.extract_job as job

    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        man = enqueue(spark, pages, str(tmp_path / "runs"), run_id="desc")
        assert sc.getLocalProperty("spark.job.description") == "caller"

        def kill(*args):
            assert sc.getLocalProperty("spark.job.description") == (
                "run run=desc wave=0"
            )
            raise _Kill()

        monkeypatch.setattr(job, "lineage_frame", kill)
        with pytest.raises(_Kill):
            run_extract_job(spark, pages, man, wave_size=4)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
