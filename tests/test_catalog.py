"""Catalog-sink seam (engine/catalog.py): when `spark.graft.sink.table`
names a catalog table, the per-wave extracted write routes through
DataFrameWriterV2 instead of the parquet-manifest path — create on first
wave, replace-own-partitions on later ones — and the whole resume cycle
must hold against the only catalog this sandbox has (the built-in v1
session catalog, via the documented dynamic-INSERT-OVERWRITE fallback).
The parquet path's equivalent coverage is tests/test_resume.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.catalog import (
    SINK_TABLE_CONF,
    configured_sink_table,
    write_wave_to_table,
)
from engine.jobs.extract_job import enqueue, read_lineage, run_extract_job
from engine.manifest import RunManifest
from engine.synth import generate_pages


@pytest.fixture()
def sink_table(spark):
    name = "spark_catalog.default.extracted_catalog_test"
    spark.conf.set(SINK_TABLE_CONF, name)
    try:
        yield name
    finally:
        spark.conf.unset(SINK_TABLE_CONF)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_sink_unconfigured_by_default(spark):
    assert configured_sink_table(spark) is None


def test_write_wave_create_then_idempotent_replace(spark, sink_table):
    df = (
        spark.range(10)
        .select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            (F.col("id") % 2).cast("int").alias("partition_id"),
        )
    )
    write_wave_to_table(spark, df, sink_table)  # create
    assert spark.table(sink_table).count() == 10
    # rewrite ONLY partition 0 with fewer rows — partition 1 untouched
    redo = df.where("partition_id = 0").limit(3)
    write_wave_to_table(spark, redo, sink_table)
    counts = {
        r["partition_id"]: r["count"]
        for r in spark.table(sink_table).groupBy("partition_id").count().collect()
    }
    assert counts == {0: 3, 1: 5}
    # same wave again → identical state (resume idempotency)
    write_wave_to_table(spark, redo, sink_table)
    counts2 = {
        r["partition_id"]: r["count"]
        for r in spark.table(sink_table).groupBy("partition_id").count().collect()
    }
    assert counts2 == counts


def test_kill_and_resume_through_catalog_sink(spark, sink_table, tmp_path):
    from tests.test_resume import _enqueue_n

    pages_path = str(tmp_path / "pages.parquet")
    generate_pages(spark, 200, partitions=4).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    root = str(tmp_path / "runs")
    man = _enqueue_n(spark, pages, root, 12, run_id="cat-test")

    r1 = run_extract_job(spark, pages, man, wave_size=4, max_waves=2)
    assert r1["waves_run"] == 2 and not r1["complete"]
    assert spark.catalog.tableExists(sink_table)

    man2 = RunManifest.load(root, "cat-test")
    r2 = run_extract_job(spark, pages, man2, wave_size=4)
    assert r2["complete"]

    out = spark.table(sink_table)
    assert out.count() == pages.count()
    assert (
        out.select("url").distinct().count()
        == pages.select("url").distinct().count()
    )
    # lineage ledger agrees with the catalog table, per partition
    lin = read_lineage(spark, man2)
    assert lin.count() == 12
    lin_counts = {
        r["partition_id"]: r["doc_count"] for r in lin.collect()
    }
    tbl_counts = {
        r["partition_id"]: r["count"]
        for r in out.groupBy("partition_id").count().collect()
    }
    assert lin_counts == tbl_counts

    # complete run re-runs as a no-op and the table is untouched
    r3 = run_extract_job(spark, pages, man2, wave_size=4)
    assert r3["waves_run"] == 0
    assert spark.table(sink_table).count() == pages.count()

    # --- downstream verbs must read the BASE from the catalog table
    # (round-5 review finding: the seam was write-only, so every read
    # verb raised a bogus data-loss error on a healthy catalog run) ---
    import os

    from engine.jobs.extract_job import (
        compact_run,
        export_run,
        read_extracted,
        retry_failed,
        rollup_metrics,
        vacuum_run,
    )

    assert not os.path.exists(man2.extracted_path)  # nothing on disk...
    base = read_extracted(spark, man2)  # ...yet the committed view reads
    assert base.count() == pages.count()

    roll = rollup_metrics(spark, man2)
    # the rollup's grand-total row counts every committed doc
    assert roll.agg(F.max("docs")).collect()[0][0] == pages.count()

    dest = str(tmp_path / "exported")
    export_run(spark, man2, dest)
    # export publishes the current view: one row per url (latest attempt)
    assert (
        spark.read.parquet(dest).count()
        == pages.select("url").distinct().count()
    )

    # retry overlays stay parquet side-cars over the table base — verify
    # the MERGE view actually unions them (review round 5: the previous
    # `retried >= 0` assertion was vacuously true)
    from engine.jobs.extract_job import read_current_extracted

    n_failed = (
        read_current_extracted(spark, man2)
        .where(F.col("status") == "failed")
        .select("url")
        .distinct()
        .count()
    )
    assert n_failed > 0, "synth corpus must carry deterministic failures"
    r = retry_failed(spark, pages, man2)
    assert r["retried"] == n_failed and r["attempt"] == 1
    assert os.path.exists(man2.retry_path)  # side-car
    cur = read_current_extracted(spark, man2)
    # latest-attempt view: still one row per url, and the retried urls'
    # rows now come from the overlay (attempt 1), not the table base
    assert cur.count() == pages.select("url").distinct().count()
    overlay = spark.read.parquet(man2.retry_path)
    assert overlay.where(F.col("attempt") == 1).count() == n_failed

    # file compaction belongs to the catalog, not the parquet verb
    with pytest.raises(RuntimeError, match="catalog"):
        compact_run(spark, man2)
    # vacuum reclaims only the parquet side-car artifacts
    v = vacuum_run(spark, man2)
    assert "extracted" not in v["removed"]
    assert spark.table(sink_table).count() == pages.count()


def test_increment_refuses_shared_table_and_unions_across_tables(
    spark, sink_table, tmp_path
):
    """Round-5 review: an increment into the BASE's table would
    overwritePartitions the base's own partition ids — silent corpus
    loss. The seam must refuse the shared table, and with a distinct
    table per run the cross-run union view works from each manifest's
    recorded sink (no session conf needed at read time)."""
    from engine.catalog import SINK_TABLE_CONF
    from engine.jobs.extract_job import (
        enqueue_increment,
        read_extracted_across,
        run_extract_job as run_job,
    )

    pages = generate_pages(spark, 120, partitions=2)
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, run_id="cbase")
    run_job(spark, pages, man)
    base_count = spark.table(sink_table).count()

    bigger = generate_pages(spark, 200, partitions=2)
    with pytest.raises(RuntimeError, match="NEW table"):
        enqueue_increment(spark, bigger, root, ["cbase"], run_id="cinc")
    assert spark.table(sink_table).count() == base_count  # untouched

    inc_table = "spark_catalog.default.extracted_catalog_inc"
    spark.conf.set(SINK_TABLE_CONF, inc_table)
    try:
        inc, new_pages = enqueue_increment(
            spark, bigger, root, ["cbase"], run_id="cinc2"
        )
        assert inc is not None and inc.sink_table == inc_table
        run_job(spark, new_pages, inc)
        assert spark.table(sink_table).count() == base_count  # still
        # the union view resolves each run's sink from ITS manifest even
        # with the session conf now pointing elsewhere
        across = read_extracted_across(
            spark, [RunManifest.load(root, r) for r in ("cbase", "cinc2")]
        )
        assert (
            across.select("url").distinct().count()
            == bigger.select("url").distinct().count()
        )
    finally:
        spark.conf.set(SINK_TABLE_CONF, sink_table)
        spark.sql(f"DROP TABLE IF EXISTS {inc_table}")


def test_wave_lineage_through_catalog_sink(spark, sink_table, tmp_path):
    """A 12-partition wave written to the catalog table takes its lineage
    from the UDF that feeds the write: every lineage row equals the
    aggregate recomputed from the table's rows."""
    from tests.test_resume import _enqueue_n, _expected_lineage

    pages_path = str(tmp_path / "pages.parquet")
    generate_pages(spark, 200, partitions=4).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    n = 12
    man = _enqueue_n(spark, pages, str(tmp_path / "runs"), n,
                     run_id="cat-lineage")
    r = run_extract_job(spark, pages, man, wave_size=n)
    assert (r["waves_run"], r["complete"]) == (1, True)
    got = {
        x["partition_id"]: (x["doc_count"], x["byte_count"], x["checksum"])
        for x in read_lineage(spark, man).collect()
    }
    assert got == _expected_lineage(spark.table(sink_table), "text")
    assert len(got) == n


def test_read_extracted_raises_when_catalog_table_lost(spark, sink_table, tmp_path):
    """The parquet path's data-loss guard must hold for the table path:
    committed lineage + vanished table => loud error, not an empty read."""
    pages_path = str(tmp_path / "pages.parquet")
    generate_pages(spark, 60, partitions=2).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, run_id="cat-lost")
    run_extract_job(spark, pages, man, wave_size=8)

    from engine.jobs.extract_job import read_extracted

    spark.sql(f"DROP TABLE {sink_table}")
    with pytest.raises(RuntimeError, match="unreadable"):
        read_extracted(spark, man).count()


def _populate(spark, table):
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} (url STRING, partition_id INT) "
        "USING parquet PARTITIONED BY (partition_id)"
    )
    spark.sql(f"INSERT INTO {table} VALUES ('u', 0)")


def test_enqueue_refuses_claimed_or_populated_sink_table(
    spark, sink_table, tmp_path
):
    """Advice (round 5): two runs enqueued with the same sink conf share
    the table and silently overwritePartitions each other (both manifests
    still read complete). enqueue must refuse a table already recorded by
    another manifest under runs_root, or already non-empty with no
    claiming manifest — force=True is the explicit override. A refusal
    the manifests alone decide runs no Spark job: it comes before the
    sizing pass reads the corpus."""
    from tests.test_resume import _jobs_run

    pages = generate_pages(spark, 30, partitions=2)
    root = str(tmp_path / "runs")
    enqueue(spark, pages, root, run_id="claim-a")

    # same table, same runs_root, new run id → refused
    with _jobs_run(spark) as jobs, pytest.raises(
        RuntimeError, match="already recorded by run"
    ):
        enqueue(spark, pages, root, run_id="claim-b")
    assert jobs == []
    # re-enqueueing the SAME run id stays create()'s resume/reset domain
    with _jobs_run(spark) as jobs, pytest.raises(FileExistsError):
        enqueue(spark, pages, root, run_id="claim-a")
    assert jobs == []
    # explicit override works
    m = enqueue(spark, pages, root, run_id="claim-b", force=True)
    assert m.sink_table == sink_table

    # foreign runs_root + table already holding rows → refused too
    _populate(spark, sink_table)
    other_root = str(tmp_path / "runs2")
    with pytest.raises(RuntimeError, match="no manifest under"):
        enqueue(spark, pages, other_root, run_id="claim-c")
    assert enqueue(
        spark, pages, other_root, run_id="claim-c", force=True
    ).sink_table == sink_table


def test_enqueue_same_run_id_left_to_create_refusal(spark, sink_table, tmp_path):
    """Re-enqueueing a run whose own manifest claims the (now populated)
    table, or whose own manifest is unreadable, is create()'s refusal —
    not the misleading 'no manifest records it' guard error."""
    pages = generate_pages(spark, 30, partitions=2)
    root = str(tmp_path / "runs")
    man = enqueue(spark, pages, root, run_id="own-a")
    _populate(spark, sink_table)
    with pytest.raises(FileExistsError, match="already has a manifest"):
        enqueue(spark, pages, root, run_id="own-a")
    man.path.write_text("{not json")
    with pytest.raises(FileExistsError, match="already has a manifest"):
        enqueue(spark, pages, root, run_id="own-a")


def test_enqueue_names_unreadable_manifest_as_possible_claimant(
    spark, sink_table, tmp_path
):
    """An unreadable manifest under runs_root may be the one recording a
    table that holds rows: the refusal must say so, not claim that no
    manifest records it; an empty table stays free to claim."""
    pages = generate_pages(spark, 30, partitions=2)
    root = tmp_path / "runs"
    (root / "broken").mkdir(parents=True)
    (root / "broken" / "manifest.json").write_text("{not json")
    _populate(spark, sink_table)
    with pytest.raises(RuntimeError, match="run\\(s\\) broken") as e:
        enqueue(spark, pages, str(root), run_id="fresh")
    assert "no manifest" not in str(e.value)
    spark.sql(f"TRUNCATE TABLE {sink_table}")
    assert enqueue(spark, pages, str(root), run_id="fresh").sink_table == sink_table


def test_enqueue_reports_unreadable_sink_table(spark, sink_table, tmp_path):
    """A table whose data cannot be read fails enqueue with guard advice,
    not a raw Spark error from the row probe."""
    import pathlib

    _populate(spark, sink_table)
    for f in spark.table(sink_table).inputFiles():
        pathlib.Path(f.removeprefix("file:")).write_bytes(b"not parquet")
    spark.catalog.refreshTable(sink_table)
    pages = generate_pages(spark, 30, partitions=2)
    with pytest.raises(RuntimeError, match="could not be read") as e:
        enqueue(spark, pages, str(tmp_path / "runs"), run_id="probe")
    assert "force=True" in str(e.value)
