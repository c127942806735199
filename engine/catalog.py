"""Catalog-table sink seam — the Iceberg-shaped write path.

BASELINE.json's north rule names "Iceberg tables" as the production sink.
This sandbox ships no Iceberg (or any external V2 catalog) jar, so the
default sink is the repo's parquet + atomic-manifest protocol
(engine/jobs/extract_job.py; SURVEY §8 documents the substitution:
dynamic partition overwrite + atomic pointer flips give the same
commit/rollback semantics the Iceberg transaction log would). This module
is the seam that routes the per-wave extracted write through Spark's
DataFrameWriterV2 (``df.writeTo(table)``) when a catalog table is
configured — the exact API an Iceberg deployment calls with
``catalog.db.extracted`` — so dropping a real catalog in is a config
change, not a code change.

Routing (per wave, idempotent on resume — a re-run wave REPLACES its own
partitions, never duplicates them):

- table not yet in the catalog → ``writeTo(t).partitionedBy(
  partition_id).using("parquet").create()`` (Iceberg ignores the
  provider and writes its own format).
- table exists, V2 catalog → ``writeTo(t).overwritePartitions()``:
  dynamic partition replacement committed by the catalog's own
  transaction mechanism.
- table exists, but the catalog resolved it to a **v1** table (the
  built-in session catalog, which is what this sandbox can exercise) →
  Spark refuses ``overwritePartitions`` ("Cannot write into v1 table"),
  so fall back to the v1 writer's dynamic INSERT OVERWRITE — the same
  replace-only-these-partitions semantics through the legacy code path.
  This fallback is what lets tests/test_catalog.py drive the whole
  create → wave-write → resume-rewrite cycle end-to-end with no
  external jar.

Cross-process CLI use (verified end-to-end in-sandbox): the default
in-memory session catalog loses table METADATA at process exit, so
multi-verb CLI flows (run in one process, stats/export in another) need
the bundled derby-backed hive catalog::

    python -m engine.cli \
      --conf spark.sql.catalogImplementation=hive \
      --conf spark.sql.warehouse.dir=/data/wh \
      --conf spark.graft.sink.table=spark_catalog.default.extracted \
      run --pages ... --runs-root ... --run-id r1
    # later verbs need only the CATALOG confs (implementation +
    # warehouse): the sink table itself is read from the run's manifest,
    # so stats/export/retry work without spark.graft.sink.table
    # (verified cross-process in-sandbox)

A real deployment instead configures its Iceberg/JDBC catalog, which is
durable by nature — the seam code is identical.

The conf matters only at ENQUEUE time: the chosen table is recorded in
the run's manifest (`RunManifest.sink_table`) and every later verb —
run, retry, export, stats, rollup, increment — routes from that record,
so reads need no live conf, a parquet run can never be silently re-routed
to somebody's table by a session-wide conf, and a run refuses to WRITE
anywhere but where its manifest says its data lives (strict check in
run_extract_job). Because every run partitions by pmod(hash(url), n),
two runs must never share one table — enqueue_increment refuses a sink
table any base run records (the increment gets its own table, and
read_extracted_across — the reader export and dedup-increment share —
unions the runs' current views, each routed from its manifest). Retry
overlays stay parquet side-cars under the manifest dir. Out of scope ON
PURPOSE: the manifest's
compact/vacuum TABLE-maintenance duties. They exist precisely because
parquet-on-a-filesystem has no transaction log; a configured catalog owns
its own maintenance (Iceberg rewrite_data_files / expire_snapshots), so
compact_run refuses catalog runs and vacuum_run reclaims only the
parquet side-car artifacts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

# Session conf naming the fully-qualified sink table (e.g.
# "iceberg_cat.warehouse.extracted"). Unset/empty → parquet-manifest sink.
SINK_TABLE_CONF = "spark.graft.sink.table"


def configured_sink_table(spark: SparkSession) -> str | None:
    """The configured catalog sink table, or None for the parquet path."""
    v = spark.conf.get(SINK_TABLE_CONF, None)
    return v or None


def write_wave_to_table(
    spark: SparkSession, extracted: DataFrame, table: str
) -> None:
    """Write one wave's extracted rows to `table`, replacing exactly the
    partition_id partitions present in `extracted` (resume-idempotent)."""
    if not spark.catalog.tableExists(table):
        (
            extracted.writeTo(table)
            .partitionedBy(F.col("partition_id"))
            .using("parquet")
            .create()
        )
        return
    try:
        extracted.writeTo(table).overwritePartitions()
    except AnalysisException as e:
        # Spark 4 classes the v1 rejection as _LEGACY_ERROR_TEMP_1012
        # ("Cannot write into v1 table"); match the condition first
        # (stable API) with the message substring as a cross-version net
        if (
            e.getCondition() != "_LEGACY_ERROR_TEMP_1012"
            and "v1 table" not in str(e)
        ):
            raise
        # v1 (session-catalog) fallback: identical dynamic-overwrite
        # semantics via the legacy writer. insertInto is position-based;
        # the wave frame's column order is fixed by EXTRACTED_SCHEMA, the
        # same order create() registered above.
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            extracted.write.mode("overwrite").insertInto(table)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

