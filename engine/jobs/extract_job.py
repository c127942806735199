"""The batch-queue jobs: enqueue → run (resumable) → retry → rollup.

Spark-first re-expression of the reference's controller verbs
(emopcmd.py submit/run/upload [U]) as idempotent DataFrame jobs
(BASELINE.json north_star: "Structured-Streaming-free idempotent DataFrame
jobs with a driver-side manifest table instead of a scheduler daemon").

Partitioning (the Q3 optimize_job analog, emop/lib/emop_submit.py [U]):
  n_partitions = clamp(ceil(total_html_bytes / target_partition_bytes),
                       min_partitions, max_partitions)
  partition_id = pmod(hash(url), n_partitions)

hash(url) is Spark's Murmur3 — content-addressed, so a document's partition
is a pure function of its url at ANY cluster size; hot hosts are already
spread uniformly because the hash covers the full url (host + unique path),
which IS the salting strategy for the extract stage: the skew-prone key
(host) never becomes a partition key on its own. Host-keyed *joins* get an
explicit salt column instead (see queries.q_salted_host_join).

Commit protocol (resume unit = wave of partitions):
  0. stage keyed pages ONCE, written partitionBy(partition_id) (atomic dir
     rename) — partition_id is hash(url), which parquet cannot prune as a
     predicate, but CAN prune as a partition directory. Waves then read
     only their own files instead of re-scanning the corpus (round-1 did W
     full scans for W waves — a 100 TB corpus scanned W times).
  for each wave of pending partition ids:
    1. read the wave's staged partition dirs        (file-pruned scan)
    2. run the fused extract UDF
    3. write extracted parquet partitioned by partition_id with DYNAMIC
       partition overwrite — a crash between write and commit leaves
       orphan rows, and the resume's rewrite of the same wave REPLACES
       them instead of appending duplicates
    4. build the wave's lineage rows (doc/byte counts, checksum, wall_ms)
       on the JVM from the files step 3 committed — one aggregate plus
       literal columns (lineage_frame), nothing collected to the driver,
       no Python worker — and write them to a wave-keyed file,
       mode=overwrite (same idempotency)
    5. atomically flip those partitions pending→committed in manifest.json
A kill ANYWHERE — between waves or between steps 3/4 and 5 — loses at most
the in-flight wave's work; re-running recomputes ONLY partitions absent
from the manifest and overwrites any orphan output (Q5 idempotency,
emop/lib/emop_run.py :: should_run [U], kill-mid-wave pinned in
tests/test_resume.py). A fully committed run is a no-op.
"""

from __future__ import annotations

import contextlib
import math
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.extract.core import EXTRACTOR_VERSION
from engine.extract.udf import dedup_latest_crawl, extract_batches_arrow
from engine.manifest import RunManifest, new_run_id
from engine.schema import (
    EXTRACTED_PARTITIONED_SCHEMA,
    EXTRACTED_RETRY_SCHEMA,
    LINEAGE_SCHEMA,
)

DEFAULT_TARGET_PARTITION_BYTES = 64 << 20  # 64 MiB of raw html per partition

_MASK40 = (1 << 40) - 1


def _content_checksum(per_row_hash):
    """Order-insensitive, partial-aggregatable content digest.

    Two independent 40-bit lanes of the per-row hash are SUMmed (not
    collected): commutative + associative → map-side combine works, the
    aggregation buffer is constant-size, and the result is independent of
    row order. 40-bit lanes keep the long sum overflow-free to ~2^23 rows
    per partition (partitions are byte-bounded far below that). The naive
    alternative — sort_array(collect_list(row_digest)) — buffers every row
    of a partition in ONE aggregation state: a scale bug at 64 MiB+
    partitions (round-2 fix; was the dominant lineage cost)."""
    lane1 = F.sum(per_row_hash.bitwiseAND(F.lit(_MASK40)))
    lane2 = F.sum(
        F.shiftrightunsigned(per_row_hash, 20).bitwiseAND(F.lit(_MASK40))
    )
    return F.sha2(
        F.concat_ws(":", F.count("*"), lane1, lane2), 256
    )


def plan_partitions(
    total_bytes: int,
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
    min_partitions: int = 8,
    max_partitions: int = 1 << 20,
) -> int:
    """Byte-based partition sizing (optimize_job analog)."""
    n = math.ceil(max(total_bytes, 1) / target_partition_bytes)
    return max(min_partitions, min(n, max_partitions))


def with_partition_id(pages: DataFrame, n_partitions: int) -> DataFrame:
    return pages.withColumn(
        "partition_id", F.pmod(F.hash("url"), F.lit(n_partitions)).cast("int")
    )


@contextlib.contextmanager
def _job_description(
    spark: SparkSession, verb: str, run_id: str, wave: int | None = None
):
    """Label every Spark job a verb runs "<verb> run=<id>[ wave=<first
    pid>]" (the status store, event log and UI show it), and restore the
    caller's description on exit."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    label = f"{verb} run={run_id}"
    sc.setJobDescription(label if wave is None else f"{label} wave={wave}")
    try:
        yield
    finally:
        sc.setJobDescription(prev)


N_HOST_SALT = 16


def with_host_salted_partition_id(
    pages: DataFrame, n_partitions: int, n_salt: int = N_HOST_SALT
) -> DataFrame:
    """Host-grouped layout WITH explicit hot-host salting (BASELINE.json:6).

    Use when per-host locality matters (politeness/rate limits, per-site
    models): the partition key is hash(host, salt) where
    salt = pmod(hash(url), n_salt) — a hot host (Zipf head) spreads across
    exactly n_salt partitions instead of melting one reducer, while a cold
    host still lands in at most n_salt partitions (usually fewer rows than
    one batch anyway). The default extract layout (with_partition_id) hashes
    the full url, which spreads hosts maximally; this variant is the
    explicit middle ground. tests/test_resume.py::test_host_salting_spreads
    pins the spread behaviour."""
    host = F.parse_url("url", F.lit("HOST"))
    salt = F.pmod(F.hash("url"), F.lit(n_salt))
    return pages.withColumn(
        "partition_id",
        F.pmod(F.hash(host, salt), F.lit(n_partitions)).cast("int"),
    )


def enqueue(
    spark: SparkSession,
    pages: DataFrame,
    runs_root: str,
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
    min_partitions: int = 8,
    run_id: str | None = None,
    force: bool = False,
) -> RunManifest:
    """submit/reserve analog: size the run and commit a pending manifest."""
    from engine.catalog import configured_sink_table

    run_id = run_id or new_run_id()
    with _job_description(spark, "enqueue", run_id):
        sized = pages.agg(
            F.sum(F.coalesce(F.length("html"), F.lit(0))).alias("b"),
        ).collect()[0]
        total_bytes = int(sized["b"] or 0)
        n = plan_partitions(total_bytes, target_partition_bytes, min_partitions)
        sink_table = configured_sink_table(spark)
        if sink_table and not force:
            _guard_sink_table_unclaimed(spark, sink_table, runs_root, run_id)
    return RunManifest.create(
        runs_root, n, total_bytes, run_id=run_id, force=force,
        sink_table=sink_table,
    )


def _guard_sink_table_unclaimed(
    spark: SparkSession, sink_table: str, runs_root: str, run_id: str | None
) -> None:
    """enqueue-time sink-table collision check (advice, round 5): every
    catalog run partitions its writes by pmod(hash(url), n), so two runs
    enqueued against the SAME table (e.g. a forgotten session conf — the
    exact failure mode _run_sink_table's strict check exists for) would
    overwritePartitions each other's data while both manifests still read
    complete, and read_extracted/export would silently return the other
    corpus's rows. Refuse when the configured table is already recorded
    by a DIFFERENT manifest under runs_root, or already exists non-empty
    with no claiming manifest visible (a foreign runs_root) — force=True
    is the explicit override, mirroring the per-run-directory isolation
    the parquet path gets by construction. Each refusal names its real
    cause: a run_id that already has a manifest is left to create()'s
    refusal, an unreadable manifest under runs_root is named as a
    possible claimant of a table holding rows, and a table that cannot be
    read is reported as such, never as a raw Spark error."""
    if run_id and RunManifest(runs_root, run_id).path.exists():
        # re-enqueueing an existing run (readable manifest or not) is
        # create()'s domain: it refuses with its own, accurate message
        return
    unreadable = []
    for rid in RunManifest.run_ids(runs_root):
        try:
            other = RunManifest.load(runs_root, rid).sink_table
        except Exception:
            unreadable.append(rid)  # blocks only a table that holds rows
            continue
        if other == sink_table:
            raise RuntimeError(
                f"sink table {sink_table} is already recorded by run "
                f"{rid} under {runs_root} — two runs sharing one table "
                "overwrite each other's url-hash partitions while both "
                "manifests read complete; enqueue with a different "
                "spark.graft.sink.table, or pass force=True to claim "
                "the table anyway"
            )
    try:
        exists = spark.catalog.tableExists(sink_table)
    except Exception:
        exists = False
    if not exists:
        return
    advice = (
        "enqueue with a different spark.graft.sink.table, or pass "
        "force=True to overwrite into it anyway"
    )
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    try:
        has_rows = spark.table(sink_table).limit(1).count() > 0
    except (PySparkException, Py4JJavaError) as e:
        raise RuntimeError(
            f"sink table {sink_table} exists but could not be read "
            f"({type(e).__name__}), so enqueue cannot tell whether another "
            f"run's rows live there; repair or drop the table, or {advice}"
        ) from e
    if not has_rows:
        return
    if unreadable:
        raise RuntimeError(
            f"sink table {sink_table} already exists and holds rows, and "
            f"the manifest of run(s) {', '.join(unreadable)} under "
            f"{runs_root} could not be read — it may be the table's "
            f"claimant; repair that manifest, or {advice}"
        )
    raise RuntimeError(
        f"sink table {sink_table} already exists and holds rows, but "
        f"no manifest under {runs_root} records it — it likely belongs "
        f"to a run under another runs_root; {advice}"
    )


def _run_sink_table(
    spark: SparkSession, manifest: RunManifest, strict: bool = False
) -> str | None:
    """The run's sink table — from the MANIFEST, not the live session conf
    (round-5 review: a session-wide conf silently re-routed reads of
    parquet runs to an unrelated table, and a forgotten conf turned
    catalog runs into bogus data-loss errors). The conf matters only at
    enqueue time; afterwards routing follows the record and the conf may
    freely differ (e.g. it points at the NEXT run's table while this
    run's view is read). `strict=True` — the WRITE path — additionally
    refuses a contradicting conf: a run must never write anywhere but
    where its manifest says its data lives."""
    recorded = manifest.sink_table
    if strict:
        from engine.catalog import configured_sink_table

        conf = configured_sink_table(spark)
        if conf and recorded != conf:
            raise RuntimeError(
                f"run {manifest.run_id} was enqueued with sink "
                f"{'table ' + recorded if recorded else '(parquet path)'} "
                f"but the session sets spark.graft.sink.table={conf} — a "
                "run writes only where its manifest says its data lives; "
                "unset the conf or enqueue a new run with it"
            )
    return recorded


def stage_pages(
    spark: SparkSession, pages: DataFrame, manifest: RunManifest
) -> str:
    """Write keyed pages ONCE, laid out partitionBy(partition_id), so wave
    filters become partition-directory pruning instead of full scans.
    Publication is an atomic directory rename: a kill mid-staging leaves
    only a .tmp dir that the next attempt clears and rebuilds."""
    import os
    import shutil

    staged = manifest.staged_path
    if os.path.exists(staged):
        return staged
    n_parts = manifest.state()["n_partitions"]
    tmp = manifest.staged_tmp_path
    shutil.rmtree(tmp, ignore_errors=True)
    with _job_description(spark, "stage", manifest.run_id):
        (
            with_partition_id(pages, n_parts)
            .write.mode("overwrite")
            .partitionBy("partition_id")
            .parquet(tmp)
        )
    os.rename(tmp, staged)
    return staged


def run_extract_job(
    spark: SparkSession,
    pages: DataFrame,
    manifest: RunManifest,
    wave_size: int = 8,
    max_waves: int | None = None,
) -> dict:
    """Process pending partitions in committed waves; resume-safe.

    `max_waves` exists for the resume test (simulates a mid-run kill).
    Returns summary counters.
    """
    import shutil

    sink_table = _run_sink_table(spark, manifest, strict=True)
    pending = manifest.pending_partitions()
    waves_run = 0
    done_docs = 0
    if not pending:
        # already complete — still reclaim the staged copy here: a crash
        # between the final wave's commit and its cleanup would otherwise
        # leak the staged corpus forever (no later call reached the
        # end-of-loop cleanup)
        shutil.rmtree(manifest.staged_path, ignore_errors=True)
        return {
            "run_id": manifest.run_id,
            "waves_run": 0,
            "docs_processed": 0,
            "complete": True,
        }
    # staging pays for itself only when MULTIPLE waves would otherwise
    # each re-scan the corpus; a single-wave run reads everything exactly
    # once either way, so it skips the staging write entirely
    single_wave = len(pending) <= wave_size and (
        max_waves is None or max_waves >= 1
    )
    keyed = with_partition_id(pages, manifest.state()["n_partitions"])
    if not single_wave:
        staged = stage_pages(spark, pages, manifest)
        # explicit schema (known statically from the input): skips footer
        # inference and keeps an all-empty staged table (empty corpus)
        # readable instead of dying with UNABLE_TO_INFER_SCHEMA
        keyed = spark.read.schema(keyed.schema).parquet(staged)

    for w0 in range(0, len(pending), wave_size):
        if max_waves is not None and waves_run >= max_waves:
            break
        wave = pending[w0 : w0 + wave_size]
        with _job_description(spark, "run", manifest.run_id, wave[0]):
            # on the staged table partition_id is a partition DIRECTORY →
            # this filter prunes to the wave's files (pinned by the
            # inputFiles test)
            done_docs += _run_wave(
                spark, manifest, sink_table, wave,
                keyed.where(F.col("partition_id").isin(wave)),
            )
        manifest.commit_partitions(wave)  # atomic snapshot flip — THE commit
        waves_run += 1

    if manifest.is_complete():
        # the staged copy exists only to make wave scans prunable — once
        # every partition is committed it is dead weight (at 100 TB, a
        # full second copy of the corpus)
        shutil.rmtree(manifest.staged_path, ignore_errors=True)

    return {
        "run_id": manifest.run_id,
        "waves_run": waves_run,
        "docs_processed": done_docs,
        "complete": manifest.is_complete(),
    }


def _run_wave(
    spark: SparkSession,
    manifest: RunManifest,
    sink_table: str | None,
    wave: list[int],
    batch: DataFrame,
) -> int:
    """Extract one wave's pages, write them, and write the wave's lineage
    file; returns the docs that lineage counts (observed on its write, so
    no job reads it back). The caller commits the wave."""
    import os

    from engine.catalog import read_sink_table, write_wave_to_table

    t0 = time.monotonic()
    extracted = batch.select("url", "html", "partition_id").mapInArrow(
        extract_batches_arrow, schema=EXTRACTED_PARTITIONED_SCHEMA
    )
    if sink_table:
        # Iceberg-shaped path (engine/catalog.py): DataFrameWriterV2
        # replaces exactly this wave's partitions under the catalog's own
        # commit protocol
        write_wave_to_table(spark, extracted, sink_table)
    else:
        (
            extracted.write.mode("overwrite")
            # dynamic overwrite replaces ONLY the partitions this wave
            # produced: orphan rows from a crash between write and commit
            # are rewritten, never duplicated, on resume
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("partition_id")
            .parquet(manifest.extracted_path)
        )
    # lineage from the just-written files (counts what was COMMITTED, not
    # what was attempted); partition pruning keeps the read to the wave's
    # own output dirs. A run whose every wave is empty (empty corpus) never
    # creates extracted/ at all — dynamic overwrite of zero partitions
    # writes nothing — so it reads zero paths and the commit proceeds with
    # zero lineage rows.
    wall_ms = int((time.monotonic() - t0) * 1000)
    if sink_table:
        out = read_sink_table(spark, sink_table)
    else:
        written = [manifest.extracted_path] if os.path.exists(
            manifest.extracted_path
        ) else []
        out = spark.read.schema(EXTRACTED_PARTITIONED_SCHEMA).parquet(*written)
    docs = Observation()
    # wave file keyed by its first partition id: unique across waves
    # (pending sets are disjoint), stable across resume, overwrite-safe
    (
        lineage_frame(
            out.where(F.col("partition_id").isin(wave)),
            manifest.run_id, "extract", wall_ms,
        )
        .observe(docs, F.coalesce(F.sum("doc_count"), F.lit(0)).alias("n"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(manifest.lineage_wave_path(wave[0]))
    )
    return docs.get["n"]


def read_lineage(spark: SparkSession, manifest: RunManifest) -> DataFrame:
    files = manifest.lineage_files()
    if not files:
        return spark.createDataFrame([], schema=LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(*files)


# the column each stage's checksum digests next to the url: an extract
# wave pins the committed text, a retry attempt each url's new status
_CHECKSUM_COL = {"extract": "text", "retry": "status"}


def lineage_frame(
    out: DataFrame, run_id: str, stage: str, wall_ms: int
) -> DataFrame:
    """Per-partition lineage rows of one wave or retry attempt, built as a
    JVM aggregate over `out` (the committed rows) plus literal columns.
    Nothing is collected to the driver and no Python worker is touched:
    at local[4] on a 4-vCPU host any Python-touching Spark job costs
    ~0.2-0.35 s fixed, which a per-wave createDataFrame(collected rows)
    paid once per wave (tests/test_resume.py pins the plan Python-free)."""
    row_hash = F.xxhash64(
        F.col("url"), F.coalesce(F.col(_CHECKSUM_COL[stage]), F.lit(""))
    )
    return (
        out.groupBy("partition_id")
        .agg(
            F.count("*").alias("doc_count"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("byte_count"),
            _content_checksum(row_hash).alias("checksum"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("partition_id").cast("int"),
            F.lit(stage).alias("stage"),
            F.col("doc_count").cast("long"),
            F.col("byte_count").cast("long"),
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
            F.col("checksum"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
        )
    )


def _lineage_committed_docs(spark: SparkSession, manifest: RunManifest) -> int:
    """Total docs the lineage says were committed — the arbiter for whether
    an unreadable extracted/ may degrade to an empty table (0 docs: the
    empty-corpus case) or must raise (data was committed and is now gone)."""
    row = (
        read_lineage(spark, manifest)
        .agg(F.coalesce(F.sum("doc_count"), F.lit(0)).alias("docs"))
        .collect()[0]
    )
    return int(row["docs"])


def read_extracted(spark: SparkSession, manifest: RunManifest) -> DataFrame:
    """Committed view: only partitions the manifest says are committed.
    A run with no commits yet reads as an empty table, not an error.

    When a catalog sink is configured (engine/catalog.py), the base table
    IS the catalog table, so every downstream verb (retry, export, stats,
    rollup, increment) reads it from there; the retry overlay dirs stay
    parquet side-cars under the manifest dir either way. One configured
    table serves one corpus's run lineage — the wave writes replace by
    partition_id, so pointing two different corpora at the same table is
    an operator error, exactly as it would be for one extracted/ dir."""
    import os

    def _empty_or_raise(reason: str) -> DataFrame:
        # ONLY the legitimately-empty run degrades to an empty table: a
        # committed run over an EMPTY corpus writes no data files (schema
        # inference fails / no dir). If lineage says docs WERE committed,
        # the extracted directory has been lost or truncated — degrading
        # would let export publish a 0-row table with exit code 0.
        docs = _lineage_committed_docs(spark, manifest)
        if docs > 0:
            raise RuntimeError(
                f"run {manifest.run_id}: lineage records {docs} committed "
                f"docs but extracted data is unreadable ({reason}) — "
                "refusing to degrade to an empty table; restore the "
                "extracted table (or its pre-compaction backup) before "
                "reading or exporting"
            )
        return spark.createDataFrame([], schema=EXTRACTED_PARTITIONED_SCHEMA)

    committed = manifest.committed_partitions()
    if not committed:
        return spark.createDataFrame([], schema=EXTRACTED_PARTITIONED_SCHEMA)
    from engine.catalog import read_sink_table

    sink_table = _run_sink_table(spark, manifest)
    if sink_table:
        if not spark.catalog.tableExists(sink_table):
            # same data-loss guard as the parquet path: committed lineage
            # with no readable base must surface, not read as empty
            return _empty_or_raise(f"catalog table {sink_table} missing")
        df = read_sink_table(spark, sink_table)
        # ALWAYS filter to this run's committed partitions: the table is
        # shared run-lineage state, so unlike the per-run parquet dir a
        # "fully committed" run may coexist with stale partitions from an
        # earlier, larger-n run — the skip-filter fast path is only safe
        # for a directory this run owns exclusively
        return df.where(F.col("partition_id").isin(committed))
    if not os.path.exists(manifest.extracted_path):
        return _empty_or_raise("extracted/ directory missing")
    from pyspark.errors import AnalysisException

    try:
        # declared schema: no footer-inference job
        df = spark.read.schema(EXTRACTED_PARTITIONED_SCHEMA).parquet(
            manifest.extracted_path
        )
    except AnalysisException as e:
        # try/except keeps the healthy path free of any extra filesystem
        # walk. ONLY a vanished path may degrade (via the lineage check):
        # any other analysis error (conflicting partition layouts) on a
        # run the manifest says has committed data must surface, or export
        # would silently publish an empty table.
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return _empty_or_raise(str(e.getCondition()))
    if not df.inputFiles():
        # a declared schema reads a directory with no data files as an
        # empty table; the file index is already listed, so this costs no
        # job
        return _empty_or_raise("no data files")
    if len(committed) == manifest.state()["n_partitions"]:
        # fully committed: skip the isin filter — at 10^6 partitions the
        # predicate alone bloats the plan, and it would prune nothing
        return df
    return df.where(F.col("partition_id").isin(committed))


def retry_failed(
    spark: SparkSession, pages: DataFrame, manifest: RunManifest
) -> dict:
    """retry-failed-page analog (Q6): re-extract failed urls, MERGE-style.

    Re-extracted rows are appended with a real monotonically increasing
    `attempt` column; the current-view dedup (latest attempt per url)
    happens in `read_current_extracted`. Each retry wave writes its OWN
    lineage file (retry-NNN.parquet) so a second retry never erases the
    first's audit rows. Without a Delta/Iceberg MERGE in-sandbox this
    append+window-dedup is the idempotent equivalent.

    One pass: the failed-url window and semi join run once, inside the
    overlay write, and `retried` is the row count observed on that write.
    An attempt that re-extracts nothing leaves no trace: no lineage file
    (so the attempt number stays free) and no new overlay directory.
    """
    import os
    import shutil

    if not manifest.committed_partitions():
        return {"retried": 0}  # nothing committed, nothing can have failed
    with _job_description(spark, "retry", manifest.run_id):
        n_parts = manifest.state()["n_partitions"]
        failed_urls = (
            read_current_extracted(spark, manifest)
            .where(F.col("status") == "failed")
            .select("url")
            .distinct()
        )
        todo = with_partition_id(
            pages.join(failed_urls, "url", "left_semi"), n_parts
        )
        attempt = manifest.next_retry_attempt()
        retry_path = manifest.retry_path
        had_overlay = os.path.exists(retry_path)
        rows = Observation()
        t0 = time.monotonic()
        (
            todo.select("url", "html", "partition_id")
            .mapInArrow(extract_batches_arrow, schema=EXTRACTED_PARTITIONED_SCHEMA)
            .withColumn("attempt", F.lit(attempt))
            .observe(rows, F.count(F.lit(1)).alias("n"))
            .write.mode("append")
            .partitionBy("partition_id")
            .parquet(retry_path)
        )
        retried = rows.get["n"]
        if retried == 0:
            if not had_overlay:
                # the zero-row write left only a _SUCCESS marker
                shutil.rmtree(retry_path, ignore_errors=True)
            return {"retried": 0}
        # every stage writes lineage rows (BASELINE.json north_star) — the
        # retry wave is auditable like any extract wave; lineage covers
        # THIS attempt only, not the accumulated retry table
        wall_ms = int((time.monotonic() - t0) * 1000)
        out = spark.read.schema(EXTRACTED_RETRY_SCHEMA).parquet(retry_path)
        lineage = lineage_frame(
            out.where(F.col("attempt") == attempt),
            manifest.run_id, "retry", wall_ms,
        )
        lineage.coalesce(1).write.mode("overwrite").parquet(
            manifest.retry_lineage_path(attempt)
        )
    return {"retried": retried, "attempt": attempt}


def read_current_extracted(spark: SparkSession, manifest: RunManifest) -> DataFrame:
    """Latest-attempt view across base + retry outputs (MERGE emulation).
    Retry rows carry their real attempt number (written by retry_failed),
    so repeated retries are total-ordered and the window winner is
    deterministic."""
    import os

    from pyspark.sql import Window as W

    legacy = manifest.legacy_retry_paths()
    if legacy:
        raise RuntimeError(
            f"run {manifest.run_id}: retry attempts under "
            f"{', '.join(os.path.basename(p) for p in legacy)} are not "
            "read — older code put a compacted run's retry overlay there. "
            "Move the files of each of its partition_id=* directories into "
            "the same directory under "
            f"{os.path.basename(manifest.retry_path)}/ (the attempt column "
            "travels with the rows), remove the emptied directory, and "
            "read again"
        )
    base = read_extracted(spark, manifest).withColumn("attempt", F.lit(0))
    if os.path.exists(manifest.retry_path):
        retry = spark.read.schema(EXTRACTED_RETRY_SCHEMA).parquet(
            manifest.retry_path
        )
        base = base.unionByName(retry.select(*base.columns))
    w = W.partitionBy("url").orderBy(F.desc("attempt"))
    return (
        base.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "attempt")
    )


def enqueue_increment(
    spark: SparkSession,
    pages: DataFrame,
    runs_root: str,
    base_run_ids: list[str],
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
    min_partitions: int = 8,
    run_id: str | None = None,
    canonical_urls: bool = False,
) -> tuple[RunManifest | None, DataFrame]:
    """Incremental append — the daily-crawl-increment verb every table-
    maintaining pipeline needs: enqueue ONLY the urls no base run has
    already committed, as a NEW run whose output unions with the bases
    into one logical table (read_extracted_across).

    Contract (v1, url-level): a url any base run committed is skipped even
    if the increment carries a re-crawl with a newer warc_ts — the per-url
    byte-identity invariant is defined over the latest-crawl view of ONE
    ingest, and re-extracting re-crawls is the retry/force domain. Within
    the increment itself, re-crawl duplicates collapse latest-wins first
    (dedup_latest_crawl), same as a base ingest.

    Scale: the anti-join shuffles the increment (a day's crawl — the small
    side) against the bases' committed urls read COLUMN-PRUNED (url only;
    parquet never materializes text/spans). Base extracted tables are laid
    out partitionBy(partition_id = pmod(hash(url), n)), so a production
    deployment co-partitions the increment with the same hash and prunes
    per directory; at 10^12 the anti-join is the standard snapshot-append
    dedup any Iceberg writer performs.

    Durability: the anti-joined page set is materialized ONCE to
    <run_dir>/increment_input BEFORE any extraction — it is both the
    single evaluation of the expensive join (the sizing agg and the run
    re-read the parquet, not the join) and the resume source: re-calling
    enqueue_increment with the same run_id after a mid-run kill returns
    the recorded input, so a resume can never see (and re-extract) base
    urls from the raw crawl, which would silently break the cross-run
    url-disjointness invariant. A production deployment would expire the
    recorded input once the run completes; it is kept here as the
    increment's audit record. Returns (manifest, new_pages) — manifest is
    None when the increment contains nothing new (no run directory is
    created)."""
    import os
    import shutil
    import uuid as _uuid

    if not base_run_ids:
        # an increment with no bases is semantically a plain enqueue —
        # accepting it would skip the anti-join, re-extract every base
        # url, and a later multi-run export would double-count them,
        # silently breaking cross-run url-disjointness
        raise ValueError(
            "enqueue_increment requires at least one base run id; "
            "use enqueue() for a fresh ingest"
        )
    run_id = run_id or ("inc-" + _uuid.uuid4().hex[:12])
    existing = RunManifest(runs_root, run_id)
    input_path = existing.increment_input_path
    if existing.path.exists():
        loaded = RunManifest.load(runs_root, run_id)
        if not os.path.exists(input_path):
            if loaded.is_complete():
                # vacuumed after completion: nothing to resume, nothing new
                return loaded, pages.limit(0)
            raise RuntimeError(
                f"run {run_id} has a manifest but no recorded increment "
                "input — "
                "either it is not an increment run, or a crash hit the "
                "window between manifest commit and input publication; "
                "delete the run directory and re-call enqueue_increment "
                "(enqueue(force=True) would extract the RAW crawl and "
                "re-process every base url)"
            )
        # the recorded input was anti-joined against a SPECIFIC base set;
        # resuming with a different one would silently hand base-committed
        # urls to this run and break cross-run url-disjointness
        recorded = loaded.increment_bases()
        if recorded is not None and recorded != sorted(base_run_ids):
            raise RuntimeError(
                f"run {run_id} was enqueued against bases {recorded}, "
                f"resume asked for {sorted(base_run_ids)} — an increment's "
                "base set is fixed at enqueue time; use a NEW run_id to "
                "increment against the larger base set"
            )
        return loaded, spark.read.parquet(input_path)

    latest = dedup_latest_crawl(pages, canonical=canonical_urls)
    from engine.catalog import configured_sink_table

    inc_sink = configured_sink_table(spark)
    done_urls = None
    for rid in base_run_ids:
        m = RunManifest.load(runs_root, rid)
        if inc_sink and m.sink_table == inc_sink:
            # both runs partition by pmod(hash(url), n): the increment's
            # overwritePartitions would REPLACE the base's partitions in
            # the shared table — silent loss of the base corpus. Each run
            # needs its own table (read_extracted_across unions them from
            # their manifests), exactly as each parquet run owns its dir.
            raise RuntimeError(
                f"increment would write to catalog table {inc_sink}, "
                f"which base run {rid} already uses — partition ids "
                "overlap and dynamic overwrite would replace the base's "
                "data; point spark.graft.sink.table at a NEW table for "
                "the increment"
            )
        if not m.is_complete():
            # an incomplete base would hand its PENDING urls to the
            # increment; when the base later resumes, those urls exist in
            # both runs and the union view stops being url-disjoint
            raise RuntimeError(
                f"base run {rid} has {len(m.pending_partitions())} pending "
                "partitions — complete (or retry) it before incrementing"
            )
        u = read_current_extracted(spark, m).select("url")
        done_urls = u if done_urls is None else done_urls.unionByName(u)
    new_pages = latest
    if done_urls is not None:
        if canonical_urls:
            # the cross-run skip must use the SAME key as the dedup
            # (review round 5): a base-committed resource re-crawled
            # under a different spelling would otherwise re-extract and
            # put two spellings of one canonical doc in the union view
            from engine.sources import canonical_url

            p, d = latest.alias("p"), done_urls.distinct().alias("d")
            new_pages = p.join(
                d,
                canonical_url(F.col("p.url")) == canonical_url(F.col("d.url")),
                "left_anti",
            )
        else:
            new_pages = latest.join(done_urls.distinct(), "url", "left_anti")
    tmp = existing.increment_tmp_path
    shutil.rmtree(tmp, ignore_errors=True)
    new_pages.write.mode("overwrite").parquet(tmp)
    # the base set is part of the recorded input — resume validates
    # against it
    existing.record_increment_bases(base_run_ids)
    mat = spark.read.parquet(tmp)
    if mat.limit(1).count() == 0:
        shutil.rmtree(tmp, ignore_errors=True)
        return None, new_pages
    manifest = enqueue(
        spark,
        mat,
        runs_root,
        target_partition_bytes,
        min_partitions,
        run_id=run_id,
    )
    os.rename(tmp, input_path)  # the manifest dir exists now
    return manifest, spark.read.parquet(input_path)


def _union_current(
    spark: SparkSession, manifests: list[RunManifest]
) -> DataFrame:
    """Union of each run's CURRENT view — the one definition shared by
    read_extracted_across and multi-run export, so cross-run semantics
    cannot drift between the read path and the publish path."""
    out = None
    for m in manifests:
        cur = read_current_extracted(spark, m)
        out = cur if out is None else out.unionByName(cur)
    if out is None:
        raise ValueError("manifests must be non-empty")
    return out


def read_extracted_across(
    spark: SparkSession, runs_root: str, run_ids: list[str]
) -> DataFrame:
    """One logical extracted table across a base run and its increments:
    union of each run's CURRENT view (latest retry attempt per url).
    Url-disjointness across runs holds by construction — enqueue_increment
    anti-joins every committed base url — so this is a plain union (no
    extra url-shuffle per read); the invariant is pinned in
    tests/test_resume.py."""
    return _union_current(
        spark, [RunManifest.load(runs_root, rid) for rid in run_ids]
    )


def dedup_increment_docs(
    spark: SparkSession,
    runs_root: str,
    base_run_ids: list[str],
    increment_run_id: str,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Cross-run CONTENT dedup — the weekly-crawl shape: classify every
    doc an increment run extracted against the union of the base runs'
    kept text. The increment machinery (enqueue_increment) already
    guarantees no base URL is re-extracted; this catches the other
    duplication channel — the SAME content re-crawled under a NEW url —
    which url-level dedup cannot see.

    Returns one row per ok-extracted increment doc:
      url       — the increment doc
      status    — 'exact_dup' (sha256 matches a base doc), 'near_dup'
                  (3-gram-shingle Jaccard ≥ threshold with a base doc),
                  or 'kept'
      dup_of    — smallest matching base url (exact wins over near)

    Scale shape: the exact stage ships 64-char digests (base side
    pre-collapsed to one row per digest). The near stage is the probe
    pattern: MinHash band hashes (engine/queries.py banding — the SAME
    signature definition as the battery queries, so a published base
    bucket table stays probe-compatible) joined on (band_idx, band_hash),
    base-side degenerate buckets capped, then candidates verified with an
    exact distinct-shingle Jaccard via array_intersect — per candidate
    pair only, never base × increment. A production deployment publishes
    the base's (url, band_idx, band_hash) rows once per run next to the
    lineage and the weekly probe reads them instead of recomputing; both
    sides are built from the same helpers either way.

    Query twin: engine/queries.py :: q_incremental_dedup — identical
    classification semantics over the battery tables with a DuckDB
    oracle, so the run-level job's logic is value-checkable at sf0.01."""
    from pyspark.sql import Window as W

    from engine.queries import (
        MAX_BAND_BUCKET,
        _shingle_expr,
        band_hashes_for,
        minhash_signatures_for,
    )

    if not base_run_ids:
        raise ValueError("dedup_increment_docs requires at least one base run")
    inc = (
        read_current_extracted(
            spark, RunManifest.load(runs_root, increment_run_id)
        )
        .where(F.col("status") == "ok")
        .select("url", "text")
    )
    base = _union_current(
        spark, [RunManifest.load(runs_root, rid) for rid in base_run_ids]
    ).where(F.col("status") == "ok").select("url", "text")

    base_dig = base.groupBy(
        F.sha2(F.col("text"), 256).alias("digest")
    ).agg(F.min("url").alias("exact_dup_of"))
    exact = (
        inc.select("url", F.sha2(F.col("text"), 256).alias("digest"))
        .join(base_dig, "digest", "left")
        .select("url", "exact_dup_of")
    )

    inc_bands = band_hashes_for(
        minhash_signatures_for(inc, id_col="url"), id_col="url"
    )
    base_bands = band_hashes_for(
        minhash_signatures_for(base, id_col="url"), id_col="url"
    ).withColumnRenamed("url", "base_url")
    base_bands = (
        base_bands.withColumn(
            "bucket_n",
            F.count("*").over(W.partitionBy("band_idx", "band_hash")),
        )
        .where(F.col("bucket_n") <= MAX_BAND_BUCKET)
        .drop("bucket_n")
    )
    cand = (
        inc_bands.join(base_bands, ["band_idx", "band_hash"])
        .select("url", "base_url")
        .distinct()
    )

    def _sh(df, id_alias):
        toks = F.split(F.col("text"), " ")
        return df.select(
            F.col("url").alias(id_alias),
            F.filter(
                _shingle_expr(toks), lambda s: F.length(s) > 0
            ).alias(f"sh_{id_alias}"),
        )

    ver = (
        cand.join(_sh(inc, "url"), "url")
        .join(_sh(base, "base_url"), "base_url")
        .select(
            "url",
            "base_url",
            F.size(F.array_intersect("sh_url", "sh_base_url")).alias("n_i"),
            F.size("sh_url").alias("n_a"),
            F.size("sh_base_url").alias("n_b"),
        )
    )
    near = (
        ver.where(
            # try_divide: two empty-shingle docs (all-sentinel signatures)
            # share every band bucket and reach here with a 0 union —
            # NULL Jaccard drops them instead of an ANSI divide-by-zero
            F.round(
                F.try_divide(
                    F.col("n_i"),
                    F.col("n_a") + F.col("n_b") - F.col("n_i"),
                ),
                4,
            )
            >= jaccard_threshold
        )
        .groupBy("url")
        .agg(F.min("base_url").alias("near_dup_of"))
    )
    return exact.join(near, "url", "left").select(
        "url",
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
        .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.coalesce("exact_dup_of", "near_dup_of").alias("dup_of"),
    )


def export_run(
    spark: SparkSession,
    manifest: RunManifest | list[RunManifest],
    dest: str,
    fmt: str = "parquet",
) -> dict:
    """Q8 transfer analog (emop/lib/emop_transfer.py [U] — Globus stage-out
    between storages): publish a run's CURRENT extracted view (latest
    attempt per url) to a destination warehouse path, CTAS-style. Refuses
    incomplete runs — the reference only uploads completed payloads.
    A LIST of manifests publishes the logical table across a base run and
    its increments (read_extracted_across semantics) in one CTAS."""
    manifests = manifest if isinstance(manifest, list) else [manifest]
    for m in manifests:
        if not m.is_complete():
            raise RuntimeError(
                f"run {m.run_id} has "
                f"{len(m.pending_partitions())} pending partitions"
            )
    cur = _union_current(spark, manifests)
    run_label = ",".join(m.run_id for m in manifests)
    writer = cur.write.mode("overwrite")
    if fmt == "parquet":
        writer.parquet(dest)
    elif fmt == "orc":
        writer.orc(dest)
    elif fmt == "json":
        cur.drop("spans").write.mode("overwrite").json(dest)
    elif fmt == "wet":
        # publish the EXTRACTED text as Common-Crawl WET conversion
        # records — CC-shaped corpus in (read_pages_warc), CC-shaped
        # derived text out. WARC-Date = the base run's created_at (the
        # one capture timestamp a multi-run logical table shares).
        import datetime as _dt

        from pyspark.sql import functions as F

        from engine.sources import export_pages_warc

        ts = _dt.datetime.strptime(
            manifests[0].state()["created_at"], "%Y-%m-%dT%H:%M:%S.%fZ"
        ).replace(microsecond=0)
        seg = export_pages_warc(
            cur.select(
                "url",
                F.lit(ts).alias("warc_ts"),
                F.lit(None).cast("binary").alias("html"),
                "text",
                F.lit(None).cast("string").alias("lang"),
            ),
            dest,
            wet=True,
        )
        n = sum(m["n_records"] for m in seg)
        return {
            "run_id": run_label,
            "dest": dest,
            "format": fmt,
            "rows": n,
            "segments": len(seg),
        }
    else:
        raise ValueError(f"unsupported export format: {fmt}")
    n = spark.read.format(fmt).load(dest).count()
    return {"run_id": run_label, "dest": dest, "format": fmt, "rows": n}


def run_stats(spark: SparkSession, manifest: RunManifest) -> dict:
    """Data-quality profile of a run's extracted table — the ANALYZE-style
    gate an operator runs before exporting: per-status doc counts, text
    size aggregates, per-column null counts, distinct url count, quality
    quantiles. ONE scan computes everything (multi-aggregate, map-side
    partials); approx_count_distinct and approx_percentile keep the
    aggregation state constant-size at any corpus scale."""
    with _job_description(spark, "stats", manifest.run_id):
        row = read_extracted(spark, manifest).agg(
            F.count("*").alias("rows"),
            F.approx_count_distinct("url").alias("approx_urls"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
            F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("failed"),
            F.sum(F.col("text").isNull().cast("long")).alias("null_text"),
            # octet_length = true UTF-8 bytes (length() counts characters —
            # an under-count on any accented corpus, review finding)
            F.sum(F.coalesce(F.octet_length("text"), F.lit(0))).alias("text_bytes"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.expr(
                "approx_percentile(quality, array(0.5, 0.9), 1000)"
            ).alias("quality_p50_p90"),
            # size(collect_set) is countDistinct's value without its Expand
            # stage and extra shuffle (a handful of versions per run)
            F.size(F.collect_set("extractor_version")).alias("n_versions"),
        ).collect()[0]
    out = row.asDict()
    q = out.pop("quality_p50_p90") or [None, None]
    out["quality_p50"], out["quality_p90"] = (
        round(q[0], 4) if q[0] is not None else None,
        round(q[1], 4) if q[1] is not None else None,
    )
    out["run_id"] = manifest.run_id
    return out


def vacuum_run(spark: SparkSession, manifest: RunManifest) -> dict:
    """Expire a completed run's recoverable artifacts — the
    expire-snapshots/table-maintenance analog. Deletes, when present:
    staged input leftovers (staged/, staged.tmp), the increment's recorded
    input (increment_input — its resume role ends at completion; a
    post-vacuum re-increment of the same run_id is a clean no-op), and the
    compaction leftovers (legacy extracted.pre_compact /
    extracted.compact_tmp, plus any extracted.gen-* generation that is
    not the manifest's active pointer — an orphan rewrite from a compact
    killed before its pointer flip, or a superseded generation from one
    killed just after). Refuses incomplete runs: every artifact listed is
    a live resume/recovery source until the last partition commits."""
    import os

    if not manifest.is_complete():
        raise RuntimeError(
            f"run {manifest.run_id} has "
            f"{len(manifest.pending_partitions())} pending partitions — "
            "vacuum only completed runs (these artifacts are its resume "
            "sources)"
        )
    if _run_sink_table(spark, manifest):
        # catalog-sink run: the base table has no extracted/ dir or
        # generations here (snapshot expiry is the catalog's job) — only
        # the parquet side-car artifacts below are ours to reclaim
        return _vacuum_artifacts(
            manifest, manifest.expirable_paths(), active=None
        )
    active = manifest.extracted_path
    if not os.path.exists(active):
        # the pointer names a missing directory (manual damage, or a
        # legacy two-rename crash) — the data may survive ONLY in a
        # non-active dir; vacuuming now would delete the last copy
        raise RuntimeError(
            f"run {manifest.run_id}: the active extracted directory "
            f"({os.path.basename(active)}) is missing — recover first "
            "(point extracted_dir at a surviving compaction generation; "
            "restore legacy backups under a FRESH generation name, never "
            "the plain base name, so a concurrent vacuum cannot classify "
            "the restored copy as a stale generation), then vacuum"
        )
    skipped = []
    stale = [g for g in manifest.generation_paths() if g != active]
    plain = manifest.base_path
    if active != plain:
        # the REAL crash state of the first compaction (killed between
        # the pointer flip and the old-dir delete) leaves the superseded
        # table under the plain name "extracted" — expire it too. BUT a
        # plain 'extracted' dir as-new-or-newer than the active
        # generation cannot be that leftover (the generation was written
        # strictly after it): it is most likely a mid-recovery restore
        # racing this vacuum, so skip it and tell the operator. Ties
        # count as "newer" — ambiguity must not delete data. This guard
        # only catches restores with fresh mtimes (a freshly-written
        # copy, cp -r without -p); mtime-PRESERVING restores (cp -a,
        # rsync -a, copytree, a bare rename) are indistinguishable from
        # the crash leftover by construction — which is exactly why every
        # recovery message directs restores to fresh gen-* names instead.
        try:
            is_newer = os.path.exists(plain) and (
                os.path.getmtime(plain) >= os.path.getmtime(active)
            )
        except OSError:
            is_newer = False
        (skipped if is_newer else stale).append(plain)
    return _vacuum_artifacts(
        manifest,
        [*manifest.expirable_paths(), *stale],
        active=active,
        skipped=skipped,
    )


def _vacuum_artifacts(
    manifest: RunManifest,
    paths: list[str],
    active: str | None,
    skipped: list[str] | None = None,
) -> dict:
    import os
    import shutil

    removed = []
    freed = 0
    for path in paths:
        if path == active:
            # never delete the pointer's target, whatever it is named
            # (defense in depth behind set_extracted_dir's name guard)
            continue
        if os.path.exists(path):
            freed += sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
            shutil.rmtree(path, ignore_errors=True)
            removed.append(os.path.basename(path))
    out = {
        "run_id": manifest.run_id,
        "removed": removed,
        "freed_bytes": freed,
    }
    if skipped:
        out["skipped"] = [os.path.basename(p) for p in skipped]
        out["skipped_reason"] = (
            "plain 'extracted' dir is at least as new as the active "
            "generation — looks like an in-flight recovery restore, not "
            "a compaction leftover; finish the recovery "
            "(set_extracted_dir) or delete it manually"
        )
    return out


def compact_run(
    spark: SparkSession,
    manifest: RunManifest,
    target_file_bytes: int = 128 << 20,
) -> dict:
    """Small-files compaction — the table-maintenance op wave-commits make
    necessary at scale: every wave's tasks append files into the partition
    dirs they touch, so a 10^6-partition run accumulates O(waves x tasks)
    small files that wreck downstream scan planning. Rewrites the extracted
    table with ~ceil(partition_bytes / target) files per partition:

      file_no = pmod(xxhash64(url), files_for(partition))   (content-keyed,
      deterministic) → repartition(total_files, partition_id, file_no) →
      one writer task per (partition, file) group.

    Sizing comes from the lineage byte counts (extracted-text bytes — a
    proxy for file bytes; conservative by the parquet compression factor).
    Publication is a MANIFEST-POINTER FLIP (the Iceberg snapshot-commit
    analog, round-3 verdict item): the rewrite lands in a fresh
    generation directory (extracted.gen-NNNN), is verified readable
    THERE, and becomes the active table via one atomic manifest commit
    (`extracted_dir` pointer); only then is the previous generation
    deleted. A kill at ANY instant leaves a readable table — before the
    flip the pointer still names the old generation (the orphan rewrite
    is vacuumed later); after it, the new one. Refuses incomplete runs
    (a pending wave would write into the superseded directory)."""
    import math
    import os
    import shutil

    sink = _run_sink_table(spark, manifest)
    if sink:
        raise RuntimeError(
            f"run {manifest.run_id} writes to catalog table {sink} — "
            "file compaction belongs to the catalog (Iceberg "
            "rewrite_data_files or equivalent), not the parquet-path verb"
        )
    if not manifest.is_complete():
        raise RuntimeError(
            f"run {manifest.run_id} has pending partitions — compact only "
            "completed runs"
        )
    sizes = {
        int(r["partition_id"]): int(r["b"])
        for r in read_lineage(spark, manifest)
        .where(F.col("stage") == "extract")
        .groupBy("partition_id")
        .agg(F.sum("byte_count").alias("b"))
        .collect()
    }
    files_for = {
        pid: max(1, math.ceil(b / target_file_bytes)) for pid, b in sizes.items()
    }
    total_files = sum(files_for.values())
    out = spark.read.schema(EXTRACTED_PARTITIONED_SCHEMA).parquet(
        manifest.extracted_path
    )
    n_before = len(out.inputFiles())
    # sizing table rides a broadcast join (a literal map would bloat the
    # plan at 10^6 partitions)
    fmap = spark.createDataFrame(
        [(pid, n) for pid, n in sorted(files_for.items())],
        "partition_id int, n_files int",
    )
    keyed = out.join(F.broadcast(fmap), "partition_id", "left").withColumn(
        "file_no",
        F.pmod(F.xxhash64("url"), F.coalesce(F.col("n_files"), F.lit(1))),
    ).drop("n_files")
    old_dir = manifest.extracted_path
    new_dir = manifest.next_generation_path()
    shutil.rmtree(new_dir, ignore_errors=True)
    (
        keyed.repartition(max(total_files, 1), "partition_id", "file_no")
        .drop("file_no")
        .write.mode("overwrite")
        .partitionBy("partition_id")
        .parquet(new_dir)
    )
    # verify the rewrite readable BEFORE it becomes the active table —
    # a corrupt rewrite never publishes, and the pointer flip below is
    # the single atomic commit (no unreadable instant at any kill point)
    n_after = len(
        spark.read.schema(EXTRACTED_PARTITIONED_SCHEMA)
        .parquet(new_dir)
        .inputFiles()
    )
    if n_before and not n_after:
        raise RuntimeError(
            f"run {manifest.run_id}: the compaction rewrite "
            f"{os.path.basename(new_dir)} holds no data files — not "
            "published; the active table is unchanged"
        )
    manifest.set_extracted_dir(os.path.basename(new_dir))
    shutil.rmtree(old_dir)  # expire the superseded generation
    return {
        "run_id": manifest.run_id,
        "files_before": n_before,
        "files_after": n_after,
        "target_file_bytes": target_file_bytes,
    }


def rollup_hosts(
    spark: SparkSession,
    manifest: RunManifest,
    golden: DataFrame | None = None,
) -> DataFrame:
    """Host-level quality rollup over the extraction output: grouping sets
    (host), (host, status) — the dashboard's per-batch quality view recast
    (SURVEY.md §3.3 'metrics by (run),(run,host),(run,host,lang)').
    `parse_url` derives host from url JVM-side; one shuffle on the
    grouping keys.

    `golden` (url, expected_text) adds the R7/R8 secondary accuracy metric
    (juxta/retas_compare.py [U]): avg levenshtein between extracted and
    expected text over a 200-char prefix (bounded cost per row). Without a
    golden table the column is null — the byte-identity goldens remain the
    primary invariant."""
    out = read_extracted(spark, manifest)
    if golden is not None:
        # drift is measured ONLY where a golden row exists: a url missing
        # from a partial golden table stays NULL (excluded from the avg)
        # rather than contributing levenshtein(text, '') — which would
        # measure golden coverage, not extraction accuracy
        out = out.join(F.broadcast(golden), "url", "left").withColumn(
            "lev_vs_golden",
            F.when(
                F.col("expected_text").isNotNull(),
                F.levenshtein(
                    F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 200),
                    F.substring(F.col("expected_text"), 1, 200),
                ),
            ),
        )
    else:
        out = out.withColumn("lev_vs_golden", F.lit(None).cast("int"))
    return (
        out.withColumn("host", F.parse_url("url", F.lit("HOST")))
        .rollup("host", "status")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.coalesce(F.col("n_chars"), F.lit(0))).alias("chars"),
            F.round(F.avg("boiler_ratio"), 4).alias("avg_boiler"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
            F.round(F.avg("lev_vs_golden"), 2).alias("avg_lev_vs_golden"),
        )
    )


def rollup_metrics(spark: SparkSession, manifest: RunManifest) -> DataFrame:
    """upload/rollup analog (Q7, emop/lib/emop_upload.py [U]): per-run and
    per-partition aggregates (the levels of ROLLUP(run_id, partition_id)),
    plus derived throughput columns.

    A wave's lineage file repeats the wave's wall_ms on every partition
    row, so the run and grand levels count each wave file's wall_ms ONCE
    (summing the rows would multiply it by the wave's partition count and
    understate docs_per_sec by the same factor); a per-partition row keeps
    the wall of every wave that touched the partition."""
    lin = read_lineage(spark, manifest)
    per_part = lin.groupBy("run_id", "partition_id").agg(
        F.sum("doc_count").alias("docs"),
        F.sum("byte_count").alias("bytes"),
        F.sum("wall_ms").alias("wall_ms"),
        F.count("*").alias("n_rows"),
    )
    per_wave = lin.groupBy("run_id", F.input_file_name().alias("wave")).agg(
        F.sum("doc_count").alias("docs"),
        F.sum("byte_count").alias("bytes"),
        F.max("wall_ms").alias("wall_ms"),
        F.count("*").alias("n_rows"),
    )
    per_run = (
        per_wave.rollup("run_id")
        .agg(*(F.sum(c).alias(c) for c in ("docs", "bytes", "wall_ms", "n_rows")))
        .withColumn("partition_id", F.lit(None).cast("int"))
    )
    return (
        per_part.unionByName(per_run)
        .withColumn(
            "docs_per_sec",
            F.when(
                F.col("wall_ms") > 0, F.col("docs") / (F.col("wall_ms") / 1000.0)
            ),
        )
    )
