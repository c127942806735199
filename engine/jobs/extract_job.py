"""The batch-queue jobs: enqueue → run (resumable) → retry → rollup.

Spark-first re-expression of the reference's controller verbs
(emopcmd.py submit/run/upload [U]) as idempotent DataFrame jobs
(BASELINE.json north_star: "Structured-Streaming-free idempotent DataFrame
jobs with a driver-side manifest table instead of a scheduler daemon").

Partitioning (the Q3 optimize_job analog, emop/lib/emop_submit.py [U]):
  n_partitions = clamp(ceil(total_html_bytes / target_partition_bytes),
                       MIN_PARTITIONS, MAX_PARTITIONS)
  partition_id = pmod(hash(url), n_partitions)

hash(url) is Spark's Murmur3 — content-addressed, so a document's partition
is a pure function of its url at ANY cluster size; hot hosts are already
spread uniformly because the hash covers the full url (host + unique path),
which IS the salting strategy for the extract stage: the skew-prone key
(host) never becomes a partition key on its own. Host-keyed *joins* get an
explicit salt column instead (see queries.q_salted_host_join).

Commit protocol (resume unit = wave of partitions):
  0. stage keyed pages ONCE, clustered by partition and written
     partitionBy(partition_id) (atomic dir rename). The one shuffle that
     feeds extraction sits here: repartition(n, url) is Spark's
     HashPartitioning(url, n) = pmod(murmur3(url, 42), n), the very
     expression partition_id is, so reduce task p holds exactly partition
     p and staged/ holds one file per partition. partition_id is
     hash(url), which parquet cannot prune as a predicate, but CAN prune
     as a partition directory. Waves then read only their own files
     instead of re-scanning the corpus (round-1 did W full scans for W
     waves — a 100 TB corpus scanned W times).
  for each wave of pending partition ids:
    1. read the wave's staged partition dirs        (file-pruned scan; one
       file, so one task, per partition)
    2. run the fused extract UDF
    3. write extracted parquet partitioned by partition_id with DYNAMIC
       partition overwrite — a crash between write and commit leaves
       orphan rows, and the resume's rewrite of the same wave REPLACES
       them instead of appending duplicates. A task holds one partition,
       so the write adds one file per partition
    4. publish the wave's lineage rows (per partition: doc/byte counts and
       checksum, plus wall_ms) to a wave-keyed file. Step 2's UDF body
       folds every row it emits into per-partition lanes and adds them to
       a per-write accumulator once per task; the UDF runs in step 3's
       result stage (no exchange above it), where Spark applies each
       task's update once, so at any wave size the wave is ONE Spark job
       and nothing is read back. The driver writes the file with pyarrow
       (`_publish_lineage`: temp, fsync, rename; the rename replaces any
       orphan a killed wave left). A retry attempt publishes its lineage
       the same way (`_write_with_lineage`). The shuffle that feeds a
       retry's UDF sits below it and carries only the failed rows,
       clustered by partition_id, so an attempt writes one overlay file
       per partition it touches
    5. atomically flip those partitions pending→committed in manifest.json
A kill ANYWHERE — between waves or between steps 3/4 and 5 — loses at most
the in-flight wave's work; re-running recomputes ONLY partitions absent
from the manifest and overwrites any orphan output (Q5 idempotency,
emop/lib/emop_run.py :: should_run [U], kill-mid-wave pinned in
tests/test_resume.py). A fully committed run is a no-op.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import math
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from engine.extract.core import EXTRACTOR_VERSION
from engine.extract.udf import (
    LineageParam,
    dedup_latest_crawl,
    extract_batches_arrow,
)
from engine.manifest import RunManifest, new_run_id
from engine.schema import (
    EXTRACTED_PARTITIONED_SCHEMA,
    EXTRACTED_RETRY_SCHEMA,
    LINEAGE_SCHEMA,
    lineage_arrow_schema,
)

DEFAULT_TARGET_PARTITION_BYTES = 64 << 20  # 64 MiB of raw html per partition
MIN_PARTITIONS = 8  # plan_partitions' lower clamp
MAX_PARTITIONS = 1 << 20  # plan_partitions' upper clamp

# the column each stage's checksum digests next to the url: an extract
# wave pins the committed text, a retry attempt each url's new status
_CHECKSUM_COL = {"extract": "text", "retry": "status"}


def _write_with_lineage(rows: DataFrame, stage: str, write) -> tuple[int, dict]:
    """Extract `rows` (url, html, partition_id) with the fused UDF, pass
    the extracted frame to `write`, and return (wall ms of the extract
    and write, the written rows' lineage lanes {partition_id: (docs,
    n_chars sum, row digest sum)}).

    The UDF body folds every row it emits into a per-write accumulator
    (`LineageParam`), so the write is the only Spark job and nothing is
    read back. The UDF runs in the write's result stage (no exchange
    above it: tests/test_plans.py pins it), where Spark applies each
    task's accumulator update once, so the lanes count exactly the rows
    the committed tasks wrote."""
    t0 = time.monotonic()
    acc = rows.sparkSession.sparkContext.accumulator({}, LineageParam())
    body = functools.partial(
        extract_batches_arrow, lineage=(acc, _CHECKSUM_COL[stage])
    )
    write(
        rows.select("url", "html", "partition_id")
        .mapInArrow(body, schema=EXTRACTED_PARTITIONED_SCHEMA)
    )
    wall_ms = int((time.monotonic() - t0) * 1000)
    # the context keeps every accumulator it made: keep this one empty
    lanes, acc.value = acc.value, {}
    return wall_ms, lanes


def _publish_lineage(
    manifest: RunManifest, name: str, stage: str, wall_ms: int, lanes: dict
) -> int:
    """Publish lineage file `name` from per-partition lanes (the
    `_write_with_lineage` dict), one row per partition, written with
    pyarrow on the driver; returns the docs it counts. A partition with
    no rows has no lanes and gets no lineage row; no lanes at all (an
    empty corpus) publish a zero-row file.

    A row's checksum is an order-insensitive content digest of its
    partition's rows: sha256 of "count:sum", where sum is the exact
    (unbounded) sum of every row's 64-bit `lineage_digest` (blake2b over
    the url and the stage's column: text for extract, status for retry).
    Lineage files written by older code hold another checksum, sha256 of
    "count:lane1:lane2" over two 40-bit lanes of xxhash64(url, column):
    they read, roll up and count for the data-loss guard as before, since
    no reader recomputes a checksum, but the two definitions never
    compare equal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        {
            "run_id": manifest.run_id,
            "partition_id": pid,
            "stage": stage,
            "doc_count": docs,
            "byte_count": chars,
            "extractor_version": EXTRACTOR_VERSION,
            "checksum": hashlib.sha256(f"{docs}:{digests}".encode()).hexdigest(),
            "wall_ms": wall_ms,
        }
        for pid, (docs, chars, digests) in sorted(lanes.items())
    ]
    table = pa.Table.from_pylist(rows, schema=lineage_arrow_schema())
    manifest.publish_lineage(name, lambda f: pq.write_table(table, f))
    return sum(r["doc_count"] for r in rows)


def plan_partitions(
    total_bytes: int,
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
) -> int:
    """Byte-based partition sizing (optimize_job analog)."""
    n = math.ceil(max(total_bytes, 1) / target_partition_bytes)
    return max(MIN_PARTITIONS, min(n, MAX_PARTITIONS))


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


def _observed_pass(df: DataFrame, *aggs: str) -> dict:
    """The values of the SQL aggregates `aggs` over `df`, observed on a
    noop write of `df`: one Spark job with no exchange (a global
    aggregate's collect runs a map job and a final job under AQE). Select
    only the columns the aggregates read: the noop sink consumes every
    column of `df`."""
    observed = Observation()
    (
        df.observe(observed, *(F.expr(a) for a in aggs))
        .write.format("noop").mode("overwrite").save()
    )
    return observed.get


N_HOST_SALT = 16


def with_host_salted_partition_id(
    pages: DataFrame, n_partitions: int
) -> DataFrame:
    """Host-grouped layout WITH explicit hot-host salting (BASELINE.json:6).

    Use when per-host locality matters (politeness/rate limits, per-site
    models): the partition key is hash(host, salt) where
    salt = pmod(hash(url), N_HOST_SALT) — a hot host (Zipf head) spreads
    across exactly N_HOST_SALT partitions instead of melting one reducer,
    while a cold host still lands in at most N_HOST_SALT partitions
    (usually fewer rows than one batch anyway). The default extract layout
    (with_partition_id) hashes the full url, which spreads hosts
    maximally; this variant is the explicit middle ground.
    tests/test_resume.py::test_host_salting_spreads_hot_hosts pins the
    spread behaviour."""
    host = F.parse_url("url", F.lit("HOST"))
    salt = F.pmod(F.hash("url"), F.lit(N_HOST_SALT))
    return pages.withColumn(
        "partition_id",
        F.pmod(F.hash(host, salt), F.lit(n_partitions)).cast("int"),
    )


def enqueue(
    spark: SparkSession,
    pages: DataFrame,
    runs_root: str,
    target_partition_bytes: int = DEFAULT_TARGET_PARTITION_BYTES,
    run_id: str | None = None,
    force: bool = False,
) -> RunManifest:
    """submit/reserve analog: size the run and commit a pending manifest.
    A run id that already has a manifest, or a sink table another run
    claims, is refused before the sizing pass reads any html. The sizing
    sum is observed on one noop pass over `pages`' html: one Spark job
    with no exchange, where an aggregate's collect runs a map job and a
    final job under AQE."""
    from engine.catalog import configured_sink_table

    run_id = run_id or new_run_id()
    RunManifest(runs_root, run_id).refuse_existing(force)
    with _job_description(spark, "enqueue", run_id):
        sink_table = configured_sink_table(spark)
        if sink_table and not force:
            _guard_sink_table_unclaimed(spark, sink_table, runs_root)
        total_bytes = int(
            _observed_pass(
                pages.select("html"), "sum(coalesce(length(html), 0)) AS b"
            )["b"] or 0
        )
        n = plan_partitions(total_bytes, target_partition_bytes)
    return RunManifest.create(
        runs_root, n, total_bytes, run_id=run_id, force=force,
        sink_table=sink_table,
    )


def _guard_sink_table_unclaimed(
    spark: SparkSession, sink_table: str, runs_root: str
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
    cause: an unreadable manifest under runs_root is named as a possible
    claimant of a table holding rows, and a table that cannot be read is
    reported as such, never as a raw Spark error. enqueue refuses a run id
    that already has a manifest before it calls this."""
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
    The rows are first clustered by repartition(n, url), whose hash is
    partition_id's own: each partition is written by one task as one
    file, so every later wave runs one task per partition. Publication
    is an atomic directory rename: a kill mid-staging leaves only a .tmp
    dir that the next attempt clears and rebuilds."""
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
            .repartition(n_parts, "url")
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

    A wave over the staged copy runs one task per partition, so it fills
    at most `wave_size` task slots: choose `wave_size` at least the
    cluster's task slots for the wave to use all of them.

    `max_waves` exists for the resume test (simulates a mid-run kill).
    Returns summary counters.
    """
    import os
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
    # each re-scan the corpus; a single wave with no staged copy reads
    # everything exactly once either way, so it skips the staging write.
    # A staged copy that already exists (a resume's last wave) is read
    # instead: its scan prunes to the wave's files
    single_wave = len(pending) <= wave_size and (
        max_waves is None or max_waves >= 1
    )
    keyed = with_partition_id(pages, manifest.state()["n_partitions"])
    if not single_wave:
        stage_pages(spark, pages, manifest)
    if os.path.exists(manifest.staged_path):
        # explicit schema (known statically from the input): skips footer
        # inference and keeps an all-empty staged table (empty corpus)
        # readable instead of dying with UNABLE_TO_INFER_SCHEMA
        keyed = spark.read.schema(keyed.schema).parquet(manifest.staged_path)

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
    """Extract one wave's pages, write them, and publish the wave's lineage
    file; returns the docs that lineage counts. The wave is one Spark job:
    its lineage is folded into an accumulator by the UDF that feeds the
    write, and the file is written on the driver. The caller commits the
    wave."""
    from engine.catalog import write_wave_to_table

    def write(extracted):
        if sink_table:
            # Iceberg-shaped path (engine/catalog.py): DataFrameWriterV2
            # replaces exactly this wave's partitions under the catalog's
            # own commit protocol
            write_wave_to_table(spark, extracted, sink_table)
        else:
            (
                extracted.write.mode("overwrite")
                # dynamic overwrite replaces ONLY the partitions this wave
                # produced: orphan rows from a crash between write and
                # commit are rewritten, never duplicated, on resume
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("partition_id")
                .parquet(manifest.extracted_path)
            )

    wall_ms, lanes = _write_with_lineage(batch, "extract", write)
    # wave file keyed by its first partition id: unique across waves
    # (pending sets are disjoint), stable across resume, and the publish
    # replaces an orphan a killed wave left
    return _publish_lineage(
        manifest, manifest.wave_lineage_name(wave[0]), "extract", wall_ms,
        lanes,
    )


def read_lineage(spark: SparkSession, manifest: RunManifest) -> DataFrame:
    files = manifest.lineage_files()
    if not files:
        return spark.createDataFrame([], schema=LINEAGE_SCHEMA)
    return spark.read.schema(LINEAGE_SCHEMA).parquet(*files)


def _data_file_count(df: DataFrame) -> int:
    """The number of data files `df` reads, in a fixed number of py4j
    round trips: `DataFrame.inputFiles()` pulls every path to the driver,
    two round trips per file (py4j asks the JVM for the array length again
    on every element)."""
    return len(df._jdf.inputFiles())


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
    sink_table = _run_sink_table(spark, manifest)
    if sink_table:
        if not spark.catalog.tableExists(sink_table):
            # same data-loss guard as the parquet path: committed lineage
            # with no readable base must surface, not read as empty
            return _empty_or_raise(f"catalog table {sink_table} missing")
        df = spark.table(sink_table)
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
    if not _data_file_count(df):
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
    happens in `read_current_extracted`. Each attempt claims its number
    (its own lineage dir) before it writes, so a second retry never erases
    the first's audit rows and a killed attempt's overlay rows are never
    reused by the next. Without a Delta/Iceberg MERGE in-sandbox this
    append+window-dedup is the idempotent equivalent.

    One pass: the failed-url window and semi join run once, inside the
    overlay write, and `retried` and the attempt's lineage come from the
    accumulator the UDF feeding that write fills. The failed rows are
    clustered by `partition_id` below the extract UDF (never above it:
    the UDF must stay in the write's result stage): the shuffle carries
    only failed rows, AQE coalesces it (one Python task for a small
    failure set), and no partition id is split across tasks, so an
    attempt writes one overlay file per partition it touches.
    An attempt that re-extracts nothing leaves no trace: its claim is
    removed (so the attempt number stays free) and no new overlay
    directory is left.
    """
    import os
    import shutil

    if not manifest.committed_partitions():
        return {"retried": 0}  # nothing committed, nothing can have failed
    with _job_description(spark, "retry", manifest.run_id):
        n_parts = manifest.state()["n_partitions"]
        # the current view holds one row per url, and the semi join ignores
        # duplicates on its right side: no distinct needed
        failed_urls = (
            read_current_extracted(spark, manifest)
            .where(F.col("status") == "failed")
            .select("url")
        )
        # no partition count: a fixed count would fix that many Python
        # tasks
        todo = with_partition_id(
            pages.join(failed_urls, "url", "left_semi"), n_parts
        ).repartition("partition_id")
        attempt = manifest.claim_retry_attempt()
        lineage_name = manifest.retry_lineage_name(attempt)
        retry_path = manifest.retry_path
        had_overlay = os.path.exists(retry_path)
        wall_ms, lanes = _write_with_lineage(
            todo, "retry",
            lambda df: df.withColumn("attempt", F.lit(attempt))
            .write.mode("append").partitionBy("partition_id")
            .parquet(retry_path),
        )
        if not lanes:
            os.rmdir(manifest.lineage_path(lineage_name))
            if not had_overlay:
                # the zero-row write left only a _SUCCESS marker
                shutil.rmtree(retry_path, ignore_errors=True)
            return {"retried": 0}
        # every stage writes lineage rows (BASELINE.json north_star) — the
        # retry wave is auditable like any extract wave; lineage covers
        # THIS attempt only, not the accumulated retry table
        retried = _publish_lineage(
            manifest, lineage_name, "retry", wall_ms, lanes
        )
    return {"retried": retried, "attempt": attempt}


def read_current_extracted(spark: SparkSession, manifest: RunManifest) -> DataFrame:
    """Latest-attempt view across base + retry outputs (MERGE emulation).
    Retry rows carry their real attempt number (written by retry_failed),
    so repeated retries are total-ordered and the window winner is
    deterministic. Rows of a burned attempt (killed before its lineage
    publish) are left out: its urls read as they did before it, so the
    next retry takes them up again."""
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
        burned = manifest.burned_retry_attempts()
        if burned:
            retry = retry.where(~F.col("attempt").isin(burned))
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
        spark, mat, runs_root, target_partition_bytes, run_id=run_id
    )
    os.rename(tmp, input_path)  # the manifest dir exists now
    return manifest, spark.read.parquet(input_path)


def read_extracted_across(
    spark: SparkSession, manifests: list[RunManifest]
) -> DataFrame:
    """One logical extracted table across a base run and its increments:
    union of each run's CURRENT view (latest retry attempt per url). The
    one definition the read path and multi-run export share, so cross-run
    semantics cannot drift between them. Url-disjointness across runs
    holds by construction — enqueue_increment anti-joins every committed
    base url — so this is a plain union (no extra url-shuffle per read);
    the invariant is pinned in tests/test_resume.py."""
    out = None
    for m in manifests:
        cur = read_current_extracted(spark, m)
        out = cur if out is None else out.unionByName(cur)
    if out is None:
        raise ValueError("manifests must be non-empty")
    return out


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
    base = read_extracted_across(
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
    cur = read_extracted_across(spark, manifests)
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
    quantiles. ONE scan computes everything: the aggregates are observed on
    a noop pass over the table (one Spark job, no exchange);
    approx_count_distinct and approx_percentile keep the aggregation state
    constant-size at any corpus scale."""
    with _job_description(spark, "stats", manifest.run_id):
        out = _observed_pass(
            read_extracted(spark, manifest).select(
                "url", "status", "text", "n_chars", "quality",
                "extractor_version",
            ),
            "count(1) AS rows",
            "approx_count_distinct(url) AS approx_urls",
            "sum(if(status = 'ok', 1, 0)) AS ok",
            "sum(if(status != 'ok', 1, 0)) AS failed",
            "sum(cast(text IS NULL AS bigint)) AS null_text",
            # octet_length = true UTF-8 bytes (length() counts characters —
            # an under-count on any accented corpus, review finding)
            "sum(coalesce(octet_length(text), 0)) AS text_bytes",
            "min(n_chars) AS min_chars",
            "max(n_chars) AS max_chars",
            "approx_percentile(quality, array(0.5, 0.9), 1000)"
            " AS quality_p50_p90",
            # size(collect_set) is countDistinct's value without its Expand
            # stage and extra shuffle (a handful of versions per run)
            "size(collect_set(extractor_version)) AS n_versions",
        )
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
    """Small-files compaction — the table-maintenance op for the runs that
    scatter files: a wave over the staged copy writes one file per
    partition, but a single wave run without one writes a file per (input
    task, partition) — up to O(tasks x partitions) small files, which
    wreck downstream scan planning at 10^6 partitions. Rewrites the
    extracted table with ~ceil(partition_bytes / target) files per
    partition:

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
    n_before = _data_file_count(out)
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
    n_after = _data_file_count(
        spark.read.schema(EXTRACTED_PARTITIONED_SCHEMA).parquet(new_dir)
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
