"""Source/sink adapters for the pages table — schema-enforced ingest.

The reference ingests denormalized JSON payloads from the dashboard
(emop/lib/emop_payload.py :: load_input [U]); here every ingest path maps
onto the ONE declared `PAGES_SCHEMA` (no inference — inference at 100 TB
means a full pre-scan and schema drift between partitions).

Formats:
  parquet  — the native layout (binary html intact)
  orc      — columnar alternative (binary intact; warehouses standardized
             on ORC ingest it natively)
  json     — html carried base64 (JSON has no binary type); decoded on read
  csv      — ditto; for small interchange/debug extracts only
  warc/wet — the Common-Crawl wire formats (engine/warc.py): file-per-task
             binaryFile scan + one mapInPandas parse, zero shuffles

The one pages sink here is `export_pages_warc`; a finished run's
extracted table is published as parquet, orc or json by
`engine.jobs.extract_job.export_run`. The json/csv readers take
interchange input from outside the engine (they are not scale paths:
row-oriented, base64-inflated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from engine.schema import PAGES_SCHEMA

# JSON/CSV wire schema: html as base64 text
_WIRE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html_b64", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

_COLS = ["url", "warc_ts", "html", "text", "lang"]


def read_pages_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_pages_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC ingest: columnar with a real binary type, so html round-trips
    byte-exact like parquet (predicate pushdown + column pruning apply)."""
    return spark.read.schema(PAGES_SCHEMA).orc(path)


def read_pages_json(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines ingest; html arrives base64 (JSON has no binary type)."""
    raw = spark.read.schema(_WIRE_SCHEMA).json(path)
    return raw.select(
        "url",
        "warc_ts",
        F.unbase64("html_b64").alias("html"),
        "text",
        "lang",
    )


def read_pages_csv(spark: SparkSession, path: str) -> DataFrame:
    raw = spark.read.schema(_WIRE_SCHEMA).option("header", True).csv(path)
    return raw.select(
        "url",
        "warc_ts",
        F.unbase64("html_b64").alias("html"),
        "text",
        "lang",
    )


def read_pages_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC/WET ingest (engine/warc.py): one binaryFile row per segment
    file (the CC-scale parallelism unit — .warc.gz members aren't
    splittable), one Arrow-batched mapInPandas parse, no shuffle
    (plan-pinned in tests/test_warc.py). Handles .warc (response records
    → html), .wet (conversion records → text), gzip or plain, mixed."""

    files = spark.read.format("binaryFile").load(path).select("content")

    def parse(batches):
        import pandas as pd

        from engine.warc import pages_from_archive

        for pdf in batches:
            for buf in pdf["content"]:
                rows = list(pages_from_archive(bytes(buf)))
                if rows:
                    # one frame per archive file bounds memory at one
                    # inflated segment per task
                    yield pd.DataFrame(rows, columns=_COLS)

    return files.mapInPandas(parse, PAGES_SCHEMA)


def export_pages_warc(
    df: DataFrame, path: str, wet: bool = False
) -> list[dict]:
    """WARC (or WET) export: each input partition becomes one segment
    file written task-side (segment size = upstream partitioning — callers
    repartition to the target segment size), with a per-partition manifest
    row (file, n_records) returned to the driver — the same
    small-manifest collect convention as lineage. Deterministic bytes for
    deterministic input partitions (gzip mtime=0, md5 record ids).
    Overwrite semantics like every other export: the dest is cleared
    first, so a re-export with fewer partitions never leaves stale
    part-NNNNN segments behind."""
    import os
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(path):
        # rmtree(ignore_errors) swallows failures (and no-ops on a plain
        # file) — writing into a half-cleared dest would silently mix
        # stale and fresh segments, so refuse loudly instead
        raise RuntimeError(f"could not clear export dest: {path}")
    os.makedirs(path)

    def write(batches):
        import pandas as pd

        from pyspark import TaskContext

        from engine.warc import encode_pages, valid_page

        rows: list[dict] = []
        for pdf in batches:
            rows.extend(pdf.to_dict("records"))
        # degenerate rows (null url / null warc_ts) are excluded, and the
        # manifest count reflects what was actually written
        rows = [r for r in rows if valid_page(r)]
        if not rows:
            return
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        ext = ("wet" if wet else "warc") + ".gz"
        fname = os.path.join(path, f"part-{pid:05d}.{ext}")
        # write under a task-attempt-unique temp name and os.replace()
        # into place: a speculative/zombie duplicate attempt writing the
        # final path directly could interleave bytes into a corrupt
        # segment — with the atomic rename the last finished attempt
        # wins with a complete file (same data either way: attempts of
        # one partition encode identical rows). The temp name is
        # DOT-PREFIXED so an orphan from a killed attempt is invisible
        # to Spark's file listing (read_pages_warc scans the whole dir;
        # a visible half-written .tmp would be re-ingested as a corrupt
        # segment or a duplicate partition)
        tmp = os.path.join(
            path, f".part-{pid:05d}.{ext}.tmp-{ctx.taskAttemptId()}"
        )
        with open(tmp, "wb") as f:
            f.write(encode_pages(rows, wet=wet))
        os.replace(tmp, fname)
        yield pd.DataFrame([{"file": fname, "n_records": len(rows)}])

    manifest = df.select(*_COLS).mapInPandas(
        write, "file string, n_records long"
    )
    out = [r.asDict() for r in manifest.collect()]
    # advice (round 5): killed/zombie task attempts leave their
    # attempt-unique dot-prefixed temp files behind forever — invisible
    # to re-ingest by design, but accumulating in the export dir. Safe to
    # sweep HERE: collect() has returned, so every winning attempt has
    # os.replace()d its segment into a final name already.
    import glob as _glob

    for leftover in _glob.glob(os.path.join(path, ".part-*.tmp-*")):
        try:
            os.unlink(leftover)
        except OSError:
            pass  # best-effort hygiene, never fail a completed export
    return out


# Default scan filter for raw-files ingest: the page-bearing extensions
# of a real scraped dump, both cases (Hadoop glob has no case-insensitive
# match; old IIS dumps shout .HTML). Brace alternation is expanded by the
# same GlobFilter pathGlobFilter uses.
DEFAULT_FILES_GLOB = "*.{htm,html,xhtml,shtml,HTM,HTML,XHTML,SHTML}"


def read_pages_files(
    spark: SparkSession, path: str, glob: str | None = DEFAULT_FILES_GLOB
) -> DataFrame:
    """Raw-files ingest: one binary file = one page (the scraped-dump
    shape — a directory tree of .html files). url = the file URI,
    warc_ts = the file's modification time, html = the raw bytes. Pure
    binaryFile scan mapped by JVM expressions — no Python, no shuffle;
    parallelism = file count, exactly like the WARC path.

    `glob` filters filenames at the SCAN (pathGlobFilter, file-listing
    time — non-matching assets are never opened): a real scraped dump is
    littered with images/css/js that would otherwise become garbage-html
    pages rows. Default keeps .htm/.html/.xhtml/.shtml in either case;
    pass None (CLI: --pages-glob '*') to ingest every file."""
    reader = (
        spark.read.format("binaryFile")
        # a scraped dump is a TREE (dump/site/page.html); without this,
        # binaryFile treats subdirs as partition dirs and silently
        # ingests zero nested files
        .option("recursiveFileLookup", "true")
    )
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return (
        reader.load(path)
        .select(
            F.col("path").alias("url"),
            F.col("modificationTime").alias("warc_ts"),
            F.col("content").alias("html"),
            F.lit(None).cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )


_READERS = {
    "parquet": read_pages_parquet,
    "orc": read_pages_orc,
    "json": read_pages_json,
    "csv": read_pages_csv,
    "warc": read_pages_warc,
    "wet": read_pages_warc,
    "files": read_pages_files,
}


# Tracking params that denote the SAME resource under different urls —
# the standard strip list (utm campaign family + per-platform click ids)
_TRACKING_PARAM_RE = (
    r"^(utm_[^=]*|fbclid|gclid|msclkid|mc_eid|igshid|ref_src)(=.*)?$"
)


def canonical_url(col) -> "F.Column":
    """Canonical form of a url for DEDUP KEYING (the crawler-side reality
    BASELINE.json's one-doc-per-url invariant runs into: the same page
    arrives as http://Site.com/a?utm_source=x, HTTP://site.com:80/a, and
    http://site.com/a#frag). Pure JVM expressions — parse_url + regexp —
    so the canonicalization is a map-side column, never a Python pass:

      scheme+host lowercased · default :80/:443 ports stripped · empty
      path → '/' · fragment dropped · query params sorted + tracking
      params (utm_*, fbclid, gclid, ...) removed · unparseable urls pass
      through unchanged (a garbage key only collides with itself).

    This is a KEY function: callers keep the original url column and key
    dedup on canonical_url(url) (dedup_latest_crawl(canonical=True)), so
    published outputs still carry the url actually crawled."""
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.try_parse_url(u, F.lit("PROTOCOL")))
    auth_raw = F.try_parse_url(u, F.lit("AUTHORITY"))
    # RFC 3986: only scheme and HOST are case-insensitive — userinfo is
    # not, so lowercase the host[:port] part only (review round 5: a
    # whole-authority lower() falsely merged http://User@h/ with
    # http://user@h/)
    userinfo = F.regexp_extract(auth_raw, "^([^@]*)@", 1)
    hostport = F.lower(F.regexp_replace(auth_raw, "^[^@]*@", ""))
    hostport = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).when(
        scheme == "https", F.regexp_replace(hostport, ":443$", "")
    ).otherwise(hostport)
    auth = F.when(
        userinfo == "", hostport
    ).otherwise(F.concat(userinfo, F.lit("@"), hostport))
    path = F.try_parse_url(u, F.lit("PATH"))
    path = F.when(path.isNull() | (path == ""), F.lit("/")).otherwise(path)
    query = F.try_parse_url(u, F.lit("QUERY"))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.coalesce(query, F.lit("")), "&"),
                lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE),
            )
        ),
        "&",
    )
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(kept == "", F.lit("")).otherwise(F.concat(F.lit("?"), kept)),
    )
    return F.when(scheme.isNull() | auth.isNull(), u).otherwise(rebuilt)


def read_pages(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    files_glob: str | None = DEFAULT_FILES_GLOB,
) -> DataFrame:
    """Format-dispatched pages ingest (the CLI's --pages-format hook).
    `files_glob` applies to fmt="files" only (see read_pages_files)."""
    try:
        reader = _READERS[fmt]
    except KeyError:
        raise ValueError(
            f"unknown pages format {fmt!r}; one of {sorted(_READERS)}"
        ) from None
    # called OUTSIDE the try: a KeyError raised inside a reader must not
    # be misreported as an unknown format
    if fmt == "files":
        return reader(spark, path, glob=files_glob)
    return reader(spark, path)
