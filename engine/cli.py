"""CLI entry point — the emopcmd.py analog (emopcmd.py :: main [U]).

Verbs map 1:1 to the reference controller's:

  query    → pending/committed partition counts for a run   (emop_query  [U])
  enqueue  → size a run + commit a pending manifest         (emop_submit [U])
  run      → process pending partitions in committed waves  (emop_run    [U])
  retry    → re-extract failed urls (MERGE-emulated)        (retry semantics)
  increment→ extract only urls absent from base runs; output unions with
             the bases into one logical table (snapshot-append semantics)
  rollup   → per-run/partition metrics rollup               (emop_upload [U])
  stats    → one-scan data-quality profile of the extracted table
             (status counts, text sizes, quality quantiles)
  vacuum   → expire a completed run's recoverable artifacts (staged
             leftovers, increment_input, compaction backup)
  compact  → rewrite a completed run's output at target file size
             (small-files table maintenance; no reference analog — the
             reference's payloads are single files by construction)
  export   → publish a completed run to a destination path   (emop_transfer [U])
  synth    → write a deterministic pages corpus (test/bench input)

Deployment shape per BASELINE.json:14: zip the package and submit —

  cd /root/repo && zip -qr /tmp/engine.zip engine
  spark-submit --py-files /tmp/engine.zip -m ... engine/cli.py run \
      --pages /data/pages.parquet --runs-root /data/runs --run-id r1

(in-sandbox, plain `python -m engine.cli ...` starts the same local session).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(conf: list[str] | None = None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.appName("engine-cli")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    # --conf k=v passthrough (spark-submit parity for the plain-python
    # entry): how an operator points the engine at a catalog sink, e.g.
    # --conf spark.graft.sink.table=cat.db.extracted
    for kv in conf or []:
        k, sep, v = kv.partition("=")
        if not sep or not k:
            raise SystemExit(f"--conf expects key=value, got {kv!r}")
        b = b.config(k, v)
    return b.getOrCreate()


def _pages_args(pages_help: str | None = None) -> argparse.ArgumentParser:
    """The --pages input triple every page-reading verb takes (an
    argparse parent parser)."""
    pp = argparse.ArgumentParser(add_help=False)
    pp.add_argument("--pages", required=True, help=pages_help)
    pp.add_argument(
        "--pages-format", default="parquet",
        choices=["parquet", "orc", "json", "csv", "warc", "wet", "files"],
        help="ingest format for --pages (warc/wet = Common-Crawl "
        "segment files; files = one raw html file per page)",
    )
    pp.add_argument(
        "--pages-glob", default=None,
        help="filename glob for --pages-format files (scan-time "
        "pathGlobFilter; default keeps .htm/.html/.xhtml/.shtml in "
        "either case; use '*' to ingest every file)",
    )
    return pp


def _read_pages(spark, a: argparse.Namespace):
    from engine.sources import DEFAULT_FILES_GLOB, read_pages

    return read_pages(
        spark, a.pages, a.pages_format,
        files_glob=a.pages_glob or DEFAULT_FILES_GLOB,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="engine", description=__doc__)
    p.add_argument(
        "--conf", action="append", default=[], metavar="KEY=VALUE",
        help="extra Spark session conf (repeatable; spark-submit parity "
        "for the plain-python entry — e.g. --conf "
        "spark.graft.sink.table=cat.db.extracted routes the extracted "
        "sink through the configured catalog table)",
    )
    sub = p.add_subparsers(dest="verb", required=True)

    sp = sub.add_parser("synth")
    sp.add_argument("--out", required=True)
    sp.add_argument("--docs", type=int, default=10000)
    sp.add_argument("--partitions", type=int, default=32)

    qp = sub.add_parser("query")
    qp.add_argument("--runs-root", required=True)
    qp.add_argument("--run-id", required=True)

    pages = _pages_args()
    ep = sub.add_parser("enqueue", parents=[pages])
    ep.add_argument("--runs-root", required=True)
    ep.add_argument("--run-id")
    ep.add_argument("--target-partition-mb", type=int, default=64)
    ep.add_argument(
        "--force",
        action="store_true",
        help="reset an existing run (clears extracted/staged/lineage)",
    )

    rp = sub.add_parser("run", parents=[pages])
    rp.add_argument("--runs-root", required=True)
    rp.add_argument("--run-id", required=True)
    rp.add_argument(
        "--wave-size", type=int, default=8,
        help="partitions per committed wave; a wave runs one task per "
        "partition, so choose at least the cluster's task slots",
    )
    rp.add_argument("--max-waves", type=int)

    tp = sub.add_parser("retry", parents=[pages])
    tp.add_argument("--runs-root", required=True)
    tp.add_argument("--run-id", required=True)

    up = sub.add_parser("rollup")
    up.add_argument("--runs-root", required=True)
    up.add_argument("--run-id", required=True)

    st = sub.add_parser(
        "stats",
        description="Data-quality profile of a run's extracted table "
        "(one-scan multi-aggregate: status counts, text sizes, quality "
        "quantiles).",
    )
    st.add_argument("--runs-root", required=True)
    st.add_argument("--run-id", required=True)

    cp = sub.add_parser(
        "compact",
        description="Rewrite a completed run's extracted table at the "
        "target file size. Publication is an atomic manifest-pointer "
        "flip to a new table-generation directory — a kill at any instant "
        "leaves a readable table; stale generations are expired by "
        "vacuum.",
    )
    cp.add_argument("--runs-root", required=True)
    cp.add_argument("--run-id", required=True)
    cp.add_argument("--target-file-mb", type=int, default=128)

    ip = sub.add_parser(
        "increment",
        parents=[_pages_args("the new crawl")],
        description="Incremental append: extract ONLY urls no base run has "
        "committed, as a new run whose output unions with the bases into "
        "one logical table (enqueue_increment + run in one verb).",
    )
    ip.add_argument("--runs-root", required=True)
    ip.add_argument(
        "--base-run-ids", required=True,
        help="comma-separated run ids already committed",
    )
    ip.add_argument("--run-id", help="id for the new increment run")
    ip.add_argument("--target-partition-mb", type=int, default=64)
    ip.add_argument(
        "--wave-size", type=int, default=8,
        help="partitions per committed wave (see run --wave-size)",
    )
    ip.add_argument(
        "--canonical-urls", action="store_true",
        help="key the increment's within-crawl dedup on the canonical "
        "url form (case/port/fragment/tracking-param-insensitive; "
        "engine.sources.canonical_url) instead of the raw string",
    )

    dd = sub.add_parser(
        "dedup-increment",
        description="Content-level cross-run dedup: classify an increment "
        "run's docs against the base runs' kept text (exact sha256 match "
        "+ MinHash-LSH band probe with exact-Jaccard verification). "
        "Prints per-status counts; --out writes the per-url "
        "classification as parquet.",
    )
    dd.add_argument("--runs-root", required=True)
    dd.add_argument("--base-run-ids", required=True)
    dd.add_argument("--run-id", required=True, help="the increment run")
    dd.add_argument("--jaccard", type=float, default=0.5)
    dd.add_argument("--out")

    vp = sub.add_parser(
        "vacuum",
        description="Expire a completed run's recoverable artifacts "
        "(staged leftovers, the increment's recorded input, compaction "
        "backup).",
    )
    vp.add_argument("--runs-root", required=True)
    vp.add_argument("--run-id", required=True)

    xp = sub.add_parser("export")
    xp.add_argument("--runs-root", required=True)
    xp.add_argument(
        "--run-id", required=True,
        help="one run id, or comma-separated base,increment,... to export "
        "the logical table across runs in one CTAS",
    )
    xp.add_argument("--dest", required=True)
    xp.add_argument(
        "--format", default="parquet",
        choices=["parquet", "orc", "json", "wet"],
        help="wet = Common-Crawl WET conversion records of the extracted text",
    )

    a = p.parse_args(argv)
    # degenerate list args fail fast, before a Spark session spins up:
    # an empty base set would turn an increment into a full re-extract
    # (url-disjointness break), an empty run-id list would IndexError
    if a.verb in ("increment", "dedup-increment") and not [
        r for r in a.base_run_ids.split(",") if r.strip()
    ]:
        p.error("--base-run-ids must name at least one completed base run")
    # --pages-glob is a files-format scan filter; accepting it silently
    # on other formats would let an operator believe they filtered a
    # warc/parquet ingest when nothing was applied
    if (
        getattr(a, "pages_glob", None) is not None
        and getattr(a, "pages_format", None) != "files"
    ):
        p.error("--pages-glob applies only to --pages-format files")
    if a.verb == "export" and not [
        r for r in a.run_id.split(",") if r.strip()
    ]:
        p.error("--run-id must name at least one run")
    spark = _spark(conf=a.conf)
    spark.sparkContext.setLogLevel("WARN")

    from engine.jobs.extract_job import (
        enqueue,
        export_run,
        retry_failed,
        rollup_metrics,
        run_extract_job,
    )
    from engine.manifest import RunManifest

    if a.verb == "synth":
        from engine.synth import generate_pages

        generate_pages(spark, a.docs, partitions=a.partitions).write.mode(
            "overwrite"
        ).parquet(a.out)
        print(json.dumps({"written": a.out, "docs": a.docs}))
    elif a.verb == "query":
        m = RunManifest.load(a.runs_root, a.run_id)
        print(
            json.dumps(
                {
                    "run_id": a.run_id,
                    "pending": len(m.pending_partitions()),
                    "committed": len(m.committed_partitions()),
                    "complete": m.is_complete(),
                }
            )
        )
    elif a.verb == "enqueue":
        pages = _read_pages(spark, a)
        m = enqueue(
            spark,
            pages,
            a.runs_root,
            target_partition_bytes=a.target_partition_mb << 20,
            run_id=a.run_id,
            force=a.force,
        )
        st = m.state()
        print(
            json.dumps(
                {
                    "run_id": m.run_id,
                    "n_partitions": st["n_partitions"],
                    "total_bytes": st["total_bytes"],
                }
            )
        )
    elif a.verb == "run":
        pages = _read_pages(spark, a)
        m = RunManifest.load(a.runs_root, a.run_id)
        res = run_extract_job(
            spark, pages, m, wave_size=a.wave_size, max_waves=a.max_waves
        )
        print(json.dumps(res))
    elif a.verb == "increment":
        from engine.jobs.extract_job import enqueue_increment

        pages = _read_pages(spark, a)
        m, new_pages = enqueue_increment(
            spark,
            pages,
            a.runs_root,
            [r.strip() for r in a.base_run_ids.split(",") if r.strip()],
            target_partition_bytes=a.target_partition_mb << 20,
            run_id=a.run_id,
            canonical_urls=a.canonical_urls,
        )
        if m is None:
            print(json.dumps({"run_id": None, "docs_processed": 0,
                              "complete": True, "note": "nothing new"}))
        else:
            res = run_extract_job(
                spark, new_pages, m, wave_size=a.wave_size
            )
            print(json.dumps(res))
    elif a.verb == "retry":
        pages = _read_pages(spark, a)
        m = RunManifest.load(a.runs_root, a.run_id)
        print(json.dumps(retry_failed(spark, pages, m)))
    elif a.verb == "dedup-increment":
        from pyspark.sql import functions as F

        from engine.jobs.extract_job import dedup_increment_docs

        df = dedup_increment_docs(
            spark,
            a.runs_root,
            [r.strip() for r in a.base_run_ids.split(",") if r.strip()],
            a.run_id,
            jaccard_threshold=a.jaccard,
        )
        if a.out:
            df.write.mode("overwrite").parquet(a.out)
            df = spark.read.parquet(a.out)  # counts from the published table
        counts = {
            r["status"]: int(r["n"])
            for r in df.groupBy("status").agg(F.count("*").alias("n")).collect()
        }
        print(
            json.dumps(
                {
                    "run_id": a.run_id,
                    **{
                        s: counts.get(s, 0)
                        for s in ("kept", "exact_dup", "near_dup")
                    },
                }
            )
        )
    elif a.verb == "vacuum":
        from engine.jobs.extract_job import vacuum_run

        m = RunManifest.load(a.runs_root, a.run_id)
        print(json.dumps(vacuum_run(spark, m)))
    elif a.verb == "export":
        ms = [
            RunManifest.load(a.runs_root, rid.strip())
            for rid in a.run_id.split(",")
            if rid.strip()
        ]
        m = ms if len(ms) > 1 else ms[0]
        print(json.dumps(export_run(spark, m, a.dest, fmt=a.format)))
    elif a.verb == "compact":
        from engine.jobs.extract_job import compact_run

        m = RunManifest.load(a.runs_root, a.run_id)
        print(
            json.dumps(
                compact_run(
                    spark, m, target_file_bytes=a.target_file_mb << 20
                )
            )
        )
    elif a.verb == "stats":
        from engine.jobs.extract_job import run_stats

        m = RunManifest.load(a.runs_root, a.run_id)
        print(json.dumps(run_stats(spark, m)))
    elif a.verb == "rollup":
        m = RunManifest.load(a.runs_root, a.run_id)
        rows = rollup_metrics(spark, m).collect()
        print(
            json.dumps(
                [
                    {k: r[k] for k in ("run_id", "partition_id", "docs",
                                       "bytes", "wall_ms")}
                    for r in rows
                ],
                default=str,
            )
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
