"""The workloads. Each one calls only the engine's public functions and offers
the same surface to the runner:

* `rows`      input rows one round of timed operations processes;
* `pages`     the workload's pages corpus as a DataFrame;
* `min_rounds` fewest timed rounds a run makes, whatever --seconds says;
* `warm`      untimed passes through every timed code path (`warm_rounds`);
* `ops`       the timed operations of one round, as (name, fn(spark));
* `check`     correctness checks over the timed outputs, run after the timed
              region; returns a list of failure messages;
* `log`       per-operation details kept in the raw output.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from perfbench import inputs

SIZES = {
    # docs of the extract_scan corpus, of the committed_job corpus, and the
    # scale factor of the tables the traced run's query leaves read
    "full": {"scan_docs": 10_000, "job_docs": 6_000, "sf": 0.01},
    "tiny": {"scan_docs": 300, "job_docs": 400, "sf": 0.001},
}
JOB_PARTITIONS = 8
JOB_WAVE_SIZE = 4
JOB_SEED_OFFSET = 1_000_000


def _public(meta: dict) -> dict:
    """Corpus description for the raw output (lists replaced by counts)."""
    return {k: (len(v) if isinstance(v, list) else v) for k, v in meta.items()}


def check_sample(rows, htmls: dict, where: str) -> list:
    """Spark rows (url, text, spans, status) must equal in-process
    extract_document on the same html, byte for byte."""
    from engine.extract.core import extract_document

    failures = []
    seen = set()
    for r in rows:
        seen.add(r["url"])
        ref = extract_document(htmls[r["url"]])
        spans = None if r["spans"] is None else [
            {"node_path": s["node_path"], "start": s["start"], "end": s["end"]}
            for s in r["spans"]
        ]
        if (r["text"], spans, r["status"]) != (ref["text"], ref["spans"], ref["status"]):
            failures.append(f"{where}: {r['url']} differs from extract_document")
    missing = set(htmls) - seen
    if missing:
        failures.append(f"{where}: {len(missing)} sample urls missing from the output")
    return failures[:20]


class ExtractScan:
    """run_extract over a synth pages corpus; the timed action counts the ok
    rows."""

    min_rounds = 3
    # passes keep getting faster for ~3 passes after session start (the
    # fourth is ~25% faster than the first), so three passes warm up
    warm_rounds = 3

    def __init__(self, size, cache, seed, cores, run_dir):
        self.corpus = inputs.pages(str(cache), "scan", seed, SIZES[size]["scan_docs"], cores)
        self.meta = self.corpus["meta"]
        self.rows = self.meta["rows"]
        self.log = None

    def describe(self):
        return _public(self.meta)

    def pages(self, spark):
        return spark.read.parquet(self.corpus["path"])

    def count_ok(self, spark):
        from engine.extract.udf import run_extract

        return run_extract(self.pages(spark)).where(F.col("status") == "ok").count()

    def warm(self, spark):
        for _ in range(self.warm_rounds):
            self.count_ok(spark)

    def ops(self):
        return [("extract_pass", self.count_ok)]

    def check(self, spark, outputs):
        from engine.extract.udf import run_extract

        want = self.meta["ok_rows"]
        failures = [
            f"{name} #{i}: {n} ok rows, reference {want}"
            for i, (name, n) in enumerate(outputs)
            if n != want
        ]
        sample = self.meta["sample_urls"]
        rows = (
            run_extract(self.pages(spark).where(F.col("url").isin(sample)))
            .select("url", "text", "spans", "status")
            .collect()
        )
        htmls = inputs.read_html(self.corpus["path"], sample)
        return failures + check_sample(rows, htmls, "extract_scan sample")


class CommittedJob:
    """The batch-queue lifecycle: enqueue, stage, an interrupted run, the
    resume, retry of failed docs, stats. One timed operation is one whole
    lifecycle in a fresh runs root."""

    min_rounds = 3
    # the first lifecycle takes ~2.3x a warm one; the second is still ~5-10%
    # slower than the third, which the median of the timed ones absorbs. One
    # warm lifecycle keeps a run, slow host phases included, inside the run
    # budget
    warm_rounds = 1

    def __init__(self, size, cache, seed, cores, run_dir):
        self.corpus = inputs.pages(
            str(cache), "job", seed + JOB_SEED_OFFSET, SIZES[size]["job_docs"], cores
        )
        self.meta = self.corpus["meta"]
        self.rows = self.meta["rows"]
        # sized so enqueue plans exactly JOB_PARTITIONS partitions
        html_bytes = round(self.meta["html_mb"] * 1e6)
        self.target_partition_bytes = html_bytes // JOB_PARTITIONS + 1
        self.jobs_dir = run_dir / "jobs"
        self.n = 0
        self.log = []  # step seconds of every lifecycle, warm ones first

    def describe(self):
        return dict(_public(self.meta), target_partition_bytes=self.target_partition_bytes)

    def pages(self, spark):
        return spark.read.parquet(self.corpus["path"])

    def lifecycle(self, spark):
        from engine.jobs.extract_job import (
            enqueue,
            retry_failed,
            run_extract_job,
            run_stats,
            stage_pages,
        )

        self.n += 1
        root = str(self.jobs_dir / f"lifecycle-{self.n}")
        pages = self.pages(spark)
        steps, out = {}, {"root": root}
        t = time.perf_counter()

        def step(name, value):
            nonlocal t
            now = time.perf_counter()
            steps[name] = now - t
            t = now
            return value

        m = step("enqueue", enqueue(
            spark, pages, root, target_partition_bytes=self.target_partition_bytes,
            run_id="bench",
        ))
        step("stage", stage_pages(spark, pages, m))
        out["run"] = step("run", run_extract_job(spark, pages, m, wave_size=JOB_WAVE_SIZE, max_waves=1))
        out["resume"] = step("resume", run_extract_job(spark, pages, m, wave_size=JOB_WAVE_SIZE))
        out["retry"] = step("retry", retry_failed(spark, pages, m))
        out["stats"] = step("stats", run_stats(spark, m))
        out.update(manifest=m, steps=steps)
        self.log.append({k: round(v, 4) for k, v in steps.items()})
        return out

    def warm(self, spark):
        for _ in range(self.warm_rounds):
            self.lifecycle(spark)

    def ops(self):
        return [("lifecycle", self.lifecycle)]

    def check(self, spark, outputs):
        from engine.jobs.extract_job import read_current_extracted, read_lineage

        rows, ok = self.rows, self.meta["ok_rows"]
        failures = []
        for i, (_, out) in enumerate(outputs):
            m, st = out["manifest"], out["stats"]
            got = (
                m.state()["n_partitions"], out["run"]["waves_run"],
                out["run"]["complete"], out["resume"]["complete"],
                out["retry"].get("retried", 0), st["rows"], st["ok"],
            )
            want = (JOB_PARTITIONS, 1, False, True, rows - ok, rows, ok)
            if got != want or not m.is_complete():
                failures.append(
                    f"lifecycle #{i}: (partitions, first waves, interrupted-complete, "
                    f"resumed-complete, retried, rows, ok) = {got}, want {want}"
                )
        m = outputs[-1][1]["manifest"]
        lineage_docs = (
            read_lineage(spark, m).where(F.col("stage") == "extract")
            .agg(F.sum("doc_count")).collect()[0][0]
        )
        if lineage_docs != rows:
            failures.append(f"lineage doc_count sums to {lineage_docs}, input has {rows} rows")
        sample = self.meta["sample_urls"]
        committed = (
            read_current_extracted(spark, m).where(F.col("url").isin(sample))
            .select("url", "text", "spans", "status").collect()
        )
        htmls = inputs.read_html(self.corpus["path"], sample)
        return failures + check_sample(committed, htmls, "committed_job sample")


WORKLOADS = {"extract_scan": ExtractScan, "committed_job": CommittedJob}


def make(name, size, cache, seed, cores, run_dir):
    cls = WORKLOADS[name]
    os.makedirs(cache, exist_ok=True)
    return cls(size, cache, seed, cores, run_dir)
