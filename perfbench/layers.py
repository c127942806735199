"""Traced run: per-layer metrics, each timed from outside around calls into the
engine's public functions, plus Spark's own counters from the event log of
the benchmark's session.

The traced run first does everything an untraced run does (its end-to-end
values are the untraced reference), then attaches Spark's event log listener
to the same warm context, repeats the workload's timed region, and then runs
every layer on the same seed's inputs: the extractor core in-process, the UDF
ablation passes, job lifecycles (committed_job reuses its timed ones;
extract_scan runs one warm and one measured one) and the query leaves. Spark
jobs are tagged with job groups so the event log attributes tasks to the
timed region and to each query leaf.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pathlib
import statistics
import time

from perfbench import inputs, workloads
from perfbench.run import docs_per_s, timed_region

_CORE_REPS = 3
_UDF_REPS = 2
# on extract_scan, whose end-to-end metrics the job layer does not move: one
# measured lifecycle keeps a traced run inside the per-run time limit
_JOB_LIFECYCLES = 1
# queries() leaves the traced run times: the ROADMAP's carried triangle
# backlog item and its two must-fix leaves (inputs: lineitem, documents)
QUERY_LEAVES = {"full": ("triangle_parts", "incremental_dedup", "bpe_encode_stats"),
                "tiny": ("triangle_parts",)}

_TIMED = "timed"


def core_layer(htmls: list) -> dict:
    """Single-process extract_document and its four stages over the sample."""
    from engine.extract.core import (
        apply_tiebreak,
        classify_blocks,
        extract_document,
        score_containers,
        tokenize_blocks,
    )

    srcs = [
        h.decode("utf-8", errors="replace")
        for h in htmls
        if h and h[:5] != b"%PDF-"
    ]
    whole, stages = [], {"tokenize": [], "classify": [], "score": [], "tiebreak": []}
    for _ in range(_CORE_REPS):
        t0 = time.perf_counter()
        for h in htmls:
            extract_document(h)
        whole.append(time.perf_counter() - t0)
        acc = dict.fromkeys(stages, 0.0)
        for src in srcs:
            t0 = time.perf_counter()
            blocks, n_tags = tokenize_blocks(src)
            t1 = time.perf_counter()
            acc["tokenize"] += t1 - t0
            if n_tags == 0:
                continue
            classify_blocks(blocks)
            t2 = time.perf_counter()
            best, _ = score_containers(blocks)
            t3 = time.perf_counter()
            apply_tiebreak(blocks, best)
            t4 = time.perf_counter()
            acc["classify"] += t2 - t1
            acc["score"] += t3 - t2
            acc["tiebreak"] += t4 - t3
        for k, v in acc.items():
            stages[k].append(v)
    out = {"extract.core.docs_per_s": len(htmls) / statistics.median(whole)}
    out.update({f"extract.core.{k}_s": statistics.median(v) for k, v in stages.items()})
    return out


def _identity(batches):
    yield from batches


def udf_layer(spark, wl, urls: list, htmls: list) -> dict:
    """Ablation passes over the workload's corpus, each to a noop sink: bare
    scan, identity mapInArrow channel, full run_extract; and the UDF body on
    in-driver Arrow batches of the sample."""
    import pyarrow as pa

    from engine.extract.udf import extract_batches_arrow, run_extract

    cols = wl.pages(spark).select("url", "html")
    passes = {
        "spark.scan_s": lambda: cols,
        "extract.udf.channel_s": lambda: cols.mapInArrow(_identity, schema=cols.schema),
        "extract.udf.full_s": lambda: run_extract(wl.pages(spark)),
    }
    out = {}
    for name, df in passes.items():
        best = None
        for _ in range(_UDF_REPS):
            t0 = time.perf_counter()
            df().write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        out[name] = best
    batch = pa.RecordBatch.from_arrays(
        [pa.array(urls, pa.string()), pa.array(htmls, pa.binary())], names=["url", "html"]
    )
    body = []
    for _ in range(_CORE_REPS):
        t0 = time.perf_counter()
        for _b in extract_batches_arrow(iter([batch])):
            pass
        body.append(time.perf_counter() - t0)
    out["extract.udf.body_s"] = statistics.median(body)
    return out


def _write_s(spark, manifest) -> tuple[float, int]:
    """(seconds, waves) of the extract stage from lineage. Lineage repeats a
    wave's wall_ms on every partition row of that wave's file, so it is
    counted once per wave file."""
    from pyspark.sql import functions as F

    from engine.jobs.extract_job import read_lineage

    waves = (
        read_lineage(spark, manifest)
        .where(F.col("stage") == "extract")
        .groupBy(F.input_file_name().alias("wave"))
        .agg(F.max("wall_ms").alias("ms"))
        .collect()
    )
    return sum(r["ms"] for r in waves) / 1000, len(waves)


def job_layer(spark, lifecycles: list) -> dict:
    """Step times, extract_write_s, lineage_commit_s and waves (each computed
    within one lifecycle, then the median over the given lifecycles) and,
    from the last one, what the manifest and the file system say the job
    did."""
    per = []
    for lc in lifecycles:
        write_s, waves = _write_s(spark, lc["manifest"])
        steps = lc["steps"]
        row = {f"jobs.{k}_s": v for k, v in steps.items()}
        row.update({
            "jobs.extract_write_s": write_s,
            "jobs.lineage_commit_s": steps["run"] + steps["resume"] - write_s,
            "jobs.waves": waves,
        })
        per.append(row)
    out = {k: statistics.median(p[k] for p in per) for k in per[0]}
    last = lifecycles[-1]
    files = [p for p in pathlib.Path(last["root"]).rglob("*") if p.is_file()]
    out.update({
        "jobs.partitions": last["manifest"].state()["n_partitions"],
        "jobs.files_written": sum(1 for p in files if p.suffix == ".parquet"),
        "jobs.bytes_written_mb": sum(p.stat().st_size for p in files) / 1e6,
        "jobs.retried_docs": last["retry"].get("retried", 0),
    })
    return out


def read_eventlog(evdir: str) -> dict:
    """Per job group: summed task counters from Spark's JSON event log."""
    stage_group: dict[int, str] = {}
    tasks: list[dict] = []
    # skip the file system's hidden .crc checksum files
    files = [os.path.join(d, n) for d, _, ns in os.walk(evdir) for n in ns if n[0] != "."]
    for path in sorted(files):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    groups: dict[str, dict] = {}
    for ev in tasks:
        g = groups.setdefault(stage_group.get(ev["Stage ID"], ""), {
            "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "output_mb": 0.0, "python_sent_mb": 0.0,
            "python_received_mb": 0.0,
        })
        tm = ev.get("Task Metrics") or {}
        g["tasks"] += 1
        g["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        g["shuffle_write_mb"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
        g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
        g["output_mb"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            name = acc.get("Name") or ""
            if name == "data sent to Python workers":
                g["python_sent_mb"] += int(acc.get("Update") or 0) / 1e6
            elif name == "data returned from Python workers":
                g["python_received_mb"] += int(acc.get("Update") or 0) / 1e6
    return groups


def _cell(v) -> str:
    if v is None:
        return "null"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def fingerprint(cols: list, rows: list) -> list:
    """Order-insensitive (row count, sorted column names, value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    return [len(rows), ",".join(sorted(cols)), hashlib.sha256("\n".join(lines).encode()).hexdigest()]


def oracle(cache: str, tables: str, name: str) -> list:
    """DuckDB result fingerprint of the leaf's oracle_sql(), cached by the SQL
    text and the input tables."""
    import duckdb

    from engine.queries import oracle_sql

    sql = oracle_sql()[name]
    key = hashlib.sha256(f"{sql}\n{os.path.basename(tables)}".encode()).hexdigest()
    path = os.path.join(cache, f"oracle-{key[:24]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = duckdb.connect()
    for t in ("lineitem", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    tbl = con.execute(sql).fetch_arrow_table()
    con.close()
    fp = fingerprint(tbl.column_names, [tuple(r.values()) for r in tbl.to_pylist()])
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(fp, f)
    os.rename(tmp, path)
    return fp


def query_layer(spark, cache: str, tables: str, leaves) -> tuple[dict, list]:
    """Each leaf once collected and compared with its DuckDB oracle (untimed,
    also its warm-up), then once timed into a noop sink in job group
    "layers|queries.<name>"."""
    from engine.queries import queries

    times, failures = {}, []
    for name in leaves:
        df = queries()[name](spark, tables)
        got = fingerprint(df.columns, [tuple(r) for r in df.collect()])
        want = oracle(cache, tables, name)
        if got != want:
            failures.append(f"{name}: (rows, cols) {got[:2]} differs from the DuckDB oracle {want[:2]}")
        spark.sparkContext.setJobGroup(f"layers|queries.{name}", name)
        t0 = time.perf_counter()
        queries()[name](spark, tables).write.format("noop").mode("overwrite").save()
        times[name] = time.perf_counter() - t0
    return times, failures


class EventLog:
    """Spark's own event log listener, attached to the running context while
    the block runs, writing uncompressed JSON under `path`. The untraced
    region before it ran without it, in the same warm context and with the
    same Python workers, so the traced region needs no new warm-up."""

    def __init__(self, spark, path: str):
        self.sc = spark.sparkContext
        self.path = path

    def __enter__(self):
        jsc, jvm = self.sc._jsc.sc(), self.sc._jvm
        conf = jsc.conf().clone().set("spark.eventLog.compress", "false")
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            jsc.applicationId(), jsc.applicationAttemptId(),
            jvm.java.net.URI(pathlib.Path(self.path).as_uri()), conf,
            self.sc._jsc.hadoopConfiguration(),
        )
        self.listener.start()
        jsc.addSparkListener(self.listener)
        return self

    def __exit__(self, *exc):
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jsc.removeSparkListener(self.listener)
        self.listener.stop()


def traced(spark, wl, e2e: dict, e2e_outputs: list, seconds: float, run_dir, raw: dict):
    """Returns (per-layer metrics, checks run, check failures)."""
    evdir = run_dir / "eventlog"
    evdir.mkdir(exist_ok=True)
    with EventLog(spark, str(evdir)):
        # at least one round, not the untraced region's three, keeps the
        # traced run short; the region is diagnostic
        times, outputs = timed_region(spark, wl.ops(), seconds, 1, tag=_TIMED)
        rounds = len(next(iter(times.values())))
        traced_rate = docs_per_s(wl, times)
        raw["traced"] = {"times": times, "docs_per_s": traced_rate}
        out = {"trace.docs_per_s_ratio": traced_rate / e2e["docs_per_s"]}

        spark.sparkContext.setJobGroup("layers", "layers")
        size, cache, seed, cores = raw["size"], raw["cache"], raw["seed"], raw["cores"]
        # the extractor layers run on the workload's own corpus, so a traced
        # committed_job run builds no extract_scan corpus
        urls = wl.meta["sample_urls"]
        by_url = inputs.read_html(wl.corpus["path"], urls)
        htmls = [by_url[u] for u in urls]
        out.update(core_layer(htmls))
        out.update(udf_layer(spark, wl, urls, htmls))

        failures = wl.check(spark, outputs)
        if isinstance(wl, workloads.CommittedJob):
            # every lifecycle of both timed regions: all warm, same context
            lifecycles = [o for _, o in e2e_outputs + outputs]
        else:
            # one warm lifecycle (the first is ~2x a warm one), then
            # _JOB_LIFECYCLES measured ones
            job = workloads.make("committed_job", size, cache, seed, cores, run_dir)
            job.lifecycle(spark)
            lifecycles = [job.lifecycle(spark) for _ in range(_JOB_LIFECYCLES)]
            failures += job.check(spark, [("lifecycle", lc) for lc in lifecycles])
        out.update(job_layer(spark, lifecycles))

        leaves = QUERY_LEAVES[size]
        tables = inputs.curation_tables(workloads.SIZES[size]["sf"])
        leaf_s, leaf_failures = query_layer(spark, cache, tables, leaves)
        failures += leaf_failures

    groups = read_eventlog(str(evdir))
    raw["eventlog_groups"] = groups
    for name in QUERY_LEAVES["full"]:
        g = groups.get(f"layers|queries.{name}", {})
        out[f"queries.{name}.s"] = leaf_s.get(name, 0.0)
        out[f"queries.{name}.shuffle_write_mb"] = g.get("shuffle_write_mb", 0.0)
    timed_groups = [g for k, g in groups.items() if k.startswith(f"{_TIMED}|")]
    for k in ("task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "output_mb",
              "python_sent_mb", "python_received_mb"):
        out[f"spark.{k}"] = sum(g[k] for g in timed_groups) / rounds
    checked = len(outputs) + 1 + len(leaves) + (
        0 if isinstance(wl, workloads.CommittedJob) else _JOB_LIFECYCLES)
    return out, checked, failures
