"""Repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload extract_scan --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. It builds its inputs from --seed into
`.perfbench/cache/`, starts one Spark driver at local[N] (N = usable cores),
sets up (session start plus untimed warm passes through every timed code
path at full parallelism), then repeats the workload's timed operations for
--seconds of wall time (and at least a few times), checks the outputs, and prints one JSON object as the last line of stdout. The line
before it holds every raw value of the run. With --trace 1 the run also times
each layer from outside (see perfbench/README.md) and prints the per-layer
metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import pathlib
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def metric_specs(trace: int) -> list:
    """The metrics a run prints, as BENCHMARK.json lists them: `end_to_end`
    untraced, `per_layer` traced."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def host_probe() -> float:
    """Fixed engine-free pure-Python loop: a host-speed reading kept beside
    the results so slow host phases show up in the data. Never a
    denominator."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x = (x + i * i) % 1_000_003
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests so far, summed
    over this machine's CPUs (the `steal` column of /proc/stat). Over a
    region, it shows a slow host phase that the single-thread probe can
    miss. Diagnostic only."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def descendants(root_pid: int) -> list:
    """`root_pid` and all its descendants, zombies included."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss(root_pid: int) -> dict:
    """{pid: (command, bytes)} for `root_pid` and all its descendants, where
    bytes is the proportional set size: resident pages with each shared page
    split among the processes that map it. Plain RSS would count the pages
    a forked child (Python workers, the JVM's short-lived shell helpers)
    shares with its parent once per process."""
    out = {}
    for pid in descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                rss = next(int(ln.split()[1]) * 1024 for ln in f if ln.startswith("Pss:"))
            with open(f"/proc/{pid}/comm") as f:
                out[pid] = (f.read().strip(), rss)
        except (OSError, IndexError, ValueError, StopIteration):
            pass
    return out


class PeakRss:
    """Samples the summed memory of this process and all its descendants (the
    JVM, the Python worker daemon and its workers) and keeps the peak, with
    the per-command breakdown at the peak."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self.at_peak = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            tree = _tree_rss(pid)
            total = sum(rss for _, rss in tree.values())
            if total > self.peak:
                self.peak = total
                by_comm: dict[str, list] = {}
                for comm, rss in tree.values():
                    n_mb = by_comm.setdefault(comm, [0, 0.0])
                    n_mb[0] += 1
                    n_mb[1] += rss / 1e6
                self.at_peak = by_comm
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# the driver's Java heap, committed and touched whole at JVM start, so it is
# a fixed part of the tree's memory that peak_nonheap_mb leaves out: a heap
# the GC grows as it sees fit moved the tree's peak by ~14% between runs
HEAP_BYTES = 2 << 30


class Session:
    """The benchmark's SparkSession: local[cores], a pinned driver heap of
    HEAP_BYTES, all scratch space inside the checkout."""

    def __init__(self, cores: int, run_dir: pathlib.Path):
        self.cores = cores
        self.run_dir = run_dir
        self.spark = None

    def start(self):
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{self.cores}]")
            .appName("perfbench")
            .config("spark.driver.memory", f"{HEAP_BYTES >> 20}m")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms{HEAP_BYTES >> 20}m -XX:+AlwaysPreTouch")
            .config("spark.sql.warehouse.dir", str(self.run_dir / "warehouse"))
            .config("spark.sql.shuffle.partitions", str(max(self.cores, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
            .config("spark.sql.files.maxPartitionBytes", "512k")
            .config("spark.sql.files.openCostInBytes", "0")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
        )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self):
        """Stop the session, then the JVM itself, and wait until it exits
        (it exits when its stdin closes)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts: a
    process whose parent exits first (the Python worker daemon when the JVM
    goes, its workers when the daemon goes) becomes a child of this one
    instead of init's, so stop_descendants can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(grace: float = 10.0) -> None:
    """Wait until every process this one started has ended: the
    multiprocessing resource tracker is told to exit, anything else gets
    `grace` seconds to end by itself, then SIGTERM, then SIGKILL."""
    tracker = sys.modules.get("multiprocessing.resource_tracker")
    if tracker is not None:
        tracker._resource_tracker._stop()
    t0 = time.monotonic()
    while True:
        while True:  # reap the children that have ended
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        alive = descendants(os.getpid())[1:]
        if not alive:
            return
        waited = time.monotonic() - t0
        if waited > 4 * grace:
            print(f"perfbench: processes {alive} did not end", file=sys.stderr)
            return
        if waited > grace:
            sig = signal.SIGKILL if waited > 2 * grace else signal.SIGTERM
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def timed_region(spark, ops, seconds: float, min_rounds: int, tag: str | None = None):
    """Repeat every (name, fn) of `ops` in rounds until `seconds` of wall time
    have passed and at least `min_rounds` rounds ran. Returns
    {name: [seconds per call]} and every call's output, in order. With `tag`,
    each call runs in Spark job group "<tag>|<name>"."""
    times = {name: [] for name, _ in ops}
    outputs = []
    t_start = time.perf_counter()
    rounds = 0
    while rounds < min_rounds or time.perf_counter() - t_start < seconds:
        for name, fn in ops:
            if tag:
                spark.sparkContext.setJobGroup(f"{tag}|{name}", name)
            t0 = time.perf_counter()
            out = fn(spark)
            times[name].append(time.perf_counter() - t0)
            outputs.append((name, out))
        rounds += 1
    return times, outputs


def docs_per_s(wl, times) -> float:
    """Input rows of one round over the sum of the per-operation medians."""
    return wl.rows / sum(statistics.median(v) for v in times.values())


def run(args) -> tuple[dict, dict]:
    from perfbench import workloads

    cores = len(os.sched_getaffinity(0))
    run_dir = WORK / f"run-{os.getpid()}"
    for sub in ("spark-local", "tmp", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # every JVM, the launcher's too: temp files in the run dir, and no
    # hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir / 'tmp'}"
    raw = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
           "trace": args.trace, "size": args.size, "cores": cores,
           "cache": str(WORK / "cache"), "host.probe_s.before": host_probe()}
    wl = workloads.make(args.workload, args.size, WORK / "cache", args.seed, cores, run_dir)
    raw["inputs"] = wl.describe()
    sess = Session(cores, run_dir)
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = sess.start()
            wl.warm(spark)
            setup_s = time.perf_counter() - t0
            steal0, t1 = steal_s(), time.perf_counter()
            times, outputs = timed_region(spark, wl.ops(), args.seconds,
                                          min_rounds=wl.min_rounds)
            raw["host.steal_cores"] = (steal_s() - steal0) / (time.perf_counter() - t1)
        metrics = {"setup_s": setup_s, "docs_per_s": docs_per_s(wl, times),
                   "peak_nonheap_mb": (rss.peak - HEAP_BYTES) / 1e6}
        raw.update(times=times, end_to_end=dict(metrics), tree_peak_mb=rss.peak / 1e6,
                   rss_at_peak=rss.at_peak,
                   log=wl.log)
        failures = wl.check(spark, outputs)
        attempted = len(outputs) + 1
        if args.trace:
            from perfbench import layers

            metrics, checked, layer_failures = layers.traced(
                spark, wl, metrics, outputs, args.seconds, run_dir, raw
            )
            attempted += checked
            failures += layer_failures
    finally:
        try:
            sess.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    raw["failures"] = failures
    raw["host.probe_s.after"] = host_probe()
    return raw, {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {} if failures else metrics,
    }


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny = smoke-test inputs (a few hundred docs)")
    args = p.parse_args(argv)
    if not (ROOT / "engine" / "extract" / "core.py").is_file():
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    # Python workers import engine/ and perfbench/ from the checkout; all
    # temporary files stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    adopt_orphans()
    # a SIGTERM ends the run through the same clean-up as any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        raw, result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stop_descendants()
    values = result["metrics"]
    result["metrics"] = {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in metric_specs(args.trace)
    } if values else {}
    out = WORK / "results"
    out.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(out / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json", "w") as f:
        json.dump({"raw": raw, "result": result}, f, indent=1)
    print(json.dumps({"raw": raw}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
