"""engine/pyworker.py: the stat-gated `zipimporter.invalidate_caches`.

The gate cases run in-process with no Spark: a zip holding one module, the
patch applied under a faked worker flag, and `zipimport._read_directory`
counted. The live case runs a local[2] session in a subprocess, so its
Python workers start fresh and each worker's first task is observable. A
static check keeps every Python body the engine hands to Spark importing
`engine` on the worker.
"""

from __future__ import annotations

import ast
import importlib
import json
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

from engine import pyworker

REPO = pathlib.Path(__file__).parent.parent
MOD = "pyworker_probe_mod"


def _write_zip(path: pathlib.Path, version: int, pad: int = 0) -> None:
    """MOD at V = version; `pad` bytes of another member go first, so a
    stale directory would point into the wrong member."""
    with zipfile.ZipFile(path, "w") as z:
        if pad:
            z.writestr("pad.bin", b"\0" * pad)
        z.writestr(f"{MOD}.py", f"V = {version}\n")


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on sys.path holding module MOD at V = 1, imported through
    zipimport; the stdlib method and the module are restored afterwards."""
    from pyspark.core.files import SparkFiles

    path = tmp_path / "probe.zip"
    _write_zip(path, 1)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker._STDLIB_INVALIDATE
    )
    monkeypatch.setattr(pyworker, "_STAMPS", {})
    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", False)
    monkeypatch.syspath_prepend(str(path))
    monkeypatch.delitem(sys.modules, MOD, raising=False)
    mod = importlib.import_module(MOD)
    assert mod.V == 1
    assert isinstance(sys.path_importer_cache[str(path)], zipimport.zipimporter)
    yield path
    sys.modules.pop(MOD, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def _count_reads(monkeypatch, archive: pathlib.Path) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(path):
        if path == str(archive):
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _patch_as_worker(monkeypatch) -> None:
    from pyspark.core.files import SparkFiles

    monkeypatch.setattr(SparkFiles, "_is_running_on_worker", True)
    assert pyworker.patch_worker()
    assert pyworker.patch_worker()  # idempotent
    assert zipimport.zipimporter.invalidate_caches is pyworker._gated_invalidate_caches


def test_unchanged_zip_is_not_reread(probe_zip, monkeypatch):
    reads = _count_reads(monkeypatch, probe_zip)
    importlib.invalidate_caches()
    assert len(reads) == 1  # the stdlib method re-reads on every call
    _patch_as_worker(monkeypatch)
    importlib.invalidate_caches()  # no stamp yet: one read, which stamps it
    assert len(reads) == 2
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 2
    importer = sys.path_importer_cache[str(probe_zip)]
    assert importer._files is zipimport._zip_directory_cache[str(probe_zip)]
    assert f"{MOD}.py" in importer._files


def test_rewritten_zip_is_reread(probe_zip, monkeypatch):
    """An archive rewritten mid-session (addPyFile) is picked up."""
    _patch_as_worker(monkeypatch)
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(probe_zip)]
    before = importer._files[f"{MOD}.py"]
    _write_zip(probe_zip, 2, pad=64)
    importlib.invalidate_caches()
    assert importer._files[f"{MOD}.py"] != before
    del sys.modules[MOD]
    assert importlib.import_module(MOD).V == 2


def test_deleted_zip_clears_entries(probe_zip, monkeypatch):
    _patch_as_worker(monkeypatch)
    importlib.invalidate_caches()
    probe_zip.unlink()
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(probe_zip)]
    assert importer._files == {}
    assert str(probe_zip) not in zipimport._zip_directory_cache
    assert str(probe_zip) not in pyworker._STAMPS


def test_no_patch_outside_a_worker():
    """The driver (pyspark imported, not a worker) and a plain interpreter
    keep the stdlib method after `import engine`."""
    code = (
        "import zipimport; stdlib = zipimport.zipimporter.invalidate_caches\n"
        "{pre}import engine.extract.udf\n"
        "from engine import pyworker\n"
        "assert not pyworker.patch_worker()\n"
        "assert zipimport.zipimporter.invalidate_caches is stdlib\n"
        "assert stdlib.__module__ == 'zipimport'\n"
    )
    for pre in ("", "import pyspark.core.files\n"):
        subprocess.run(
            [sys.executable, "-c", code.format(pre=pre)], cwd=REPO, check=True
        )
    assert zipimport.zipimporter.invalidate_caches is pyworker._STDLIB_INVALIDATE


_BODY_CALLS = {"mapInPandas", "mapInArrow", "applyInPandas", "pandas_udf"}


def _unpatched_bodies(path: pathlib.Path) -> list:
    """Python bodies defined inside a function of `path` and handed to a
    Spark Python operator that name no module-level def, class or engine
    import of that module and import no engine module themselves. Such a
    body is pickled by value, so a worker unpickling it never imports
    `engine` and never gets the gated method."""
    tree = ast.parse(path.read_text())
    top = set()
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.ClassDef)):
            top.add(n.name)
        elif isinstance(n, ast.ImportFrom) and (n.module or "").startswith("engine"):
            top.update(a.asname or a.name for a in n.names)
    bad = []
    for fn in (n for n in tree.body if isinstance(n, ast.FunctionDef)):
        nested = {
            n.name: n for n in ast.walk(fn)
            if isinstance(n, ast.FunctionDef) and n is not fn
        }
        for call in (c for c in ast.walk(fn) if isinstance(c, ast.Call)):
            op = getattr(call.func, "attr", getattr(call.func, "id", None))
            if op not in _BODY_CALLS or not call.args:
                continue
            arg = call.args[0]
            body = nested.get(arg.id) if isinstance(arg, ast.Name) else arg
            if not isinstance(body, (ast.FunctionDef, ast.Lambda)):
                continue  # a module-level body is pickled by reference
            names = {n.id for n in ast.walk(body) if isinstance(n, ast.Name)}
            imports_engine = any(
                isinstance(n, ast.ImportFrom) and (n.module or "").startswith("engine")
                for n in ast.walk(body)
            )
            if not (names & top or imports_engine):
                bad.append(f"{path.relative_to(REPO)}:{call.lineno}")
    return bad


def test_every_worker_body_imports_engine():
    paths = sorted((REPO / "engine").rglob("*.py"))
    bad = [b for p in paths for b in _unpatched_bodies(p)]
    assert not bad, bad


_LIVE = """
import json, os, sys
from pyspark.sql import SparkSession


def report(batches):
    import zipimport
    import pyarrow as pa
    from engine import pyworker
    for _ in batches:
        c = pyworker._COUNTS
        yield pa.RecordBatch.from_pylist([dict(
            pid=os.getpid(), calls=c["calls"], reads=c["reads"],
            gated=zipimport.zipimporter.invalidate_caches
            is pyworker._gated_invalidate_caches,
            zips=sum(isinstance(f, zipimport.zipimporter)
                     for f in sys.path_importer_cache.values()),
        )])


spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
rows = spark.range(0, 12, 1, 12).mapInArrow(
    report, "pid long, calls long, reads long, gated boolean, zips long"
).collect()
import zipimport
from engine import pyworker
print(json.dumps({
    "tasks": [r.asDict() for r in rows],
    "driver_stdlib": zipimport.zipimporter.invalidate_caches
    is pyworker._STDLIB_INVALIDATE,
}))
spark.stop()
"""


def test_live_tasks_take_the_gated_path():
    """12 one-row mapInArrow tasks at local[2] on fresh workers: each
    worker's first task ran the stdlib invalidation (0 gated calls when its
    body runs); every later task on that worker ran the gated method (calls
    rise task to task), and after a worker's second task no archive is read
    again."""
    out = subprocess.run(
        [sys.executable, "-c", _LIVE], cwd=REPO, check=True,
        capture_output=True, text=True, timeout=300,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["driver_stdlib"]
    tasks = got["tasks"]
    assert len(tasks) == 12
    assert all(t["gated"] for t in tasks)
    by_pid: dict[int, list] = {}
    for t in tasks:
        by_pid.setdefault(t["pid"], []).append(t)
    assert max(len(ts) for ts in by_pid.values()) >= 3
    for ts in by_pid.values():
        ts.sort(key=lambda t: t["calls"])
        assert ts[0]["calls"] == 0
        assert all(a["calls"] < b["calls"] for a, b in zip(ts, ts[1:]))
        # the gated pass reads each archive once, not once per importer
        assert all(t["reads"] < t["zips"] for t in ts)
        assert len({t["reads"] for t in ts[1:]}) <= 1
