"""Every top-level `engine/` def or class is reachable from outside the
test suite.

A static scan, no Spark: the roots are the tracked `.py` files outside
`engine/` and `tests/` (`__spark_entry__.py`, bench.py, perfbench, ...)
plus everything `engine/` runs at import — module-level statements,
decorators and default values. From there it follows every name a
reached body mentions (a bare name or an attribute) to each top-level
`engine/` def of that name, transitively. String constants are not
followed, so a docstring naming a def does not keep it alive. A def no
root reaches is code only the tests call: delete it with its tests, or
put it on ALLOWLIST with the reason it stays.
"""

from __future__ import annotations

import ast
import pathlib
import subprocess

REPO = pathlib.Path(__file__).parent.parent

# name -> why it stays although no root reaches it
ALLOWLIST = {
    "with_host_salted_partition_id": (
        "BASELINE's north star asks for explicit salting of hot hosts"
    ),
    "read_extracted_across": (
        "the read side of the increment verb's logical table; the "
        "url-disjointness tests read through it"
    ),
}


def _root_files() -> list[pathlib.Path]:
    """The tracked `.py` files outside `engine/` and `tests/` (every
    non-hidden one when the tree is not a git checkout)."""
    try:
        out = subprocess.run(
            ["git", "ls-files", "*.py"], cwd=REPO, capture_output=True,
            text=True, check=True,
        ).stdout.split()
        files = [REPO / f for f in out]
    except (OSError, subprocess.CalledProcessError):
        files = [
            p for p in REPO.rglob("*.py")
            if not any(s.startswith(".") for s in p.relative_to(REPO).parts)
        ]
    return [
        p for p in files
        if p.relative_to(REPO).parts[0] not in ("engine", "tests")
        and p.exists()
    ]


def _names(nodes) -> set[str]:
    """Every bare name and attribute name mentioned under `nodes`."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rpartition(".")[2])
    return out


def unreachable_defs() -> list[str]:
    """`module.name` of every top-level engine def or class no root
    reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: list[ast.AST] = []
    for path in sorted((REPO / "engine").rglob("*.py")):
        mod = ".".join(path.relative_to(REPO).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.ClassDef):
                defs.setdefault(stmt.name, []).append((mod, stmt))
                seeds += stmt.decorator_list + stmt.bases + stmt.keywords
            elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.setdefault(stmt.name, []).append((mod, stmt))
                seeds += stmt.decorator_list
                seeds += stmt.args.defaults + [
                    d for d in stmt.args.kw_defaults if d is not None
                ]
            else:
                seeds.append(stmt)
    for path in _root_files():
        seeds.append(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = _names(seeds)
    while todo:
        name = todo.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        todo |= _names(body for _, d in defs[name] for body in d.body)
    return sorted(
        f"{mod}.{name}"
        for name, found in defs.items() if name not in reached
        for mod, _ in found
    )


def test_every_engine_def_is_reachable_or_allowlisted():
    found = unreachable_defs()
    dead = [d for d in found if d.rpartition(".")[2] not in ALLOWLIST]
    assert not dead, (
        f"top-level engine defs that only tests reach: {dead} — delete "
        "them with their tests, or add them to ALLOWLIST with a reason"
    )
    stale = set(ALLOWLIST) - {d.rpartition(".")[2] for d in found}
    assert not stale, f"allowlisted but reachable: {sorted(stale)}"
