"""Every top-level `engine/` def or class is reachable from outside the
test suite, and every option of an `engine/` def is set from outside it.

Static scans, no Spark. The roots are the tracked `.py` files outside
`engine/` and `tests/` (`__spark_entry__.py`, bench.py, perfbench, ...)
plus `engine/` itself.

Reachability: from the root files and everything `engine/` runs at
import — module-level statements, decorators and default values — the
scan follows every name a reached body mentions (a bare name or an
attribute) to each top-level `engine/` def of that name, transitively.
String constants are not followed, so a docstring naming a def does not
keep it alive. A def no root reaches is code only the tests call: delete
it with its tests, or put it on ALLOWLIST with the reason it stays.

Options: a defaulted parameter of an `engine/` def or method is an
option, and some call in the roots must pass it, by keyword or by
position. A call reaches the defs named like its callee; a call through
a local dispatch variable (`reader = _READERS[fmt]`, then `reader(...,
glob=...)`) reaches the defs named in that variable's value, for its
keywords; `functools.partial(f, ...)` passes its arguments to `f`. A def
that passes its own option straight on (`f(x=x)`) sets the inner option
only if the outer one is itself set. An option no root sets is a value
only a test picks: make it the module constant it defaults to, or put it
on OPTIONS_ALLOWLIST with the reason it stays.
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
}

# `module.def(option)` -> why it stays although no root sets it
OPTIONS_ALLOWLIST = {
    "engine.cli.main(argv)": (
        "the console entry point: `python -m engine.cli` leaves it None so "
        "argparse reads sys.argv"
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


def _engine_scopes():
    """(module, def key, node, leading bound parameters) of every
    top-level `engine/` function and class method — the def key being
    `module.qualname` — plus (module, None, statement, 0) of every other
    top-level statement; and each module's top-level assignments, name ->
    value."""
    scopes, values = [], {}
    for path in sorted((REPO / "engine").rglob("*.py")):
        mod = ".".join(path.relative_to(REPO).with_suffix("").parts)
        values[mod] = {}
        for stmt in ast.parse(path.read_text()).body:
            members = stmt.body if isinstance(stmt, ast.ClassDef) else [stmt]
            for m in members:
                if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    scopes.append((mod, None, m, 0))
                    continue
                qual = m.name
                bound = 0
                if m is not stmt:
                    qual = f"{stmt.name}.{m.name}"
                    bound = "staticmethod" not in _names(m.decorator_list)
                scopes.append((mod, f"{mod}.{qual}", m, int(bound)))
            if isinstance(stmt, ast.Assign):
                for t in stmt.targets:
                    if isinstance(t, ast.Name):
                        values[mod][t.id] = stmt.value
    return scopes, values


def _options(fn: ast.AST, bound: int) -> dict[str, int | None]:
    """Defaulted parameter -> its position in a call (None: keyword-only)."""
    a = fn.args
    pos = (a.posonlyargs + a.args)[bound:]
    out = {p.arg: i for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)}
    out.update(
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return out


def unset_options() -> list[str]:
    """`module.def(option)` of every option no call in the roots sets."""
    scopes, values = _engine_scopes()
    options: dict[str, dict[str, int | None]] = {}
    by_callee: dict[str, list[str]] = {}
    for _, key, fn, bound in scopes:
        if key is None:
            continue
        options[key] = _options(fn, bound)
        owner, _, name = key.rpartition(".")
        by_callee.setdefault(name, []).append(key)
        if name == "__init__":  # `Cls(...)` calls `Cls.__init__`
            by_callee.setdefault(owner.rpartition(".")[2], []).append(key)

    # (def key, option) -> (value, enclosing def key) of each call setting it
    sets: dict[tuple[str, str], list[tuple[ast.AST | None, str | None]]] = {}

    def scan(node, mod, enclosing):
        dispatch = {}  # local variable -> def names its value mentions
        for n in ast.walk(node):
            if mod and isinstance(n, ast.Assign):
                names = _names([n.value])
                names |= _names(values[mod][x] for x in names if x in values[mod])
                for t in n.targets:
                    if isinstance(t, ast.Name):
                        dispatch.setdefault(t.id, set()).update(names)
        for call in ast.walk(node):
            if not isinstance(call, ast.Call):
                continue
            f, args = call.func, call.args
            if getattr(f, "id", getattr(f, "attr", None)) == "partial" and args:
                # functools.partial(fn, *args, **kw) binds them for fn
                f, args = args[0], args[1:]
            callee = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            # a dispatch variable's callees are reached by keyword only
            targets = [(k, True) for k in by_callee.get(callee, [])] or [
                (k, False)
                for x in dispatch.get(callee, ()) for k in by_callee.get(x, [])
            ]
            starred = any(isinstance(x, ast.Starred) for x in args)
            spread = any(k.arg is None for k in call.keywords)
            for key, positional in targets:
                for opt, i in options[key].items():
                    passed = [k.value for k in call.keywords if k.arg == opt]
                    if positional and i is not None and i < len(args):
                        passed.append(args[i])
                    elif spread or (positional and i is not None and starred):
                        passed.append(None)
                    for v in passed:
                        sets.setdefault((key, opt), []).append((v, enclosing))

    for mod, key, node, _ in scopes:
        scan(node, mod, key)
    for path in _root_files():
        scan(ast.parse(path.read_text()), None, None)

    # a call that passes on its enclosing def's own option sets the target
    # only once that option is set: grow the set options to a fixpoint
    live: set[tuple[str, str]] = set()
    grew = True
    while grew:
        grew = False
        for target, found in sets.items():
            if target not in live and any(
                not (enc and isinstance(v, ast.Name) and v.id in options[enc])
                or (enc, v.id) in live
                for v, enc in found
            ):
                live.add(target)
                grew = True
    return sorted(
        f"{key}({opt})"
        for key, opts in options.items() for opt in opts
        if (key, opt) not in live
    )


def test_every_engine_option_is_set_outside_the_tests():
    found = unset_options()
    dead = [o for o in found if o not in OPTIONS_ALLOWLIST]
    assert not dead, (
        f"engine options no caller outside the tests sets: {dead} — make "
        "each the module constant it defaults to, or add it to "
        "OPTIONS_ALLOWLIST with a reason"
    )
    stale = set(OPTIONS_ALLOWLIST) - set(found)
    assert not stale, f"allowlisted but set: {sorted(stale)}"
