"""The call-scoped persist primitive of engine/queries.py (`_call_scope`):
every persisting query family holds its current call's frames cached, and
no query persists a frame any other way."""

from __future__ import annotations

import ast
import pathlib
from unittest import mock

import pytest
from pyspark import StorageLevel

from engine import queries as Q
from tests.test_plans import SF, _plan

# every query that persists, with the call-scope family it persists under
PERSISTING = [
    ("kmeans", "q_kmeans_clusters"),
    ("semdedup", "q_semdedup_prune_fast"),
    ("incremental_dedup", "q_incremental_dedup"),
    ("bpe", "q_bpe_train_merges"),
    ("bpe", "q_bpe_encode_stats"),
    ("triangle", "q_triangle_parts"),
    ("pagerank", "q_pagerank_txn_graph"),
]


@pytest.mark.parametrize(
    "family,query", PERSISTING, ids=[q for _, q in PERSISTING]
)
def test_repeat_call_keeps_its_persists(spark, family, query):
    """A repeat call builds the same plans as the call before it, so its
    frames share the previous call's CacheManager entries: releasing the
    previous frames AFTER persisting the new ones un-caches the current
    call too (the triangle edge table was dropped this way on every call
    after the first). After two calls, the second call's result must
    still plan over its caches, and every frame held for it must still be
    persisted."""
    fn = getattr(Q, query)
    # lift incremental_dedup's size gate so the small input persists
    with mock.patch.object(Q, "_INC_DEDUP_PERSIST_MIN_BYTES", 0):
        fn(spark, SF)
        df = fn(spark, SF)
    plan = _plan(df)
    assert "InMemoryTableScan" in plan, plan
    held = Q._CALL_PERSISTS[family]
    assert held
    for frame in held:
        assert frame.storageLevel != StorageLevel.NONE


def test_only_the_call_scope_persists():
    """Tooling guard: `.persist(` appears in engine/queries.py only inside
    `_call_scope`, so every persisted frame has one owner and one release
    rule (no module-global cache list of its own)."""
    tree = ast.parse(pathlib.Path(Q.__file__).read_text())
    scope = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "_call_scope"
    )
    inside = {id(n) for n in ast.walk(scope)}
    persists = [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "persist"
    ]
    assert [n.lineno for n in persists if id(n) not in inside] == []
    assert any(id(n) in inside for n in persists)
