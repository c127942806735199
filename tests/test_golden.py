"""Golden byte-identity tests (BASELINE.json:2 — match rate must be 100%).

Goldens were frozen once at extractor_version 1.0.0 and hand-audited:
boilerplate_heavy_* contain only article text (no nav/cookie/footer strings),
link_farm is the empty string (sha256 e3b0c4…, the empty-input digest),
pdf_text is the geometric-reading-order reassembly, empty_junk is a failed
row. This file is the analog of the reference's ground-truth comparison
stages (emop/lib/processes/juxta_compare.py, retas_compare.py [U]) recast as
a hard pass/fail gate.
"""

from __future__ import annotations

import hashlib
import random
import types

from engine.extract import core
from engine.extract.core import EXTRACTOR_VERSION, extract_document
from engine.synth import gen_doc
from tests.golden_tool import (
    FIXTURE_DIR,
    _soup_tags,
    diff_modules,
    inputs,
    load_manifest,
    tag_soup,
)


def test_extractor_version_matches_frozen():
    assert load_manifest()["extractor_version"] == EXTRACTOR_VERSION


def test_golden_byte_identity_match_rate_100():
    manifest = load_manifest()
    matches, total = 0, 0
    failures = []
    for name, entry in sorted(manifest["docs"].items()):
        row = gen_doc(entry["doc_index"])[0]
        assert row["url"] == entry["url"], name
        rec = extract_document(row["html"])
        total += 1
        if rec["status"] != entry["status"] or (rec["error"] or None) != (
            entry.get("error") or None
        ):
            failures.append((name, "status", rec["status"], rec["error"]))
            continue
        if "sha256" in entry:
            got = hashlib.sha256(rec["text"].encode("utf-8")).hexdigest()
            if got != entry["sha256"]:
                failures.append((name, "sha", got, entry["sha256"]))
                continue
            frozen = (FIXTURE_DIR / f"{name}.txt").read_bytes()
            if rec["text"].encode("utf-8") != frozen:
                failures.append((name, "bytes", len(rec["text"]), len(frozen)))
                continue
        if len(rec["spans"] or []) != entry["n_spans"]:
            failures.append((name, "spans", len(rec["spans"] or []), entry["n_spans"]))
            continue
        matches += 1
    assert not failures, failures
    assert matches == total == len(manifest["docs"])


def test_diff_tool_reports_each_changed_field():
    """`golden_tool.py diff` compares every extract_document field: a core
    whose n_chars differs is caught on every case, with the field named,
    and a core compared with itself shows no diff."""
    stub = types.SimpleNamespace(
        extract_document=lambda data: dict(extract_document(data), n_chars=-1)
    )
    n_cases, n_diffs, first = diff_modules(core, stub, inputs(3, 40), show=2)
    assert n_cases == n_diffs >= 43
    assert [set(fields) for _, _, fields in first] == [{"n_chars"}] * 2
    assert diff_modules(core, core, inputs(3, 40))[1] == 0


def test_tag_soup_covers_every_special_tag():
    """The differential fuzz opens and closes every ignored, raw-text and
    void tag."""
    rng, tags = random.Random(0), _soup_tags()
    soup = b"".join(tag_soup(rng, tags) for _ in range(2000)).decode(
        "utf-8", errors="replace"
    )
    special = (core._IGNORE_SUBTREE_TAGS | core._RAWTEXT_TAGS
               | core._VOID_TAGS)
    for tag in special:
        assert f"<{tag}" in soup and f"</{tag}" in soup, tag
