"""Generate (once) and load the frozen golden corpus.

Goldens pin the byte-identical invariant (BASELINE.json:2): since the
reference binaries are unavailable in-sandbox (SURVEY.md §0), goldens were
generated ONCE by engine/extract/core.py at EXTRACTOR_VERSION 1.0.0,
hand-audited (see test_golden.py docstring), and frozen into
tests/fixtures/golden/. Re-frozen at 1.1.0 (malformed-anchor fix): all 11
texts byte-identical to 1.0.0, only the manifest version changed. `python tests/golden_tool.py regen` is the only
sanctioned way to re-freeze, and any diff it produces must be reviewed as a
semantic change to the extractor.

`python tests/golden_tool.py diff [REV]` is the differential gate for
extractor changes that must not change output: it loads REV's
engine/extract/core.py through `git show` and compares every field of
`extract_document` but the `extractor_version` label against the working
tree's, over DIFF_DOCS synth docs
from each of several seeds plus DIFF_FUZZ seeded tag-soup cases (every
ignored/raw-text/void/block tag, anchors, quoted '>' in attributes, class/id
hints, entities, comments, stray '<', mis-nesting, truncation). It prints
the first diffs and exits non-zero on any. REV defaults to HEAD, which is
right for uncommitted work; once the change is committed, pass its parent
(`diff HEAD~1`, or the merge base). A REV whose core.py equals the working
tree's is refused (exit 2), since that comparison cannot find anything.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import random
import subprocess
import sys
import types

REPO = pathlib.Path(__file__).parent.parent
FIXTURE_DIR = pathlib.Path(__file__).parent / "fixtures" / "golden"

# doc index in the seed-42 synthetic corpus per fixture class (FIXTURES.md §1)
FIXTURE_DOCS = {
    "boilerplate_heavy_zh": 0,
    "boilerplate_heavy_de": 1,
    "plain_minimal": 2,
    "pdf_text": 3,
    "boilerplate_heavy_en": 4,
    "link_farm": 5,
    "boilerplate_heavy_fr": 23,
    "tables_lists": 33,
    "empty_junk": 51,
    "boilerplate_heavy_ar": 59,
    "malformed": 66,
}


def regen() -> None:
    sys.path.insert(0, str(REPO))
    from engine.extract.core import EXTRACTOR_VERSION, extract_document
    from engine.synth import gen_doc

    FIXTURE_DIR.mkdir(parents=True, exist_ok=True)
    manifest = {"extractor_version": EXTRACTOR_VERSION, "docs": {}}
    for name, idx in sorted(FIXTURE_DOCS.items()):
        row = gen_doc(idx)[0]
        rec = extract_document(row["html"])
        entry = {
            "doc_index": idx,
            "url": row["url"],
            "lang": row["lang"],
            "status": rec["status"],
            "error": rec["error"],
            "n_spans": len(rec["spans"] or []),
        }
        if rec["text"] is not None:
            (FIXTURE_DIR / f"{name}.txt").write_bytes(rec["text"].encode("utf-8"))
            entry["sha256"] = hashlib.sha256(
                rec["text"].encode("utf-8")
            ).hexdigest()
        manifest["docs"][name] = entry
    (FIXTURE_DIR / "manifest.json").write_text(
        json.dumps(manifest, indent=2, sort_keys=True) + "\n"
    )
    print(f"froze {len(FIXTURE_DOCS)} goldens → {FIXTURE_DIR}")


def load_manifest() -> dict:
    return json.loads((FIXTURE_DIR / "manifest.json").read_text())


# ------------------------------------------------------------ differential


def module_from_source(source: str, name: str) -> types.ModuleType:
    """Execute an extractor core's source as a fresh module."""
    mod = types.ModuleType(name)
    mod.__file__ = name
    sys.modules[name] = mod  # dataclasses resolve their module by name
    exec(compile(source, name, "exec"), mod.__dict__)
    return mod


def core_source(rev: str) -> str:
    """engine/extract/core.py as committed at git revision `rev`."""
    return subprocess.run(
        ["git", "show", f"{rev}:engine/extract/core.py"],
        cwd=REPO, check=True, capture_output=True, text=True,
    ).stdout


SYNTH_SEEDS = (7, 42, 3001, 1000007)
DIFF_DOCS = 5000    # synth docs per seed
DIFF_FUZZ = 30000   # tag-soup cases
DIFF_SHOW = 5       # diffs printed in full

_WORDS = (
    "alpha beta gamma delta epsilon, zeta; eta. Privacy cookies Home "
    "menu item Kontakt über straße 中文 文本 مرحبا İzmir").split()
_TEXT_BITS = (
    "&amp;", "&nbsp;", "&lt;p&gt;", "&#65;", "&#x41;", "&unknown;", "&amp",
    "&copy", " < ", "a<b", "3 < 5", "</", "</ p>", "<", "<<", ">", " \n\t ",
    "x&nbsp;y", "\u00a0", "\u2003",
)
_HINTS = ("nav", "menu", "article", "content", "main-body", "ad", "ads",
          "comment", "sidebar", "x", "post entry", "Footer", "")
_ATTRS = (
    ' class="{h}"', " class='{h}'", " id={h}", ' id="{h}"', ' href="/x"',
    " href=/x", ' data-x="a>b"', " title='it\"s > that'", ' alt="it\'s"',
    " x=y/", " checked", ' class = "{h}"', " CLASS={h}", ' style="a:b"',
    " width=3", ' idx="1"', ' classy="{h}"',
)
_UNCLOSED_ATTRS = (' data-q="', " data-s='")
_EXTRA_TAGS = (
    "a", "A", "span", "b", "i", "em", "strong", "DIV", "NaV", "Head", "P",
    "template", "svg", "math:mi", "custom-el", "x1", "h1", "h3", "h6",
    "title", "body", "html", "head", "ul", "li", "table", "td", "tr",
)


def _soup_tags() -> list[str]:
    from engine.extract import core

    names = (core._IGNORE_SUBTREE_TAGS | core._RAWTEXT_TAGS | core._VOID_TAGS
             | core._BLOCK_TAGS | core._CONTAINER_TAGS | core._HEAD_ONLY_TAGS)
    return sorted(names) + list(_EXTRA_TAGS)


def _open_tag(rng: random.Random, tag: str) -> str:
    attrs = "".join(
        rng.choice(_ATTRS).format(h=rng.choice(_HINTS))
        for _ in range(rng.choice((0, 0, 1, 1, 2, 3)))
    )
    if rng.random() < 0.01:
        attrs += rng.choice(_UNCLOSED_ATTRS)
    end = rng.choice((">", ">", ">", ">", ">", "/>", " />", " >", "\n>"))
    return f"<{tag}{attrs}{end}"


def _text(rng: random.Random) -> str:
    words = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 12)))
    if rng.random() < 0.3:
        words += rng.choice(_TEXT_BITS) + rng.choice(_WORDS)
    return words


def _misc(rng: random.Random) -> str:
    r = rng.random()
    if r < 0.4:
        raw = rng.choice(("script", "style", "textarea", "noscript",
                          "SCRIPT", "Style"))
        body = rng.choice(("var a='<p>x</p>';", "p{}", "<b>t</b> words", "",
                           "a < b && c > d"))
        close = rng.choice((f"</{raw}>", f"</{raw.lower()} >",
                            f"</{raw.upper()}>", ""))
        return f"<{raw}>{body}{close}"
    if r < 0.7:
        return rng.choice(("<!-- c <p>x</p> -->", "<!--", "-->",
                           "<!DOCTYPE html>", "<?xml v='1'?>", "<!x", "<?",
                           "<!---->"))
    return rng.choice(("<", "</", "< p>", "<3", "<a", "<p", '<div class="x',
                       "<a href='y>z", "'", '"'))


def _nested(rng: random.Random, tags: list[str], out: list[str], depth: int) -> None:
    """A mostly well-formed subtree: balanced opens/closes with the odd
    unclosed element, stray close or self-closed element."""
    for _ in range(rng.randint(1, 5)):
        r = rng.random()
        if r < 0.45 and depth < 12:
            tag = rng.choice(tags)
            out.append(_open_tag(rng, tag))
            _nested(rng, tags, out, depth + 1)
            if rng.random() < 0.9:
                out.append(f"</{tag}>")
        elif r < 0.85:
            out.append(_text(rng))
        elif r < 0.93:
            out.append(_misc(rng))
        else:
            out.append(f"</{rng.choice(tags)}>")


def tag_soup(rng: random.Random, tags: list[str]) -> bytes:
    """One random markup document (seeded): either a flat stream of random
    open/close tags, text and other markup, or a mostly well-formed nested
    tree; optionally truncated anywhere, rarely with invalid UTF-8."""
    out: list[str] = []
    if rng.random() < 0.5:
        for _ in range(rng.randint(1, 80)):
            r = rng.random()
            tag = rng.choice(tags)
            if r < 0.35:
                out.append(_open_tag(rng, tag))
            elif r < 0.55:
                out.append(rng.choice((f"</{tag}>", f"</{tag}>", f"</{tag} x>",
                                       f"</{tag.upper()}>", f"</{tag}")))
            elif r < 0.85:
                out.append(_text(rng))
            else:
                out.append(_misc(rng))
    else:
        if rng.random() < 0.5:
            out.append("<html><head><title>t</title>")
        _nested(rng, tags, out, 0)
    doc = "".join(out)
    if rng.random() < 0.3:
        doc = doc[: rng.randint(0, len(doc))]
    data = doc.encode("utf-8")
    if rng.random() < 0.05:
        data = data.replace(b"a", b"\xff", 1)
    return data


def inputs(n_docs: int, n_fuzz: int, seeds=SYNTH_SEEDS, fuzz_seed: int = 0):
    """(label, payload) pairs: every row of synth docs 0..n_docs-1 for each
    seed, then n_fuzz tag-soup documents."""
    from engine.synth import gen_doc

    for seed in seeds:
        for i in range(n_docs):
            for k, row in enumerate(gen_doc(i, seed)):
                yield f"synth seed={seed} doc={i} row={k}", row["html"]
    rng = random.Random(fuzz_seed)
    tags = _soup_tags()
    for c in range(n_fuzz):
        yield f"fuzz seed={fuzz_seed} case={c}", tag_soup(rng, tags)


def diff_modules(old, new, cases, show: int = 5) -> tuple[int, int, list]:
    """Compare every extract_document field of two cores over `cases`, but
    the `extractor_version` label (a deliberate change bumps it on every
    document; diff_main reports it once). Returns (n_cases, n_diffs, first
    `show` diffs)."""
    n_cases = n_diffs = 0
    first = []
    for label, data in cases:
        n_cases += 1
        a, b = old.extract_document(data), new.extract_document(data)
        a.pop("extractor_version", None)
        b.pop("extractor_version", None)
        if a != b:
            n_diffs += 1
            if len(first) < show:
                fields = sorted(k for k in a.keys() | b.keys() if a.get(k) != b.get(k))
                first.append((label, data, {k: (a.get(k), b.get(k)) for k in fields}))
    return n_cases, n_diffs, first


def diff_main(rev: str = "HEAD") -> int:
    sys.path.insert(0, str(REPO))
    from engine.extract import core as new

    source = core_source(rev)
    if source == pathlib.Path(new.__file__).read_text():
        print(f"{rev}:engine/extract/core.py is the working tree's core.py; "
              f"nothing to compare. For a committed change pass its parent, "
              f"e.g. `diff HEAD~1`.")
        return 2
    old = module_from_source(source, f"core@{rev}")
    if old.EXTRACTOR_VERSION != new.EXTRACTOR_VERSION:
        print(f"extractor_version {old.EXTRACTOR_VERSION} ({rev}) -> "
              f"{new.EXTRACTOR_VERSION} (tree); the other fields follow")
    n_cases, n_diffs, first = diff_modules(
        old, new, inputs(DIFF_DOCS, DIFF_FUZZ), DIFF_SHOW
    )
    for label, data, fields in first:
        print(f"DIFF {label}: {data[:300]!r}")
        for k, (a, b) in fields.items():
            print(f"  {k}:\n    {rev}: {a!r}\n    tree: {b!r}")
    print(f"{n_cases} cases ({DIFF_DOCS} synth docs x {len(SYNTH_SEEDS)} seeds, "
          f"{DIFF_FUZZ} tag-soup): {n_diffs} diffs vs {rev}")
    return 1 if n_diffs else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "regen":
        regen()
    elif len(sys.argv) > 1 and sys.argv[1] == "diff":
        sys.exit(diff_main(*sys.argv[2:3]))
    else:
        print(__doc__)
