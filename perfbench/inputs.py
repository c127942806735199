"""Seeded benchmark inputs, generated once per (kind, seed, size) into the
benchmark's cache under the checkout.

* pages corpora come from the engine's own generator (`engine.synth`), one
  document per seed-keyed index, written as many small parquet files so the
  scan yields several tasks per core;
* the query leaves' tables (`lineitem`, `documents`) are fixed copies of
  TESTDATA.md's sf0.01 and sf0.001 tables under perfbench/data/;
* each pages corpus carries an in-process reference (status of every row,
  from `extract_document` in a spawn pool) that the correctness checks
  compare Spark's output against.

Generation happens before any timed or set-up region. The cache is keyed by
seed and size, so a repeated seed reuses the files.
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
import random
import shutil
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_FILES = 32
SAMPLE_URLS = 512


def _atomic_dir(final: str, build) -> str:
    """Build into a temp dir and rename, so a killed run never leaves a
    half-written cache entry that a later run would trust."""
    if os.path.exists(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.rename(tmp, final)
    return final


def _doc_class(url: str, html: bytes) -> str:
    if url.endswith(".pdf"):
        return "pdf"
    if url.endswith(".bin"):
        return "junk"
    head = html[:200]
    if b"charset=\"iso-8859-1\"" in head:
        return "malformed"
    if b"<!DOCTYPE" in head:
        return "boilerplate_heavy"
    if b"class=\"links\"" in html:
        return "link_farm"
    if b"<table>" in html:
        return "tables_lists"
    return "plain_minimal"


def _statuses(htmls: list) -> list:
    from engine.extract.core import extract_document

    return [extract_document(h)["status"] for h in htmls]


def _reference_statuses(htmls: list, procs: int) -> list:
    chunk = max(1, math.ceil(len(htmls) / (procs * 4)))
    parts = [htmls[i : i + chunk] for i in range(0, len(htmls), chunk)]
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        done = pool.map(_statuses, parts)
        pool.close()
        pool.join()
    return [s for part in done for s in part]


def pages(cache: str, tag: str, seed: int, n_docs: int, procs: int) -> dict:
    """Pages corpus of `n_docs` synth documents (re-crawls add ~2% rows).

    Returns {"path", "meta"}; meta holds the row count, html MB, doc-class
    mix, the reference ok-row count and the check sample's urls."""
    from engine.synth import gen_doc

    final = os.path.join(cache, f"pages-{tag}-s{seed}-n{n_docs}-f{PAGES_FILES}")

    def build(tmp):
        rows = [r for i in range(n_docs) for r in gen_doc(i, seed)]
        rows.sort(key=lambda r: (r["url"], r["warc_ts"]))
        urls = [r["url"] for r in rows]
        htmls = [r["html"] for r in rows]
        table = pa.table(
            {
                "url": pa.array(urls, pa.string()),
                "warc_ts": pa.array(
                    [r["warc_ts"] for r in rows], pa.timestamp("us", tz="UTC")
                ),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array([r["text"] for r in rows], pa.string()),
                "lang": pa.array([r["lang"] for r in rows], pa.string()),
            }
        )
        # shuffle rows across files so every file has the same class mix
        order = list(range(len(rows)))
        random.Random(seed).shuffle(order)
        step = math.ceil(len(order) / PAGES_FILES)
        for k in range(PAGES_FILES):
            idx = pa.array(sorted(order[k * step : (k + 1) * step]), pa.int64())
            pq.write_table(table.take(idx), os.path.join(tmp, f"part-{k:03d}.parquet"))
        status = _reference_statuses(htmls, procs)
        meta = {
            "seed": seed,
            "docs": n_docs,
            "rows": len(rows),
            "distinct_urls": len(set(urls)),
            "html_mb": sum(len(h) for h in htmls) / 1e6,
            "class_mix": dict(
                sorted(Counter(_doc_class(u, h) for u, h in zip(urls, htmls)).items())
            ),
            "ok_rows": status.count("ok"),
            "sample_urls": sorted(
                random.Random(seed + 1).sample(sorted(set(urls)), min(SAMPLE_URLS, len(set(urls))))
            ),
        }
        with open(os.path.join(tmp, "_meta.json"), "w") as f:
            json.dump(meta, f)

    path = _atomic_dir(final, build)
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    return {"path": path, "meta": meta}


def read_html(path: str, urls: list) -> dict:
    """url → html bytes for the given urls (latest crawl wins; re-crawls
    carry the same payload)."""
    want = set(urls)
    out = {}
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(path, name), columns=["url", "html"])
        for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist()):
            if u in want:
                out[u] = h
    return out


def curation_tables(sf: float) -> str:
    """Directory of the `lineitem` and `documents` tables (the inputs of the
    traced run's query leaves) at scale factor `sf`: unmodified copies of the
    repository's TESTDATA.md tables (seed 42), kept under perfbench/data/
    because a run reads only inside its checkout. They do not depend on
    --seed."""
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", f"sf{sf}")
