"""Vectorized Spark wrappers over the pure-Python extractor core.

BASELINE.json input_hint demands "vectorized pandas/Arrow UDFs (no per-row
Python) throughout": html BINARY crosses the JVM→Python Arrow channel exactly
once per batch, the whole R1–R5 stage chain of the reference
(tesseract→xml_to_text→denoise→multi_column_skew→page_evaluator [U]) runs as
ONE fused function over the batch (SURVEY.md §3.3 dedup note), and the
(text, spans, metrics) result crosses back once.

`mapInArrow` is the one surface (SURVEY §3.3's target): the measured A/B on
the 150k-doc bench corpus (interleaved min-of-3 at local[32]) put the arrow
body at 34.4k docs/s vs 30.7k for a byte-identical mapInPandas body (+12%)
— the win is skipping the Arrow→pandas→Arrow hop on both sides of the
channel. No scalar pandas_udf either: the output is a 10-column
struct-per-row (spans is array<struct>) — one pass, one schema, no column
reassembly on the JVM side.

The per-task worker setup before this body runs (pyspark's import-cache
invalidation, which re-read pyspark.zip on every task) is stat-gated by
engine/pyworker.py from a worker's second task on.
"""

from __future__ import annotations

import hashlib

from pyspark.accumulators import AccumulatorParam

from engine.extract.core import extract_document
from engine.schema import EXTRACTED_SCHEMA


class LineageParam(AccumulatorParam):
    """Accumulator of per-partition lineage lanes, {partition_id: [docs,
    n_chars sum, row digest sum]}: each task adds its own dict once, and
    the driver adds the lanes of every partition id."""

    def zero(self, value):
        return {}

    def addInPlace(self, acc, more):
        for pid, lanes in more.items():
            acc[pid] = [a + b for a, b in zip(acc.get(pid, (0, 0, 0)), lanes)]
        return acc


def lineage_digest(url: str | None, value: str | None) -> int:
    """A row's 64-bit lineage digest: blake2b over the url's length, the
    url and the stage's column (a null reads as ''), so no two (url,
    value) pairs share an encoding."""
    url, value = url or "", value or ""
    h = hashlib.blake2b(f"{len(url)}:{url}{value}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def extract_batches_arrow(batches, lineage=None):
    """mapInArrow body: (url, html[, partition_id]) batches → extracted
    batches. html bytes come out of the RecordBatch via to_pylist() (the
    tokenizer needs Python bytes), and the output batch is assembled
    straight into pyarrow arrays against the declared schema. A batch that
    carries partition_id (the wave-committed job path: partitioned writes
    and lineage) gets it passed through as the last column.

    `lineage`, set by the job path, is (accumulator, column): each emitted
    row is folded into its partition's [docs, n_chars sum, digest sum]
    lanes, the digest taken over the url and that output column
    (`lineage_digest`), and the task's lanes are added to the accumulator
    (a `LineageParam`) once, after its last batch."""
    import pyarrow as pa

    from engine.schema import extracted_arrow_schema

    out_schema = extracted_arrow_schema()
    out_cols = out_schema.names
    lanes: dict[int, tuple[int, int, int]] = {}
    for batch in batches:
        urls = batch.column("url").to_pylist()
        htmls = batch.column("html").to_pylist()
        cols: dict[str, list] = {c: [] for c in out_cols}
        cols["url"] = urls
        if lineage:
            pids = batch.column("partition_id").to_pylist()
        for i, html in enumerate(htmls):
            rec = extract_document(html)
            for c in out_cols[1:]:
                cols[c].append(rec[c])
            if lineage:
                docs, chars, digests = lanes.get(pids[i], (0, 0, 0))
                lanes[pids[i]] = (docs + 1, chars + rec["n_chars"],
                                  digests + lineage_digest(urls[i], rec[lineage[1]]))
        arrays = [pa.array(cols[c], type=out_schema.field(c).type) for c in out_cols]
        schema = out_schema
        if "partition_id" in batch.schema.names:
            arrays.append(batch.column("partition_id"))
            schema = out_schema.append(batch.schema.field("partition_id"))
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)
    if lineage:
        lineage[0].add(lanes)


def run_extract(pages_df):
    """pages → extracted, via mapInArrow (the measured-faster surface; see
    module doc). Column-prunes to (url, html) before the UDF so only the
    needed bytes cross the Arrow channel."""
    return pages_df.select("url", "html").mapInArrow(
        extract_batches_arrow, schema=EXTRACTED_SCHEMA
    )


def dedup_latest_crawl(pages_df, canonical: bool = False):
    """One row per url: keep the latest warc_ts (re-crawl wins). The per-url
    byte-identical invariant (BASELINE.json:14) is defined over THIS view —
    a url extracted twice from two crawls is one logical document.
    One shuffle on the dedup key, scale-safe.

    `canonical=True` keys the dedup on engine.sources.canonical_url
    instead of the raw string, so trivially-different spellings of one
    resource (case, default port, fragment, utm tracking params) collapse
    to one logical document; the surviving row keeps its ORIGINAL url.
    Ties on warc_ts within a canonical group break on url for a
    deterministic winner. Off by default: raw-key dedup is the frozen
    goldens' behavior and canonicalization is the ingest owner's call."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    if canonical:
        from engine.sources import canonical_url

        key = canonical_url("url")
        w = W.partitionBy(key).orderBy(F.desc("warc_ts"), F.asc("url"))
    else:
        w = W.partitionBy("url").orderBy(F.desc("warc_ts"))
    return (
        pages_df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
