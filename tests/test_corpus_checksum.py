"""Corpus-level determinism pin: an aggregate checksum over the first 2000
synthetic docs' extraction output, frozen at extractor_version 1.0.0.

The 11 golden files cover one doc per fixture class; this pins the WHOLE
distribution (all template variants, all langs, all failure modes, re-crawl
dups). Any change to engine/synth.py or engine/extract/core.py output —
however subtle — flips this hash. If the change is deliberate, regenerate
(command in the assert message), hand-audit a sample diff, bump
EXTRACTOR_VERSION, and update both constants here.

FROZEN_SHA hashes only text/status/error. FROZEN_FULL_SHA pins every other
output column too (spans with node_path/start/end, n_chars, link_density,
boiler_ratio, quality, extractor_version), so a span-offset or metric drift
with unchanged text also fails. It was frozen from the 1.2.0 extractor
before the tokenizer's lean ignored-subtree pass, and re-frozen at 1.2.1
(raw-text close search after U+0130), where extractor_version is the only
column that changed on this corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.extract.udf import run_extract
from engine.synth import generate_pages

FROZEN_SHA = "161733f9d26f0c828d6f5ca39e9d1375576499ebc003a47e703df6b2c102b23e"
FROZEN_FULL_SHA = "7647f229a08336da48a2ff0fa16b878430fcec1fdc582a5da86f0b393dcf77d6"
FROZEN_ROWS = 2043
N_DOCS = 2000


def _corpus_digest(spark, *cols):
    """(rows, sha256 over the sorted per-row lines "url:col1:col2...")."""
    out = run_extract(generate_pages(spark, N_DOCS, partitions=8))
    row = (
        out.select(F.concat_ws(":", "url", *cols).alias("line"))
        .agg(
            F.sha2(
                F.concat_ws("\n", F.sort_array(F.collect_list("line"))), 256
            ).alias("h"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    return row["n"], row["h"]


def test_corpus_extraction_checksum_frozen(spark):
    n, h = _corpus_digest(
        spark,
        F.sha2(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"), 256),
        F.coalesce(F.col("status"), F.lit("")),
        F.coalesce(F.col("error"), F.lit("")),
    )
    assert n == FROZEN_ROWS
    assert h == FROZEN_SHA, (
        "corpus extraction output changed — if deliberate, recompute via the "
        "snippet in this test, hand-audit, bump EXTRACTOR_VERSION, update "
        "FROZEN_SHA/FROZEN_ROWS"
    )


def test_corpus_extraction_full_columns_frozen(spark):
    n, h = _corpus_digest(
        spark,
        F.sha2(
            F.to_json(
                F.struct(
                    "spans", "n_chars", "link_density", "boiler_ratio",
                    "quality", "extractor_version",
                )
            ),
            256,
        ),
    )
    assert n == FROZEN_ROWS
    assert h == FROZEN_FULL_SHA, (
        "corpus span/metric output changed — if deliberate, recompute via "
        "the snippet in this test, hand-audit, bump EXTRACTOR_VERSION, "
        "update FROZEN_FULL_SHA"
    )
