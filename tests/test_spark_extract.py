"""End-to-end Spark extraction over the tiny (1000-doc) synthetic corpus.

Covers: distributed synth (mapInPandas over range), the fused extract UDF,
golden byte-identity asserted THROUGH Spark (sha2 join against the frozen
manifest — the R7 JuxtaCompare analog as a DataFrame job), schema stability,
and run-to-run determinism of the whole distributed pipeline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from engine.extract.udf import run_extract
from engine.schema import EXTRACTED_SCHEMA
from engine.synth import generate_pages
from tests.golden_tool import load_manifest

N_TINY = 1000


@pytest.fixture(scope="module")
def extracted(spark):
    pages = generate_pages(spark, N_TINY, partitions=8)
    df = run_extract(pages).cache()
    df.count()
    yield df
    df.unpersist()


def test_schema_stable(extracted):
    assert extracted.schema == EXTRACTED_SCHEMA


def test_row_counts_and_statuses(extracted):
    # one output row per input row (re-crawled urls appear twice)
    n = extracted.count()
    assert n >= N_TINY
    by_status = dict(
        extracted.groupBy("status").count().collect()
    )
    assert by_status.get("ok", 0) > 0.95 * n
    assert 0 < by_status.get("failed", 0) < 0.05 * n
    # failed rows always carry an error; ok rows never do
    assert extracted.where(
        (F.col("status") == "failed") & F.col("error").isNull()
    ).count() == 0
    assert extracted.where(
        (F.col("status") == "ok") & F.col("error").isNotNull()
    ).count() == 0


def test_golden_byte_identity_via_spark(spark, extracted):
    manifest = load_manifest()
    rows = [
        (e["url"], e["sha256"])
        for e in manifest["docs"].values()
        if "sha256" in e and e["doc_index"] < N_TINY
    ]
    assert len(rows) >= 8
    golden = spark.createDataFrame(rows, "url string, golden_sha string")
    joined = (
        extracted.where(F.col("status") == "ok")
        .withColumn("sha", F.sha2(F.encode(F.col("text"), "UTF-8"), 256))
        .join(F.broadcast(golden), "url", "inner")
    )
    total = joined.count()
    matched = joined.where(F.col("sha") == F.col("golden_sha")).count()
    assert total == len(rows)
    assert matched == total  # 100% byte-identical match rate (BASELINE.json:2)


def test_distributed_determinism(spark, extracted):
    # same corpus, different partitioning → identical result set
    again = run_extract(generate_pages(spark, N_TINY, partitions=3))
    a = extracted.select("url", "n_chars", "status").exceptAll(
        again.select("url", "n_chars", "status")
    )
    assert a.count() == 0


def test_metrics_ranges(extracted):
    bad = extracted.where(
        (F.col("link_density") < 0)
        | (F.col("link_density") > 1)
        | (F.col("boiler_ratio") < 0)
        | (F.col("boiler_ratio") > 1)
        | (F.col("quality") < 0)
        | (F.col("quality") > 1)
    )
    assert bad.count() == 0


def test_entry_one_row_per_url(spark):
    import __spark_entry__ as E

    out = E.entry(spark)
    total = out.count()
    assert total == out.select("url").distinct().count() == 1000


def test_spans_ordered_nonoverlapping(extracted):
    rows = (
        extracted.where(F.size("spans") > 1).select("spans").limit(50).collect()
    )
    assert rows
    for r in rows:
        spans = r["spans"]
        for a, b in zip(spans, spans[1:]):
            assert a["start"] < a["end"] <= b["start"] < b["end"]
