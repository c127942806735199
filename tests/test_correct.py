"""PageCorrector-analog tests: the JVM CASE-chain correction must be
non-vacuous on the testdata vocabulary."""

from __future__ import annotations

from pyspark.sql import functions as F

from engine.correct import DEFAULT_DICT, corrected_tokens_expr

SF = "/root/testdata/sf0.001"


def test_corrections_non_vacuous(spark):
    """The demo dictionary must actually fire on the corpus (dict keys are
    drawn from the testdata vocabulary) — otherwise the oracle row proves
    nothing."""
    toks = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.split(F.coalesce("text", F.lit("")), " ").alias("toks")
    )
    fixed = toks.select(
        "toks", corrected_tokens_expr(F.col("toks"), DEFAULT_DICT).alias("c")
    )
    changed = F.filter(F.zip_with("toks", "c", lambda a, b: a != b), lambda x: x)
    agg = fixed.agg(
        F.sum(F.size(changed)).alias("c"), F.sum(F.size("toks")).alias("t")
    ).collect()[0]
    assert agg["c"] > 0
    assert agg["c"] < agg["t"]  # and it doesn't rewrite everything
