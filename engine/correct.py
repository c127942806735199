"""Broadcast-dictionary token correction — the PageCorrector (R6) analog.

The reference's single biggest compute stage is its dictionary-driven
token corrector (emop/lib/processes/page_corrector.py [U]: every OCR token
is looked up in a correction dictionary and replaced, with per-page
correction counts — pp_ecorr — and a health score — pp_health — written
back). Re-expressed Spark-first as a map-only post-pass over extracted
text, with TWO physical paths of identical semantics:

* :func:`corrected_tokens_expr` — a plan-time CASE chain inside
  ``transform()``: fully JVM-side, whole-stage-codegen'd, right for small
  dictionaries (the chain is compiled into the plan).
* :func:`correct_with_broadcast_dict` — an Arrow-batched ``mapInPandas``
  stage whose dictionary ships once per executor via
  ``sparkContext.broadcast``: the 100 TB path for real dictionaries
  (10^5-10^6 entries), where a plan-time expression is impossible. Python
  cost is one dict lookup per token over Arrow batches — the same shape
  as the extract UDF itself.

tests/test_correct.py pins that both paths produce byte-identical
corrected text; engine.queries.q_token_correction_stats oracle-checks the
per-document stats (n_corr = pp_ecorr analog, health = pp_health analog)
against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from engine.pyworker import patch_worker

# Deterministic demo dictionary over the testdata vocabulary (the corpus
# is synthetic, so "misspellings" are recast as canonicalizations). Real
# deployments pass their own dict — both paths take it as a parameter.
DEFAULT_DICT: dict[str, str] = {
    "agg": "aggregate",
    "part": "partition",
    "slow": "sluggish",
    "vector": "vec",
    "stream": "streaming",
}


def corrected_tokens_expr(toks_col, cdict: dict[str, str] | None = None):
    """JVM path: transform(tokens, CASE WHEN t='k1' THEN 'v1' ... ELSE t).

    The dictionary is folded into the plan as literals — zero Python at
    runtime. Only viable while the dict is small enough to compile
    (hundreds of entries); beyond that use correct_with_broadcast_dict."""
    cdict = DEFAULT_DICT if cdict is None else cdict

    def fix(t):
        expr = None
        for k, v in sorted(cdict.items()):
            cond = F.when(t == F.lit(k), F.lit(v))
            expr = cond if expr is None else expr.when(t == F.lit(k), F.lit(v))
        return expr.otherwise(t) if expr is not None else t

    return F.transform(toks_col, fix)


def correct_with_broadcast_dict(
    df: DataFrame,
    text_col: str = "text",
    cdict: dict[str, str] | None = None,
    out_col: str = "corrected",
) -> DataFrame:
    """Arrow path: broadcast the dictionary, correct tokens per Arrow batch.

    Appends three columns: `out_col` (corrected text), `n_tokens`,
    `n_corr` (the pp_ecorr analog). Map-only — no shuffle; the dictionary
    ships once per executor, not once per task."""
    cdict = DEFAULT_DICT if cdict is None else cdict
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cdict)

    # new list via + : StructType.add would mutate df.schema's shared
    # field list in place
    schema = StructType(
        df.schema.fields
        + [
            StructField(out_col, StringType()),
            StructField("n_tokens", IntegerType()),
            StructField("n_corr", IntegerType()),
        ]
    )

    def run(batches):
        # pickled by value: this call makes the worker import `engine`
        patch_worker()
        d = bc.value
        for pdf in batches:
            corrected, n_tok, n_corr = [], [], []
            for text in pdf[text_col].fillna(""):
                toks = text.split(" ")
                fixed = [d.get(t, t) for t in toks]
                corrected.append(" ".join(fixed))
                n_tok.append(len(toks))
                n_corr.append(sum(1 for a, b in zip(toks, fixed) if a != b))
            out = pdf.copy()
            out[out_col] = corrected
            out["n_tokens"] = n_tok
            out["n_corr"] = n_corr
            yield out

    return df.mapInPandas(run, schema=schema)
