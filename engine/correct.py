"""Dictionary token correction — the PageCorrector (R6) analog.

The reference's single biggest compute stage is its dictionary-driven
token corrector (emop/lib/processes/page_corrector.py [U]: every OCR token
is looked up in a correction dictionary and replaced, with per-page
correction counts — pp_ecorr — and a health score — pp_health — written
back). Re-expressed Spark-first as a map-only post-pass over extracted
text: :func:`corrected_tokens_expr` is a plan-time CASE chain inside
``transform()``, fully JVM-side and whole-stage-codegen'd (the dictionary
is compiled into the plan, so it suits small dictionaries).

engine.queries.q_token_correction_stats oracle-checks the per-document
stats (n_corr = pp_ecorr analog, health = pp_health analog) against
DuckDB; tests/test_correct.py pins that the demo dictionary fires.
"""

from __future__ import annotations

from pyspark.sql import functions as F

# Deterministic demo dictionary over the testdata vocabulary (the corpus
# is synthetic, so "misspellings" are recast as canonicalizations). Real
# deployments pass their own dict as a parameter.
DEFAULT_DICT: dict[str, str] = {
    "agg": "aggregate",
    "part": "partition",
    "slow": "sluggish",
    "vector": "vec",
    "stream": "streaming",
}


def corrected_tokens_expr(toks_col, cdict: dict[str, str] | None = None):
    """transform(tokens, CASE WHEN t='k1' THEN 'v1' ... ELSE t).

    The dictionary is folded into the plan as literals — zero Python at
    runtime. Only viable while the dict is small enough to compile
    (hundreds of entries)."""
    cdict = DEFAULT_DICT if cdict is None else cdict

    def fix(t):
        expr = None
        for k, v in sorted(cdict.items()):
            cond = F.when(t == F.lit(k), F.lit(v))
            expr = cond if expr is None else expr.when(t == F.lit(k), F.lit(v))
        return expr.otherwise(t) if expr is not None else t

    return F.transform(toks_col, fix)
