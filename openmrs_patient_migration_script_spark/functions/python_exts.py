"""Python extension surface (SURVEY.md §2.12): the sanctioned escape
hatches, each demonstrated once with the contract it must honor.

Engine policy is built-ins first — every declared query is JVM-only so the
DuckDB oracles stay exact. When user logic genuinely can't be expressed
with built-ins, these are the shapes to copy, in preference order:

1. ``pandas_udf`` scalar — Arrow-batched columnwise transform
   (``vectorized_quality_score``): the batch arrives as a ``pd.Series``,
   NumPy does the math, one Python crossing per ~10k rows instead of one
   per row.
2. ``pandas_udf`` aggregate — a vectorized UDAF (``weighted_mean``):
   usable in ``groupBy().agg()`` and windows. Spark feeds whole groups;
   for the partial-combine (map-side) form of a decomposable aggregate,
   prefer expressing the pieces as built-ins (sum(w*x)/sum(w)) — a Python
   UDAF ships the GROUP, not partials, so its shuffle is wider.
3. ``@udtf`` — a Python table function (``ChunkSpans``): one row in, N
   typed rows out, composable in SQL via LATERAL. The UDTF runs
   row-at-a-time in Python — use it for genuinely irregular expansion
   logic; regular expansions (fixed-stride chunking) stay in
   operators/text.py as array HOFs.

The reference's per-row Python transforms (inf from
/root/reference/README.md:48) all map to shape 1.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import DoubleType

from openmrs_patient_migration_script_spark.operators.text import STOPWORDS

_STOPSET = frozenset(STOPWORDS)


@pandas_udf(DoubleType())
def vectorized_quality_score(text: pd.Series) -> pd.Series:
    """Arrow-batched scalar: a pandas re-expression of the engine's
    expression-level quality score, numerically aligned with
    operators/text.py::quality_exprs token for token — same STOPWORDS,
    same lowercasing, same empty-token filtering, and the same edge
    semantics (NULL or token-less text → NULL) — so tests can compare the
    two paths value-for-value on any corpus."""
    toks = text.fillna("").str.lower().str.split(" ").map(
        lambda ts: [t for t in ts if t]
    )
    n = toks.str.len().astype("float64")
    stop_cnt = toks.map(lambda ts: sum(t in _STOPSET for t in ts))
    stop_ratio = (stop_cnt / n).round(6)
    score = ((n / 100.0).clip(upper=1.0) * (1.0 - stop_ratio)).round(6)
    score[n == 0] = float("nan")  # NULL or no tokens → NULL, like the builtin
    return score


@pandas_udf(DoubleType())
def weighted_mean(value: pd.Series, weight: pd.Series) -> float:
    """Vectorized UDAF: sum(w*x)/sum(w) per group. NOTE the scale caveat
    from the module docstring — Spark ships each full group to Python for
    a pandas UDAF; the same quantity expressed as built-in
    sum(x*w)/sum(w) partial-combines map-side and shuffles two doubles
    per group. This exists for aggregation logic with no built-in
    decomposition (trimmed means, custom robust estimators)."""
    den = float(weight.sum())
    return float((value * weight).sum() / den) if den else float("nan")


@udtf(returnType="start: int, length: int, piece: string")
class ChunkSpans:
    """Python UDTF: explode a token string into fixed-size chunk spans
    with their offsets — one row in, ceil(n/size) typed rows out. Usable
    from SQL as ``SELECT ... FROM docs, LATERAL chunk_spans(text, 5)``
    once registered via ``spark.udtf.register``."""

    def eval(self, text: str, size: int):
        if size is None or size <= 0:
            raise ValueError(f"chunk_spans: size must be a positive int, got {size}")
        if not text:
            return
        toks = text.split(" ")
        for start in range(0, len(toks), size):
            piece = " ".join(toks[start : start + size])
            yield start, min(size, len(toks) - start), piece


__all__ = [
    "ChunkSpans",
    "vectorized_quality_score",
    "weighted_mean",
]
