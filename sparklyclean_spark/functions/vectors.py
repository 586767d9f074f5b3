"""Dense-vector math over ``array<float|double>`` embeddings.

Two tiers:

* Column expressions (``aggregate``/``transform``: ``norm``,
  ``l2_normalize``) — zero-dependency, exactly sequential float64
  (bit-matches a sequential SQL oracle).
  Higher-order functions are INTERPRETED per element in Spark, so
  this tier is for small/verification workloads only (~1 ms/row).
* ``cosine_pandas`` — Arrow-batched pandas UDF over numpy float64:
  the hot-path implementation (vectorized BLAS, ~100× faster). Sum
  order differs from sequential by ~1e-15, far inside the 4-decimal
  rounding used for oracle comparison.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def norm(a: Column | str) -> Column:
    return F.sqrt(
        F.aggregate(
            _c(a),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def _cosine_pd_impl(a: pd.Series, b: pd.Series) -> pd.Series:
    va = np.asarray(a.tolist(), dtype=np.float64)
    vb = np.asarray(b.tolist(), dtype=np.float64)
    num = np.einsum("ij,ij->i", va, vb)
    den = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
    return pd.Series(np.where(den == 0.0, 0.0, num / np.where(den == 0.0, 1.0, den)))


def cosine_pandas(
    a: Column | str, b: Column | str, *, single_eval: bool = False
) -> Column:
    """Vectorized cosine (Arrow → numpy float64 → BLAS). Use this in
    every hot path; see module docstring for precision notes. The UDF
    is created lazily — decorating at import time requires an active
    SparkSession and breaks plain imports.

    ``single_eval=True`` marks the UDF nondeterministic (optimization
    guide §4.4): when a filter references the cosine column, the
    optimizer otherwise pushes the predicate below the projection and
    evaluates the UDF TWICE per surviving row (two ArrowEvalPython
    nodes — measured in lsh_cosine_pairs' plan). The function is pure;
    the mark only removes the optimizer's license to duplicate it. Use
    at call sites whose plan shows the duplication — it also blocks
    pushing OTHER filters past the projection, so it is not a blanket
    default."""
    f = pandas_udf(_cosine_pd_impl, "double")
    if single_eval:
        f = f.asNondeterministic()
    return f(_c(a), _c(b))


def l2_normalize(a: Column | str) -> Column:
    """Unit-norm projection ``v / ||v||_2`` (zero vectors pass through
    unchanged — no NaN poisoning). The standard pre-index transform:
    after it, dot product == cosine, so ANN structures can index raw
    dots. Column-expression tier (sequential float64, oracle-exact) —
    kept for the hash-checked oracle row; ``transform`` HOFs are
    interpreted per element, so every hot/index-build path must use
    ``l2_normalize_pandas`` instead (VERDICT r5 item 7 — the exact
    failure mode that made quantize 19x before its Arrow rewrite)."""
    v = _c(a)
    n = norm(v)
    return F.when(n == 0.0, F.transform(v, lambda x: x.cast("double"))).otherwise(
        F.transform(v, lambda x: x.cast("double") / n)
    )


def _l2_normalize_pd_impl(a: pd.Series) -> pd.Series:
    # NULL arrays stay NULL (Column-tier parity: transform on NULL is
    # NULL) — np.asarray(None) is a 0-d array whose shape[0] raises
    vecs = [
        None if v is None else np.asarray(v, dtype=np.float64) for v in a
    ]
    lens = [0 if v is None else v.shape[0] for v in vecs]
    d = max(lens) if lens else 0
    if d == 0:
        return pd.Series([None if v is None else [] for v in vecs])
    # ragged/NULL: right-pad to a rectangle (zero padding never moves
    # the norm), slice each row back to its true length after
    m = np.zeros((len(vecs), d))
    for i, v in enumerate(vecs):
        if v is not None:
            m[i, : v.shape[0]] = v
    # Sequential left-to-right sum over dims (a j-loop, still fully
    # vectorized across rows): bit-identical to the Column tier's
    # aggregate() fold AND DuckDB's list_sum, unlike np.linalg.norm's
    # pairwise summation (~1e-15 off) — this is what lets the batch
    # tier share the Column tier's value-level oracle.
    n2 = np.zeros(len(vecs))
    for j in range(d):
        n2 += m[:, j] * m[:, j]
    n = np.sqrt(n2)[:, None]
    out = m / np.where(n == 0.0, 1.0, n)  # zero vectors pass through
    return pd.Series(
        [
            None if v is None else row[:ln].tolist()
            for row, ln, v in zip(out, lens, vecs)
        ]
    )


def l2_normalize_pandas(a: Column | str) -> Column:
    """Arrow-batched numpy tier of ``l2_normalize`` — one vectorized
    norm+divide per batch, no interpreted per-element HOFs. Same zero-
    vector passthrough. Sum order inside the norm differs from the
    sequential Column tier by ~1e-15 (same accepted class as
    ``cosine_pandas``); parity is pytest-gated at 1e-9."""
    return pandas_udf(_l2_normalize_pd_impl, "array<double>")(_c(a))
