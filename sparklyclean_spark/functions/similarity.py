"""Per-column similarity comparators for pairwise record comparison.

Re-expresses the reference's scalar comparison functions
(``Compare.scala:14-81`` in david-siqi-liu/sparklyclean) as Spark
expressions so feature generation runs inside whole-stage codegen — no
Python in the per-pair hot path. Each comparator is SQL text over
backtick-quoted column names, made into a Column by one ``F.expr``
(``functions/sqltext.py``; built from Column calls, a comparator cost
tens of py4j round trips). ``jaro_winkler`` is the exception: a
pandas UDF.

Arguments: a column name, or an ``F.col(name)`` reference. A computed
Column (``F.upper(c)``, ``c.cast(...)``) or a DataFrame-bound one
(``df["x"]``) has no column name to splice into the text and raises
``TypeError``: project it to a named column first. (Built from Column
calls, the comparators took any Column; ``jaro_winkler`` and
``ignore`` still do.)

Semantics preserved from the reference (SURVEY.md §2.6, §2.9):

* G1 — ``levenshtein_sim`` is a NORMALIZED SIMILARITY in [0,1]
  (``1 - dist / max(len_a, len_b, 1)``), matching the stringdistance
  library's ``.score`` (``Compare.scala:44-46``), not Spark's raw
  edit distance.
* G2 — the missing-value ladder of ``SqrtDiff``/``AbsDiff``
  (``Compare.scala:47-71``): both missing → 1.0, exactly one
  missing → ``DOUBLE_MAX_SENTINEL``, else the numeric difference.
  ``mode="sane"`` replaces the hostile sentinel with NULL for
  ML-friendly feature vectors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sparklyclean_spark.functions.sqltext import col_sql

# java.lang.Double.MAX_VALUE — the reference's one-side-missing sentinel.
DOUBLE_MAX_SENTINEL = 1.7976931348623157e308


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _text(x: str) -> str:
    """SQL text ``x`` as a string, NULL read as ``''``."""
    return f"coalesce(cast({x} as string), '')"


def _is_missing(x: str) -> str:
    """Missing = NULL or empty string after trim (the reference's CSV
    carries missing values as ``""``; parse failures count as missing,
    ``Compare.scala:48-60``)."""
    return f"({x} IS NULL OR trim(cast({x} as string)) = '')"


def _missing_ladder(a: str, b: str, value: str, mode: str) -> Column:
    """``value`` behind the missing-value ladder: both missing → 1.0,
    one missing → the sentinel (NULL in ``mode="sane"``)."""
    one_missing = "CAST(NULL AS DOUBLE)" if mode == "sane" else repr(DOUBLE_MAX_SENTINEL) + "D"
    ma, mb = _is_missing(a), _is_missing(b)
    return F.expr(
        f"CASE WHEN {ma} AND {mb} THEN 1.0D WHEN {ma} OR {mb} THEN {one_missing}"
        f" ELSE {value} END"
    )


# ``1.0D`` is a DOUBLE literal; a bare ``1.0`` would be DECIMAL.


def levenshtein_sim(a: Column | str, b: Column | str) -> Column:
    """Normalized Levenshtein similarity in [0,1] (G1)."""
    a, b = _text(col_sql(a)), _text(col_sql(b))
    return F.expr(
        f"1.0D - cast(levenshtein({a}, {b}) as double)"
        f" / cast(greatest(length({a}), length({b}), 1) as double)"
    )


def abs_diff(a: Column | str, b: Column | str, mode: str = "parity") -> Column:
    """``abs(a-b)`` with the reference's missing-value ladder (G2)."""
    a, b = col_sql(a), col_sql(b)
    return _missing_ladder(a, b, f"abs(cast({a} as double) - cast({b} as double))", mode)


def sqrt_diff(a: Column | str, b: Column | str, mode: str = "parity") -> Column:
    """``sqrt(abs(a-b))`` with the missing-value ladder (G2)."""
    a, b = col_sql(a), col_sql(b)
    return _missing_ladder(a, b, f"sqrt(abs(cast({a} as double) - cast({b} as double)))", mode)


def exact_match(a: Column | str, b: Column | str) -> Column:
    """1.0 if equal (null-safe), else 0.0."""
    return F.expr(f"cast({col_sql(a)} <=> {col_sql(b)} as double)")


def jaccard_tokens(a: Column | str, b: Column | str) -> Column:
    """Jaccard similarity of whitespace token sets."""
    ta, tb = (rf"array_distinct(split({_text(col_sql(x))}, '\\s+'))" for x in (a, b))
    # distinct-element inputs ⇒ |ta ∪ tb| = |ta| + |tb| − |ta ∩ tb|:
    # skips the second non-codegen hash-set build per pair (the
    # textdedup._jaccard treatment); same integers, same quotient,
    # bit-identical.
    inter = f"size(array_intersect({ta}, {tb}))"
    union = f"cast(size({ta}) + size({tb}) - {inter} as double)"
    return F.expr(f"CASE WHEN {union} = 0 THEN 1.0D ELSE cast({inter} as double) / {union} END")


def ignore(a: Column | str, b: Column | str) -> Column:
    """Arity-stable 0.0 placeholder (``Compare.scala:73-77``)."""
    return F.expr("0.0D")


def _jw_one(a: str, b: str) -> float:
    """Classic Jaro-Winkler (prefix scale 0.1, prefix cap 4), matching
    DuckDB's jaro_winkler_similarity including its edge conventions:
    any empty side scores 0.0 (even '' vs ''), identical non-empty
    strings score 1.0."""
    if not a or not b:
        return 0.0
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    window = max(la, lb) // 2 - 1
    if window < 0:
        window = 0
    am = [False] * la
    bm = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not bm[j] and b[j] == ca:
                am[i] = bm[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(la):
        if am[i]:
            while not bm[k]:
                k += 1
            if a[i] != b[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / la + m / lb + (m - t) / m) / 3.0
    # Winkler boost only above the 0.7 threshold — the convention
    # DuckDB (and Lucene/rapidfuzz) implement; below it the plain
    # Jaro score is returned
    if jaro <= 0.7:
        return jaro
    l = 0
    for x, y in zip(a, b):
        if x == y and l < 4:
            l += 1
        else:
            break
    return jaro + l * 0.1 * (1.0 - jaro)


# strings longer than this fall back to the scalar path inside the
# batch: the row-vectorized matcher is O(Lmax^2) vector passes, the
# right trade for name-length fields but not for arbitrary text
_JW_BATCH_MAX_LEN = 64


def _jw_batch(strs_a: list, strs_b: list):
    """Row-vectorized Jaro-Winkler: one numpy codepoint-matrix pass
    per batch instead of a Python loop per pair (VERDICT r5 item 8 —
    the per-row interpreter cost is linear drag at 10^9 blocked
    pairs). Bit-exact with ``_jw_one``: the greedy window matcher is
    replayed as (i, j) position loops over N-row boolean vectors —
    same first-unmatched-j semantics — and the jaro/boost arithmetic
    uses the identical IEEE-754 op order. Long rows (> _JW_BATCH_MAX_LEN)
    are delegated to the scalar reference."""
    import numpy as np

    n = len(strs_a)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    sa = ["" if s is None else s for s in strs_a]
    sb = ["" if s is None else s for s in strs_b]
    lens_a = np.array([len(s) for s in sa], dtype=np.int64)
    lens_b = np.array([len(s) for s in sb], dtype=np.int64)

    batch = (
        (lens_a > 0)
        & (lens_b > 0)
        & (lens_a <= _JW_BATCH_MAX_LEN)
        & (lens_b <= _JW_BATCH_MAX_LEN)
    )
    for i in np.nonzero(~batch & (lens_a > 0) & (lens_b > 0))[0]:
        out[i] = _jw_one(sa[i], sb[i])
    idx = np.nonzero(batch)[0]
    if idx.size == 0:
        return out

    la = lens_a[idx]
    lb = lens_b[idx]
    m_rows = idx.size
    la_max, lb_max = int(la.max()), int(lb.max())
    # one bulk encode per side (NUL-padded rectangle) — no per-row
    # frombuffer calls; NUL never appears in real values and padding
    # positions are excluded by the length masks below anyway
    ca = np.frombuffer(
        "".join(sa[k].ljust(la_max, "\0") for k in idx).encode("utf-32-le"),
        dtype=np.uint32,
    ).reshape(m_rows, la_max)
    cb = np.frombuffer(
        "".join(sb[k].ljust(lb_max, "\0") for k in idx).encode("utf-32-le"),
        dtype=np.uint32,
    ).reshape(m_rows, lb_max)

    window = np.maximum(np.maximum(la, lb) // 2 - 1, 0)
    w_max = int(window.max())
    am = np.zeros((m_rows, la_max), dtype=bool)
    bm = np.zeros((m_rows, lb_max), dtype=bool)
    # greedy window matcher replayed as banded column ops: for each a
    # position i, scan candidate b positions j = i+d in ascending
    # order (d from -w to +w — the same first-unmatched-j order the
    # scalar walk uses), matching each row at most once per i. Work is
    # O(la_max * band_width) column vectors, not full matrices.
    w_ok = {d: window >= abs(d) for d in range(-w_max, w_max + 1)}
    j_ok = [lb > j for j in range(lb_max)]
    for i in range(la_max):
        open_i = i < la  # rows still looking for a match of a[i]
        for d in range(-w_max, w_max + 1):
            j = i + d
            if j < 0 or j >= lb_max:
                continue
            # pure elementwise ops only — boolean fancy indexing per
            # step costs more than the whole comparison
            ok = open_i & w_ok[d] & j_ok[j] & ~bm[:, j] & (cb[:, j] == ca[:, i])
            am[:, i] |= ok
            bm[:, j] |= ok
            open_i &= ~ok

    m = am.sum(axis=1)

    # transpositions: scatter matched chars into order-of-match slots,
    # then compare positionally (same walk _jw_one does with k)
    m_max = max(int(m.max()), 1)
    rows_ar = np.arange(m_rows)[:, None]
    ka = np.where(am, np.cumsum(am, axis=1, dtype=np.int64) - 1, m_max)
    kb = np.where(bm, np.cumsum(bm, axis=1, dtype=np.int64) - 1, m_max)
    seq_a = np.zeros((m_rows, m_max + 1), dtype=np.uint32)
    seq_b = np.zeros((m_rows, m_max + 1), dtype=np.uint32)
    seq_a[rows_ar, ka] = ca
    seq_b[rows_ar, kb] = cb
    valid = np.arange(m_max)[None, :] < m[:, None]
    t = ((seq_a[:, :m_max] != seq_b[:, :m_max]) & valid).sum(axis=1) // 2

    # identical IEEE op order to _jw_one: three divides, two adds,
    # one divide by 3.0; then the conditional Winkler boost
    mf = m.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        jaro = (mf / la + mf / lb + (mf - t) / mf) / 3.0
    jaro = np.where(m == 0, 0.0, jaro)

    pref_w = min(4, la_max, lb_max)
    if pref_w > 0:
        eq = ca[:, :pref_w] == cb[:, :pref_w]
        in_len = np.arange(pref_w)[None, :] < np.minimum(la, lb)[:, None]
        l = np.cumprod(eq & in_len, axis=1).sum(axis=1)
    else:
        l = np.zeros(m_rows, dtype=np.int64)
    boosted = jaro + l * 0.1 * (1.0 - jaro)
    out[idx] = np.where((m > 0) & (jaro > 0.7), boosted, jaro)
    return out


def jaro_winkler(a: Column | str, b: Column | str) -> Column:
    """Jaro-Winkler similarity in [0, 1] — the record-linkage
    comparator of choice for short name fields (prefix-weighted, more
    tolerant of transpositions than Levenshtein). NULL-safe (NULL
    reads as '' -> 0.0, same missing-data convention as the ladder
    comparators).

    Spark has no built-in JW, so this is an Arrow-batched pandas UDF;
    it runs only in the COMPARATOR stage (already bounded to blocked
    candidate pairs), never over the raw corpus. The batch body is the
    row-vectorized numpy matcher (``_jw_batch``) — no per-pair Python
    loop; ``_jw_one`` remains the scalar reference (and long-string
    fallback). The DuckDB built-in jaro_winkler_similarity is the
    oracle (edge conventions matched)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    def impl(sa, sb):
        return pd.Series(_jw_batch(sa.tolist(), sb.tolist()), dtype="float64")

    return pandas_udf(impl, "double")(
        _as_col(a).cast("string"), _as_col(b).cast("string")
    )

# Registry consumed by FieldComparator (operators/dedup/compare.py).
COMPARATORS = {
    "levenshtein": levenshtein_sim,
    "abs_diff": abs_diff,
    "sqrt_diff": sqrt_diff,
    "exact": exact_match,
    "jaccard_tokens": jaccard_tokens,
    "jaro_winkler": jaro_winkler,
    "ignore": ignore,
}
