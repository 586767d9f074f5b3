"""End-to-end Dis-Dedup pipeline: people table → labeled points → model.

Mirrors the reference's three-program flow (GenerateLabeledPoints →
TrainDupClassifier → ApplyDupClassifier) as composable DataFrame
functions. The Febrl column/comparator layout follows
``Compare.scala:35-37``: Levenshtein on the string fields, SqrtDiff
on date_of_birth, AbsDiff on age, Ignore on id/blocking_number
(arity-stable zeros).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparklyclean_spark.functions.sqltext import col_sql
from sparklyclean_spark.operators.dedup.blocking import BlockingRule
from sparklyclean_spark.operators.dedup.compare import FieldComparator, with_features
from sparklyclean_spark.operators.dedup.disdedup import DEFAULT_SEED, candidate_pairs_disdedup

# Reference blocking: function 1 = blocking_number, 2 = state
# (README.md:182-185 of the reference repo).
FEBRL_RULES = [BlockingRule(1, "blocking_number"), BlockingRule(2, "state")]

# Per-column comparators, reference order (Compare.scala:35-37). The
# two Ignore columns (rec_id, blocking_number) are dropped rather than
# emitted as constant zeros; parity mode can re-add them.
FEBRL_SPEC = [
    FieldComparator("given_name", "levenshtein"),
    FieldComparator("surname", "levenshtein"),
    FieldComparator("street_number", "levenshtein"),
    FieldComparator("address_1", "levenshtein"),
    FieldComparator("address_2", "levenshtein"),
    FieldComparator("suburb", "levenshtein"),
    FieldComparator("postcode", "levenshtein"),
    FieldComparator("state", "levenshtein"),
    FieldComparator("date_of_birth", "sqrt_diff"),
    FieldComparator("age", "abs_diff"),
    FieldComparator("phone_number", "levenshtein"),
    FieldComparator("soc_sec_id", "levenshtein"),
]

FEBRL_FEATURE_NAMES = [f"f_{fc.col}" for fc in FEBRL_SPEC]


def febrl_label(id1: Column | str, id2: Column | str) -> Column:
    """Ground truth from Febrl ids: duplicate iff the <N> of
    ``rec-<N>-...`` matches (``Util.scala:26-43``). ``[1]`` is the
    0-based second part. ``id1``/``id2`` are column names or ``F.col``
    references (``sqltext.col_sql``)."""
    return F.expr(
        f"cast(split({col_sql(id1)}, '-')[1] = split({col_sql(id2)}, '-')[1] as double)"
    )


def generate_labeled_points(
    people: DataFrame,
    rules: list[BlockingRule] | None = None,
    spec: list[FieldComparator] | None = None,
    id_col: str = "rec_id",
    k: int | None = None,
    seed: int = DEFAULT_SEED,
    mode: str = "parity",
    labeled: bool = True,
) -> DataFrame:
    """(id1, id2, label?, features array<double>) for every blocked pair.

    The reference's program 1 (``GenerateLabeledPoints.scala``) minus
    the text sink: pair generation is the load-balanced Dis-Dedup
    operator; features are comparator expressions built from SQL text
    (JVM-side), and the label and the sane-mode NULL→0.0 are one
    projection.
    ``mode="sane"`` switches the numeric comparators' one-side-missing
    sentinel from Double.MaxValue to NULL→0.0 imputation.
    """
    rules = rules or FEBRL_RULES
    spec = spec or FEBRL_SPEC
    if mode == "sane":
        spec = [
            FieldComparator(fc.col, fc.comparator, {**fc.kwargs, "mode": "sane"})
            if fc.comparator in ("abs_diff", "sqrt_diff")
            else fc
            for fc in spec
        ]
    payload = sorted({fc.col for fc in spec})
    pairs = candidate_pairs_disdedup(
        people, rules, id_col, payload_cols=payload, k=k, seed=seed
    )
    feat = with_features(pairs, spec, as_array=True)
    # NULL features (one-side-missing) → 0.0 for ML friendliness.
    features = "transform(features, x -> coalesce(x, 0.0D))" if mode == "sane" else "features"
    label = [febrl_label("id1", "id2").alias("label")] if labeled else []
    return feat.select("id1", "id2", *label, F.expr(f"{features} AS features"))
