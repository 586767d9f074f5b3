"""Labeled-points text interchange format.

The reference's three programs hand off via CSV text lines
``t1Id, t2Id, label, f1, ..., f14`` with label in {"", "0", "1"}
(``Compare.scala:96``, ``DisDedupReducer.scala:5``; parsed back at
``TrainDupClassifier.scala:101-112`` and, label-less, at
``ApplyDupClassifier.scala:57-67``). These readers/writers keep that
on-disk format byte-compatible while the in-memory form is a real
DataFrame ``(id1 string, id2 string, label double?, features
array<double>)``. New pipelines should hand off parquet instead — the
text round-trip exists for drop-in compatibility with files produced
by the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _split_line(n_features: int, with_label: bool):
    # The on-disk format ALWAYS carries the label slot — Compare.scala:96
    # writes it unconditionally, as "" for unlabeled pairs — so features
    # start at index 3 either way; with_label only controls whether the
    # slot surfaces as a column.
    parts = F.split(F.col("value"), r",\s*")
    base = {
        "id1": F.trim(parts[0]),
        "id2": F.trim(parts[1]),
    }
    if with_label:
        # "" (unlabeled sentinel) -> NULL, else 0.0/1.0
        base["label"] = F.when(F.trim(parts[2]) == "", None).otherwise(
            F.trim(parts[2]).cast("double")
        )
    base["features"] = F.array(
        *[parts[3 + i].cast("double") for i in range(n_features)]
    )
    return [v.alias(k) for k, v in base.items()]


def read_labeled_points(
    spark: SparkSession, path: str, n_features: int = 14
) -> DataFrame:
    """Reference S2: parse ``id1, id2, label, f...`` text lines."""
    return spark.read.text(path).select(*_split_line(n_features, with_label=True))


def read_unlabeled_points(
    spark: SparkSession, path: str, n_features: int = 14
) -> DataFrame:
    """Reference S3: same format minus the label column."""
    return spark.read.text(path).select(*_split_line(n_features, with_label=False))


def write_labeled_points(df: DataFrame, path: str) -> None:
    """Reference S4 (delete-then-save ≡ ``mode("overwrite")``): emit
    the exact ``t1Id, t2Id, label, f...`` line format. Floats are
    rendered with Java's Double.toString semantics via CAST to keep
    round-trips lossless. NULL features write as ``NaN`` (array_join
    SKIPS null elements without a replacement, which silently shifted
    every later feature one slot left on disk — r9 review finding;
    ``NaN`` round-trips to a NaN double on re-read, keeping slots
    aligned). The line is one SQL-text projection."""
    # labels are 0/1 doubles in-memory but "0"/"1" on disk (README.md:122-126)
    label = "coalesce(cast(cast(label as int) as string), '')" if "label" in df.columns else "''"
    feats = "array_join(transform(features, x -> cast(x as string)), ', ', 'NaN')"
    lines = df.selectExpr(f"concat_ws(', ', id1, id2, {label}, {feats}) AS value")
    lines.write.mode("overwrite").text(path)
