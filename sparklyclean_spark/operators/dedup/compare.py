"""Pairwise feature generation from a comparator spec.

The reference hardcodes a per-column comparator list
(``Compare.scala:35-37``); here it is a pluggable spec. Features are
built over a pairs DataFrame carrying ``t1_<col>`` / ``t2_<col>``
payloads, so the whole feature stage is JVM-side codegen — at 100 TB
there is no Python in the per-pair loop. A named comparator gets the
two payload column NAMES and is one ``F.expr`` of SQL text
(``functions/similarity.py``), so the 12-comparator Febrl feature
array costs about 190 py4j round trips to build, not thousands. A
custom comparator (a callable producing a Column, e.g. a pandas UDF)
still gets the two payload Columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparklyclean_spark.functions.similarity import COMPARATORS


@dataclass(frozen=True)
class FieldComparator:
    """Compare column ``col`` of both records with ``comparator``
    (a name from ``COMPARATORS`` or a callable ``(a, b) -> Column``)."""

    col: str
    comparator: str | object = "levenshtein"
    kwargs: dict = field(default_factory=dict)

    def build(self, a: Column | str, b: Column | str) -> Column:
        if isinstance(self.comparator, str):
            return COMPARATORS[self.comparator](a, b, **self.kwargs)
        a, b = (F.col(c) if isinstance(c, str) else c for c in (a, b))
        return self.comparator(a, b, **self.kwargs)


def feature_columns(spec: list[FieldComparator], t1: str = "t1_", t2: str = "t2_") -> list[Column]:
    """One aliased feature Column per comparator: ``f_<col>``."""
    return [fc.build(f"{t1}{fc.col}", f"{t2}{fc.col}").alias(f"f_{fc.col}") for fc in spec]


def with_features(
    pairs: DataFrame,
    spec: list[FieldComparator],
    as_array: bool = True,
) -> DataFrame:
    """Append features to a pairs DataFrame (``t1_*``/``t2_*`` payload
    columns). ``as_array=True`` adds ``features array<double>`` (the
    reference's labeled-point layout, ``DisDedupReducer.scala:5``);
    otherwise one ``f_<col>`` column per comparator."""
    if not as_array:
        return pairs.select("*", *feature_columns(spec))
    # An array element's alias is dropped, so the array takes the bare
    # comparator Columns: each Column method (alias, cast) is ~10 py4j
    # round trips of call-site capture.
    feats = [fc.build(f"t1_{fc.col}", f"t2_{fc.col}").cast("double") for fc in spec]
    return pairs.withColumn("features", F.array(*feats))


def select_pair_features(
    pairs: DataFrame,
    spec: list[FieldComparator],
    id1: str = "id1",
    id2: str = "id2",
) -> DataFrame:
    """Project (id1, id2, f_<col>...) — the flat feature table."""
    return pairs.select(F.col(id1), F.col(id2), *feature_columns(spec))
