"""Schema'd CSV scans.

The reference reads raw text lines and re-splits them on every use
(``GenerateLabeledPoints.scala:58-67`` + ``Util.scala:14-18``), which
drags full unparsed lines through every shuffle. We parse ONCE at the
scan with an explicit ``StructType`` — Catalyst then prunes columns,
so downstream shuffles carry only what each operator projects; at
100 TB that is the difference between shuffling whole rows and
shuffling a couple of key columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparklyclean_spark.functions.sqltext import ident

# The 14-column Febrl dedup schema (reference README.md:163-180).
# Numeric-ish columns stay STRING at the scan: the Febrl generator
# injects typos into every field, so "19o20707" must survive the scan
# and fail to a NULL only inside a comparator's try-parse (matching
# Compare.scala:48-60 NumberFormatException handling), not kill the row.
FEBRL_SCHEMA = T.StructType(
    [
        T.StructField("rec_id", T.StringType()),
        T.StructField("given_name", T.StringType()),
        T.StructField("surname", T.StringType()),
        T.StructField("street_number", T.StringType()),
        T.StructField("address_1", T.StringType()),
        T.StructField("address_2", T.StringType()),
        T.StructField("suburb", T.StringType()),
        T.StructField("postcode", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("date_of_birth", T.StringType()),
        T.StructField("age", T.StringType()),
        T.StructField("phone_number", T.StringType()),
        T.StructField("soc_sec_id", T.StringType()),
        T.StructField("blocking_number", T.StringType()),
    ]
)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    trim_fields: bool = False,
) -> DataFrame:
    """CSV scan with an explicit schema (reference S1, done right).

    ``trim_fields=True`` strips surrounding whitespace from every
    string column, in one projection — Febrl pads fields with leading
    spaces and the reference keeps the padding (``Util.scala:14-18``
    splits without trimming), so parity mode is ``False``.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        df = reader.schema(schema).csv(path)
    else:
        df = reader.option("inferSchema", "true").csv(path)
    if trim_fields:
        df = df.selectExpr(*[
            f"trim({ident(f.name)}) AS {ident(f.name)}"
            if isinstance(f.dataType, T.StringType) else ident(f.name)
            for f in (schema or df.schema).fields
        ])
    return df


def read_febrl(
    spark: SparkSession, path: str, trim_fields: bool = True
) -> DataFrame:
    """Febrl dataset scan; ``rec_id`` is always trimmed (the reference
    trims only the id, ``Util.scala:20-24``), other fields per flag."""
    df = read_csv(spark, path, FEBRL_SCHEMA, header=True, trim_fields=trim_fields)
    if not trim_fields:
        df = df.withColumn("rec_id", F.trim("rec_id"))
    return df
