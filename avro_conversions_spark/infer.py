"""Schema inference: observed data → suggested read schema + constraints.

The observed min/max of a number column become an inclusive
``model.DecimalRange``, and ``model.elect_number`` picks the type — the
same election JSON Schema uses (opwvhk/avro/json/
SchemaAnalyzer.java:177-207): bitSize ≤ 32 → int, ≤ 64 → long,
precision < 7 → float, < 16 → double, else decimal(p,s).

The *observation* side is one distributed aggregation pass; the election
runs on the driver over the tiny aggregate row.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from avro_conversions_spark.schema.model import (
    DecimalRange,
    EnumType,
    LogicalType,
    PrimitiveType,
    ReadType,
    elect_number,
)


def observe_column(df: DataFrame, column: str, enum_max: int = 32) -> dict:
    """One aggregation pass over a column: nulls, range, distincts.
    Returns the facts the election needs (driver-side dict)."""
    c = F.col(column)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("nulls"),
        F.min(c).alias("mn"),
        F.max(c).alias("mx"),
        F.approx_count_distinct(c).alias("ndv"),
    ).collect()[0]
    facts = {
        "n": row["n"],
        "nulls": row["nulls"],
        "min": row["mn"],
        "max": row["mx"],
        "ndv": row["ndv"],
        "nullable": row["nulls"] > 0,
    }
    if facts["ndv"] <= enum_max and isinstance(row["mn"], str):
        facts["symbols"] = tuple(
            r[0] for r in df.select(c).where(c.isNotNull()).distinct().orderBy(c).collect()
        )
    return facts


def suggest_read_type(df: DataFrame, column: str) -> tuple[ReadType, bool]:
    """Observed column → (suggested ReadType, nullable) — the analogue of
    JSON-Schema→Avro inference for already-typed tables."""
    from pyspark.sql import types as T

    dtype = df.schema[column].dataType
    facts = observe_column(df, column)
    nullable = facts["nullable"]
    if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        if facts["min"] is None:
            return PrimitiveType("long"), True
        rng = DecimalRange(Decimal(facts["min"]), True, Decimal(facts["max"]), True)
        return elect_number(rng, integral=True), nullable
    if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
        if facts["min"] is None:
            return PrimitiveType("double"), True
        rng = DecimalRange(Decimal(str(facts["min"])), True, Decimal(str(facts["max"])), True)
        return elect_number(rng, integral=False), nullable
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        kind = "local-timestamp-micros" if isinstance(dtype, T.TimestampNTZType) else "timestamp-micros"
        return LogicalType(kind), nullable
    if isinstance(dtype, T.DateType):
        return LogicalType("date"), nullable
    if isinstance(dtype, T.StringType):
        if "symbols" in facts:
            return EnumType(column, facts["symbols"]), nullable
        return PrimitiveType("string"), nullable
    return PrimitiveType("string"), nullable
