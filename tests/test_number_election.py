"""One number-type election for every source (util/DecimalRange.java:177-209,
json/SchemaAnalyzer.java:177-207): JSON Schema, XSD facets, the resolver's
integer bit-size rule and observed data all answer through
``model.DecimalRange``, so the same range elects the same type."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import types as T

from avro_conversions_spark.infer import suggest_read_type
from avro_conversions_spark.schema import (
    DecimalType,
    PrimitiveType,
    ResolvingFailure,
    SchemaResolver,
    from_avsc,
    from_spark_schema,
    infer_read_schema,
    to_write_type,
)
from avro_conversions_spark.schema.xsd import XsdAnalyzer, to_read_type

INT = PrimitiveType("int")
LONG = PrimitiveType("long")
FLOAT = PrimitiveType("float")


def _xsd_integer(facets: dict[str, int]):
    body = "".join(f'<xs:{k} value="{v}"/>' for k, v in facets.items())
    xsd = (
        '<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema"><xs:element name="v">'
        f'<xs:simpleType><xs:restriction base="xs:integer">{body}</xs:restriction>'
        "</xs:simpleType></xs:element></xs:schema>"
    )
    return to_read_type(XsdAnalyzer(xsd).type_of("v"))


def _read(kind: str):
    return from_avsc(
        '{"type":"record","name":"R","fields":[{"name":"v","type":"%s"}]}' % kind
    )[0]


def _resolved_int_kind(dtype: T.DataType, lo: int, hi: int) -> str:
    """The narrowest of int/long the resolver accepts at plan time for a
    writer annotated with the range, else 'decimal'."""
    write = from_spark_schema(
        T.StructType([T.StructField("v", dtype)]), {"v": {"min_value": lo, "max_value": hi}}
    )
    for kind in ("int", "long"):
        try:
            SchemaResolver(strict_nullability=False).resolve_record(write, _read(kind))
            return kind
        except ResolvingFailure:
            continue
    return "decimal"


# ------------------------------------------------------------ sign bit


def test_sign_bit_counts_like_java_bit_length():
    """-2^31 needs 31 bits plus the sign bit: the exact int32 and int64
    ranges elect int and long, in JSON Schema and in XSD."""
    assert infer_read_schema(
        {"type": "integer", "minimum": -(2**31), "maximum": 2**31 - 1}
    )[0] == INT
    assert infer_read_schema(
        {"type": "integer", "minimum": -(2**63), "maximum": 2**63 - 1}
    )[0] == LONG
    assert _xsd_integer({"minInclusive": -(2**31), "maxInclusive": 2**31 - 1}) == INT


def test_declared_int32_writer_needs_no_runtime_guard():
    """The declared JSON int32 writer is an int column: it resolves against
    a read int by a plain cast, without an INT_OUT_OF_RANGE guard."""
    write = to_write_type(
        {"title": "R", "type": "object", "required": ["v"], "properties": {
            "v": {"type": "integer", "minimum": -(2**31), "maximum": 2**31 - 1}}}
    )
    assert isinstance(write.fields["v"].dtype, T.IntegerType)
    (plan,) = SchemaResolver().resolve_record(write, _read("int"))
    assert plan.converter.violation is None


# ----------------------------------------------------- exclusive bounds


def test_exclusive_bound_elects_like_xsd():
    """minimum 0, exclusiveMaximum 2^31 is [0, 2^31-1]: int in JSON Schema
    as in XSD, and the declared writer carries the inclusive bound, so it
    resolves against a read int."""
    schema = {"type": "integer", "minimum": 0, "exclusiveMaximum": 2**31}
    assert infer_read_schema(schema)[0] == INT
    assert _xsd_integer({"minInclusive": 0, "maxExclusive": 2**31}) == INT
    write = to_write_type(
        {"title": "R", "type": "object", "required": ["v"], "properties": {"v": schema}}
    )
    assert (write.fields["v"].min_value, write.fields["v"].max_value) == (0, 2**31 - 1)
    (plan,) = SchemaResolver().resolve_record(write, _read("int"))
    assert plan.converter.violation is None


# ------------------------------------------------------ one table, four sources

# (name, JSON-Schema range keywords, XSD facets or None, observed [min, max],
#  observed column type, elected type)
_TABLE = [
    ("exact int32",
     {"type": "integer", "minimum": -(2**31), "maximum": 2**31 - 1},
     {"minInclusive": -(2**31), "maxInclusive": 2**31 - 1},
     (-(2**31), 2**31 - 1), T.LongType(), INT),
    ("int32+1",
     {"type": "integer", "minimum": -(2**31), "maximum": 2**31},
     {"minInclusive": -(2**31), "maxInclusive": 2**31},
     (-(2**31), 2**31), T.LongType(), LONG),
    ("exclusive 2^31",
     {"type": "integer", "minimum": 0, "exclusiveMaximum": 2**31},
     {"minInclusive": 0, "maxExclusive": 2**31},
     (0, 2**31 - 1), T.LongType(), INT),
    ("exact int64",
     {"type": "integer", "minimum": -(2**63), "maximum": 2**63 - 1},
     {"minInclusive": -(2**63), "maxInclusive": 2**63 - 1},
     (-(2**63), 2**63 - 1), T.LongType(), LONG),
    # no integral Spark type holds 2^63: the writer and the observed column
    # are decimal(38,0), which observed data elects by precision (19 digits)
    (">int64",
     {"type": "integer", "minimum": -(2**63), "maximum": 2**63},
     {"minInclusive": -(2**63), "maxInclusive": 2**63},
     (Decimal(-(2**63)), Decimal(2**63)), T.DecimalType(38, 0), DecimalType(19, 0)),
    ("[0.5, 999.5]",
     {"type": "number", "minimum": 0.5, "maximum": 999.5},
     None, (0.5, 999.5), T.DoubleType(), FLOAT),
    ("[0.123456, 0.5]",
     {"type": "number", "minimum": 0.123456, "maximum": 0.5},
     None, (0.123456, 0.5), T.DoubleType(), FLOAT),
]


def test_every_source_elects_the_same_type(spark):
    """JSON Schema, XSD facets (integer rows), the resolver's plan-time
    accept/reject for an annotated writer (integer rows) and
    ``suggest_read_type`` over the observed min/max agree on every range."""
    observed = spark.createDataFrame(
        [tuple(row[3][i] for row in _TABLE) for i in (0, 1)],
        T.StructType([T.StructField(f"c{k}", row[4]) for k, row in enumerate(_TABLE)]),
    )
    for k, (name, schema, facets, (lo, hi), dtype, want) in enumerate(_TABLE):
        assert infer_read_schema(schema)[0] == want, name
        assert suggest_read_type(observed, f"c{k}")[0] == want, name
        if facets is None:
            continue
        assert _xsd_integer(facets) == want, name
        kind = want.kind if isinstance(want, PrimitiveType) else "decimal"
        assert _resolved_int_kind(dtype, int(lo), int(hi)) == kind, name

