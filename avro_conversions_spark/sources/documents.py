"""Document sources: JSON / XML text → typed rows under a read schema.

This is the table-scale re-expression of the reference's two parser entry
points (SURVEY.md §2.1 S1-S5, §3.1-3.2):

- JsonAsAvroParser (opwvhk/avro/json/JsonAsAvroParser.java:234-252):
  one JSON document → GenericRecord under an Avro read schema, failures
  thrown per document;
- XmlAsAvroParser (opwvhk/avro/xml/XmlAsAvroParser.java:289-308): same
  for XML via SAX.

Here a whole COLUMN of documents parses in one vectorized pass:

1. `from_json`/`from_xml` tokenizes into an all-strings struct (Spark's
   native, JVM-side parsers — the analogue of the reference's Jackson/SAX
   streaming stage, S3/S5);
2. the schema resolver compiles the read schema against that struct
   exactly like the reference's resolver-compile step, producing typed
   conversion Columns with defaults/aliases/enum-substitution;
3. unparseable values become violation rows with reason codes instead of
   exceptions (V9: an engine scanning 10^12 documents must not throw).

Nested structure support deliberately matches the reference: records,
arrays (no nested arrays), nullable unions, no maps.
"""

from __future__ import annotations

import re
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_conversions_spark.constraints.core import DOC_VIOLATION, _violation_array
from avro_conversions_spark.schema.model import (
    ArrayType,
    EnumType,
    FixedType,
    PrimitiveType,
    ReadType,
    RecordType,
    to_spark_type,
)
from avro_conversions_spark.schema.resolution import (
    SchemaResolver,
    WriteType,
    from_spark_schema,
)


def _tokenizer_schema(rt: ReadType) -> T.DataType:
    """The all-strings struct the tokenizer should produce: leaves as
    strings (the resolver applies typed conversion + validation), shape
    from the read schema so unknown writer fields are pruned at parse."""
    if isinstance(rt, RecordType):
        return T.StructType(
            [T.StructField(n, _tokenizer_schema(f.type), True) for f in rt.fields for n in f.match_names()]
        )
    if isinstance(rt, ArrayType):
        return T.ArrayType(_tokenizer_schema(rt.items), True)
    return T.StringType()


def _annotations(rt: ReadType) -> dict:
    """WriteType annotations needed for resolution of string leaves:
    date/time/timestamp formats and binary encodings come from the READ
    side here (trust-the-format), mirroring the reference's base rules."""
    if isinstance(rt, RecordType):
        out = {}
        for f in rt.fields:
            ann = _annotations(f.type)
            if ann:
                for n in f.match_names():
                    out[n] = ann
        return out
    if isinstance(rt, ArrayType):
        inner = _annotations(rt.items)
        return {"items": inner} if inner else {}
    from avro_conversions_spark.schema.model import LogicalType

    if isinstance(rt, LogicalType):
        if rt.kind == "date":
            return {"format": "date"}
        if rt.kind.startswith("time-"):
            return {"format": "time"}
        return {"format": "date-time"}
    if isinstance(rt, FixedType) or (isinstance(rt, PrimitiveType) and rt.kind == "bytes"):
        return {"content_encoding": "base64"}
    return {}


# PERMISSIVE mode puts the raw text of an unparseable document into the
# corrupt-record column instead of failing the job (the reference throws
# IOException "Invalid JSON" / SAXException per document — V9 says:
# violation, not exception)
_PERMISSIVE = {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt_record"}


def _stage(
    df: DataFrame,
    src_col: str,
    tok_fields: list[T.StructField],
    keep_cols: list[str],
    tokenize: Callable[..., Column],
    options: dict[str, str] = _PERMISSIVE,
) -> DataFrame:
    """keep_cols + ``_raw`` (the document) + ``_doc`` (its tokenized
    struct) + ``_corrupt`` (true when the document does not parse at all)."""
    tok_with_corrupt = T.StructType(
        tok_fields + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    staged = df.select(
        *keep_cols,
        F.col(src_col).alias("_raw"),
        tokenize(F.col(src_col), tok_with_corrupt, options).alias("_doc"),
    )
    return staged.withColumn(
        "_corrupt",
        F.col("_raw").isNotNull()
        & (F.col("_doc").isNull() | F.col("_doc._corrupt_record").isNotNull()),
    )


def _typed(
    flat: DataFrame, read: RecordType, binary_encoding: str, keep_cols: list[str]
) -> DataFrame:
    """The tail every parser shares: resolve ``flat``'s string-typed read
    fields against ``read`` into keep_cols + one typed column per read field
    + ``_violations`` + ``_corrupt``. Violations ``flat`` already staged in
    a ``_struct_viols`` column come first."""
    ann = _annotations(read)

    def override_encoding(d: dict) -> dict:
        return {
            k: (
                {**v, "content_encoding": binary_encoding}
                if isinstance(v, dict) and "content_encoding" in v
                else (override_encoding(v) if isinstance(v, dict) else v)
            )
            for k, v in d.items()
        }

    if binary_encoding != "base64":
        ann = override_encoding(ann)
    names = {f.name for f in read.fields}
    wt = from_spark_schema(T.StructType([x for x in flat.schema.fields if x.name in names]), ann)
    plans = SchemaResolver(strict_nullability=False, trust_reader=True).resolve_record(wt, read)
    checks = []
    for p in plans:
        vp = p.violation_pred()
        if vp is not None:
            checks.append((vp, (p.name, p.converter.reason or "UNPARSEABLE")))
    viol_arr = _violation_array(checks, DOC_VIOLATION)
    if "_struct_viols" in flat.columns:
        viol_arr = F.concat(F.col("_struct_viols"), viol_arr) if checks else F.col("_struct_viols")
    return flat.select(
        *keep_cols,
        *[p.value() for p in plans],
        viol_arr.alias("_violations"),
        "_corrupt",
    )


def _parse_column(
    df: DataFrame,
    src_col: str,
    read: RecordType,
    binary_encoding: str,
    keep_cols: list[str] | None,
    tokenize: Callable[..., Column],
) -> DataFrame:
    keep = keep_cols or []
    staged = _stage(df, src_col, list(_tokenizer_schema(read).fields), keep, tokenize)
    flat = staged.select(
        *keep,
        "_raw",
        "_corrupt",
        # alias matching (doc/index.md:34-47): the tokenizer captured every
        # alias as its own field; fold them into the primary name here
        *[
            F.coalesce(*[F.col("_doc").getField(n) for n in f.match_names()]).alias(f.name)
            for f in read.fields
        ],
    )
    return _typed(flat, read, binary_encoding, keep)


def parse_json_column(
    df: DataFrame,
    json_col: str,
    read: RecordType,
    binary_encoding: str = "base64",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Parse a string column of JSON documents under ``read``.

    Output: keep_cols + one typed column per read field + `_violations`
    (array of structs (column, reason)) + `_corrupt` (true when the
    document is not valid JSON at all — reference behavior:
    IOException 'Invalid JSON', json/JsonAsAvroParserTest.java:90-95).
    """
    return _parse_column(df, json_col, read, binary_encoding, keep_cols, F.from_json)


def parse_xml_column(
    df: DataFrame,
    xml_col: str,
    read: RecordType,
    binary_encoding: str = "base16",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """XML variant (reference: XmlAsAvroParser). Spark 4 ships from_xml
    natively; repeated elements map to arrays in the tokenizer schema, the
    cardinality rules (R36) are enforced by the resolver. A document that
    is not XML at all flags ``_corrupt`` (the reference raises SAXException
    per document, xml/XmlResolvingTest.java:163-212); from_xml alone would
    return a null-filled struct, not null."""
    return _parse_column(df, xml_col, read, binary_encoding, keep_cols, F.from_xml)


def read_json_documents(
    spark, path: str, read: RecordType, binary_encoding: str = "base64"
) -> DataFrame:
    """File-source form (S2: parse(URL)): newline-delimited JSON files →
    typed rows. The text source is splittable, so a 100 TB corpus scans
    in parallel; schema inference is skipped (we declare the tokenizer
    schema), which also avoids a full inference pre-pass."""
    raw = spark.read.text(path).withColumnRenamed("value", "_json")
    return parse_json_column(raw, "_json", read, binary_encoding)


def parse_xml_with_xsd(
    df: DataFrame,
    xml_col: str,
    xsd_source: str,
    root_element: str,
    read: RecordType | None = None,
    binary_encoding: str = "base16",
    keep_cols: list[str] | None = None,
    xsd_resolver: dict[str, str] | None = None,
) -> DataFrame:
    """XML parsing with runtime XSD STRUCTURAL validation
    (XmlAsAvroParser.java:263-278: the reference SAX-validates each
    document against the XSD while parsing; failure tests
    xml/XmlResolvingTest.java:163-212).

    Well-formed-but-invalid documents produce violation rows instead of
    SAXExceptions (V9): a required element/attribute missing from the
    document flags ``MISSING_REQUIRED_ELEMENT`` (the reference yields an
    object that explodes on first use — here the null is never silent), a
    maxOccurs=1 element appearing more than once flags
    ``TOO_MANY_ELEMENTS`` (first occurrence is kept as the value), and an
    enumeration-facet mismatch flags the resolver's enum violation because
    the XSD's facets flow into the default read schema.

    Cardinality detection works by tokenizing every single-valued root
    field as ``array<...>`` — ``from_xml`` collects repeated elements, so
    occurrence counting is a JVM-side ``size()``, not a reparse.
    Structural rules are enforced at the root-record level (nested records
    validate through the resolver's null/violation path, matching the
    repo's flat-table semantic — see SURVEY S5 note).

    ``read`` defaults to the XSD-inferred read schema
    (``infer_read_schema_from_xsd``); pass a declared .avsc read schema to
    resolve against it instead (names must match the XSD's elements).
    """
    from avro_conversions_spark.schema.xsd import (
        Card,
        XsdAnalyzer,
        XStruct,
        to_read_type,
    )

    xt = XsdAnalyzer(xsd_source, xsd_resolver).type_of(root_element)
    if not isinstance(xt, XStruct):
        raise ValueError(f"root element {root_element!r} is not a structure")
    if read is None:
        rt = to_read_type(xt)
        if not isinstance(rt, RecordType):
            raise ValueError(f"root element {root_element!r} has no record read schema")
        read = rt
    cards = {f.name: f.card for f in xt.fields}
    # fields whose XSD type carries unparsed content (mixed / xs:any —
    # TypeWithUnparsedContent): their 'value' member must hold the RAW
    # inner subtree re-assembled from the document, markup included
    # (SimpleContentAdapter.java:44-135; XmlResolvingTest
    # testContentOfMixedElements) — from_xml would only yield the
    # character data, dropping nested markup
    unparsed_fields = {
        f.name for f in xt.fields if isinstance(f.type, XStruct) and f.type.unparsed
    }

    # tokenizer: single-valued fields wrapped as arrays for occurrence counts
    tok_fields = []
    for f in read.fields:
        inner = _tokenizer_schema(f.type)
        multiple = cards.get(f.name) == Card.MULTIPLE
        for n in f.match_names():
            tok_fields.append(
                T.StructField(n, inner if multiple else T.ArrayType(inner, True), True)
            )
    keep = keep_cols or []
    # attributes and simpleContent text map onto the read schema's plain
    # field names ('type', 'value'), not '_type' / '_VALUE'
    options = {**_PERMISSIVE, "attributePrefix": "", "valueTag": "value"}
    staged = _stage(df, xml_col, tok_fields, keep, F.from_xml, options)

    def _raw_subtree(tag: str) -> Column:
        """Re-assemble the raw inner content of <tag>...</tag> from the
        document text (optional namespace prefix, attributes, dotall).
        The tag name is regex-escaped — legal XML names may contain regex
        metacharacters ('.', '-') that would otherwise over-match.
        Limitation vs the reference's SAX stack: a tag self-nested inside
        its own unparsed payload truncates at the first close tag."""
        tag = re.escape(tag)
        rx = rf"(?s)<(?:\w+:)?{tag}(?:\s[^>]*)?>(.*?)</(?:\w+:)?{tag}>"
        inner = F.trim(F.regexp_extract(F.col("_raw"), rx, 1))
        return F.when(inner != "", inner)

    # structural checks + scalarization of the occurrence arrays
    value_cols, struct_checks = [], []
    for f in read.fields:
        # getField, not a dotted path string — legal XML names may contain
        # '.', which F.col("_doc.a.b") would mis-parse as nesting
        merged = F.coalesce(*[F.col("_doc").getField(n) for n in f.match_names()])
        card = cards.get(f.name, Card.OPTIONAL)
        if card == Card.MULTIPLE:
            value_cols.append(merged.alias(f.name))
            continue
        n_occ = F.coalesce(F.array_size(merged), F.lit(0))
        if card == Card.REQUIRED:
            struct_checks.append(
                (~F.col("_corrupt") & (n_occ == 0), (f.name, "MISSING_REQUIRED_ELEMENT"))
            )
        struct_checks.append((~F.col("_corrupt") & (n_occ > 1), (f.name, "TOO_MANY_ELEMENTS")))
        scalar = F.element_at(merged, 1)
        if f.name in unparsed_fields and isinstance(f.type, RecordType):
            # swap the tokenizer's character-data 'value' for the raw
            # re-assembled subtree; attributes keep their parsed values
            members = [
                (scalar.getField(rf.name).alias(rf.name))
                if rf.name != "value"
                else _raw_subtree(f.name).alias("value")
                for rf in f.type.fields
            ]
            scalar = F.when(scalar.isNotNull(), F.struct(*members))
        value_cols.append(scalar.alias(f.name))

    # structural violations reference `_doc` occurrence arrays, so they
    # must materialize in THIS projection — `flat` drops `_doc`
    struct_viols = (
        [_violation_array(struct_checks, DOC_VIOLATION).alias("_struct_viols")]
        if struct_checks
        else []
    )
    flat = staged.select(*keep, "_raw", "_corrupt", *struct_viols, *value_cols)
    return _typed(flat, read, binary_encoding, keep)
