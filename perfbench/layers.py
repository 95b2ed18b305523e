"""The calls the benchmark makes into each layer of the validator.

Each operation runs the same code traced or untraced: with tracing off every
``tracer.span`` is a no-op. The constraint suite is the one ``bench.py``
times in ``validate_transcripts``.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from avro_conversions_spark.constraints import (
    ReferentialConstraint,
    SequenceConstraint,
    UniqueConstraint,
    enum_in,
    not_null,
    range_check,
)
from avro_conversions_spark.engine import ValidationEngine
from avro_conversions_spark.ledger import ParquetLedger, ResumableValidation
from avro_conversions_spark.schema import SchemaResolver, from_avsc, from_spark_schema
from avro_conversions_spark.sources import parse_json_column
from avro_conversions_spark.transcripts import ROLES, tool_catalog

N_BUCKETS = 4
ENUM_DEFAULT = "assistant"
READ_SCHEMA, _ = from_avsc(
    {
        "type": "record",
        "name": "Turn",
        "fields": [
            {"name": "conv_id", "type": "string"},
            {"name": "turn_idx", "type": "int"},
            {
                "name": "role",
                "type": {
                    "type": "enum",
                    "name": "Role",
                    "symbols": list(ROLES),
                    "default": ENUM_DEFAULT,
                },
            },
            {"name": "text", "type": "string"},
            {"name": "tool", "type": ["null", "string"], "default": None},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        ],
    }
)
READ_COLS = tuple(f.name for f in READ_SCHEMA.fields)


def row_constraints():
    return [
        not_null("conv_id"),
        not_null("turn_idx"),
        enum_in("role", ROLES),
        range_check("turn_idx", 0, 2**31 - 1),
    ]


def suite(spark) -> ValidationEngine:
    return ValidationEngine(
        row_constraints=row_constraints(),
        unique_constraints=[UniqueConstraint(("conv_id", "turn_idx"))],
        referential_constraints=[
            ReferentialConstraint("tool", tool_catalog(spark), "tool_name")
        ],
        sequence_constraints=[SequenceConstraint()],
    )


# ------------------------------------------------------------------ engine


def validate(engine: ValidationEngine, turns, tracer, run_id: str) -> dict:
    """Full suite over the table; sink as in ``bench.py``."""
    with tracer.span("engine"):
        with tracer.span("engine.build"):
            res = engine.run(turns, run_id=run_id)
        with tracer.span("engine.verdicts"):
            verdicts = [r.asDict() for r in res.verdicts.collect()]
        with tracer.span("engine.violations"):
            n_violations = res.violations.count()
        res.unpersist()
    return {"verdicts": verdicts, "violation_rows": n_violations}


def families(spark, turns, tracer) -> dict[str, int]:
    """Each constraint family alone, through its public method."""
    out = {}
    runs = {
        "row": lambda: ValidationEngine(row_constraints=row_constraints()).violations_df(turns),
        "unique": lambda: UniqueConstraint(("conv_id", "turn_idx")).violations(turns),
        "ref": lambda: ReferentialConstraint(
            "tool", tool_catalog(spark), "tool_name"
        ).violations(turns),
        "sequence": lambda: SequenceConstraint().violations(turns),
    }
    for name, build in runs.items():
        with tracer.span(f"constraints.{name}"):
            out[name] = build().count()
    return out


# ------------------------------------------------------- schema, documents


def resolve_schema(tracer) -> list:
    """Resolve the read schema against the writer a JSON tokenizer yields:
    every field a string, ``ts`` annotated as an ISO date-time."""
    writer = T.StructType([T.StructField(c, T.StringType()) for c in READ_COLS])
    with tracer.span("schema.resolve"):
        wt = from_spark_schema(writer, {"ts": {"format": "date-time"}})
        return SchemaResolver(strict_nullability=False, trust_reader=True).resolve_record(
            wt, READ_SCHEMA
        )


def parse(docs, tracer) -> dict:
    """Parse every document; one aggregate forces every converted column."""
    with tracer.span("documents"):
        with tracer.span("documents.build"):
            parsed = parse_json_column(docs, "doc", READ_SCHEMA)
        ok = ~F.col("_corrupt") & (F.size("_violations") == 0)
        with tracer.span("documents.exec"):
            row = parsed.agg(
                F.count(F.lit(1)).alias("docs"),
                F.count_if("_corrupt").alias("corrupt"),
                F.sum(F.size("_violations")).alias("violations"),
                F.count_if(ok).alias("ok"),
                F.sum(F.pmod(F.xxhash64(*READ_COLS), F.lit(1 << 31))).alias("fingerprint"),
            ).first()
    return row.asDict()


def parse_with_source(docs):
    """Parsed fields beside the source turn, for the per-turn check."""
    src = [c for c in docs.columns if c.startswith("src_")]
    return parse_json_column(docs, "doc", READ_SCHEMA, keep_cols=src)


# ------------------------------------------------------------------ ledger


def resume(engine: ValidationEngine, turns, out: str, tracer, run_id: str) -> dict:
    """A resumable run from a fresh ledger, staged and written partitioned.

    Traced, the ledger's ``commit``/``completed`` and the engine's ``run``
    are wrapped on these instances, so each call is a span."""
    ledger = ParquetLedger(turns.sparkSession, f"{out}/ledger")
    if tracer.enabled:
        ledger.commit = tracer.wrap("ledger.commit", ledger.commit)
        ledger.completed = tracer.wrap("ledger.completed", ledger.completed)
        engine.run = tracer.wrap("engine.run", engine.run)
    rv = ResumableValidation(engine, ledger, n_buckets=N_BUCKETS, stage_path=f"{out}/stage")
    with tracer.span("ledger.run"):
        done = rv.run(
            turns,
            run_id,
            verdicts_path=f"{out}/verdicts",
            violations_path=f"{out}/violations",
        )
    if tracer.enabled:
        with tracer.span("ledger.resume_noop"):
            rv.run(turns, run_id)
    return done
