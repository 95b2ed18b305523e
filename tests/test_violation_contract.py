"""The violation contract (FIXTURES.md §5) as every producer emits it: the
document parsers' ``_violations`` type, the file-source encoding, the
streaming bridge's time column and ``observed`` format, and the oracle
staging paths."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from avro_conversions_spark.constraints import RowConstraint, enum_in
from avro_conversions_spark.engine import ValidationEngine
from avro_conversions_spark.schema import from_avsc
from avro_conversions_spark.sources import parse_json_column, parse_xml_column, read_json_documents
from avro_conversions_spark.streaming import streaming_violations, windowed_violation_counts
from avro_conversions_spark.transcripts import ROLES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOC_VIOLATIONS_TYPE = "array<struct<column:string,reason:string>>"


def _run_memory_stream(spark, df, name: str, mode: str) -> list:
    q = df.writeStream.format("memory").queryName(name).outputMode(mode)
    q = q.trigger(availableNow=True).start()
    q.awaitTermination(120)
    return spark.sql(f"select * from {name}").collect()


def test_read_json_documents_forwards_binary_encoding(spark, tmp_path):
    read, _ = from_avsc(
        '{"type":"record","name":"R","fields":['
        '{"name":"id","type":"long"},{"name":"payload","type":"bytes"}]}'
    )
    path = tmp_path / "docs.ndjson"
    path.write_text('{"id": 1, "payload": "48656C6C6F"}\n{"id": 2, "payload": "00FF"}\n')
    rows = {r.id: r for r in read_json_documents(spark, str(path), read, "base16").collect()}
    assert bytes(rows[1].payload) == b"Hello"
    assert bytes(rows[2].payload) == b"\x00\xff"
    assert all(r._violations == [] and not r._corrupt for r in rows.values())


def test_violations_typed_when_read_schema_has_no_checks(spark):
    read, _ = from_avsc(
        '{"type":"record","name":"S","fields":['
        '{"name":"a","type":"string"},'
        '{"name":"b","type":["null","string"],"default":null}]}'
    )
    json_docs = spark.createDataFrame([('{"a": "x", "b": "y"}',), ("{{{",)], "doc string")
    xml_docs = spark.createDataFrame([("<r><a>x</a><b>y</b></r>",)], "doc string")
    for out in (
        parse_json_column(json_docs, "doc", read),
        parse_xml_column(xml_docs, "doc", read),
    ):
        assert out.schema["_violations"].dataType.simpleString() == DOC_VIOLATIONS_TYPE
        assert all(r._violations == [] for r in out.collect())


def _stream_source(spark, tmp_path, ts_name: str):
    path = str(tmp_path / f"src_{ts_name}")
    spark.createDataFrame(
        [
            ("c1", 0, "system", "2024-01-01 00:00:10"),
            ("c1", 1, "operator", "2024-01-01 00:00:20"),
            ("c2", 0, "weird", "2024-01-01 00:01:30"),
        ],
        "conv_id string, turn_idx int, role string, ts_s string",
    ).select(
        "conv_id", "turn_idx", "role", F.col("ts_s").cast("timestamp").alias(ts_name)
    ).write.parquet(path)
    schema = f"conv_id string, turn_idx int, role string, {ts_name} timestamp"
    return spark.read.parquet(path), spark.readStream.schema(schema).parquet(path)


def test_windowed_counts_on_a_stream_without_ts_column(spark, tmp_path):
    _, stream = _stream_source(spark, tmp_path, "event_ts")
    out = windowed_violation_counts(
        stream, [enum_in("role", ROLES)], window="1 minute", ts_col="event_ts"
    )
    got = {
        (str(r.window_start), r.constraint): r.violation_count
        for r in _run_memory_stream(spark, out, "viol_counts_event_ts", "complete")
    }
    assert got == {
        ("2024-01-01 00:00:00", "enum(role)"): 1,
        ("2024-01-01 00:01:00", "enum(role)"): 1,
    }


def test_streaming_observed_matches_batch_for_timestamps(spark, tmp_path):
    batch, stream = _stream_source(spark, tmp_path, "ts")
    late = RowConstraint(
        name="late(ts)",
        column="ts",
        reason="TOO_LATE",
        predicate=lambda c: c > F.lit("2024-01-01 00:00:15").cast("timestamp"),
    )
    batch_rows = ValidationEngine(row_constraints=[late]).violations_df(batch).collect()
    stream_rows = _run_memory_stream(
        spark, streaming_violations(stream, [late]), "viol_rows_ts", "append"
    )

    def observed(rows):
        return sorted((r.conv_id, r.turn_idx, r.observed) for r in rows)

    assert observed(stream_rows) == observed(batch_rows) == [
        ("c1", 1, "2024-01-01T00:00:20.000000Z"),
        ("c2", 0, "2024-01-01T00:01:30.000000Z"),
    ]


def test_oracle_text_is_identical_across_processes():
    script = (
        "import json, sys\n"
        "from avro_conversions_spark.operators.queries import ORACLES\n"
        "sys.stdout.write(json.dumps(ORACLES, sort_keys=True))\n"
    )
    env = {**os.environ, "PYTHONPATH": REPO}
    texts = [
        subprocess.run(
            [sys.executable, "-c", script], cwd=REPO, env=env, check=True, capture_output=True
        ).stdout
        for _ in range(2)
    ]
    assert texts[0] == texts[1]
    assert len(json.loads(texts[0])) > 0
