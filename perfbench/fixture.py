"""Seeded inputs: the transcript table and one JSON document per turn.

Both are a pure function of ``(seed, n_convs)``. The table comes from
``transcripts(seed=...)`` with the four corruptions ``bench.py`` uses and the
generator's default hot-conversation skew. Each turn becomes one JSON
document; a hash of ``(seed, conv_id, turn_idx)`` picks the turns whose
document is cut in half (not valid JSON) or carries an impossible ``ts``.
Duplicated turns hash alike, so a duplicate gets the same defect.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from avro_conversions_spark.transcripts import transcripts

CORRUPTIONS = frozenset({"role_invalid", "dangling_tool", "dup_key", "ts_regression"})
TRUNCATE_EVERY = 211  # one document in 211 is cut in half
BAD_TS_EVERY = 223  # one document in 223 has a ts that is no date
BAD_TS = "2023-02-30T10:00:00Z"
TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
TURN_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def stage_turns(spark, seed: int, n_convs: int, path: str) -> None:
    transcripts(spark, n_convs=n_convs, seed=seed, corruptions=CORRUPTIONS).write.parquet(path)


def stage_docs(spark, seed: int, turns_path: str, path: str) -> None:
    """One JSON document per staged turn, beside the turn's own columns
    (prefixed ``src_``) for the per-turn check."""
    turns = spark.read.parquet(turns_path)
    h = F.xxhash64(F.lit(seed), "conv_id", "turn_idx", F.lit("doc"))
    ts = F.when(F.pmod(h, BAD_TS_EVERY) == 1, F.lit(BAD_TS)).otherwise(
        F.date_format("ts", TS_FORMAT)
    )
    doc = F.to_json(F.struct("conv_id", "turn_idx", "role", "text", "tool", ts.alias("ts")))
    doc = F.when(
        F.pmod(h, TRUNCATE_EVERY) == 0, F.left(doc, (F.length(doc) / 2).cast("int"))
    ).otherwise(doc)
    turns.select(*[F.col(c).alias(f"src_{c}") for c in TURN_COLS], doc.alias("doc")).write.parquet(
        path
    )
