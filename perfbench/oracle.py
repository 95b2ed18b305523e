"""Independent output checks, computed with DuckDB from the staged parquet.

Every function returns expected values or a list of problems; an empty list
means the output is correct. Run as a module (``python3 -m perfbench.oracle``),
it answers pickled ``(function name, args)`` requests on standard input until
that closes.
"""

from __future__ import annotations

import os
import pickle
import sys
import traceback

import duckdb

from avro_conversions_spark.transcripts import ROLES, TOOLS

_ROLES = ", ".join(f"'{r}'" for r in ROLES)
_TOOLS = ", ".join(f"'{t}'" for t, _ in TOOLS)

# one count per constraint, keyed by the engine's constraint name
_ROW_COUNTS = f"""
SELECT count(*) AS rows,
       count(*) FILTER (WHERE conv_id IS NULL) AS "not_null(conv_id)",
       count(*) FILTER (WHERE turn_idx IS NULL) AS "not_null(turn_idx)",
       count(*) FILTER (WHERE role IS NOT NULL AND role NOT IN ({_ROLES})) AS "enum(role)",
       count(*) FILTER (WHERE turn_idx < 0 OR turn_idx > 2147483647) AS "range(turn_idx)",
       count(*) FILTER (WHERE tool IS NOT NULL AND tool NOT IN ({_TOOLS})) AS "ref(tool)"
FROM t
"""
_UNIQUE = """
SELECT count(*) FROM (SELECT 1 FROM t GROUP BY conv_id, turn_idx HAVING count(*) > 1)
"""
_SEQUENCE = """
SELECT count(*) FILTER (WHERE turn_idx <> rn)
     + count(*) FILTER (WHERE prev_ts IS NOT NULL AND ts < prev_ts)
FROM (SELECT turn_idx, ts,
             row_number() OVER w - 1 AS rn,
             lag(ts) OVER w AS prev_ts
      FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
"""


def _connect(table: str, path: str):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}/*.parquet')")
    return con


def transcript_counts(turns_path: str) -> tuple[int, dict[str, int]]:
    """(rows, violations per constraint) for the full suite."""
    with _connect("t", turns_path) as con:
        cur = con.execute(_ROW_COUNTS)
        names = [d[0] for d in cur.description]
        row = dict(zip(names, cur.fetchone()))
        row["unique(conv_id,turn_idx)"] = con.execute(_UNIQUE).fetchone()[0]
        row["sequence(conv_id,turn_idx)"] = con.execute(_SEQUENCE).fetchone()[0]
    return row.pop("rows"), row


def document_counts(docs_path: str) -> dict[str, int]:
    """Documents, invalid JSON, and valid JSON whose ts is no timestamp."""
    with _connect("d", docs_path) as con:
        docs, corrupt, bad_ts = con.execute(
            """
            SELECT count(*),
                   count(*) FILTER (WHERE NOT json_valid(doc)),
                   count(*) FILTER (WHERE CASE WHEN json_valid(doc) THEN
                       TRY_CAST(json_extract_string(doc, '$.ts') AS TIMESTAMP) IS NULL END)
            FROM d
            """
        ).fetchone()
    return {"docs": docs, "corrupt": corrupt, "violations": bad_ts, "ok": docs - corrupt - bad_ts}


def check_verdicts(verdicts: list[dict], rows: int, expected: dict[str, int]) -> list[str]:
    got = {v["constraint"]: v["violation_count"] for v in verdicts}
    problems = [] if got == expected else [f"verdict counts {got} != {expected}"]
    checked = {v["rows_checked"] for v in verdicts}
    if checked != {rows}:
        problems.append(f"rows_checked {checked} != {rows}")
    return problems


def check_families(got: dict[str, int], expected: dict[str, int]) -> list[str]:
    want = {
        "row": sum(n for k, n in expected.items() if k.split("(")[0] in ("not_null", "enum", "range")),
        "unique": expected["unique(conv_id,turn_idx)"],
        "ref": expected["ref(tool)"],
        "sequence": expected["sequence(conv_id,turn_idx)"],
    }
    return [] if got == want else [f"family counts {got} != {want}"]


def check_documents(got: dict, expected: dict[str, int]) -> list[str]:
    got = {k: got[k] for k in expected}
    return [] if got == expected else [f"document counts {got} != {expected}"]


def check_parsed(parsed_path: str, expected: dict[str, int], enum_default: str) -> list[str]:
    """Every valid document parses to its source turn (an invalid role is
    repaired to the enum default); an impossible ts is NULL and flagged."""
    with _connect("p", parsed_path) as con:
        ok, bad_ts, mismatched = con.execute(
            f"""
            SELECT count(*) FILTER (WHERE NOT _corrupt AND len(_violations) = 0),
                   count(*) FILTER (WHERE NOT _corrupt AND len(_violations) = 1
                                      AND ts IS NULL),
                   count(*) FILTER (WHERE NOT _corrupt AND NOT (
                       conv_id = src_conv_id AND turn_idx = src_turn_idx
                       AND role = CASE WHEN src_role IN ({_ROLES}) THEN src_role
                                       ELSE '{enum_default}' END
                       AND text = src_text AND tool IS NOT DISTINCT FROM src_tool
                       AND ((len(_violations) = 0 AND ts = src_ts)
                            OR (len(_violations) = 1 AND ts IS NULL))))
            FROM p
            """
        ).fetchone()
    problems = []
    if mismatched:
        problems.append(f"{mismatched} parsed turns differ from their source row")
    if (ok, bad_ts) != (expected["ok"], expected["violations"]):
        problems.append(f"ok/bad-ts documents {(ok, bad_ts)} != {(expected['ok'], expected['violations'])}")
    return problems


def check_resume(out: str, rows: int, expected: dict[str, int], n_buckets: int) -> list[str]:
    """Bucket verdicts sum to the whole-table counts, violations agree, and
    each bucket has exactly one watermark carrying its row count."""
    problems = []
    with duckdb.connect() as con:
        v = f"read_parquet('{out}/verdicts/*/*.parquet', hive_partitioning = true)"
        got = dict(con.execute(f"SELECT \"constraint\", sum(violation_count) FROM {v} GROUP BY 1").fetchall())
        if got != expected:
            problems.append(f"summed bucket verdicts {got} != {expected}")
        per_bucket = dict(
            con.execute(
                f"SELECT CAST(partition_key AS VARCHAR), max(rows_checked) FROM {v} GROUP BY 1"
            ).fetchall()
        )
        if sum(per_bucket.values()) != rows:
            problems.append(f"bucket rows_checked sum {sum(per_bucket.values())} != {rows}")
        vi = f"read_parquet('{out}/violations/*/*.parquet', hive_partitioning = true)"
        got = dict(con.execute(f"SELECT \"constraint\", count(*) FROM {vi} GROUP BY 1").fetchall())
        if got != {k: n for k, n in expected.items() if n}:
            problems.append(f"violation rows {got} != {expected}")
        marks = con.execute(
            f"SELECT partition_key, count(*), max(rows) FROM read_parquet('{out}/ledger/*.parquet') GROUP BY 1"
        ).fetchall()
    want = {str(b) for b in range(n_buckets)}
    if {pk for pk, _, _ in marks} != want or any(n != 1 for _, n, _ in marks):
        problems.append(f"ledger watermarks {sorted(marks)} are not one per bucket {sorted(want)}")
    if any(per_bucket.get(pk) != r for pk, _, r in marks):
        problems.append(f"watermark rows {sorted(marks)} != bucket rows_checked {per_bucket}")
    return problems



def serve() -> None:
    """Answer each request with ``(True, result)`` or ``(False, traceback)``."""
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)  # nothing else printed may land among the replies
    inp = sys.stdin.buffer
    while True:
        try:
            name, args = pickle.load(inp)
        except EOFError:
            return
        try:
            reply = (True, globals()[name](*args))
        except Exception:  # noqa: BLE001 — the caller counts it as a failed check
            reply = (False, traceback.format_exc())
        pickle.dump(reply, out)
        out.flush()


if __name__ == "__main__":
    serve()
