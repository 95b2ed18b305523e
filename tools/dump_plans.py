"""Dump .explain('formatted') for named queries to <out_dir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <out_dir> <tag> <query>...  (data: $SPARK_GRAFT_SF_DIR)
"""
from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from avro_conversions_spark.session import get_spark  # noqa: E402


def main() -> None:
    out_dir, tag, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from avro_conversions_spark.operators.queries import QUERIES

    spark = get_spark(app_name="plans")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
