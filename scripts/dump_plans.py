"""Dump .explain("formatted") for catalog queries to plans/r12/<q>_<tag>.txt.

Usage: python scripts/dump_plans.py --tag before q_lsh_recall q_near_dup_rate

Iterative queries run driver-side jobs during build (localCheckpoint
rounds); their dump therefore costs real compute — expected, we want the
final unrolled plan anyway.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES
from aws_vpcflowlogs_parquet_spark.session import get_spark

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLAN_ROUND", "r12"),
)


def main() -> None:
    args = sys.argv[1:]
    tag = "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        del args[i : i + 2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark("dump-plans")
    for name in args:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT_DIR, f"{name}_{tag}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
