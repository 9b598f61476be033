"""Dump .explain("formatted") of catalog queries to <out>/<q>_<tag>.txt
and each query's DuckDB oracle to <out>/<q>_<tag>.sql.

Usage: python scripts/dump_plans.py --out DIR [--tag before] [q_lsh_recall ...]

With no query names every registered query is dumped. Expression IDs
(``#1234``) and exchange plan ids (``plan_id=56``) count up across a
session, so they are stripped; the oracle text is written with every
whitespace run collapsed to one space. Two dumps of the same plans and
oracles, from two checkouts, compare equal with ``diff -r``. The input
is ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 test tables).

Iterative queries run driver-side jobs during build (localCheckpoint
rounds); their dump therefore costs real compute — expected, we want the
final unrolled plan anyway.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from aws_vpcflowlogs_parquet_spark.plans.catalog import ORACLES, QUERIES
from aws_vpcflowlogs_parquet_spark.session import get_spark

_SESSION_IDS = re.compile(r"(#|plan_id=)\d+")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True, help="directory the dumps are written to")
    ap.add_argument("--tag", default="before")
    ap.add_argument("names", nargs="*", help="default: every registered query")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(args.out, exist_ok=True)
    spark = get_spark("dump-plans")
    for name in args.names or sorted(QUERIES):
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.tag}")
        with open(f"{path}.txt", "w", encoding="utf-8") as fh:
            fh.write(_SESSION_IDS.sub(r"\1", plan))
        with open(f"{path}.sql", "w", encoding="utf-8") as fh:
            fh.write(" ".join(ORACLES[name].split()) + "\n")
        print(f"wrote {path}.txt ({len(plan)} bytes) and .sql", flush=True)


if __name__ == "__main__":
    main()
