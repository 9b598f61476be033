from __future__ import annotations

import math

import duckdb
import pytest

from aws_vpcflowlogs_parquet_spark.session import get_spark
from aws_vpcflowlogs_parquet_spark.sources.tables import TABLE_NAMES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def executed_plan(df) -> str:
    """The physical plan of ``df`` as Spark prints it (AQE's final plan
    once ``df`` has run)."""
    return df._jdf.queryExecution().executedPlan().toString()


def no_python(plan: str) -> bool:
    """True when ``plan`` evaluates no Python UDF row-wise or Arrow-batched."""
    return "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def _canon_cell(v):
    """Canonical, exact representation of one value (floats bit-exact)."""
    if v is None:
        return "\0null"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0nan"
        return v.hex()
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Order-insensitive canonical form: sort columns by name, then rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare_spark_duck(sdf, duck_con, sql: str) -> tuple[bool, str]:
    """Replicates the driver's t2 check: row count + column names + exact
    order-insensitive values. Returns (ok, message)."""
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    res = duck_con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    if sorted(spark_cols) != sorted(duck_cols):
        return False, f"columns differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    if len(spark_rows) != len(duck_rows):
        return False, f"row counts differ: spark={len(spark_rows)} duck={len(duck_rows)}"
    a = canon_rows(spark_cols, spark_rows)
    b = canon_rows(duck_cols, duck_rows)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return False, f"values differ; first diffs: {diffs}"
    return True, "ok"
