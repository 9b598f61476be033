"""The generated-class cache holds the working set of a query mix.

Spark compiles every generated class (whole-stage pipelines, projections,
orderings) through Janino and keeps it in a process-wide cache keyed by
source text, so a repeated query shape reuses its classes. At Spark's
default of 100 entries, the two heavy queries below push a light query's
classes out, and running it again recompiles all of them.

The cache is per JVM and the shared test session has already compiled
whatever earlier tests ran, so the sequence runs in a fresh process with
a session from ``get_spark``, the same factory the benchmark uses.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from aws_vpcflowlogs_parquet_spark.session import CODEGEN_CACHE_ENTRIES

from .conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SEQUENCE = """
import json, sys
from aws_vpcflowlogs_parquet_spark.observability import codegen_counters
from aws_vpcflowlogs_parquet_spark.plans.catalog import QUERIES
from aws_vpcflowlogs_parquet_spark.session import get_spark

spark = get_spark("codegen-cache-test")
out = []
for name in sys.argv[2:]:
    before, _ = codegen_counters(spark)
    QUERIES[name](spark, sys.argv[1]).collect()
    out.append(codegen_counters(spark)[0] - before)
spark.stop()
print(json.dumps(out))
"""


def test_repeat_query_compiles_nothing_after_heavy_queries(tmp_path):
    names = ["q_tpch_q6", "q_dedup_prefix_filter", "q_pagerank", "q_tpch_q6"]
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SEQUENCE, SF_DIR, *names],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    first, dedup, pagerank, repeat = json.loads(proc.stdout.splitlines()[-1])
    assert first > 0
    # more new classes than Spark's default cache holds in total
    assert 100 < dedup + pagerank < CODEGEN_CACHE_ENTRIES, (dedup, pagerank)
    assert repeat == 0, (first, dedup, pagerank, repeat)
