"""PySpark-native analytics engine with the capabilities of
m-mizutani/aws-vpcflowlogs-parquet (VPC Flow Logs → partitioned Parquet ETL
+ the analytic SQL surface it enables via Athena), re-expressed Spark-first.

Layout:
  session    — SparkSession factory (AQE on, UTC, tuned shuffle partitions)
  schema     — FlowLog record schema (reference flowlog.go:14-29)
  functions/ — expression helpers (zero-default casts, exact decimal aggs)
               shared by operators and oracles
  sources/   — flowlog text source + event-notification target discovery
  operators/ — batch converter, dedup, similarity, text analysis, multimodal
  plans/     — the query catalog exposed through __spark_entry__.py
  streaming/ — Structured Streaming converter + windowed/stateful ops
"""

__version__ = "0.1.0"
