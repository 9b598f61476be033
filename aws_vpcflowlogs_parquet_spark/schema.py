"""FlowLog record schema — the reference's single data abstraction.

Maps the Go struct + parquet tags (reference flowlog.go:14-29) and the Glue
table columns (reference template.yml:130-158) onto a Spark ``StructType``.
``end_ts`` is LongType — the Glue template declares `int`
(template.yml:153-154) while the parquet writer stores INT64 (flowlog.go:26);
we use the storage type and do not replicate the catalog bug (SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import types as T

# column name at rest -> (raw index, spark type), in v2 line order
# (reference flowlog.go:36-90; samples/sample1.log header). Names follow
# the Glue table (template.yml:130-158): lowercase, no dashes, and the raw
# start/end fields are start_ts/end_ts at rest (flowlog.go:25-26).
FLOW_COLUMNS: dict[str, tuple[int, T.DataType]] = {
    "version": (0, T.IntegerType()),
    "accountid": (1, T.StringType()),
    "interfaceid": (2, T.StringType()),
    "srcaddr": (3, T.StringType()),
    "dstaddr": (4, T.StringType()),
    "srcport": (5, T.IntegerType()),
    "dstport": (6, T.IntegerType()),
    "protocol": (7, T.IntegerType()),
    "packets": (8, T.IntegerType()),
    "bytes": (9, T.IntegerType()),
    "start_ts": (10, T.LongType()),
    "end_ts": (11, T.LongType()),
    "action": (12, T.StringType()),
    "logstatus": (13, T.StringType()),
}

FLOW_SCHEMA = T.StructType(
    [T.StructField(name, dtype, True) for name, (_, dtype) in FLOW_COLUMNS.items()]
)

# Partition columns of the queryable table (reference template.yml:122-126):
# dt and account derived from event time + accountid (reference
# convert.go:13-27), src from the source object, so each object's output
# is its own partition as each is its own output object in the reference
# (convert.go:86).
PARTITION_COLUMNS = ["dt", "account", "src"]

NUM_RAW_TOKENS = len(FLOW_COLUMNS)  # arity predicate: exactly 14 (flowlog.go:36-40)
SUPPORTED_VERSION = 2  # version gate (flowlog.go:46-48)
