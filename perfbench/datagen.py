"""Seeded input generators for the benchmark.

Two families, both pure NumPy/PyArrow in the benchmark process (no Spark,
so generation time never leaks into a session metric):

- ``write_tables``: the ten analytic tables the query catalog reads
  (region … embeddings), with the shapes, domains and near-duplicate
  structure of the catalog's fixture tables, at a chosen scale factor.
- ``make_flowlog_traffic``: S3-style events over gzip VPC flow-log v2
  objects, one account per object as AWS delivers them, together with the
  ground truth the ingest workload checks against.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass, field
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _pick(rng: np.random.Generator, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    days = rng.integers(0, (_ts_us(hi) - _ts_us(lo)) // _DAY_US + 1, n)
    return pa.array(_ts_us(lo) + days * _DAY_US, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate: an earlier document plus a marker token, the
            # structure the dedup/LSH queries are built to find
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))
            texts.append(" ".join(_WORDS[w] for w in words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb,
            "label": rng.integers(0, 10, n).astype(np.int32),
        }
    )


def table_sizes(sf: float) -> dict[str, int]:
    docs = int(30_000 * sf)
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": docs,
        "embeddings": docs,
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every catalog table; returns
    the row count per table."""
    rng = np.random.default_rng([seed, 1])
    n = table_sizes(sf)
    adjectives = "blue hot small old red new cold large".split()
    nouns = "bolt gear anvil ring widget rod plate gizmo".split()
    users = max(15, n["customer"] // 10)
    ev_lo = _ts_us("2024-01-01")
    tables = {
        "region": pa.table(
            {
                "r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n["customer"], dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
                "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
                "c_mktsegment": _pick(
                    rng,
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                    n["customer"],
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
                "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n["part"], dtype=np.int64),
                "p_name": [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in rng.integers(0, 8, (n["part"], 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                "p_type": _pick(
                    rng,
                    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                    n["part"],
                ),
                "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n["orders"], dtype=np.int64),
                "o_custkey": rng.integers(0, n["customer"], n["orders"]),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
                "o_totalprice": _money(rng, 1000, 500_000, n["orders"]),
                "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n["orders"]),
                "o_orderpriority": _pick(
                    rng,
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n["orders"],
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
                "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
                "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
                "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n["lineitem"]),
                "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
                "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n["lineitem"]),
                "l_linestatus": _pick(rng, ["F", "O"], n["lineitem"]),
                "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n["lineitem"]),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n["events"], dtype=np.int64),
                "ts": pa.array(
                    np.sort(ev_lo + rng.integers(0, 30 * _DAY_US, n["events"])),
                    pa.timestamp("us"),
                ),
                "user_id": rng.integers(0, users, n["events"]),
                "event_type": _pick(
                    rng, ["click", "error", "purchase", "signup", "view"], n["events"]
                ),
                "value": np.maximum(
                    0.01, np.round(rng.exponential(50.0, n["events"]), 2)
                ),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
            }
        ),
        "documents": pa.table(_documents(rng, n["documents"])),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet", compression="snappy")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Flow-log traffic
# ---------------------------------------------------------------------------

#: The ingest traffic's dimensions; where each value comes from is in
#: perfbench/design.json ("traffic"). Every round has the same events,
#: object for object, so seeds change the records, the days and the order,
#: not how much work an event is.
TRAFFIC = {
    "accounts": 4,
    "span_days": 3,
    "delivery_window_s": 300,  # one object per account and 5-minute window
    "aggregation_s": 60,  # end = start + 60
    "objects_per_event": [1, 2, 3, 4, 5],  # one round = 5 events, order seeded
    "rows_per_object": {"lognormal_median": 4340, "sigma": 0.5, "min": 100},
    "rows_per_round": 15 * 4340,
    "midnight_event_objects": 5,  # this event's window straddles 00:00 UTC
    "nodata_share": 0.02,
    "header_line": "first line of every object",
}
_FLOW_HEADER = (
    "version account-id interface-id srcaddr dstaddr srcport dstport "
    "protocol packets bytes start end action log-status"
)


@dataclass
class FlowObject:
    path: str  # absolute local path of the .gz object
    account: str
    rows: int
    #: (dt, account) -> [row count, sum(bytes)] for the object's rows
    truth: dict = field(default_factory=dict)


@dataclass
class FlowTraffic:
    events: list[list[FlowObject]]
    bucket: str

    def s3_event(self, i: int) -> dict:
        """S3 notification for event ``i`` (reference main.go:108-118)."""
        return {
            "Records": [
                {
                    "awsRegion": "us-east-1",
                    "s3": {
                        "bucket": {"name": self.bucket},
                        "object": {"key": os.path.relpath(o.path, self.bucket)},
                    },
                }
                for o in self.events[i]
            ]
        }

    @property
    def objects(self) -> list[FlowObject]:
        return [o for ev in self.events for o in ev]


def _flow_lines(rng: np.random.Generator, account: str, n: int, t0: int) -> tuple[list[str], dict]:
    """One object: ``n`` records of one interface whose capture windows
    start inside the delivery window beginning at ``t0``."""
    eni = f"eni-{rng.integers(0, 16**8):08x}"
    start = np.sort(t0 + rng.integers(0, TRAFFIC["delivery_window_s"], n))
    src = rng.integers(0, 64, (n, 2)).tolist()
    dst = rng.integers(0, 256, (n, 2)).tolist()
    ports = rng.integers(0, 65536, (n, 2)).tolist()
    proto = rng.choice([6, 17, 1], n, p=[0.7, 0.25, 0.05]).tolist()
    packets = rng.integers(1, 500, n)
    nbytes = (packets * rng.integers(40, 1500, n)).tolist()
    nodata = (rng.random(n) < TRAFFIC["nodata_share"]).tolist()
    days = (start // 86_400).astype("datetime64[D]").astype(str).tolist()
    packets, start = packets.tolist(), start.tolist()
    lines = [_FLOW_HEADER]
    truth: dict = {}
    for i in range(n):
        s, e = start[i], start[i] + TRAFFIC["aggregation_s"]
        if nodata[i]:
            lines.append(f"2 {account} {eni} - - - - - - - {s} {e} - NODATA")
            b = 0
        else:
            b = nbytes[i]
            lines.append(
                f"2 {account} {eni} 10.{src[i][0]}.{src[i][1]}.{i % 250 + 1} "
                f"10.{dst[i][0]}.{dst[i][1]}.{(i * 7) % 250 + 1} "
                f"{ports[i][0]} {ports[i][1]} {proto[i]} {packets[i]} {b} {s} {e} ACCEPT OK"
            )
        cell = truth.setdefault((days[i], account), [0, 0])
        cell[0] += 1
        cell[1] += b
    return lines, truth


def _event_sizes() -> list[list[int]]:
    """Rows of each object of each event class, the same in every round and
    every seed: lognormal quantiles rescaled to the per-round row total,
    dealt out smallest first, so a larger event also has larger objects and
    the event classes stay apart in cost. The seed never changes how much
    work an event is."""
    spec = TRAFFIC["rows_per_object"]
    counts = TRAFFIC["objects_per_event"]
    n = sum(counts)
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    raw = spec["lognormal_median"] * np.exp(spec["sigma"] * z)
    sizes = np.maximum(spec["min"], np.floor(raw * TRAFFIC["rows_per_round"] / raw.sum()))
    sizes[-1] += TRAFFIC["rows_per_round"] - sizes.sum()  # the largest
    dealt = iter(sizes.astype(int).tolist())
    return [[next(dealt) for _ in range(k)] for k in counts]


def _windows(rng: np.random.Generator, n_events: int, midnight: int) -> list[int]:
    """Start of each event's delivery window. Windows are aligned to the
    window length, so they never cross midnight, except event
    ``midnight``'s, which is centred on 00:00 UTC of a seeded day."""
    base = _ts_us("2024-03-01") // 1_000_000
    w = TRAFFIC["delivery_window_s"]
    slots = rng.choice(TRAFFIC["span_days"] * 86_400 // w, n_events, replace=False)
    starts = [base + int(k) * w for k in slots]
    starts[midnight] = base + 86_400 * int(rng.integers(1, TRAFFIC["span_days"])) - w // 2
    return starts


def make_flowlog_traffic(root: str, seed: int, rounds: int) -> list[FlowTraffic]:
    """``rounds`` independent traffic rounds of gzip objects under ``root``.
    An event's objects share one delivery window, one object per account
    (the fifth object of a five-object event is a second flow log of an
    account). The seed sets the event order, the accounts, the days and
    every record's values; the event sizes are fixed (``_event_sizes``)."""
    rng = np.random.default_rng([seed, 2])
    accounts = [f"{rng.integers(10**11, 10**12):012d}" for _ in range(TRAFFIC["accounts"])]
    sizes = _event_sizes()
    midnight_class = TRAFFIC["objects_per_event"].index(TRAFFIC["midnight_event_objects"])
    out = []
    for r in range(rounds):
        bucket = os.path.join(root, f"round{r}")
        order = rng.permutation(len(sizes)).tolist()
        starts = _windows(rng, len(order), order.index(midnight_class))
        events = []
        for e, (cls, t0) in enumerate(zip(order, starts)):
            accts = rng.permutation(len(accounts))
            objs = []
            for k, n in enumerate(sizes[cls]):
                account = accounts[int(accts[k % len(accounts)])]
                lines, truth = _flow_lines(rng, account, n, t0)
                path = os.path.join(
                    bucket, "AWSLogs", account, "vpcflowlogs", f"ev{e:03d}_{k}.log.gz"
                )
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with gzip.open(path, "wt", compresslevel=6) as fh:
                    fh.write("\n".join(lines) + "\n")
                objs.append(FlowObject(path, account, n, truth))
            events.append(objs)
        out.append(FlowTraffic(events, bucket))
    return out
