"""Seeded inputs for the benchmark.

Two generators, both pure functions of ``(seed, size)``:

- :func:`write_tables` writes the fixture tables ``__spark_entry__`` reads
  (``region`` ... ``embeddings``) as single-row-group parquet files, with
  the fixtures' schemas (``FIXTURE_SCHEMA``) and value ranges.  Rows scale
  with ``sf`` the way the fixtures do (lineitem = 6e6 * sf).
- :func:`stream_backlog` builds the event backlog the streaming workload
  drains: Zipf-distributed users, ~5 % re-deliveries and a share of late
  (out-of-order) events, split into one file per micro-batch.

Only numpy's seeded ``Generator`` is used, so the same seed gives the same
bytes on every run and a different seed gives different ones.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_US_PER_DAY = 86_400_000_000

#: the fixtures' parquet schemas: per table, (column, physical type, Arrow
#: type as read back).  ``events.ts`` is TIMESTAMP(NANOS), as the fixtures of
#: the ``__spark_entry__`` contract store it (``session.py``, ``tables.load``)
FIXTURE_SCHEMA = {
    "region": [("r_regionkey", "INT32", "int32"), ("r_name", "BYTE_ARRAY", "string")],
    "nation": [("n_nationkey", "INT32", "int32"), ("n_name", "BYTE_ARRAY", "string"),
               ("n_regionkey", "INT32", "int32")],
    "customer": [("c_custkey", "INT64", "int64"), ("c_name", "BYTE_ARRAY", "string"),
                 ("c_nationkey", "INT32", "int32"), ("c_acctbal", "DOUBLE", "double"),
                 ("c_mktsegment", "BYTE_ARRAY", "string")],
    "supplier": [("s_suppkey", "INT64", "int64"), ("s_name", "BYTE_ARRAY", "string"),
                 ("s_nationkey", "INT32", "int32"), ("s_acctbal", "DOUBLE", "double")],
    "part": [("p_partkey", "INT64", "int64"), ("p_name", "BYTE_ARRAY", "string"),
             ("p_brand", "BYTE_ARRAY", "string"), ("p_type", "BYTE_ARRAY", "string"),
             ("p_size", "INT32", "int32"), ("p_retailprice", "DOUBLE", "double")],
    "orders": [("o_orderkey", "INT64", "int64"), ("o_custkey", "INT64", "int64"),
               ("o_orderstatus", "BYTE_ARRAY", "string"),
               ("o_totalprice", "DOUBLE", "double"),
               ("o_orderdate", "INT64", "timestamp[us]"),
               ("o_orderpriority", "BYTE_ARRAY", "string")],
    "lineitem": [("l_orderkey", "INT64", "int64"), ("l_partkey", "INT64", "int64"),
                 ("l_suppkey", "INT64", "int64"), ("l_linenumber", "INT32", "int32"),
                 ("l_quantity", "DOUBLE", "double"),
                 ("l_extendedprice", "DOUBLE", "double"),
                 ("l_discount", "DOUBLE", "double"), ("l_tax", "DOUBLE", "double"),
                 ("l_returnflag", "BYTE_ARRAY", "string"),
                 ("l_linestatus", "BYTE_ARRAY", "string"),
                 ("l_shipdate", "INT64", "timestamp[us]")],
    "events": [("event_id", "INT64", "int64"), ("ts", "INT64", "timestamp[ns]"),
               ("user_id", "INT64", "int64"), ("event_type", "BYTE_ARRAY", "string"),
               ("value", "DOUBLE", "double"), ("props", "BYTE_ARRAY", "string")],
    "documents": [("doc_id", "INT64", "int64"), ("text", "BYTE_ARRAY", "string"),
                  ("lang", "BYTE_ARRAY", "string"), ("source", "BYTE_ARRAY", "string"),
                  ("n_chars", "INT64", "int64")],
    "embeddings": [("vec_id", "INT64", "int64"), ("embedding", "FLOAT", "list<element: float>"),
                   ("label", "INT32", "int32")],
}


def _days(rng, n, start, end):
    """``n`` midnight timestamps uniform over [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _US_PER_DAY).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(**cols) -> pa.Table:
    return pa.table(cols)


def _sizes(sf: float) -> dict[str, int]:
    return {
        "cust": int(150_000 * sf), "supp": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf), "ord": int(1_500_000 * sf),
        "li": int(6_000_000 * sf), "ev": int(1_000_000 * sf),
        "users": max(int(15_000 * sf), 15), "docs": max(int(50_000 * sf), 500),
        "emb": max(int(20_000 * sf), 500),
    }


I32 = pa.int32()


def _region(rng, n):
    return _table(r_regionkey=pa.array(range(5), I32), r_name=REGIONS)


def _nation(rng, n):
    return _table(n_nationkey=pa.array(range(25), I32),
                  n_name=[f"NATION_{i}" for i in range(25)],
                  n_regionkey=pa.array([i % 5 for i in range(25)], I32))


def _customer(rng, n):
    k = n["cust"]
    return _table(
        c_custkey=np.arange(k, dtype=np.int64),
        c_name=[f"Customer#{i:09d}" for i in range(k)],
        c_nationkey=pa.array(rng.integers(0, 25, k), I32),
        c_acctbal=_money(rng, k, -999.99, 9999.99),
        c_mktsegment=np.array(SEGMENTS)[rng.integers(0, 5, k)])


def _supplier(rng, n):
    k = n["supp"]
    return _table(
        s_suppkey=np.arange(k, dtype=np.int64),
        s_name=[f"Supplier#{i:09d}" for i in range(k)],
        s_nationkey=pa.array(rng.integers(0, 25, k), I32),
        s_acctbal=_money(rng, k, -999.99, 9999.99))


def _part(rng, n):
    k = n["part"]
    pk = np.arange(k, dtype=np.int64)
    return _table(
        p_partkey=pk,
        p_name=np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, k)], " "),
                           np.array(PART_NOUN)[rng.integers(0, 8, k)]),
        p_brand=np.char.add("Brand#", rng.integers(1, 26, k).astype(str)),
        p_type=np.array(PART_TYPES)[rng.integers(0, 6, k)],
        p_size=pa.array(rng.integers(1, 51, k), I32),
        p_retailprice=np.round(900 + (pk % 1000) / 10, 1))


def _orders(rng, n):
    k = n["ord"]
    return _table(
        o_orderkey=np.arange(k, dtype=np.int64),
        o_custkey=rng.integers(0, n["cust"], k),
        o_orderstatus=np.array(["F", "O", "P"])[rng.integers(0, 3, k)],
        o_totalprice=_money(rng, k, 1000.0, 500_000.0),
        o_orderdate=_days(rng, k, "1995-01-01", "2001-08-01"),
        o_orderpriority=np.array(PRIORITIES)[rng.integers(0, 5, k)])


def _lineitem(rng, n):
    k = n["li"]
    return _table(
        l_orderkey=rng.integers(0, n["ord"], k),
        l_partkey=rng.integers(0, n["part"], k),
        l_suppkey=rng.integers(0, n["supp"], k),
        l_linenumber=pa.array(rng.integers(1, 8, k), I32),
        l_quantity=rng.integers(1, 51, k).astype(np.float64),
        l_extendedprice=_money(rng, k, 900.0, 105_000.0),
        l_discount=rng.integers(0, 11, k) / 100,
        l_tax=rng.integers(0, 9, k) / 100,
        l_returnflag=np.array(["A", "N", "R"])[rng.integers(0, 3, k)],
        l_linestatus=np.array(["F", "O"])[rng.integers(0, 2, k)],
        l_shipdate=_days(rng, k, "1995-01-02", "2001-11-04"))


def _events(rng, n):
    k = n["ev"]
    # distinct, sorted event times over 30 days: event_id order == time order
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.choice(30 * _US_PER_DAY, k, replace=False)) + t0
    return _table(
        event_id=np.arange(k, dtype=np.int64),
        # TIMESTAMP(NANOS), naive, like the fixtures: tables.load reads it as
        # a long and converts it (spark.sql.legacy.parquet.nanosAsLong)
        ts=pa.array(ts * 1000, pa.timestamp("ns")),
        user_id=rng.integers(0, n["users"], k),
        event_type=np.array(EVENT_TYPES)[rng.integers(0, 5, k)],
        value=np.round(rng.exponential(50.0, k), 2),
        props=np.char.add(np.char.add('{"k": ', rng.integers(0, 100, k).astype(str)), "}"))


def _documents(rng, n):
    k = n["docs"]
    texts = [" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), w)])
             for w in rng.integers(10, 101, k)]
    # ~5 % near-duplicates: a copy of another document with " dup" appended
    for i in np.flatnonzero(rng.random(k) < 0.05):
        texts[i] = texts[int(rng.integers(0, k))] + " dup"
    return _table(
        doc_id=np.arange(k, dtype=np.int64), text=texts,
        lang=np.array(LANGS)[rng.choice(5, k, p=LANG_P)],
        source=[f"src{i % 20}" for i in range(k)],
        n_chars=np.array([len(t) for t in texts], dtype=np.int64))


def _embeddings(rng, n):
    k = n["emb"]
    vec = rng.standard_normal((k, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return _table(
        vec_id=np.arange(k, dtype=np.int64),
        embedding=pa.array(list(vec), pa.list_(pa.float32())),
        label=pa.array(rng.integers(0, 10, k), I32))


_BUILDERS = {"region": _region, "nation": _nation, "customer": _customer,
             "supplier": _supplier, "part": _part, "orders": _orders,
             "lineitem": _lineitem, "events": _events,
             "documents": _documents, "embeddings": _embeddings}


def make_tables(seed: int, sf: float, names=TABLES) -> dict[str, pa.Table]:
    """The tables ``names`` at scale ``sf``.  Each table draws from a seeded
    stream of its own, so a table's rows do not depend on which others are
    built."""
    sizes = _sizes(sf)
    return {name: _BUILDERS[name](np.random.default_rng([seed, 1, TABLES.index(name)]), sizes)
            for name in names}


def write_tables(out_dir: str, seed: int, sf: float, names=TABLES) -> None:
    """Write the tables ``names`` and an empty file, with the table's schema,
    for every other one: the output check's DuckDB connection binds a view
    to each of the ten tables."""
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(seed, sf, names)
    # built small, for the column types, then emptied
    for name, tbl in make_tables(seed, 0.001, [t for t in TABLES if t not in names]).items():
        tables[name] = tbl.slice(0, 0)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# streaming backlog
# ---------------------------------------------------------------------------

#: every event time is a whole even millisecond and the watermark delay an
#: odd number of them, so no event ever sits exactly on a watermark and the
#: replay needs no tie rule for the late filter
WATERMARK_DELAY_MS = 20_001
SESSION_GAP_S = 5
BATCH_SPAN_MS = 10_000
#: 2024-01-01T00:00:00Z, the event time of the backlog's first span
STREAM_EPOCH_MS = 1_704_067_200_000
STREAM_USERS = 2_000
ZIPF_A = 1.3
REDELIVER_SHARE = 0.05
LATE_SHARE = 0.08


@dataclass(frozen=True)
class Backlog:
    """One pandas-free description of the backlog: ``batches[b]`` holds the
    rows of file ``b`` as parallel numpy arrays (event_id, user_id, ts_ms,
    value), in file order."""
    batches: list[dict[str, np.ndarray]]

    @property
    def rows(self) -> int:
        return sum(len(b["event_id"]) for b in self.batches)


def stream_backlog(seed: int, n_batches: int, rows_per_batch: int) -> Backlog:
    """Build the backlog.  File ``b`` covers event time
    ``[b, b+1) * BATCH_SPAN_MS`` for ``STREAM_USERS`` Zipf(``ZIPF_A``)
    users; on top of that:

    - ``LATE_SHARE`` of its fresh events are stamped up to 5 spans back in
      event time.  Those still ahead of the watermark are kept and continue
      earlier sessions; the rest fall behind it and are dropped;
    - ``REDELIVER_SHARE`` of its rows are exact copies of events already
      sent in this or one of the previous 3 files (at-least-once producer
      retries).
    """
    rng = np.random.default_rng([seed, 2])
    batches, sent, next_id = [], [], 0
    span = BATCH_SPAN_MS // 2  # in 2 ms ticks
    used_ticks: set[int] = set()
    for b in range(n_batches):
        n_dup = int(round(rows_per_batch * REDELIVER_SHARE)) if b else 0
        n_new = rows_per_batch - n_dup
        base = b * span
        offs = rng.integers(0, span, n_new)
        is_late = rng.random(n_new) < LATE_SHARE
        offs[is_late] -= rng.integers(1, 5 * span, int(is_late.sum()))
        ticks = base + offs
        # event times are unique across the backlog: shift collisions forward
        for i, t in enumerate(ticks):
            t = int(t)
            while t in used_ticks:
                t += 1
            used_ticks.add(t)
            ticks[i] = t
        users = np.minimum(rng.zipf(ZIPF_A, n_new) - 1, STREAM_USERS - 1)
        fresh = {
            "event_id": np.arange(next_id, next_id + n_new, dtype=np.int64),
            "user_id": users.astype(np.int64),
            "ts_ms": (STREAM_EPOCH_MS + ticks * 2).astype(np.int64),
            "value": np.round(rng.exponential(50.0, n_new), 2),
        }
        next_id += n_new
        sent.append(fresh)
        pool = {k: np.concatenate([s[k] for s in sent[-4:]]) for k in fresh}
        pick = rng.integers(0, len(pool["event_id"]), n_dup)
        rows = {k: np.concatenate([fresh[k], pool[k][pick]]) for k in fresh}
        order = rng.permutation(len(rows["event_id"]))
        batches.append({k: v[order] for k, v in rows.items()})
    return Backlog(batches)


def write_backlog(backlog: Backlog, out_dir: str) -> None:
    """Write one parquet file per batch, with strictly increasing mtimes so
    the file source admits them in order."""
    os.makedirs(out_dir, exist_ok=True)
    t0 = 1_700_000_000
    for b, rows in enumerate(backlog.batches):
        path = os.path.join(out_dir, f"part-{b:05d}.parquet")
        pq.write_table(pa.table({
            "event_id": rows["event_id"],
            "user_id": rows["user_id"],
            # UTC-adjusted, so Spark reads it as TIMESTAMP for the watermark
            "ts": pa.array(rows["ts_ms"] * 1000, pa.timestamp("us", tz="UTC")),
            "value": rows["value"],
        }), path)
        os.utime(path, (t0 + b, t0 + b))
