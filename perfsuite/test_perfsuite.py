"""Tests of the benchmark itself: ``python3 -m pytest perfsuite -q`` from the
repository root.  Only ``test_replay_matches_the_pipeline`` starts Spark."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import batch  # noqa: E402
import datagen  # noqa: E402
import run  # noqa: E402
import stream  # noqa: E402
import workloads  # noqa: E402
from datagen import STREAM_EPOCH_MS, Backlog  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


# -- seeded inputs ----------------------------------------------------------

def test_same_seed_same_tables_other_seed_different(tmp_path):
    for name in ("a", "b", "c"):
        datagen.write_tables(str(tmp_path / name), {"a": 7, "b": 7, "c": 8}[name], 0.001)
    for table in datagen.TABLES:
        a, b, c = (open(tmp_path / n / f"{table}.parquet", "rb").read()
                   for n in ("a", "b", "c"))
        assert a == b, table
        if table not in ("region", "nation"):  # fixed dimension tables
            assert a != c, table


def _parquet_schema(path) -> list[tuple[str, str, str]]:
    meta, schema = pq.read_metadata(path), pq.read_schema(path)
    return [(f.name, meta.schema.column(i).physical_type, str(f.type))
            for i, f in enumerate(schema)]


def test_tables_have_the_fixture_schemas(tmp_path):
    datagen.write_tables(str(tmp_path), 1, 0.001)
    for table in datagen.TABLES:
        assert _parquet_schema(tmp_path / f"{table}.parquet") == \
            datagen.FIXTURE_SCHEMA[table], table


def test_subset_writes_the_same_rows_and_empty_others(tmp_path):
    datagen.write_tables(str(tmp_path / "all"), 5, 0.001)
    datagen.write_tables(str(tmp_path / "sub"), 5, 0.001, ("documents",))
    for table in datagen.TABLES:
        full, sub = (pq.read_table(tmp_path / d / f"{table}.parquet")
                     for d in ("all", "sub"))
        assert sub.schema == full.schema, table
        if table == "documents":
            assert sub.equals(full)
        else:
            assert sub.num_rows == 0, table


def test_same_seed_same_backlog_other_seed_different():
    a, b, c = (datagen.stream_backlog(s, 6, 300) for s in (3, 3, 4))
    for x, y in zip(a.batches, b.batches):
        for k in x:
            assert np.array_equal(x[k], y[k])
    assert any(not np.array_equal(x["event_id"], z["event_id"])
               or not np.array_equal(x["ts_ms"], z["ts_ms"])
               for x, z in zip(a.batches, c.batches))


def test_backlog_has_redeliveries_and_late_rows():
    bl = datagen.stream_backlog(1, 12, 1000)
    ids = np.concatenate([b["event_id"] for b in bl.batches])
    assert 0.03 < 1 - len(np.unique(ids)) / len(ids) < 0.07
    dropped = len(ids) - len(stream.replay(bl))
    assert dropped > len(ids) - len(np.unique(ids))  # some rows are late


def test_pass_order_is_seeded():
    assert batch.pass_orders(batch.QUERY_FLOOR, 5, 3) == batch.pass_orders(batch.QUERY_FLOOR, 5, 3)
    assert batch.pass_orders(batch.QUERY_FLOOR, 5, 3) != batch.pass_orders(batch.QUERY_FLOOR, 6, 3)
    for order in batch.pass_orders(batch.QUERY_FLOOR, 5, 3):
        assert sorted(order) == sorted(batch.QUERY_FLOOR)


# -- the replay follows the watermark rules ----------------------------------

def _backlog(*batches) -> Backlog:
    """Each batch a list of (event_id, user_id, seconds after the epoch)."""
    out = []
    for rows in batches:
        out.append({
            "event_id": np.array([r[0] for r in rows], dtype=np.int64),
            "user_id": np.array([r[1] for r in rows], dtype=np.int64),
            "ts_ms": np.array([STREAM_EPOCH_MS + int(r[2] * 1000) for r in rows], dtype=np.int64),
            "value": np.zeros(len(rows)),
        })
    return Backlog(out)


def _row(df, eid):
    r = df[df["event_id"] == eid]
    return None if r.empty else tuple(int(v) for v in r.iloc[0][
        ["_batch_id", "session_id", "session_pos"]])


def test_replay_watermark_dedup_and_sessions():
    bl = _backlog(
        [(1, 1, 100), (2, 2, 100.5), (2, 2, 100.5)],       # in-batch copy
        [(3, 1, 103), (4, 9, 150), (1, 1, 100)],           # re-delivery of 1
        [(5, 1, 90), (6, 1, 70), (7, 1, 110), (8, 1, 104)],
        [(9, 1, 125)],
    )
    got = stream.replay(bl)
    assert _row(got, 1) == (0, 1, 1)
    assert (got["event_id"] == 2).sum() == 1
    assert (got["event_id"] == 1).sum() == 1              # copy dropped
    assert _row(got, 3) == (1, 1, 2)                      # session continues
    # batch 2 filters with the watermark after batch 0: 100.5 s - 20.001 s
    assert _row(got, 6) is None                           # 70 s: late
    # 90 s is kept and joins the open session without rewinding its clock,
    # so 104 s (1 s after 103 s) continues it; 110 s (6 s gap) opens session 2
    assert _row(got, 5) == (2, 1, 3)
    assert _row(got, 8) == (2, 1, 4)
    assert _row(got, 7) == (2, 2, 1)
    # batch 3 filters with the watermark after batch 1: 150 s - 20.001 s
    assert _row(got, 9) is None


def test_replay_late_filter_lags_one_batch_behind_eviction():
    """With the eviction watermark (lag 1) the 125 s row of batch 2 would be
    late; Structured Streaming keeps it, and so does the replay (it joins
    the session opened at 150 s)."""
    bl = _backlog([(1, 1, 100)], [(2, 1, 150)], [(3, 1, 125)])
    assert _row(stream.replay(bl), 3) == (2, 2, 2)
    assert _row(stream.replay(bl, lag=1), 3) is None


@pytest.mark.skipif(shutil.which("java") is None and not os.environ.get("JAVA_HOME"),
                    reason="needs a JVM")
def test_replay_matches_the_pipeline(tmp_path):
    """The replay's rules are the engine's: a seeded backlog through the
    real pipeline gives exactly the replay's sink rows, batch by batch."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from akka_stream_contrib_spark import get_spark
    spark = get_spark("perfsuite-test")
    bl = datagen.stream_backlog(11, 6, 400)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    datagen.write_backlog(bl, src)
    res = stream.drain(stream.build_query(spark, src, out, ckpt))
    assert len([p for p in res["progress"] if p["numInputRows"]]) == 6
    assert stream.compare(stream.replay(bl), stream.read_sink(spark, out), 6) == []


# -- CPU accounting -------------------------------------------------------------

def _burn(seconds: float) -> None:
    end = time.thread_time() + seconds
    while time.thread_time() < end:
        pass


def test_work_cpu_keeps_ended_threads_and_reaped_children():
    """CPU of a thread that ends, and of a child that exits, inside the
    window stays in the count."""
    before = workloads.work_cpu_s()
    th = threading.Thread(target=_burn, args=(0.3,))
    th.start()
    th.join()
    subprocess.run([sys.executable, "-c",
                    "import time\nend = time.process_time() + 0.3\n"
                    "while time.process_time() < end: pass"], check=True)
    assert workloads.work_cpu_s() - before >= 0.55


# -- failures are counted, not dropped ----------------------------------------

class _FakeFrame:
    def __init__(self, pdf):
        self._pdf = pdf
        self.columns = list(pdf.columns)

    def toPandas(self):  # noqa: N802 - the DataFrame method name
        return self._pdf


def test_broken_and_wrong_queries_are_counted(tmp_path):
    sf = str(tmp_path / "sf")
    datagen.write_tables(sf, 1, 0.001)

    def good(spark, sf_dir):
        return _FakeFrame(pd.DataFrame({"x": [1]}))

    def wrong(spark, sf_dir):
        return _FakeFrame(pd.DataFrame({"x": [2]}))

    def broken(spark, sf_dir):
        raise RuntimeError("deliberately broken")

    queries = {"good": good, "wrong": wrong, "broken": broken}
    oracles = {name: "SELECT 1 AS x" for name in queries}
    tally = batch.Tally()
    batch.check_pass(None, list(queries), queries, oracles, sf, tally)
    assert (tally.attempted, tally.failed) == (3, 2)

    calls = []

    def call(spark, name, qfn, sf_dir):
        calls.append(name)
        qfn(spark, sf_dir)

    batch.timed_pass(None, list(queries), queries, sf, tally, call=call)
    assert calls == ["good", "wrong", "broken"]
    assert (tally.attempted, tally.failed) == (6, 3)


# -- metric names ------------------------------------------------------------

def test_metric_names_match_benchmark_json():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_UNITS
    with open(os.path.join(HERE, "layers.json"), encoding="utf-8") as fh:
        layers = json.load(fh)
    assert set(layers["moves"]) == set(workloads.LAYER_UNITS)
    assert set(layers["exact_counts"]) <= set(workloads.LAYER_UNITS)
    assert layers["queries"]["query_floor"] == list(batch.QUERY_FLOOR)
    assert layers["queries"]["corpus_heavy"] == list(batch.CORPUS_HEAVY)


def test_fails_without_a_checkout(tmp_path):
    """Outside a repository checkout the benchmark exits non-zero and prints
    no result line."""
    shutil.copytree(HERE, tmp_path / "perfsuite",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfsuite/run.py", "--workload", "query_floor",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
