"""The stream_sessionize workload and its independent replay.

Pipeline under test (all three stages are package functions)::

    file source (one backlog file per micro-batch)
      -> streaming.dedup_within_watermark(event_id, ts, WATERMARK_DELAY)
      -> streaming.sessionize_stream(gap = SESSION_GAP_S, key = user_id)
      -> foreachBatch(streaming.idempotent_parquet_sink(out))

Each micro-batch commits the offset log, both operators' state and one
``_batch_id`` partition of the sink.  :func:`replay` recomputes the sink's
rows with pandas from the backlog alone, following Structured Streaming's
watermark rules, so the check does not trust the engine it measures.
"""

from __future__ import annotations

import time
from datetime import datetime

import pandas as pd

from datagen import SESSION_GAP_S, WATERMARK_DELAY_MS, Backlog

SOURCE_SCHEMA = "event_id long, user_id long, ts timestamp, value double"
OUT_COLS = ["_batch_id", "key", "event_id", "session_id", "session_pos"]

#: Structured Streaming filters late rows with the watermark of the batch
#: BEFORE the current one (the "late events" watermark of multi-operator
#: plans), while state eviction uses the current one.  Pinned by the test
#: that replays a backlog built so the two choices differ.
LATE_FILTER_LAG = 2


def replay(backlog: Backlog, lag: int = LATE_FILTER_LAG) -> pd.DataFrame:
    """Sink rows the pipeline must produce, one micro-batch per file:

    1. a row is late, and dropped, when its event time is at or behind the
       watermark computed ``lag`` batches ago; the watermark after batch
       ``b`` is ``max(event time over batches <= b) - WATERMARK_DELAY_MS``;
    2. of the rest, the first arrival of each ``event_id`` is kept and every
       later copy is dropped (a copy is identical, so once its key leaves
       the dedup state the copy is late by rule 1 anyway);
    3. per user, the kept rows of the batch in event-time order continue the
       user's session state ``(last_us, n_sessions, pos)``: a gap above
       ``SESSION_GAP_S`` opens a new session, and a late row joins the open session
       without moving its clock back.
    """
    gap_us = SESSION_GAP_S * 1_000_000
    wms = [float("-inf")]  # wms[i] = watermark in force after i batches
    max_ts = None
    emitted: set[int] = set()
    state: dict[int, tuple[int, int, int]] = {}
    out = []
    for b, rows in enumerate(backlog.batches):
        df = pd.DataFrame(rows)
        wm_late = wms[max(0, len(wms) - lag)]
        df = df[df["ts_ms"] > wm_late]
        df = df[~df["event_id"].isin(emitted)].drop_duplicates("event_id")
        emitted.update(df["event_id"].tolist())
        for user, g in df.sort_values("ts_ms").groupby("user_id", sort=False):
            last_us, n_sessions, pos = state.get(user, (None, 0, 0))
            for ts_ms, eid in zip(g["ts_ms"], g["event_id"]):
                us = int(ts_ms) * 1000
                if last_us is None or us - last_us > gap_us:
                    n_sessions, pos, last_us = n_sessions + 1, 1, us
                else:
                    pos, last_us = pos + 1, max(last_us, us)
                out.append((b, int(user), int(eid), n_sessions, pos))
            state[user] = (last_us, n_sessions, pos)
        batch_max = int(rows["ts_ms"].max())
        max_ts = batch_max if max_ts is None else max(max_ts, batch_max)
        wms.append(max(wms[-1], max_ts - WATERMARK_DELAY_MS))
    return pd.DataFrame(out, columns=OUT_COLS)


def build_query(spark, src_dir: str, out_dir: str, ckpt_dir: str):
    """The pipeline on ``src_dir`` as a not yet started writer (AvailableNow,
    one backlog file per micro-batch)."""
    from akka_stream_contrib_spark.streaming import (
        dedup_within_watermark, idempotent_parquet_sink, sessionize_stream)
    src = (spark.readStream.schema(SOURCE_SCHEMA)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    deduped = dedup_within_watermark(src, "event_id", "ts",
                                     f"{WATERMARK_DELAY_MS} milliseconds")
    sessions = sessionize_stream(deduped, gap_s=SESSION_GAP_S, key_col="user_id")
    return (sessions.writeStream
            .foreachBatch(idempotent_parquet_sink(out_dir))
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True))


def _epoch_s(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Sampler:
    """Streaming listener recording ``sample()`` when each trigger's
    progress is reported (on the listener thread, just after the trigger)."""

    def __init__(self, sample):
        from pyspark.sql.streaming import StreamingQueryListener

        at = self.at = {}

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                at[event.progress.batchId] = sample()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def drain(writer, sample=None) -> dict:
    """Start ``writer``, wait until the backlog is drained and return the
    epoch time of the ``start()`` call, the progress of every trigger and,
    given ``sample``, its value at the end of each trigger."""
    sampler = _Sampler(sample) if sample is not None else None
    if sampler is not None:
        writer._spark.streams.addListener(sampler.listener)
    t_call = time.time()
    q = writer.start()
    q.awaitTermination()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    progress = list(q.recentProgress)
    samples = []
    if sampler is not None:
        # progress reaches the listener asynchronously
        deadline = time.time() + 30
        while progress[-1]["batchId"] not in sampler.at and time.time() < deadline:
            time.sleep(0.05)
        writer._spark.streams.removeListener(sampler.listener)
        samples = [sampler.at.get(p["batchId"]) for p in progress]
    return {"t_call": t_call, "progress": progress, "samples": samples}


def window(progress, skip: int) -> tuple[float, float]:
    """Epoch start of trigger ``skip`` and end of the last trigger: the
    drain after the first ``skip`` (warm-up) batches."""
    last = progress[-1]
    end = _epoch_s(last["timestamp"]) + last["durationMs"]["triggerExecution"] / 1000
    return _epoch_s(progress[skip]["timestamp"]), end


def read_sink(spark, out_dir: str) -> pd.DataFrame:
    pdf = spark.read.parquet(out_dir).toPandas()
    return pdf[OUT_COLS].astype("int64")


def compare(expected: pd.DataFrame, actual: pd.DataFrame,
            n_batches: int) -> list[int]:
    """Batch ids whose sink partition differs from the replay."""
    bad = []
    for b in range(n_batches):
        e = expected[expected["_batch_id"] == b].sort_values("event_id")
        a = actual[actual["_batch_id"] == b].sort_values("event_id")
        if not e.reset_index(drop=True).equals(a.reset_index(drop=True)):
            bad.append(b)
    # rows in partitions beyond the backlog are wrong output as well
    if (actual["_batch_id"] >= n_batches).any():
        bad.append(n_batches)
    return bad
