"""Set-up, timed loop, output check and metrics of each workload.

``run()`` returns ``{"e2e", "layers", "attempted", "failed"}``; metric
dicts map a name to ``(value, unit)``.  End-to-end metrics come from plain
runs.  A traced run alternates plain and traced passes (drains, for the
stream) in one process and reports the per-layer figures of the traced
ones, averaged per pass, plus ``trace.overhead``.
"""

from __future__ import annotations

import gc
import glob
import os
import statistics
import sys
import time

import batch
import datagen
import stream

#: median over passes of a pass's CPU seconds.  Not its wall time: on a
#: shared host, stolen CPU stretched corpus_heavy's passes (all cores busy) by
#: up to 30 % for whole runs, beyond the bound.  The wall time is traced as
#: pass.wall_s and printed to stderr
E2E_UNITS = {"setup_s": "s", "pass_cpu_s": "s"}

#: per-layer metric -> unit; every traced run reports all of them, with 0
#: for a layer the workload does not reach
LAYER_UNITS = {
    "build.s": "s", "build.py4j_calls": "count",
    "tables.load_s": "s", "tables.loads": "count", "tables.cache_hits": "count",
    "operators.s": "s", "functions.s": "s", "streaming.s": "s",
    "driver.jobs": "count",
    "cache.persists": "count", "cache.mb": "MB",
    "plan.s": "s", "exec.aqe_replans": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.sched_s": "s", "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.python_mb": "MB",
    "exec.wall_s": "s", "exec.busy_s": "s",
    "stream.add_batch_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s", "stream.planning_s": "s",
    "stream.latest_offset_s": "s",
    "state.rows": "count", "state.mb": "MB", "state.commit_s": "s",
    "state.dropped_late": "count",
    "sink.write_s": "s", "sink.files": "count",
    "mem.driver_rss_mb": "MB", "mem.jvm_heap_mb": "MB",
    "host.ref_s": "s", "trace.overhead": "ratio",
    "recon.share": "ratio", "share.exec": "ratio", "pass.wall_s": "s",
}

MB = 1e6
_TICK = os.sysconf("SC_CLK_TCK")
#: JVM JIT compiler threads: their CPU is the JVM warming itself up, not
#: work the program was asked to do, and it differs from run to run
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], tail.split()


def steal_s() -> float:
    """CPU seconds the host has stolen from the virtual machine so far, summed
    over its CPUs."""
    with open("/proc/stat", encoding="ascii") as fh:
        return int(fh.readline().split()[8]) / _TICK


#: runs of the reference task per probe; the probe reports their median
REF_REPS = 9


def ref_cpu_s() -> float:
    """CPU seconds this thread spends on a fixed Python task (median of
    ``REF_REPS`` runs): the host's per-core speed right now."""
    times = []
    for _ in range(REF_REPS):
        t = time.thread_time()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append(time.thread_time() - t)
    return statistics.median(times)


def work_cpu_s() -> float:
    """User + system CPU seconds of this process and every descendant (the
    Spark JVM, the Python workers), less the JVM's JIT compiler threads.

    Process-level figures keep the CPU of threads that have ended, and
    cutime/cstime that of children already reaped, so the count never goes
    down when Spark retires a pool thread or PySpark an idle worker.  The
    JIT threads are subtracted per thread; ``run.py`` starts the JVM with a
    fixed set of them, so none ends inside a pass.  Unlike wall time the
    figure leaves out time the host stole from the virtual machine."""
    stats = {}
    for pid in os.listdir("/proc"):
        st = _stat(f"/proc/{pid}/stat") if pid.isdigit() else None
        if st is not None:
            stats[int(pid)] = st[1]
    me, ticks = os.getpid(), 0
    for pid, st in stats.items():
        p = pid
        while p > 1 and p != me:
            p = int(stats[p][1]) if p in stats else 0
        if p != me:
            continue
        ticks += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
        task_dir = f"/proc/{pid}/task"
        for tid in os.listdir(task_dir) if os.path.isdir(task_dir) else ():
            th = _stat(f"{task_dir}/{tid}/stat")
            if th is not None and th[0].startswith(_JIT_THREADS):
                ticks -= int(th[1][11]) + int(th[1][12])
    return ticks / _TICK


def run(name, cfg, seed, seconds, work, tracer, clock) -> dict:
    if name == "stream_sessionize":
        return run_stream(cfg, seed, seconds, work, tracer, clock)
    if name == "query_floor":
        names, tables = batch.QUERY_FLOOR, batch.QUERY_FLOOR_TABLES
    else:
        names, tables = batch.CORPUS_HEAVY, batch.CORPUS_HEAVY_TABLES
    return run_batch(names, tables, cfg, seed, seconds, work, tracer, clock)


def _session():
    from akka_stream_contrib_spark import get_spark
    return get_spark("perfsuite")


def _memory(spark) -> dict:
    """Peak RSS of the Spark JVM and peak used heap over its heap pools."""
    jvm = spark._jvm
    pid = jvm.java.lang.ProcessHandle.current().pid()
    rss_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                rss_kb = int(line.split()[1])
    heap = 0
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if str(pool.getType()) == "Heap memory":
            heap += pool.getPeakUsage().getUsed()
    return {"mem.driver_rss_mb": rss_kb * 1024 / MB, "mem.jvm_heap_mb": heap / MB}


def _collect(spark) -> None:
    """Start from a collected heap in the JVM and in this process, so that
    no pass pays for garbage an earlier one left."""
    spark._jvm.System.gc()
    gc.collect()


def _e2e(setup_s: float, pass_cpu_s: float, tally) -> dict:
    e2e = {"setup_s": setup_s, "pass_cpu_s": pass_cpu_s}
    return {"e2e": {k: (v, E2E_UNITS[k]) for k, v in e2e.items()},
            "attempted": tally.attempted, "failed": tally.failed}


def _zero_layers() -> dict:
    return {k: 0.0 for k in LAYER_UNITS}


def _with_units(values: dict) -> dict:
    return {k: (float(values[k]), LAYER_UNITS[k]) for k in LAYER_UNITS
            if k != "host.ref_s"}


def _exec_figures(parsed: dict, phases: set[str], per: int,
                  since: float = 0.0) -> dict:
    """Job/stage/task figures of every job tagged with one of ``phases``
    that started at or after epoch ``since``, divided by ``per`` (the
    number of traced passes)."""
    def ours(item, t):
        return item["tag"] is not None and item["tag"][1] in phases and t >= since
    tasks = [t for t in parsed["tasks"] if ours(t, t["launch"])]
    stages = [s for s in parsed["stages"].values() if ours(s, s["submit"])]
    jobs = [j for j in parsed["jobs"] if ours(j, j["submit"])]
    execs = [e for e in parsed["executions"].values() if ours(e, e["start"])]
    from tracing import busy_wall, python_bytes
    return {
        "driver.jobs": sum(1 for j in jobs if j["tag"][1] == "build") / per,
        "exec.jobs": len(jobs) / per,
        "exec.stages": len(stages) / per,
        "exec.tasks": len(tasks) / per,
        "exec.aqe_replans": sum(e["replans"] for e in execs) / per,
        "exec.sched_s": sum(max(0.0, t["finish"] - t["launch"] - t["run_s"])
                            for t in tasks) / per,
        "exec.run_s": sum(t["run_s"] for t in tasks) / per,
        "exec.cpu_s": sum(t["cpu_s"] for t in tasks) / per,
        "exec.gc_s": sum(t["gc_s"] for t in tasks) / per,
        "exec.shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / MB / per,
        "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB / per,
        "exec.spill_mb": sum(t["spill"] for t in tasks) / MB / per,
        "exec.python_mb": sum(python_bytes(s["acc"]) for s in stages) / MB / per,
        "exec.busy_s": busy_wall([(t["launch"], t["finish"]) for t in tasks]) / per,
    }


# ---------------------------------------------------------------------------
# batch workloads
# ---------------------------------------------------------------------------

def run_batch(names, tables, cfg, seed, seconds, work, tracer, clock) -> dict:
    sf_dir = os.path.join(work, "data")
    t = time.perf_counter()
    datagen.write_tables(sf_dir, seed, cfg["sf"], tables)
    # input generation is the benchmark's own work: not part of setup_s
    gen_s = time.perf_counter() - t
    import __spark_entry__ as entry
    spark = _session()
    tally = batch.Tally()
    try:
        queries, oracles = entry.queries(), entry.oracle_sql()
        # the check pass compiles and runs every plan once; the warm passes
        # let JIT compilation settle before timing
        batch.check_pass(spark, batch.pass_orders(names, seed, 1)[0],
                         queries, oracles, sf_dir, tally)
        for order in batch.pass_orders(names, seed + 2, cfg["warm_passes"]):
            batch.timed_pass(spark, order, queries, sf_dir, tally)
        passes = max(cfg["min_passes"], round(seconds / cfg["pass_s"]))
        if tracer is None:
            setup_s = clock() - gen_s
            walls, cpus, steals = [], [], []
            for order in batch.pass_orders(names, seed + 1, passes):
                _collect(spark)
                cpu, steal = work_cpu_s(), steal_s()
                walls.append(batch.timed_pass(spark, order, queries, sf_dir, tally))
                cpus.append(work_cpu_s() - cpu)
                steals.append(steal_s() - steal)
            print(f"perfsuite: passes={[round(w, 3) for w in walls]} "
                  f"cpu={[round(c, 2) for c in cpus]} "
                  f"steal={[round(x, 2) for x in steals]}", file=sys.stderr)
            return _e2e(setup_s, statistics.median(cpus), tally)
        layers = _traced_batch(spark, names, queries, sf_dir, seed, passes,
                               tracer, tally)
    finally:
        spark.stop()
    parsed = _parse_log(work)
    layers.update(_exec_figures(parsed, {"build", "write"}, passes))
    writes = _match_writes(layers.pop("_writes"), parsed)
    layers["plan.s"] = writes["plan_s"] / passes
    layers["exec.wall_s"] = writes["wall_s"] / passes
    pass_mean = layers["pass.wall_s"] = layers.pop("_traced_pass_mean")
    layers["recon.share"] = (layers["build.s"] + layers["plan.s"]
                             + layers["exec.wall_s"]) / pass_mean
    layers["share.exec"] = layers["exec.busy_s"] / pass_mean
    return {"layers": _with_units(layers), "attempted": tally.attempted,
            "failed": tally.failed}


def _traced_batch(spark, names, queries, sf_dir, seed, passes, tracer,
                  tally) -> dict:
    """Alternate plain and traced passes; return the tracer's figures per
    traced pass, the write-call records and the traced pass mean."""
    tracer.attach(spark)
    sc = spark.sparkContext
    storage_mb = []
    writes = []
    build_s = []

    def traced_call(spark, name, qfn, sf_dir):
        tracer.begin(name, "build")
        t = time.perf_counter()
        df = qfn(spark, sf_dir)
        build_s.append(time.perf_counter() - t)
        tracer.begin(name, "write")
        t_call = time.time()
        df.write.format("noop").mode("overwrite").save()
        writes.append((name, t_call, time.time()))
        tracer.active = False
        infos = sc._jsc.sc().getRDDStorageInfo()
        storage_mb.append(sum(i.memSize() + i.diskSize() for i in infos) / MB)
        tracer.active = True

    plain, traced = [], []
    orders = batch.pass_orders(names, seed + 1, 2 * passes)
    for i, order in enumerate(orders):
        _collect(spark)
        if i % 4 in (0, 3):  # plain, traced, traced, plain, ...
            tracer.begin("-", "plain")
            plain.append(batch.timed_pass(spark, order, queries, sf_dir, tally))
        else:
            tracer.active = True
            traced.append(batch.timed_pass(spark, order, queries, sf_dir,
                                           tally, call=traced_call))
            tracer.active = False
    tracer.begin("-", "plain")
    out = _zero_layers()
    out.update({
        "tables.load_s": tracer.self_s["tables"] / passes,
        "tables.loads": tracer.table_loads / passes,
        "tables.cache_hits": tracer.table_hits / passes,
        "operators.s": tracer.self_s["operators"] / passes,
        "functions.s": tracer.self_s["functions"] / passes,
        "cache.persists": tracer.calls["pipeline_cache"] / passes,
        "build.s": sum(build_s) / passes,
        "build.py4j_calls": tracer.py4j["build"] / passes,
        "streaming.s": tracer.self_s["streaming"] / passes,
        "cache.mb": sum(storage_mb) / passes,
        "trace.overhead": statistics.median(traced) / statistics.median(plain),
        "_writes": writes,
        "_traced_pass_mean": sum(traced) / len(traced),
    })
    out.update(_memory(spark))
    return out


def _parse_log(work: str) -> dict:
    from tracing import parse_event_log, read_events
    return parse_event_log(read_events(os.path.join(work, "eventlog")))


def _match_writes(writes, parsed) -> dict:
    """Split each traced ``noop`` write at the submission of its first job:
    planning (Catalyst analysis, optimisation, physical planning and code
    generation) before it, execution after it."""
    submits: dict[str, list[float]] = {}
    for j in parsed["jobs"]:
        if j["tag"] is not None and j["tag"][1] == "write":
            submits.setdefault(j["tag"][0], []).append(j["submit"])
    plan_s = wall_s = 0.0
    for name, t_call, t_ret in writes:
        mine = [t for t in submits.get(name, ()) if t_call - 0.002 <= t <= t_ret]
        first = min(mine) if mine else t_ret
        plan_s += max(0.0, first - t_call)
        wall_s += t_ret - max(first, t_call)
    return {"plan_s": plan_s, "wall_s": wall_s}


# ---------------------------------------------------------------------------
# stream workload
# ---------------------------------------------------------------------------

def _stream_input(work, tag, seed, n_batches, rows_per_batch):
    backlog = datagen.stream_backlog(seed, n_batches, rows_per_batch)
    base = os.path.join(work, "stream", tag)
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    datagen.write_backlog(backlog, src)
    return backlog, src, out, ckpt


def _check_stream(spark, backlog, out, tally: batch.Tally) -> None:
    n = len(backlog.batches)
    try:
        bad = stream.compare(stream.replay(backlog), stream.read_sink(spark, out), n)
    except Exception as ex:  # noqa: BLE001 - counted, not dropped
        tally.attempted += n - 1
        tally.record(False, f"stream check: {type(ex).__name__}: {ex}")
        return
    for b in range(n):
        tally.record(b not in bad, f"stream batch {b}")
    if n in bad:
        tally.record(False, "stream: rows beyond the last batch")


def run_stream(cfg, seed, seconds, work, tracer, clock) -> dict:
    """One query drains ``warm_batches + n`` files; the first
    ``warm_batches`` triggers (query start, cold code paths) are set-up,
    ``pass_cpu_s`` covers the drain of the rest."""
    warm = cfg["warm_batches"]
    n_batches = warm + max(cfg["min_batches"], round(seconds / cfg["batch_s"]))
    rows = cfg["rows_per_batch"]
    t = time.perf_counter()
    inputs = [_stream_input(work, "main", seed, n_batches, rows)]
    if tracer is not None:
        inputs.append(_stream_input(work, "traced", seed + 1_000_003, n_batches, rows))
    gen_s = time.perf_counter() - t  # the benchmark's own work, not setup_s
    spark = _session()
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    tally = batch.Tally()
    try:
        backlog, src, out, ckpt = inputs[0]
        _collect(spark)
        t_call = clock()
        res = stream.drain(stream.build_query(spark, src, out, ckpt),
                           sample=work_cpu_s)
        start, end = stream.window(res["progress"], warm)
        cpu = res["samples"][-1] - res["samples"][warm - 1]
        _check_stream(spark, backlog, out, tally)
        if tracer is None:
            print(f"perfsuite: rows={backlog.rows} drain={end - start:.3f} "
                  f"cpu={cpu:.2f} triggers_ms="
                  f"{[p['durationMs']['triggerExecution'] for p in res['progress']]}",
                  file=sys.stderr)
            return _e2e(t_call + start - res["t_call"] - gen_s, cpu, tally)
        layers = _traced_stream(spark, inputs[1], warm, end - start, tracer, tally)
    finally:
        spark.stop()
    since = layers.pop("_since")
    layers.update(_exec_figures(_parse_log(work), {"stream"}, 1, since))
    layers["pass.wall_s"] = layers.pop("_drain_s")
    layers["share.exec"] = layers["exec.busy_s"] / layers["pass.wall_s"]
    return {"layers": _with_units(layers), "attempted": tally.attempted,
            "failed": tally.failed}


def _traced_stream(spark, inputs, warm, plain_drain_s, tracer, tally) -> dict:
    """Drain a second backlog with tracing on; figures cover its triggers
    after the first ``warm`` ones."""
    backlog, src, out, ckpt = inputs
    tracer.attach(spark)
    tracer.active = True
    tracer.begin("sessionize", "build")
    t = time.perf_counter()
    writer = stream.build_query(spark, src, out, ckpt)
    build_s = time.perf_counter() - t
    build_py4j = tracer.py4j["build"]
    streaming_build_s = tracer.self_s["streaming"]
    tracer.begin("sessionize", "drain")
    res = stream.drain(writer)
    tracer.active = False
    tracer.begin("-", "plain")
    _check_stream(spark, backlog, out, tally)
    start, end = stream.window(res["progress"], warm)
    prog = res["progress"][warm:]

    def dur(key):
        return sum(p["durationMs"].get(key, 0) for p in prog) / 1000

    def ops(key):
        return sum(op.get(key, 0) or 0 for p in prog for op in p["stateOperators"])

    last_ops = prog[-1]["stateOperators"]
    out_l = _zero_layers()
    out_l.update({
        "build.s": build_s, "build.py4j_calls": build_py4j,
        "streaming.s": streaming_build_s,
        "stream.add_batch_s": dur("addBatch"),
        "stream.wal_commit_s": dur("walCommit"),
        "stream.commit_offsets_s": dur("commitOffsets"),
        "stream.planning_s": dur("queryPlanning"),
        "stream.latest_offset_s": dur("latestOffset"),
        "state.rows": sum(op["numRowsTotal"] for op in last_ops),
        "state.mb": sum(op["memoryUsedBytes"] for op in last_ops) / MB,
        "state.commit_s": ops("commitTimeMs") / 1000,
        "state.dropped_late": ops("numRowsDroppedByWatermark"),
        "sink.write_s": sum(tracer.durations["idempotent_parquet_sink.<returned>"][warm:]),
        "sink.files": sum(len(glob.glob(os.path.join(out, f"_batch_id={b}", "*.parquet")))
                          for b in range(warm, len(backlog.batches))),
        "trace.overhead": (end - start) / plain_drain_s,
        "recon.share": dur("triggerExecution") / (end - start),
        "_drain_s": end - start,
        "_since": start,
    })
    out_l.update(_memory(spark))
    return out_l
