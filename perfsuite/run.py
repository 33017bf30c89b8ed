#!/usr/bin/env python3
"""Benchmark of the stream-operator engine; run from the repository root:

    python3 perfsuite/run.py --workload query_floor --seed 1 --seconds 10 --trace 0

Workloads (one closed-loop client, Spark ``local[<cores>]``):

- ``query_floor``     18 oracle-backed queries at sf0.01, seeded order per pass;
- ``corpus_heavy``    2 data-bound document-corpus queries at sf0.1;
- ``stream_sessionize`` a seeded backlog drained through dedup ->
  sessionize -> idempotent parquet sink.

Inputs are generated from ``--seed`` into ``.perfsuite_work/`` under the
current directory and removed at exit.  The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
``BENCHMARK.json`` and ``perfsuite/layers.json``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _process_age_s() -> float:
    """Seconds since this process started (so interpreter start-up counts
    towards ``setup_s``)."""
    with open("/proc/self/stat", encoding="ascii") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


_T0 = time.perf_counter() - _process_age_s()


def since_start() -> float:
    return time.perf_counter() - _T0


#: the Spark JVM's heap, fixed (-Xms = -Xmx)
HEAP = "1536m"

#: per workload: input scale, passes (or backlog size) per ``--seconds``
WORKLOADS = {
    "query_floor": {"sf": 0.01, "pass_s": 3.0, "min_passes": 4,
                    "warm_passes": 1},
    "corpus_heavy": {"sf": 0.1, "pass_s": 4.0, "min_passes": 3,
                     "warm_passes": 0},
    "stream_sessionize": {"rows_per_batch": 1000, "batch_s": 2.0,
                          "min_batches": 6, "warm_batches": 3},
}


def _require_repo(root: str) -> None:
    missing = [p for p in ("__spark_entry__.py", "akka_stream_contrib_spark",
                           os.path.join("tests", "oracle_check.py"))
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfsuite: not a repository checkout, missing {missing}",
              file=sys.stderr)
        sys.exit(2)


def _environment(root: str, work: str, trace: bool) -> None:
    """Keep every file Spark writes inside ``work`` and make the package
    importable in Python workers; must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    # no hsperfdata files: the JVM would write them under /tmp.  A fixed set
    # of JIT compiler threads: workloads.work_cpu_s subtracts their CPU, which
    # needs them alive at both ends of a pass.  A fixed heap (-Xms = -Xmx):
    # the collection before each pass cannot shrink it, so every pass starts
    # with the same heap
    submit = [f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
              f"-XX:-UseDynamicNumberOfCompilerThreads -Xms{HEAP}'"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{log_dir}",
                   "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


#: how long the Spark JVM gets to exit before it is killed
JVM_EXIT_S = 60.0


def _stop_jvm() -> None:
    """Close the Spark JVM's stdin, PySpark's signal for it to exit, and
    wait for it, so that no process outlives the run."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(JVM_EXIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    _require_repo(root)
    work = os.path.join(root, ".perfsuite_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(root, work, bool(args.trace))
    sys.path[:0] = [root, os.path.join(root, "tests")]
    import workloads
    ref_start = workloads.ref_cpu_s()
    steal_start = workloads.steal_s()

    tracer = None
    if args.trace:
        import tracing
        tracer = tracing.Tracer()
        tracing.install(tracer)
    try:
        result = workloads.run(args.workload, WORKLOADS[args.workload],
                               args.seed, args.seconds, work, tracer,
                               since_start)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    ref_end = workloads.ref_cpu_s()
    print(f"perfsuite: host.ref_s start={ref_start:.4f} end={ref_end:.4f} "
          f"steal_s={workloads.steal_s() - steal_start:.2f}",
          file=sys.stderr)
    metrics = result["e2e"] if not args.trace else result["layers"]
    if args.trace:
        metrics["host.ref_s"] = (statistics.median([ref_start, ref_end]), "s")
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
