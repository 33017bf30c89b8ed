"""The two batch workloads: one closed-loop client running a fixed query mix.

A pass runs each query once: the call of its ``queries()`` function up to the
return of a ``noop`` write of the DataFrame it built.  Before the timed
passes, the output check runs every query once, untimed, through the rules
of ``tests/oracle_check.py`` (``compare_query``: one Spark execution
rendered to pandas against one DuckDB execution of ``oracle_sql()``).
"""

from __future__ import annotations

import random
import sys
import time
import traceback
from dataclasses import dataclass

#: query_floor: oracle-backed queries whose sf0.1 time is within ~1.3x of
#: their compile-warmed sf0.01 time in BENCH_DETAIL.json, so build, planning
#: and scheduling dominate.  Together they reach tables, util.pipeline_cache
#: and the operators/functions/streaming packages (see layers.json).
QUERY_FLOOR = (
    "q6_forecast_revenue", "reservoir_sample", "sliding_window",
    "kfold_split", "url_recrawl_dedup", "k_anonymity", "wilson_rank",
    "dedup_exact", "dedup_keep_best", "epoch_shuffle", "weighted_sample",
    "mixture_sample", "mixture_weights", "chunk_documents",
    "boolean_retrieval", "bpe_pair_counts", "domain_cap",
    "attribution_window_join",
)

#: corpus_heavy: LLM-pipeline queries whose executor work grows with the
#: corpus (exact-substring dedup spans, distinct n-gram ratios), run on the
#: larger input.  Two only: each costs seconds per run on four cores.
CORPUS_HEAVY = ("duplicate_spans", "distinct_ngrams")

#: the tables each mix reads; the others are written empty
QUERY_FLOOR_TABLES = ("customer", "documents", "events", "lineitem")
CORPUS_HEAVY_TABLES = ("documents",)


@dataclass
class Tally:
    """Executions attempted and failed (exception or wrong output)."""
    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"FAIL {what}", file=sys.stderr, flush=True)


def check_pass(spark, names, queries, oracles, sf_dir, tally: Tally) -> None:
    """Run every query once through ``oracle_check.compare_query`` and count
    each exception or mismatch as a failure.  A query without an oracle is a
    failure too: the workloads only hold oracle-backed queries."""
    from oracle_check import compare_query
    for name in names:
        try:
            if oracles.get(name) is None:
                ok, msg = False, f"{name}: no oracle_sql() entry"
            else:
                ok, msg = compare_query(spark, name, queries[name],
                                        oracles[name], sf_dir)
        except Exception as ex:  # noqa: BLE001 - counted, not dropped
            ok, msg = False, f"{name}: {type(ex).__name__}: {ex}"
            traceback.print_exc(file=sys.stderr)
        tally.record(ok, msg)


def run_query(spark, name, qfn, sf_dir) -> None:  # noqa: ARG001
    qfn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def timed_pass(spark, order, queries, sf_dir, tally: Tally,
               call=run_query) -> float:
    """One pass over ``order``; returns its wall time.  A query that raises
    is counted as a failure and the pass goes on."""
    t0 = time.perf_counter()
    for name in order:
        try:
            call(spark, name, queries[name], sf_dir)
        except Exception as ex:  # noqa: BLE001 - counted, not dropped
            tally.record(False, f"{name}: {type(ex).__name__}: {ex}")
            continue
        tally.record(True, name)
    return time.perf_counter() - t0


def pass_orders(names, seed: int, passes: int) -> list[list[str]]:
    """The seeded query order of each pass."""
    rng = random.Random(seed)
    out = []
    for _ in range(passes):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out
