"""``olap_batch``: the ad-hoc plane, one closed-loop client.

Cycles the 21 headline and ``bench``-tagged registry queries (the
``bench.py`` set) over seeded generated tables, one query at a time, each
result forced through a ``noop`` write after ``clearCache()`` (the
``bench.py`` timing shape). The seed shuffles the query order of every
pass. One untimed pass comes first: it warms the JVM and doubles as the
correctness pass, where every query is collected and compared with its
DuckDB oracle by ``tests/oracle_utils.compare``, the repository's own
oracle check. Set-up is timed once, from session build to the first
timed query. The timed window is a whole number of passes, the fewest
whose wall time reaches ``--seconds``.

Views and serving are not touched.
"""

from __future__ import annotations

import time

import numpy as np

import datagen
from common import Result, RunContext, SparkCounters, p50, p90, persisted_rdds
from tests.oracle_utils import compare, duckdb_conn

# The bench.py set: its HEADLINE list, then the registry's bench-tagged
# queries in name order. Fixed here so the workload cannot drift with tags.
QUERIES = (
    "ref_lobsters_topk", "ref_join_merge", "ref_sum_view", "ref_topk_orders",
    "ref_range_filter", "ref_index_range", "ref_router_union",
    "asof_join_latest_order", "llm_decontaminate", "llm_dedup_exact_substring",
    "llm_dedup_minhash_lsh", "llm_pack_sequences", "llm_sim_bruteforce",
    "llm_sim_mips_banded", "tpch_q1", "tpch_q10", "tpch_q21", "tpch_q3",
    "tpch_q5", "tpch_q6", "tpch_q9",
)


def _order(seed: int, pass_no: int) -> list[str]:
    """Query order of pass ``pass_no`` (0 = the untimed pass)."""
    perm = np.random.default_rng([seed % 2**32, pass_no]).permutation(len(QUERIES))
    return [QUERIES[i] for i in perm]


def run(ctx: RunContext) -> Result:
    res = Result()
    tr = ctx.tracer
    data = ctx.path("data")
    t = time.perf_counter()
    datagen.write_tables(data, ctx.seed, ctx.scale)
    gen_s = time.perf_counter() - t

    # -- set-up, timed once: session, catalog registration, warm-up pass --
    s0 = time.perf_counter()
    spark = ctx.session()
    session_s = time.perf_counter() - s0
    from proteus_spark import registry
    from proteus_spark.engine import Engine

    t = time.perf_counter()
    Engine(spark, data)
    prepare_s = time.perf_counter() - t
    fns = registry.all_queries()
    missing = [q for q in QUERIES if q not in fns]
    if missing:
        raise SystemExit(f"registry lacks {missing}")

    t = time.perf_counter()
    con = duckdb_conn(data)
    mismatches: dict[str, str] = {}
    for name in _order(ctx.seed, 0):
        res.attempted += 1
        spark.catalog.clearCache()
        try:
            bad = compare(fns[name](spark, data), con,
                          registry.QUERIES[name].resolve_oracle())
        except Exception as exc:  # a failing query is a failed op
            bad = [f"{type(exc).__name__}: {str(exc)[:200]}"]
        if bad:
            res.failed += 1
            mismatches[name] = bad[0][:300]
    con.close()
    warm_s = time.perf_counter() - t

    # -- timed window ----------------------------------------------------
    counters = SparkCounters(spark) if tr.enabled else None
    jobs = stages = tasks = 0
    persisted_max = 0
    lat: list[float] = []
    construct: list[float] = []
    execute: list[float] = []
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    pass_s: list[float] = []
    gc0 = counters.gc_ms() if counters else 0.0
    w0 = time.perf_counter()
    setup_s = w0 - s0
    n_pass = 0
    while True:
        ps = time.perf_counter()
        for name in _order(ctx.seed, n_pass + 1):
            res.attempted += 1
            spark.catalog.clearCache()
            group = f"perfbench-{res.attempted}"
            if counters:
                spark.sparkContext.setJobGroup(group, name)
            try:
                with tr.op(name):
                    a = time.perf_counter()
                    with tr.span("construct", "queries"):
                        df = fns[name](spark, data)
                    b = time.perf_counter()
                    with tr.span("execute", "spark"):
                        df.write.mode("overwrite").format("noop").save()
                    c = time.perf_counter()
            except Exception as exc:
                res.failed += 1
                mismatches.setdefault(name, f"{type(exc).__name__}: {str(exc)[:200]}")
                continue
            lat.append((c - a) * 1000.0)
            construct.append((b - a) * 1000.0)
            execute.append((c - b) * 1000.0)
            per_query[name].append((c - b) * 1000.0)
            if counters:
                o = time.perf_counter()
                ids = counters.new_jobs([group])
                st, tk = counters.stages_tasks(ids)
                jobs, stages, tasks = jobs + len(ids), stages + st, tasks + tk
                persisted_max = max(persisted_max, persisted_rdds(spark))
                tr.overhead_s += time.perf_counter() - o
        pass_s.append(time.perf_counter() - ps)
        n_pass += 1
        if time.perf_counter() - w0 >= ctx.seconds:
            break
    window_s = time.perf_counter() - w0
    gc_ms = (counters.gc_ms() - gc0) if counters else 0.0

    leaks = ctx.leak_counts(spark)
    n = max(len(lat), 1)
    res.e2e = {
        "setup_s": setup_s,
        "op_ms_p50": p50(lat),
        "op_ms_p90": p90(lat),
        "ops_per_s": len(lat) / window_s,
    }
    res.extra = {
        "ops": res.attempted,
        "failed_ops": res.failed,
        "query_ms_p50": res.e2e["op_ms_p50"],
        "query_ms_p90": res.e2e["op_ms_p90"],
        "queries_per_s": res.e2e["ops_per_s"],
        "samples": len(lat),
        "passes": n_pass,
        "pass_s": pass_s,
        "window_s": window_s,
        "gen_s": gen_s,
        "session_s": session_s,
        "prepare_s": prepare_s,
        "warmup_s": warm_s,
        "exec_ms": {q: p50(v) for q, v in per_query.items() if v},
        "mismatches": mismatches,
        **leaks,
    }
    if tr.enabled:
        self_ms = tr.self_ms_per_op()
        tr.dump(ctx.root + f"/perfbench/.traces/olap_batch-seed{ctx.seed}.json")
        res.extra["self_ms_per_op"] = self_ms
        res.layers = {
            "session_s": session_s,
            "prepare_s": prepare_s,
            "warmup_s": warm_s,
            "construct_ms": p50(construct),
            "execute_ms": p50(execute),
            "jobs_per_op": jobs / n,
            "stages_per_op": stages / n,
            "tasks_per_op": tasks / n,
            "gc_ms_per_op": gc_ms / n,
            "persisted_rdds_max": persisted_max,
            "trace_overhead_ms_per_op": tr.overhead_s * 1000.0 / n,
            # layers this workload bypasses: no work done there
            "mvsub_hit_ratio": 0.0,
            "wire_bytes_per_op": 0.0,
            "view_commits_per_op": 0.0,
            "view_write_amp": 0.0,
            "view_state_bytes": 0.0,
            **leaks,
        }
    return res
