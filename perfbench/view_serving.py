"""``view_serving``: the view plane under a Lobsters-shaped client.

Set-up: a seeded vote feed publishes one snapshot file (every story voted
once plus Zipf-skewed votes). A ``mode="append"`` ``SumView`` consumes the
feed through ``sources.cdc.CDCSource`` with ``root=`` under the run
directory, an ``Engine`` registers it as the materialized answer to the
base-table aggregate (``provider=view.snapshot``), and an
``h2.GrpcQueryServer`` serves that engine. Set-up is timed once, from
session build to the first timed op, cold start-up included.

An op is one client interaction, a cycle: write one vote delta file
(atomic rename), wait until ``view.version()`` shows it, register the new
snapshot for point lookups, then issue ``READS`` reads with
``h2.call_unary``: the flagship top-k (``ORDER BY vote_sum DESC LIMIT 5``,
answered by MV substitution) alternating with point lookups. Every write
and read is a checked request: reads are compared with the feed's own
running sums. A few untimed cycles warm up; the timed window is the
fewest whole ``CYCLE_BLOCK``-cycle blocks, at least ``MIN_BLOCKS``, whose
wall time reaches ``--seconds``.

The traffic mix (``READS``, ``DELTA_VOTES``, the feed's skew) is an
assumption, not measured Lobsters traffic; NOTES.md says how it was chosen.
"""

from __future__ import annotations

import os
import time

import datagen
from common import Result, RunContext, SparkCounters, p50, p90, persisted_rdds

STORIES = 10_000
SNAPSHOT_VOTES = 50_000
DELTA_VOTES = 500
READS = 4
WARMUP_CYCLES = 3
VISIBLE_TIMEOUT_S = 60.0
# At these sizes the LSM's size-tiered trigger compacts every third delta
# (a 500-vote delta adds about half a bucket base in bytes), so the window
# is a whole number of 3-cycle blocks and always holds whole compaction
# periods: a third of the cycles compact. With at least two blocks the
# median cycle is a plain one and the p90 a compacting one, so neither
# quantile falls between the two modes.
CYCLE_BLOCK = 3
MIN_BLOCKS = 2

DEF_SQL = "SELECT story_id, SUM(vote) AS vote_sum FROM votes GROUP BY story_id"
TOPK_SQL = DEF_SQL + " ORDER BY vote_sum DESC LIMIT 5"
POINT_SQL = "SELECT story_id, vote_sum FROM story_votes WHERE story_id = {}"
VIEW_NAME = "votes_sum_view"


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


def _listener(name: str):
    """Benchmark-side StreamingQueryListener for the query ``name``: keeps
    each progress event's phase durations and state-operator figures,
    keyed by batch id."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.batches: dict[int, dict] = {}

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.name != name:
                return
            ops = p.stateOperators or []
            self.batches[p.batchId] = {
                "at": time.perf_counter(),
                "durationMs": dict(p.durationMs or {}),
                "state": {
                    "commitTimeMs": sum(o.commitTimeMs for o in ops),
                    "numRowsTotal": sum(o.numRowsTotal for o in ops),
                    "memoryUsedBytes": sum(o.memoryUsedBytes for o in ops),
                },
            }

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class _Stack:
    """One serving stack: view over the feed, engine, gRPC server."""

    def __init__(self, ctx: RunContext, spark, feed: datagen.VoteFeed):
        from pyspark.sql import types as T

        from proteus_spark import h2
        from proteus_spark.engine import Engine
        from proteus_spark.sources.cdc import CDCSource
        from proteus_spark.streaming.views import SumView

        schema = T.StructType([
            T.StructField("story_id", T.LongType()),
            T.StructField("vote", T.LongType()),
        ])
        self.root = ctx.path("view")
        src = CDCSource(spark=spark, path=feed.src_dir, name="votes", schema=schema)
        t = time.perf_counter()
        self.view = SumView(
            spark, src.subscribe(max_files_per_trigger=1), group_by="story_id",
            agg_attr="vote", name=VIEW_NAME, mode="append", root=self.root,
        ).start()
        self.view.await_catch_up()
        self.catchup_s = time.perf_counter() - t
        self.engine = Engine(spark)
        self.engine.register_parquet("votes", feed.src_dir)
        self.engine.register_materialized("votes_sum", DEF_SQL, provider=self.view.snapshot)
        self.server = h2.GrpcQueryServer(self.engine).start()
        self.run_id = next(
            str(q.runId) for q in spark.streams.active if q.name == VIEW_NAME
        )

    def stop(self) -> None:
        self.server.stop()
        self.view.stop(cleanup=True)


def run(ctx: RunContext) -> Result:
    from proteus_spark import h2

    res = Result()
    tr = ctx.tracer
    s = ctx.scale
    stories = max(100, int(STORIES * s))
    delta_votes = max(20, int(DELTA_VOTES * s))
    t = time.perf_counter()
    feed = datagen.VoteFeed(ctx.path("src"), ctx.path("stage"), ctx.seed, stories)
    feed.snapshot(max(1000, int(SNAPSHOT_VOTES * s)))
    gen_s = time.perf_counter() - t

    # -- set-up, timed once: session, serving stack, warm-up cycles --------
    s0 = time.perf_counter()
    spark = ctx.session()
    session_s = time.perf_counter() - s0
    listener = None
    if tr.enabled:
        listener = _listener(VIEW_NAME)
        spark.streams.addListener(listener)
    t = time.perf_counter()
    stack = _Stack(ctx, spark, feed)
    prepare_s = time.perf_counter() - t
    view, eng = stack.view, stack.engine
    host, port = stack.server.host, stack.server.port
    counters = SparkCounters(spark) if tr.enabled else None
    plan_ms: list[float] = []
    if tr.enabled:
        # Engine.query = spark.sql + MV substitution: the plan-construction
        # layer of a served read, timed from outside the engine
        plain_query = eng.query

        def traced_query(sql, args=None):
            with tr.span("engine.query", "engine") as sp:
                out = plain_query(sql, args)
            plan_ms.append((time.perf_counter() - sp.start) * 1000.0)
            return out

        eng.query = traced_query

    mismatches: list[str] = []
    fresh: list[float] = []
    reads: list[float] = []
    first_read: list[float] = []
    warm_read: list[float] = []
    engine_ms: list[float] = []
    construct: list[float] = []
    execute: list[float] = []
    transport: list[float] = []
    resp_bytes: list[int] = []
    gen_write: list[float] = []
    topk_reads = topk_hits = 0
    cycle_ops: list[int] = []  # op span id per delta, in batch order

    def cycle(timed: bool) -> bool:
        nonlocal topk_reads, topk_hits
        before = view.version()
        res.attempted += 1
        with tr.op("cycle") as op:
            cycle_ops.append(op.sid if op is not None else -1)
            a = time.perf_counter()
            with tr.span("gen.write", "gen"):
                feed.delta(delta_votes)
            b = time.perf_counter()
            with tr.span("visible", "stream"):
                while view.version() == before:
                    if time.perf_counter() - b > VISIBLE_TIMEOUT_S:
                        res.failed += 1
                        mismatches.append(f"delta {feed.files - 1} not visible")
                        return False
                    time.sleep(0.001)
            c = time.perf_counter()
            if timed:
                fresh.append((c - b) * 1000.0)
                gen_write.append((b - a) * 1000.0)
            with tr.span("snapshot", "views"):
                eng.register_view("story_votes", view.snapshot())
            keys = feed.point_keys(READS // 2)
            expect_top = feed.top(5)
            for r in range(READS):
                res.attempted += 1
                topk = r % 2 == 0
                sql = TOPK_SQL if topk else POINT_SQL.format(int(keys[r // 2]))
                n_lat = len(eng.stats.latencies_ms)
                n_plan = len(plan_ms)
                try:
                    a = time.perf_counter()
                    with tr.span("call_unary", "h2"):
                        resp = h2.call_unary(host, port, sql)
                    b = time.perf_counter()
                except Exception as exc:
                    res.failed += 1
                    mismatches.append(f"read error {type(exc).__name__}: {str(exc)[:200]}")
                    continue
                recs = [
                    (int(x["attributes"]["story_id"]), int(x["attributes"]["vote_sum"]))
                    for x in resp["respRecord"]
                ]
                if topk:
                    ok = sorted((v for _k, v in recs), reverse=True) == expect_top and all(
                        feed.sums[k] == v for k, v in recs
                    )
                else:
                    k = int(keys[r // 2])
                    ok = recs == [(k, int(feed.sums[k]))]
                if not ok:
                    res.failed += 1
                    mismatches.append(
                        f"{'topk' if topk else 'point'} read wrong at v{view.version()}"
                    )
                if not timed:
                    continue
                ms = (b - a) * 1000.0
                reads.append(ms)
                (first_read if r == 0 else warm_read).append(ms)
                if len(eng.stats.latencies_ms) > n_lat:
                    engine_ms.append(eng.stats.latencies_ms[-1])
                    transport.append(ms - eng.stats.latencies_ms[-1])
                    if len(plan_ms) > n_plan:
                        construct.append(plan_ms[-1])
                        execute.append(eng.stats.latencies_ms[-1] - plan_ms[-1])
                if eng.stats.response_bytes:
                    resp_bytes.append(eng.stats.response_bytes[-1])
                if topk:
                    topk_reads += 1
                    topk_hits += eng.mvs.last_substitution == "votes_sum"
        return True

    t = time.perf_counter()
    for _ in range(WARMUP_CYCLES):
        cycle(timed=False)
    warm_s = time.perf_counter() - t

    # -- timed window ----------------------------------------------------
    files0 = _tree_files(stack.root) if counters else {}
    feed_bytes0, version0, batches0 = feed.bytes, view.version(), len(cycle_ops)
    gc0 = counters.gc_ms() if counters else 0.0
    if counters:
        counters.new_jobs([None, stack.run_id])
    jobs = stages = tasks = 0
    persisted_max = 0
    cycle_ms: list[float] = []
    w0 = time.perf_counter()
    setup_s = w0 - s0
    while True:
        cs = time.perf_counter()
        ok = cycle(timed=True)
        cycle_ms.append((time.perf_counter() - cs) * 1000.0)
        if counters:
            o = time.perf_counter()
            ids = counters.new_jobs([None, stack.run_id])
            st, tk = counters.stages_tasks(ids)
            jobs, stages, tasks = jobs + len(ids), stages + st, tasks + tk
            persisted_max = max(persisted_max, persisted_rdds(spark))
            tr.overhead_s += time.perf_counter() - o
        if not ok:
            break
        n_cyc = len(cycle_ms)
        if (time.perf_counter() - w0 >= ctx.seconds and n_cyc % CYCLE_BLOCK == 0
                and n_cyc >= MIN_BLOCKS * CYCLE_BLOCK):
            break
    window_s = time.perf_counter() - w0
    gc_ms = (counters.gc_ms() - gc0) if counters else 0.0
    versions = view.version() - version0
    delta_bytes = feed.bytes - feed_bytes0
    if counters:
        files1 = _tree_files(stack.root)
        added = sum(sz for p, sz in files1.items() if files0.get(p) != sz)
        state_bytes = sum(files1.values())

    # -- teardown ----------------------------------------------------------
    stack.stop()
    if listener is not None:
        spark.streams.removeListener(listener)
    leaks = ctx.leak_counts(spark)

    n = len(cycle_ms)
    res.e2e = {
        "setup_s": setup_s,
        "op_ms_p50": p50(cycle_ms),
        "op_ms_p90": p90(cycle_ms),
        "ops_per_s": n / window_s,
    }
    res.extra = {
        "ops": res.attempted,
        "failed_ops": res.failed,
        "freshness_ms_p50": p50(fresh),
        "freshness_ms_p90": p90(fresh),
        "read_ms_p50": p50(reads),
        "read_ms_p90": p90(reads),
        "samples": {"cycles": n, "writes": len(fresh), "reads": len(reads)},
        "cycle_ms": cycle_ms,
        "freshness_ms": fresh,
        "read_ms": reads,
        "window_s": window_s,
        "gen_s": gen_s,
        "session_s": session_s,
        "prepare_s": prepare_s,
        "catchup_s": stack.catchup_s,
        "warmup_s": warm_s,
        "mismatches": mismatches[:20],
        **leaks,
    }
    if tr.enabled:
        phases = {}
        state = {}
        timed_batches = [
            listener.batches[i] for i in range(batches0 + 1, len(cycle_ops) + 1)
            if i in listener.batches
        ]
        for b in timed_batches:
            for k, v in b["durationMs"].items():
                phases.setdefault(k, []).append(float(v))
            for k, v in b["state"].items():
                state.setdefault(k, []).append(float(v))
        # listener phases as children of the cycle whose delta triggered
        # the batch (laid end to end, ending when the progress event arrived)
        for i, sid in enumerate(cycle_ops, start=1):
            b = listener.batches.get(i)
            if b is None or sid < 0:
                continue
            end = b["at"]
            for k in ("commitOffsets", "addBatch", "queryPlanning", "getBatch",
                      "walCommit", "latestOffset"):
                d = b["durationMs"].get(k, 0) / 1000.0
                tr.add(k, "trigger", sid, end - d, end)
                end -= d
        self_ms = tr.self_ms_per_op()
        tr.dump(ctx.root + f"/perfbench/.traces/view_serving-seed{ctx.seed}.json")
        res.extra.update({
            "trigger_ms": {k: p50(v) for k, v in sorted(phases.items())},
            "state": {k: v[-1] for k, v in sorted(state.items())},
            "views.first_read_ms": p50(first_read),
            "views.warm_read_ms": p50(warm_read),
            "engine.plan_ms": p50(construct),
            "engine.exec_ms": p50(engine_ms),
            "h2.transport_ms": p50(transport),
            "gen.write_ms": p50(gen_write),
            "self_ms_per_op": self_ms,
        })
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
            "mvsub_hit_ratio": topk_hits / max(topk_reads, 1),
            "wire_bytes_per_op": sum(resp_bytes) / n,
            "view_commits_per_op": versions / n,
            "view_write_amp": added / max(delta_bytes, 1),
            "view_state_bytes": float(state_bytes),
            **leaks,
        }
    return res
