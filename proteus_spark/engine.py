"""Engine facade — the ad-hoc query plane.

Reference parity: the client-facing surface of a Proteus deployment is
``QueryUnary(sqlString) -> QueryResp{respRecord[]}`` answered over the
current materialized state (reference: api/protobuf-spec/qpuapi.proto:12-17,
internal/rpc_server/rpcserver.go:167-199,
internal/apiprocessor/apiprocessor.go:218-245). The reference has no
planner — parse output is the executable plan. Here the same surface is a
thin facade over ``spark.sql``: Catalyst does analysis/optimization, and
"state tables" are just registered views, so the reference's per-operator
class dispatch (apiprocessor.go:314-333) disappears.

The reference parser accepts only single-table SELECT with projection,
AND-ed EQ/RANGE/ISNULL predicates, ORDER BY, LIMIT
(internal/sqlparser/sqlparse.go:102-124,340-353). We accept full Spark SQL —
a strict superset — and additionally validate the reference subset in
``operators.filters`` so its semantics quirks are explicit.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from proteus_spark import TABLES
from proteus_spark.schema import TESTDATA_SCHEMAS


def clamp_updates_timeout(value, default: float = 5.0) -> float:
    """Intake-bound the per-request quiet-close window to [0, 300] seconds
    — THE clamp for every transport surface (NDJSON, protobuf, gRPC) and
    for ``Engine.query_stream`` itself (ADVICE r14): non-finite floats are
    rejected too, because ``Queue.get(timeout=nan)`` blocks forever and a
    client sending ``updates_timeout='nan'``/'inf' would otherwise pin a
    server stream thread indefinitely. Malformed values fall back to
    ``default``."""
    import math

    try:
        v = float(value)
    except (TypeError, ValueError):
        return default
    if not math.isfinite(v):
        return default
    return min(max(v, 0.0), 300.0)


@dataclass
class QueryStats:
    """Per-query latency + data-transfer log, mirroring the reference's
    evaluation hooks (reference: internal/metrics/metrics.go:78-101;
    measureDataTransfer, internal/apiprocessor/apiprocessor.go:392-408)."""

    latencies_ms: list[float] = field(default_factory=list)
    response_bytes: list[int] = field(default_factory=list)

    def record(self, ms: float) -> None:
        self.latencies_ms.append(ms)

    def record_bytes(self, n: int) -> None:
        self.response_bytes.append(n)

    def data_transfer(self) -> dict:
        """bytes-per-response report (apiprocessor.go:392-408 shape)."""
        xs = self.response_bytes
        return {
            "responses": len(xs),
            "total_bytes": sum(xs),
            "mean_bytes": (sum(xs) / len(xs)) if xs else None,
        }

    def percentiles(self) -> dict[str, float]:
        if not self.latencies_ms:
            return {}
        xs = sorted(self.latencies_ms)

        def pct(p: float) -> float:
            i = min(len(xs) - 1, int(round(p / 100.0 * (len(xs) - 1))))
            return xs[i]

        return {"p50": pct(50), "p90": pct(90), "p95": pct(95), "p99": pct(99)}


class Engine:
    """Session + catalog + query facade.

    >>> eng = Engine(spark, "/root/testdata/sf0.001")
    >>> eng.query("SELECT * FROM events WHERE event_id = 42")
    """

    def __init__(self, spark: SparkSession, data_dir: str | None = None):
        self.spark = spark
        self.stats = QueryStats()
        self._registered: dict[str, str] = {}
        from proteus_spark.plans.mvsub import MVCatalog

        self.mvs = MVCatalog(spark)
        if data_dir:
            self.register_dir(data_dir)

    # -- catalog ----------------------------------------------------------
    def register_parquet(self, name: str, path: str, schema=None) -> DataFrame:
        """Register a parquet table as a named view (explicit schema
        contract; reference declares schemas in TOML — config.go:25-35)."""
        from proteus_spark.registry import _tune_session

        _tune_session(self.spark)
        df = self.spark.read.parquet(path)
        if schema is not None:
            declared = {f.name: f.dataType for f in schema.fields}
            actual = {f.name: f.dataType for f in df.schema.fields}
            if declared != actual:
                # Drift is a contract violation worth surfacing, but the
                # parquet footer is the runtime truth — serve the data and
                # warn, don't take the query plane down.
                import warnings

                warnings.warn(
                    f"schema drift for {name}: declared {declared} != parquet {actual}",
                    stacklevel=2,
                )
        df.createOrReplaceTempView(name)
        from proteus_spark.registry import invalidate_view

        invalidate_view(self.spark, name)
        self._registered[name] = path
        return df

    def register_dir(self, data_dir: str, tables=TABLES) -> None:
        """Register every known testdata table under ``data_dir``."""
        for t in tables:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.register_parquet(t, p, TESTDATA_SCHEMAS.get(t))

    def register_view(self, name: str, df: DataFrame) -> None:
        """Expose a derived/materialized view as a queryable table — the
        Spark analogue of a stateful QPU's output table (e.g. ``stories_sum``;
        reference: internal/qpu_classes/sum/sum.go:108-121)."""
        df.createOrReplaceTempView(name)
        from proteus_spark.registry import invalidate_view

        invalidate_view(self.spark, name)

    def tables(self) -> list[str]:
        """= GetConfig schema advertisement (qpuapi.proto:128-144)."""
        return sorted(self._registered)

    def register_materialized(
        self, name: str, defining_sql: str, provider=None
    ) -> None:
        """Register a materialized view for automatic substitution: any
        later ``query()`` whose plan semantically equals ``defining_sql``
        (or is a top-k wrapper over it) is answered from the view's
        snapshot instead of re-aggregating base tables — the topology
        wiring of the reference (sum.go:149-180) turned into a rewrite
        (SURVEY §4 'materialized-view answering'). ``provider`` supplies
        the live snapshot (e.g. ``SumView.snapshot``); default
        materializes ``defining_sql`` once, eagerly."""
        self.mvs.register(name, defining_sql, provider)

    # -- query plane ------------------------------------------------------
    def query(self, sql: str, args=None) -> DataFrame:
        """QueryUnary parity: SQL in, result out (lazy DataFrame).

        ``args`` binds named (dict) or positional (list) parameters —
        ``query("... WHERE x = :k", args={"k": 42})`` — the safe form of
        the reference's SQL→AST cache, which patches the literal after
        the ``=`` into a cached parse tree for point queries
        (apiprocessor.go:335-390). Bound parameters only bind literals
        safely: Spark keeps no plan cache, so every call parses and
        analyzes its text again.

        If a registered materialized view answers this plan, serve from
        its snapshot (``mvs.last_substitution`` names the view; None =
        normal Catalyst execution). No latency is recorded here:
        ``spark.sql`` builds and analyzes the plan without running it,
        which took 8-57 ms per served read (median 21-29 ms) in traced
        ``view_serving`` on 4 cores. The reference's query-latency metric
        is end-to-end (metrics.go:78-101), so recording happens where
        execution does — ``_collect_timed`` under query_unary /
        query_subscribe."""
        df = self.spark.sql(sql, args=args) if args is not None else self.spark.sql(sql)
        sub = self.mvs.try_substitute(df)
        return sub if sub is not None else df

    def _collect_timed(self, sql: str) -> list:
        """Execute + collect with the latency recorded around the actual
        execution — the reference's end-to-end definition."""
        t0 = time.perf_counter()
        rows = self.query(sql).collect()
        self.stats.record((time.perf_counter() - t0) * 1000.0)
        return rows

    def explain(self, sql: str, mode: str = "formatted") -> str:
        """Physical plan for a SQL query — the introspection surface the
        reference lacks entirely (its plan IS the deployed topology)."""
        df = self.spark.sql(sql)
        return self.spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode
        )

    def query_subscribe(self, sql: str, table: str, view, callback) -> None:
        """QuerySubscribe parity (qpuapi.proto:19, apiprocessor.go:248-305):
        register a continuous query against a materialized view — on every
        view update the SQL is re-evaluated over the fresh state and the
        result pushed to ``callback(rows, epoch)``.

        ``view`` is any streaming view exposing ``subscribe(cb)`` +
        ``snapshot()`` (SumView/JoinView); ``table`` is the name the SQL
        refers to it by. Per-epoch evaluation gives strictly stronger
        ordering than the reference's goroutine-per-record push
        (responseStream.go:51-64). Returns the registered handle — pass it
        to ``view.unsubscribe`` to cancel the continuous query."""

        def _on_update(_delta, epoch: int) -> None:
            snap = view.snapshot()
            if snap is None:
                return
            snap.createOrReplaceTempView(table)
            from proteus_spark.registry import invalidate_view

            invalidate_view(self.spark, table)
            callback(self._collect_timed(sql), epoch)

        view.subscribe(_on_update)
        return _on_update

    def subscribe_matching(self, view, predicate_sql: str, callback) -> None:
        """Per-value subscriber parity (inMemIndex.go:420-449): the
        reference keeps a registry of subscribers keyed by attribute
        VALUE and pushes a delta only to subscribers whose value it
        matches. Generalized here from value-keyed to an arbitrary SQL
        predicate: each micro-batch's delta is filtered by
        ``predicate_sql`` and ``callback(rows, epoch)`` fires only when
        matching records changed — non-matching epochs are silent, unlike
        ``query_subscribe`` which re-evaluates on every update. The
        filter is a Catalyst expression over the (small) delta frame, so
        fan-out cost is per-subscriber-per-delta, as in the reference."""
        from pyspark.sql import functions as F

        def _on_delta(delta, epoch: int) -> None:
            rows = [
                self._stringify(r)
                for r in delta.filter(F.expr(predicate_sql)).collect()
            ]
            if rows:
                callback(rows, epoch)

        view.subscribe(_on_delta)
        return _on_delta

    @staticmethod
    def _stringify(row) -> dict[str, str]:
        return {
            k: ("" if v is None else str(v)) for k, v in row.asDict().items()
        }

    def query_unary(self, sql: str) -> list[dict[str, str]]:
        """Eager variant returning stringified attribute maps, matching the
        reference response encoding ``QueryRespRecord{attributes:
        map<string,string>}`` (qpuextapi.proto:33-38,
        internal/qpu_classes/datastore_driver/datastoredriver.go:187-200)."""
        out = [self._stringify(row) for row in self._collect_timed(sql)]
        # measureDataTransfer parity: bytes of the stringified attribute
        # maps actually shipped to the client (apiprocessor.go:140-159).
        self.stats.record_bytes(
            sum(len(k) + len(v) for rec in out for k, v in rec.items())
        )
        return out

    def query_stream(
        self,
        sql: str,
        view=None,
        updates_timeout: float = 5.0,
        typed: bool = False,
    ):
        """Bidi ``Query`` parity (qpuapi.proto:106-116,
        rpcserver.go:101-119): a generator of ``(seq_id, record_type,
        attributes)`` triples — the snapshot phase streams every current
        record as STATE, then the END_OF_STREAM marker closes the
        snapshot (queries.go:81-116's [LATEST, INF) boundary), then — when
        ``view`` (a streaming view with ``subscribe``) is given — each
        later micro-batch's changed records stream as UPDATEDELTA until no
        update arrives for ``updates_timeout`` seconds. ``seq_id`` is the
        strictly-increasing per-stream sequence number the reference
        stamps on responses. The subscriber registers BEFORE the snapshot
        executes, so no delta between snapshot and subscribe is lost —
        strictly stronger than the reference's race (responseStream.go:51-64).
        """
        updates_timeout = clamp_updates_timeout(updates_timeout)
        import queue as _queue

        updates: _queue.Queue = _queue.Queue()
        _on_update = None
        # the JSON surface stringifies every attribute (the documented
        # deviation); the protobuf surface passes typed=True and maps raw
        # Python values onto qpu.Value's typed oneof arms instead
        conv = (lambda r: r.asDict()) if typed else self._stringify
        if view is not None:

            def _on_update(delta, epoch: int) -> None:
                try:
                    updates.put((epoch, [conv(r) for r in delta.collect()]))
                except Exception:
                    pass  # view teardown mid-collect must not kill the view

            view.subscribe(_on_update)

        # The finally runs when the generator is exhausted (quiet timeout)
        # OR closed early (client disconnect -> GeneratorExit), so the view
        # never accretes a dead subscriber + an undrained queue per past
        # stream request (ADVICE r6).
        try:
            seq = 0
            for row in self._collect_timed(sql):
                yield (seq, "STATE", conv(row))
                seq += 1
            yield (seq, "END_OF_STREAM", None)
            seq += 1
            if view is None:
                return
            while True:
                try:
                    _epoch, rows = updates.get(timeout=updates_timeout)
                except _queue.Empty:
                    return
                for rec in rows:
                    yield (seq, "UPDATEDELTA", rec)
                    seq += 1
        finally:
            if view is not None and _on_update is not None:
                try:
                    view.unsubscribe(_on_update)
                except Exception:
                    pass  # teardown best-effort: view may already be stopped
