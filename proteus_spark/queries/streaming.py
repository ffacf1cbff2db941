"""Streaming view-maintenance queries — oracle-checked end states.

Each query actually RUNS a Structured-Streaming pipeline (the input staged
as multiple micro-batches), waits for catch-up, and returns the final
materialized view — which a plain batch SQL oracle can verify. This is the
strongest possible check of the incremental plane: arbitrary interleaving
of micro-batches must converge to the batch answer.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from proteus_spark.operators import keyed_merge_join, topk
from proteus_spark.registry import events_with_ts, load, register, spill
from proteus_spark.sources import cdc
from proteus_spark.streaming.stateful import sessionize_stream
from proteus_spark.streaming.views import SumView


# snapshot materialization without a driver round-trip — see registry.spill
_spill = spill

# Per-trigger sink appends (guide §6, output sizing): a micro-batch's
# emission is a tiny delta, but the emitted frame usually carries the full
# shuffle-partition fan-out (one task per state/shuffle partition), so a
# bare append creates up to that many near-empty parquet files PER TRIGGER
# — the small-files problem at the sink plus ~30 ms/file creation cost on
# this FS (measured in the LSM commit triage). coalesce is narrow (no
# extra shuffle; never increases partition count) and bounds the
# per-trigger file count; a deployment sizes sink files by BYTES
# (maxRecordsPerFile / a REBALANCE hint) — this constant is the local
# equivalent for delta-scale batches.
_SINK_FILES_PER_TRIGGER = 4


def _sink_append(df, outdir: str) -> None:
    df.coalesce(_SINK_FILES_PER_TRIGGER).write.mode("append").parquet(outdir)


@register(
    "stream_sum_view",
    oracle="""
    SELECT user_id, round(sum(value), 4) AS value_sum
    FROM events GROUP BY user_id
    """,
    tags=("streaming",),
)
def stream_sum_view(spark, sf_dir):
    """SumQPU end-to-end: events replayed as 4 micro-batches; each batch's
    per-group sum is added into the versioned view's one state; final
    snapshot == batch GROUP BY (sum.go:90-103 catch-up + 250-285
    incremental apply)."""
    ev = load(spark, sf_dir, "events").select("user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=4)
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="stream_sum_view", mode="append",
    ).start()
    try:
        view.await_catch_up()
        snap = view.snapshot()
        out = snap.select(
            "user_id", F.round("value_sum", 4).alias("value_sum")
        )
        out = _spill(out)
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


@register(
    "stream_sum_view_timetravel",
    # chunk i = i-th ntile of event_id order (stage_stream order_col) and
    # one file per trigger -> batch k commits state version k; version 1
    # therefore holds exactly chunks 1-2, version 3 all four — both
    # reproducible as plain ntile filters in SQL
    oracle="""
    WITH ordered AS (
      SELECT user_id, value, ntile(4) OVER (ORDER BY event_id) AS chunk
      FROM events
    )
    SELECT 1 AS as_of_version, user_id, round(sum(value), 4) AS value_sum
    FROM ordered WHERE chunk <= 2 GROUP BY user_id
    UNION ALL
    SELECT 3 AS as_of_version, user_id, round(sum(value), 4) AS value_sum
    FROM ordered GROUP BY user_id
    """,
    tags=("streaming", "time-travel"),
)
def stream_sum_view_timetravel(spark, sf_dir):
    """Commit-version TIME TRAVEL over the LSM state (lakehouse
    merge-on-read semantics on the engine's own store): the view's
    manifest log keeps every version's bucket->chain mapping, so
    ``snapshot_at(v)`` reads the state exactly as committed by micro-batch
    v — the VECTORCLOCK tsPredicate bound the reference declares but never
    implemented (qpu.proto:74-95; SURVEY §2.9). Replay is 4 deterministic
    event_id-ordered chunks, one per micro-batch; the query returns the
    mid-replay state (version 1 = chunks 1-2) UNION the final state
    (version 3), both oracle-checked — proving intermediate versions stay
    readable and exact after later commits and compactions."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=4, order_col="event_id")
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="stream_sum_view_timetravel", mode="append",
    ).start()
    try:
        view.await_catch_up()

        def tagged(version):
            return view.snapshot_at(version).select(
                F.lit(version).alias("as_of_version"),
                "user_id",
                F.round("value_sum", 4).alias("value_sum"),
            )

        out = _spill(tagged(1).unionByName(tagged(3)))
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


@register(
    "stream_sum_view_cdc",
    oracle="""
    SELECT user_id,
           round(sum(CASE WHEN event_id % 5 = 0 THEN value * 1.5 - value
                          ELSE value END), 4) AS new_value_sum
    FROM events GROUP BY user_id
    """,
    tags=("streaming",),
)
def stream_sum_view_cdc(spark, sf_dir):
    """Delta-application parity (sum.go:250-285): every 5th event arrives
    as an UPDATEDELTA{old, new} record; the view adds new-minus-old, the
    rest as inserts. Final state == the batch contribution sum."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=4)
    deltas = cdc.as_update_deltas(
        src.subscribe(),
        key_cols=["user_id"],
        value_col="value",
        update_when=F.col("event_id") % 5 == 0,
        update_factor=1.5,
    )
    view = SumView(
        spark, deltas, group_by="user_id", agg_attr="new_value",
        name="stream_sum_view_cdc", mode="cdc",
    ).start()
    try:
        view.await_catch_up()
        snap = view.snapshot()
        out = snap.select(
            "user_id", F.round("new_value_sum", 4).alias("new_value_sum")
        )
        out = _spill(out)
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


@register(
    "stream_sum_view_deletes",
    oracle="""
    SELECT user_id,
           round(sum(CASE WHEN event_id % 7 = 0 THEN 0.0 ELSE value END), 4)
             AS new_value_sum
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "cdc"),
)
def stream_sum_view_deletes(spark, sf_dir):
    """DELETE-delta application: every 7th event is inserted AND later
    deleted (a DELETE tombstone carries the old image, no new —
    qpu.proto:17-29 StateDelta with absent new), so its net contribution
    is zero; the view subtracts old on DELETE (sum.go:250-285 generalized
    to the delete case the reference never shipped). Final state == batch
    recompute excluding the deleted rows. Groups keep their row even if a
    sum returns to a partial value — only full-key deletion removes rows
    (none here: every user retains non-deleted events)."""
    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=4)
    deltas = cdc.as_update_deltas(
        src.subscribe(),
        key_cols=["user_id"],
        value_col="value",
        delete_when=F.col("event_id") % 7 == 0,
    )
    view = SumView(
        spark, deltas, group_by="user_id", agg_attr="new_value",
        name="stream_sum_view_deletes", mode="cdc",
    ).start()
    try:
        view.await_catch_up()
        snap = view.snapshot()
        out = snap.select(
            "user_id", F.round("new_value_sum", 4).alias("new_value_sum")
        )
        out = _spill(out)
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


# stream_sum_view_debezium RETIRED round 7 (registry hygiene — one banked
# retirement per round-7 addition; this banks against
# stream_sum_view_broker): the query composed (a) Debezium envelope
# construction + the shared decode_records parse seam and (b) JSONL file
# transport. Both axes stay independently verified — (a) verbatim by
# stream_sum_view_minilog / stream_sum_view_broker (same envelope feed,
# same CASE-sum oracle, same decode_records seam through the log) plus
# the parse_envelope unit tests; (b) by stream_sum_view_cdc (file
# transport). The transport x format matrix cell it occupied is a
# composition of covered pieces.


def _debezium_case_feed(spark, sf_dir):
    """The shared Debezium change feed both broker-leg queries stage:
    per event INSERT(v); every 5th (non-7th) also UPDATE(v -> 2v); every
    7th also DELETE — converged state == the batch CASE sum. Returns
    (envelope frame keyed by user_id, row_schema)."""
    from pyspark.sql import types as T

    from proteus_spark.sources import debezium as dbz

    ev = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    row_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    cols = ["event_id", "user_id", "value"]
    ts_ms = F.col("event_id") + F.lit(1_700_000_000_000)
    inserts = dbz.to_envelopes(ev, cols, F.lit("c"), ts_ms, key_col="user_id")
    upd_row = F.struct(
        F.col("event_id"), F.col("user_id"), (F.col("value") * 2).alias("value")
    )
    updates = dbz.to_envelopes(
        ev.filter((F.col("event_id") % 5 == 0) & (F.col("event_id") % 7 != 0)),
        cols,
        F.lit("u"),
        ts_ms,
        update_row=upd_row,
        key_col="user_id",
    )
    deletes = dbz.to_envelopes(
        ev.filter(F.col("event_id") % 7 == 0), cols, F.lit("d"), ts_ms,
        key_col="user_id",
    )
    return inserts.unionByName(updates).unionByName(deletes), row_schema


@register(
    "stream_sum_view_broker",
    oracle="""
    SELECT user_id,
           round(sum(CASE WHEN event_id % 7 = 0 THEN 0.0
                          WHEN event_id % 5 = 0 THEN value * 2
                          ELSE value END), 4) AS new_value_sum
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "cdc", "broker", "network"),
)
def stream_sum_view_broker(spark, sf_dir):
    """Broker CDC over a REAL NETWORK TRANSPORT — the protocol layer the
    embedded log lacked (the reference's binlog feed is a live network
    side-channel, mysql/store.go:117-151; Kafka consumers fetch over
    TCP). Same Debezium change feed and CDC sum view as
    stream_sum_view_minilog, but the consumer never touches the segment
    files: a ``minilog.Broker`` (thread-per-connection TCP server) fronts
    the topic, the DRIVER discovers log-end offsets over the wire
    (ListOffsets shape) and EXECUTORS fetch their planned offset ranges
    over sockets (Fetch shape) — the same division of labor as the Kafka
    source against a real broker. Converged state == the batch CASE sum."""
    import shutil
    import tempfile

    from proteus_spark.sources import minilog
    from proteus_spark.sources.debezium import decode_records

    feed, row_schema = _debezium_case_feed(spark, sf_dir)
    topic = tempfile.mkdtemp(prefix="proteus_broker_")
    minilog.stage_topic(feed, topic, partitions=4, key_col="key")
    minilog.register_log_datasource(spark)
    broker = minilog.Broker(topic).start()
    try:
        records = (
            spark.readStream.format(minilog.FORMAT_NAME)
            .option("path", topic)
            .option("partitions", "4")
            .option("maxRecordsPerTrigger", "2000")
            .option("brokerHost", broker.host)
            .option("brokerPort", str(broker.port))
            .load()
        )
        deltas = decode_records(records, row_schema, ["user_id"], "value")
        view = SumView(
            spark, deltas, group_by="user_id", agg_attr="new_value",
            name="stream_sum_view_broker", mode="cdc",
        ).start()
        try:
            view.await_catch_up()
            snap = view.snapshot()
            out = _spill(
                snap.select(
                    "user_id",
                    F.round("new_value_sum", 4).alias("new_value_sum"),
                )
            )
        finally:
            view.stop()
    finally:
        broker.stop()
        shutil.rmtree(topic, ignore_errors=True)
    return out


@register(
    "stream_sum_view_minilog",
    oracle="""
    SELECT user_id,
           round(sum(CASE WHEN event_id % 7 = 0 THEN 0.0
                          WHEN event_id % 5 = 0 THEN value * 2
                          ELSE value END), 4) AS new_value_sum
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "cdc", "broker"),
)
def stream_sum_view_minilog(spark, sf_dir):
    """Broker-transport CDC end-to-end: the shared Debezium change feed
    (_debezium_case_feed) PRODUCED into an embedded partitioned
    log (records keyed by user_id — hash-partitioned, per-key order
    preserved within a partition, Kafka's data model) and CONSUMED by the
    ``proteus_log`` Spark 4 Python streaming DataSource: driver plans
    rate-limited per-partition offset ranges per micro-batch, executors
    fetch them, offsets ride the streaming checkpoint. Decode goes through
    the SAME ``decode_records`` seam as the file and Kafka transports; the
    CDC sum view's commutative delta apply absorbs the cross-partition
    interleaving — converged state == the batch CASE sum (sources/
    minilog.py documents exactly what still needs a real broker)."""
    import shutil
    import tempfile

    from proteus_spark.sources import minilog

    feed, row_schema = _debezium_case_feed(spark, sf_dir)
    topic = tempfile.mkdtemp(prefix="proteus_minilog_")
    minilog.stage_topic(feed, topic, partitions=4, key_col="key")
    deltas = minilog.consume_envelopes(
        spark, topic, row_schema, key_cols=["user_id"], value_col="value",
        partitions=4, max_records_per_trigger=2000,
    )
    view = SumView(
        spark, deltas, group_by="user_id", agg_attr="new_value",
        name="stream_sum_view_minilog", mode="cdc",
    ).start()
    try:
        view.await_catch_up()
        snap = view.snapshot()
        out = snap.select(
            "user_id", F.round("new_value_sum", 4).alias("new_value_sum")
        )
        out = _spill(out)
    finally:
        view.stop()
        shutil.rmtree(topic, ignore_errors=True)
    return out


@register(
    "stream_cdf_export_roundtrip",
    oracle="""
    SELECT user_id, round(sum(value), 4) AS value_sum
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "cdf", "broker"),
)
def stream_cdf_export_roundtrip(spark, sf_dir):
    """Change-data-feed EXPORT, end to end: a live sum view publishes
    every delta batch (changed groups, NEW totals) to an embedded-log
    topic via minilog.cdf_exporter — per-epoch segment files, distributed
    write, replayed epochs dropped (the producer-side exactly-once guard
    matching the LSM's). A downstream consumer then reconstructs the
    view's state from the FEED ALONE by last-writer-wins on the stamped
    epoch per key (keys are hash-partitioned so per-key feed order is
    total) — and the reconstruction equals the batch GROUP BY. This is
    the 'view feeds downstream systems through a broker' deployment the
    reference serves with per-row RPC pushes (responseStream.go)."""
    import shutil
    import tempfile

    from proteus_spark.sources import minilog

    ev = load(spark, sf_dir, "events").select("user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=4)
    topic = tempfile.mkdtemp(prefix="proteus_cdf_")
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="stream_cdf_export", mode="append",
    )
    # durable: exporter IO errors fail the batch so a restart replays
    # the epoch and completes the export (ADVICE r13)
    view.subscribe(
        minilog.cdf_exporter(topic, partitions=4, key_col="user_id"),
        durable=True,
    )
    view.start()
    try:
        view.await_catch_up()
    finally:
        view.stop()
        cdc.cleanup(src)
    try:
        rec = spark.read.text(topic).select(
            F.from_json(
                "value", "key string, value string, epoch long"
            ).alias("r")
        )
        rows = rec.select(
            F.from_json("r.value", "user_id long, value_sum double").alias("v"),
            F.col("r.epoch").alias("epoch"),
        )
        mirror = (
            rows.groupBy(F.col("v.user_id").alias("user_id"))
            .agg(F.max_by(F.col("v.value_sum"), F.col("epoch")).alias("vs"))
            .select("user_id", F.round("vs", 4).alias("value_sum"))
        )
        return _spill(mirror)
    finally:
        shutil.rmtree(topic, ignore_errors=True)


@register(
    "stream_compacted_bootstrap",
    oracle="""
    SELECT user_id, round(sum(value), 4) AS value_sum
    FROM events GROUP BY user_id
    """,
    tags=("streaming", "broker", "cdf", "consumer-group"),
)
def stream_compacted_bootstrap(spark, sf_dir):
    """Compacted-topic state bootstrap consumed by a CONSUMER GROUP — the
    Kafka-semantics equivalent of stream_view_dag_via_log (VERDICT r6 #5;
    the r6 transport legs had test-only evidence):

    1. a live sum view exports its per-epoch delta feed (changed keys,
       NEW totals) to a topic — multiple epochs per key;
    2. ``minilog.compact_topic`` rewrites it latest-per-key — Kafka's
       compacted-topic bootstrap (rebuild state from the head, not the
       full history);
    3. TWO ConsumerGroup members join; deterministic round-robin over
       sorted member ids splits the partitions disjointly;
    4. each member consumes ITS assignment through the real Spark stream
       reader (``assignedPartitions`` — Kafka's assign() surface), state
       flowing executor-side into a shared parquet table, then commits
       its end offsets to the group via the fenced commitSync(offsets)
       path;
    5. the union of the two members' fetches reconstructs the view state
       EXACTLY: converged bootstrap == the batch GROUP BY."""
    import shutil
    import tempfile

    from proteus_spark.sources import minilog

    ev = load(spark, sf_dir, "events").select("user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=4)
    hist = tempfile.mkdtemp(prefix="proteus_cb_hist_")
    compacted = tempfile.mkdtemp(prefix="proteus_cb_topic_")
    gdir = tempfile.mkdtemp(prefix="proteus_cb_group_")
    state_dir = tempfile.mkdtemp(prefix="proteus_cb_state_")
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="stream_compacted_bootstrap_src", mode="append",
    )
    view.subscribe(
        minilog.cdf_exporter(hist, partitions=4, key_col="user_id"),
        durable=True,
    )
    view.start()
    try:
        view.await_catch_up()
    finally:
        view.stop()
        cdc.cleanup(src)
    try:
        ends = minilog.compact_topic(spark, hist, compacted, partitions=4)
        a = minilog.ConsumerGroup(compacted, gdir, "member-a", partitions=4).join()
        b = minilog.ConsumerGroup(compacted, gdir, "member-b", partitions=4).join()
        asg = {m.member_id: set(m.assignment()) for m in (a, b)}
        assert asg["member-a"] | asg["member-b"] == set(range(4))
        assert not (asg["member-a"] & asg["member-b"]), asg
        minilog.register_log_datasource(spark)
        for m in (a, b):
            own = sorted(m.assignment())
            feed = (
                spark.readStream.format(minilog.FORMAT_NAME)
                .option("path", compacted)
                .option("partitions", "4")
                .option("assignedPartitions", ",".join(map(str, own)))
                .load()
            )
            ckpt = os.path.join(state_dir, f"_ckpt_{m.member_id}")

            def _sink(batch, _epoch, _dest=state_dir):
                _sink_append(batch, _dest)

            q = (
                feed.writeStream.foreachBatch(_sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            # its stream has drained the assignment: commit the group
            # offsets through the fenced explicit-offsets path; re-poll
            # on the membership-change rebalance raised by b's first call
            try:
                m.commit_offsets({p: ends[p] for p in own})
            except minilog.RebalanceError:
                m.commit_offsets({p: ends[p] for p in sorted(m.assignment())})
        for p in range(4):
            assert a.committed(p) == ends[p], (p, ends)
        files = [
            f for f in os.listdir(state_dir)
            if f.startswith("part-") and not f.endswith(".crc")
        ]
        if not files:
            return spark.createDataFrame([], "user_id long, value_sum double")
        rec = spark.read.parquet(state_dir)
        out = rec.select(
            F.from_json("value", "user_id long, value_sum double").alias("v")
        ).select(
            "v.user_id", F.round("v.value_sum", 4).alias("value_sum")
        )
        return _spill(out)
    finally:
        for d in (hist, compacted, gdir, state_dir):
            shutil.rmtree(d, ignore_errors=True)


@register(
    "stream_lobsters_pipeline",
    oracle="""
    WITH rev AS (
      SELECT l_orderkey AS o_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS vote_sum
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey AS story_id, o.o_orderpriority AS title,
           COALESCE(r.vote_sum, 0.0) AS vote_sum
    FROM orders o LEFT JOIN rev r USING (o_orderkey)
    ORDER BY COALESCE(r.vote_sum, 0.0) DESC, o.o_orderkey LIMIT 5
    """,
    tags=("streaming", "pipeline"),
)
def stream_lobsters_pipeline(spark, sf_dir):
    """The reference's flagship DAG, live: votes(lineitem) stream -> sum
    view -> keyed-merge join with stories(orders) -> top-5 by vote_sum —
    the derived views recompute per micro-batch exactly as the chained
    Join/Sum QPUs do (sum-stories.toml topology; join.go:111-143 feeds from
    the sum QPU). Returns the final top-k state."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vote"),
    )
    orders = (
        load(spark, sf_dir, "orders")
        .select(
            F.col("o_orderkey"),
            F.col("o_orderpriority").alias("title"),
        )
    )

    def join_topk(sum_state):
        rev = sum_state.select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.round("vote_sum", 4).alias("vote_sum"),
        )
        merged = keyed_merge_join(
            orders, rev, key="o_orderkey", defaults={"vote_sum": 0.0}
        ).filter(F.col("title").isNotNull())
        return topk(
            merged, by="vote_sum", k=5, descending=True, tiebreak=["o_orderkey"]
        ).select(
            F.col("o_orderkey").alias("story_id"), "title", "vote_sum"
        )

    src = cdc.stage_stream(spark, li, chunks=4)
    view = SumView(
        spark,
        src.subscribe().withColumnRenamed("vote", "vote_raw").select(
            "l_orderkey", F.col("vote_raw").alias("vote")
        ),
        group_by="l_orderkey",
        agg_attr="vote",
        name="stream_lobsters",
        mode="append",
        derived={"join_topk": join_topk},
    ).start()
    try:
        view.await_catch_up()
        out_df = view.snapshot_derived("join_topk")
        out = _spill(out_df)
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


@register(
    "stream_sessionize_stateful",
    oracle="""
    WITH events_ns AS (
      SELECT user_id, value, epoch_ns(ts) AS ts_ns, event_id FROM events
    )
    SELECT user_id,
           CAST(sum(is_new) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS value_sum
    FROM (
      SELECT user_id, value,
             CASE WHEN lag(ts_ns) OVER (PARTITION BY user_id
                                        ORDER BY ts_ns, event_id) IS NULL
                  OR ts_ns - lag(ts_ns) OVER (PARTITION BY user_id
                                              ORDER BY ts_ns, event_id)
                     > 1800000000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events_ns
    ) GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_sessionize_stateful(spark, sf_dir):
    """Custom stateful operator via applyInPandasWithState: live 30-min-gap
    sessionization. The 'new QPU class' extension point (QPUClass interface,
    types.go:39-46) re-expressed as a user transition function over Spark's
    partitioned state store instead of a hand-rolled in-process map
    (sum.go:49-59). Events replayed as 4 arbitrarily-chunked micro-batches;
    per-key interval-merge state converges to the batch lag()-window answer
    regardless of arrival order. Emissions are update-mode (changed keys
    only); the converged snapshot is the last emission per key."""
    import shutil
    import tempfile

    ev = events_with_ts(spark, sf_dir).select("user_id", "ts_ns", "value")
    src = cdc.stage_stream(spark, ev, chunks=4)
    out = sessionize_stream(src.subscribe())

    # per-batch emissions land in a parquet sink (distributed append, no
    # driver collect); the converged state = last emission per key, a
    # max_by reduction that scales with key cardinality across executors
    outdir = tempfile.mkdtemp(prefix="proteus_sessionize_out_")

    # NO _sink_append here: coalesce is narrow, so it would FUSE the
    # Python stateful operator's state partitions into 4 tasks — each
    # task then runs 8 applyInPandasWithState worker rounds SEQUENTIALLY
    # (measured: gate line 5.4 -> 10.0 s). JVM-stateful sinks coalesce
    # fine; Python-stateful ones keep their parallelism.
    def capture(batch, epoch):
        batch.withColumn("_epoch", F.lit(epoch)).write.mode("append").parquet(
            outdir
        )

    query = (
        out.writeStream.outputMode("update")
        .foreachBatch(capture)
        .queryName("stream_sessionize_stateful")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        emitted = spark.read.parquet(outdir)
        final = (
            emitted.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("n_sessions", "n_events", "value_sum"), F.col("_epoch")
                ).alias("_s")
            )
            .select(
                "user_id",
                F.col("_s.n_sessions").alias("n_sessions"),
                F.col("_s.n_events").alias("n_events"),
                F.round(F.col("_s.value_sum"), 4).alias("value_sum"),
            )
        )
        return _spill(final)
    finally:
        shutil.rmtree(outdir, ignore_errors=True)


def watermark_kept_cte_sql(chunks: int, mult: int) -> str:
    """Shared DuckDB CTE prelude modelling Spark's watermark drop set for a
    scrambled ntile replay: ``kept`` = rows surviving the late filter when
    the watermark applied to chunk c derives from chunks <= c - lag. The
    lag constant comes from streaming.windows.WATERMARK_APPLY_LAG_BATCHES —
    the ONE place that encodes the measured Spark runtime behavior — so the
    registry oracle and the cross-replay property test cannot drift apart.
    """
    from proteus_spark.streaming.windows import WATERMARK_APPLY_LAG_BATCHES

    return f"""
    WITH arr AS (
      SELECT event_type, value,
             epoch_ns(ts) // 1000000 AS ms,
             date_trunc('hour', ts) AS wstart,
             ntile({chunks}) OVER (ORDER BY (event_id * {mult}) % 4294967296,
                            event_id) AS chunk
      FROM events
    ), horizon AS (
      SELECT chunk, max(ms) AS mx FROM arr GROUP BY chunk
    ), wm AS (
      SELECT chunk,
             coalesce(max(mx) OVER (ORDER BY chunk
               ROWS BETWEEN UNBOUNDED PRECEDING
               AND {WATERMARK_APPLY_LAG_BATCHES} PRECEDING) - 600000,
               0) AS wm_ms
      FROM horizon
    ), kept AS (
      SELECT a.event_type, a.value, a.wstart
      FROM arr a JOIN wm USING (chunk)
      WHERE epoch_ms(a.wstart + INTERVAL 1 HOUR) > wm.wm_ms
    )
    """


def watermark_lag_oracle_sql(chunks: int, mult: int) -> str:
    return watermark_kept_cte_sql(chunks, mult) + """
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           strftime(wstart + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
             AS window_end,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS value_sum
    FROM kept
    GROUP BY 1, 2, 3
    """


@register(
    "stream_windowed_watermark",
    # The drop set IS deterministic here: arrival order is a fixed
    # multiplicative scramble of event_id, chunks are ntile(4) of that
    # order with staged strictly-increasing mtimes, and subscribe() takes
    # one file per micro-batch. Spark's late filter lags
    # WATERMARK_APPLY_LAG_BATCHES behind the progress-reported watermark
    # (measured: the watermark computed from batch B's event-time stats is
    # first APPLIED in batch B+2 — batch B+1 is planned before B's stats
    # commit), so the filter watermark for chunk c is max(event-time ms
    # over chunks <= c-lag) - 10 min, and a row is dropped iff its window
    # end (ms) <= that. The oracle replays the same per-chunk watermark
    # advance in SQL; the lag constant is shared with the cross-replay
    # property test via streaming.windows.WATERMARK_APPLY_LAG_BATCHES.
    oracle=lambda: watermark_lag_oracle_sql(chunks=4, mult=2654435761),
    tags=("streaming", "event-time"),
)
def stream_windowed_watermark(spark, sf_dir):
    """Watermarked event-time tumbling windows, live: events replayed as
    micro-batches through withWatermark(10 min) + 1-hour windows; the
    state store evicts windows older than the horizon and beyond-horizon
    stragglers are dropped by policy (the late-data story the reference
    lacks entirely — SURVEY §2.9, qpuapi.proto:113-116). Returns the final
    per-window per-type counts/sums.

    Replay is deliberately OUT of event-time order (a Knuth multiplicative
    scramble of event_id fixes the arrival order) so real late-data drops
    occur, and deterministically so: batch B's watermark is
    max(event-ms over chunks < B) - 10 min, making the kept set — and
    therefore the oracle — exactly computable."""
    from proteus_spark.streaming.windows import tumbling_agg_stream

    # watermarks require TIMESTAMP (with timezone), not NTZ
    ev = events_with_ts(spark, sf_dir).select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
        # bijective on [0, 2^32): deterministic shuffled arrival order
        ((F.col("event_id") * F.lit(2654435761)) % F.lit(4294967296)).alias(
            "_arrival"
        ),
        "event_id",
    )
    import shutil
    import tempfile

    src = cdc.stage_stream(spark, ev, chunks=4, order_col="_arrival")
    out = tumbling_agg_stream(
        src.subscribe(max_files_per_trigger=1),
        ts_col="ts",
        window="1 hour",
        watermark="10 minutes",
    )
    outdir = tempfile.mkdtemp(prefix="proteus_watermark_out_")

    def capture(batch, epoch):
        _sink_append(batch.withColumn("_epoch", F.lit(epoch)), outdir)

    query = (
        out.writeStream.outputMode("update")
        .foreachBatch(capture)
        .queryName("stream_windowed_watermark")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        emitted = spark.read.parquet(outdir)
        final = (
            emitted.groupBy("window_start", "event_type")
            .agg(
                F.max_by(
                    F.struct("window_end", "n", "value_sum"), F.col("_epoch")
                ).alias("_s")
            )
            .select(
                F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                F.date_format(F.col("_s.window_end"), "yyyy-MM-dd HH:mm:ss").alias(
                    "window_end"
                ),
                "event_type",
                F.col("_s.n").alias("n"),
                F.round(F.col("_s.value_sum"), 4).alias("value_sum"),
            )
        )
        return _spill(final)
    finally:
        shutil.rmtree(outdir, ignore_errors=True)


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           round(sum(e.value), 4) AS value_sum
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("streaming", "join"),
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment: the live event stream joins a broadcast
    dimension (customer market segment) BEFORE the streaming aggregation
    — the standard fact-stream x dim-table shape (no join state at all:
    the dimension is a broadcast, re-resolved per micro-batch, so a dim
    update is picked up at the next trigger). Converged sum view over the
    enriched stream == the batch join+GROUP BY."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment").alias("segment")
    )
    ev = load(spark, sf_dir, "events").select("user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=3)
    enriched = src.subscribe().join(
        F.broadcast(cust), F.col("user_id") == F.col("c_custkey")
    ).select("segment", "value")
    view = SumView(
        spark, enriched, group_by="segment", agg_attr="value",
        name="stream_static_enrich", mode="append",
    ).start()
    try:
        view.await_catch_up()
        snap = view.snapshot()
        out = snap.select(
            "segment", F.round("value_sum", 4).alias("value_sum")
        )
        out = _spill(out)
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


@register(
    "stream_interval_join",
    oracle="""
    SELECT l.event_id AS l_event_id, r.event_id AS r_event_id,
           l.user_id AS user_id,
           CAST(epoch_us(r.ts) - epoch_us(l.ts) AS BIGINT) AS gap_us
    FROM events l JOIN events r ON l.user_id = r.user_id
      AND l.event_type = 'view' AND r.event_type = 'click'
      AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
    """,
    tags=("streaming", "join", "event-time"),
)
def stream_interval_join(spark, sf_dir):
    """Stream-stream event-time interval join, live: view and click events
    replayed as TWO independent micro-batch streams; each view pairs with
    the same user's clicks in the next 10 minutes. Inner-join pairs emit
    as they match (append mode); watermarks bound the join state to the
    horizon, so state is O(watermark x rate) at any stream length — a
    temporal correlation the reference's keyed-coalesce JoinQPU cannot
    express (join.go:352-379). Converged output == the batch interval
    join."""
    import shutil
    import tempfile

    from proteus_spark.streaming.windows import interval_join_stream

    ev = events_with_ts(spark, sf_dir).select(
        "event_id", "user_id", "event_type",
        F.col("ts").cast("timestamp").alias("ts"),
    )
    views = ev.filter(F.col("event_type") == "view").drop("event_type")
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    src_l = cdc.stage_stream(spark, views, chunks=3, order_col="ts")
    src_r = cdc.stage_stream(spark, clicks, chunks=3, order_col="ts")
    joined = interval_join_stream(
        src_l.subscribe(), src_r.subscribe(), key="user_id",
        lower="0 seconds", upper="10 minutes", watermark="30 minutes",
    ).select(
        "l_event_id", "r_event_id",
        F.col("l_key").alias("user_id"),
        (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("gap_us"),
    )
    outdir = tempfile.mkdtemp(prefix="proteus_ijoin_out_")

    def capture(batch, epoch):
        _sink_append(batch, outdir)

    query = (
        joined.writeStream.outputMode("append")
        .foreachBatch(capture)
        .queryName("stream_interval_join")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src_l)
        cdc.cleanup(src_r)
    try:
        final = spark.read.parquet(outdir).distinct()
        return _spill(final)
    finally:
        shutil.rmtree(outdir, ignore_errors=True)


@register(
    "stream_dedup_ingest",
    oracle="""
    SELECT DISTINCT md5(text) AS text_hash FROM documents
    """,
    tags=("streaming", "stateful", "llm"),
)
def stream_dedup_ingest(spark, sf_dir):
    """Streaming ingest-dedup (stateful first-seen filter): documents
    replayed as micro-batches; the first record per content hash passes,
    re-occurrences are suppressed by per-key state. The emitted SET is
    arrival-order independent, so the converged output equals batch
    SELECT DISTINCT md5(text) — the streaming form of the
    training-pipeline exact-dedup operator."""
    from proteus_spark.streaming.stateful import dedup_stream

    docs = load(spark, sf_dir, "documents").select(
        F.md5("text").alias("text_hash")
    )
    import shutil
    import tempfile

    src = cdc.stage_stream(spark, docs, chunks=4)
    out = dedup_stream(src.subscribe())
    outdir = tempfile.mkdtemp(prefix="proteus_dedup_out_")

    # bare append: coalescing would fuse the Python stateful operator's
    # partitions into serial worker rounds (see stream_sessionize_stateful)
    def capture(batch, epoch):
        batch.write.mode("append").parquet(outdir)

    query = (
        out.writeStream.outputMode("append")
        .foreachBatch(capture)
        .queryName("stream_dedup_ingest")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        final = spark.read.parquet(outdir).select("text_hash").distinct()
        return _spill(final)
    finally:
        shutil.rmtree(outdir, ignore_errors=True)


@register(
    "stream_join_view",
    oracle="""
    WITH rev AS (
      SELECT l_orderkey AS o_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT COALESCE(o.o_orderkey, r.o_orderkey) AS o_orderkey,
           COALESCE(o.o_totalprice, 0.0) AS o_totalprice,
           COALESCE(r.revenue, 0.0) AS revenue
    FROM orders o FULL OUTER JOIN rev r USING (o_orderkey)
    """,
    tags=("streaming", "join"),
)
def stream_join_view(spark, sf_dir):
    """JoinQPU live: TWO input streams (stories=orders, votes=aggregated
    lineitem revenue) interleaved across micro-batches into one JoinView;
    every key from either side gets a merged row, missing side at its
    0-default (join.go:352-379,414-423). Final state == batch full-outer
    keyed merge."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    rev = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    from proteus_spark.streaming.views import JoinView

    src_l = cdc.stage_stream(spark, orders, chunks=3)
    src_r = cdc.stage_stream(spark, rev, chunks=3)
    view = JoinView(
        spark,
        src_l.subscribe(),
        src_r.subscribe(),
        key="o_orderkey",
        name="stream_join_view",
        defaults={"o_totalprice": 0.0, "revenue": 0.0},
    ).start()
    try:
        view.await_catch_up()
        snap = view.snapshot().select(
            "o_orderkey",
            "o_totalprice",
            F.round("revenue", 4).alias("revenue"),
        )
        out = _spill(snap)
    finally:
        view.stop()
        cdc.cleanup(src_l)
        cdc.cleanup(src_r)
    return out


@register(
    "stream_session_window_native",
    # gap-boundary convention: Spark's session windows are half-open
    # [start, last+gap) and an event landing EXACTLY at the end starts a
    # new session, so the oracle's new-session predicate is >= gap (the
    # applyInPandasWithState sessionizer and its oracle use > gap; event
    # times are random microseconds, so exact-boundary collisions are
    # measure-zero either way).
    oracle="""
    WITH events_ns AS (
      SELECT event_id, user_id, value, epoch_ns(ts) AS ts_ns FROM events),
    flagged AS (
      SELECT user_id, ts_ns, event_id, value,
             CASE WHEN lag(ts_ns) OVER w IS NULL
                       OR ts_ns - lag(ts_ns) OVER w >= 1800000000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events_ns
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
    islands AS (
      SELECT user_id, ts_ns, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id,
           CAST(min(ts_ns) // 1000 AS BIGINT) AS sess_start_us,
           CAST(max(ts_ns) // 1000 + 1800000000 AS BIGINT) AS sess_end_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS value_sum
    FROM islands GROUP BY user_id, sid
    """,
    tags=("streaming", "event-time"),
)
def stream_session_window_native(spark, sf_dir):
    """Built-in F.session_window streaming aggregation — the declarative
    counterpart of the applyInPandasWithState sessionizer
    (stream_sessionize_stateful): 30-minute-gap sessions per user over a
    time-ordered replay, withWatermark + APPEND mode, so the state store
    merges/evicts sessions and each session is emitted EXACTLY ONCE when
    the watermark passes its end — no per-epoch dedup reduction needed.

    Tail flush: sessions still open when the data ends would never emit
    (the watermark stops at max event time), so the staged feed appends
    one far-future sentinel event; Spark's no-data micro-batches then
    advance the watermark past every real session. The sentinel's own
    session is the only unclosed state and is filtered out by user_id.

    At scale this is the shape to prefer over the stateful-UDF variant:
    session merge runs inside the JVM state store (no Python transfer),
    keys partition across the cluster, and append-mode output is
    write-once (no read-modify-write sink)."""
    import shutil
    import tempfile
    from datetime import timedelta

    ev = events_with_ts(spark, sf_dir).select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        "user_id",
        "value",
    )
    last = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = spark.createDataFrame(
        [(last + timedelta(days=10), -1, -1, 0.0)],
        "ts timestamp, event_id long, user_id long, value double",
    )
    src = cdc.stage_stream(
        spark, ev.unionByName(sentinel), chunks=4, order_col="ts"
    )
    sess = (
        src.subscribe()
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("value_sum"))
    )
    outdir = tempfile.mkdtemp(prefix="proteus_session_native_out_")

    def capture(batch, epoch):
        _sink_append(batch, outdir)

    query = (
        sess.writeStream.outputMode("append")
        .foreachBatch(capture)
        .queryName("stream_session_window_native")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        emitted = spark.read.parquet(outdir).filter(F.col("user_id") >= 0)
        final = emitted.select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("sess_start_us"),
            F.unix_micros(F.col("w.end")).alias("sess_end_us"),
            F.col("n_events").cast("long").alias("n_events"),
            F.round("value_sum", 4).alias("value_sum"),
        )
        return _spill(final)
    finally:
        shutil.rmtree(outdir, ignore_errors=True)


@register(
    "stream_scd2_history",
    oracle="""
    WITH events_ns AS (
      SELECT event_id, user_id, value, epoch_ns(ts) AS ts_ns
      FROM events WHERE event_type = 'purchase')
    SELECT user_id, event_id, round(value, 4) AS value,
           CAST(ts_ns AS BIGINT) AS valid_from_ns,
           CAST(COALESCE(lead(ts_ns) OVER w, 9223372036854775807) AS BIGINT)
             AS valid_to_ns,
           CAST(lead(ts_ns) OVER w IS NULL AS INT) AS is_current
    FROM events_ns
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)
    """,
    tags=("streaming", "cdc", "scd2"),
)
def stream_scd2_history(spark, sf_dir):
    """Streaming SCD2: purchase-value changes replayed as 4 micro-batches
    into a HistoryView — an append-only change-log state (every commit
    O(|delta|) by construction; merge-on-read only dedups replays) whose
    read surface assembles type-2 validity intervals per key. Converged
    history == the batch lead()-window build (the SCD2 interval shape
    scd2_temporal_join's hist CTE also consumes),
    the strongest check that arbitrary micro-batch interleaving loses no
    change record. Reference never retains history (its sink upserts in
    place, mysql_backend.go:147-254); this is the lakehouse upgrade."""
    from proteus_spark.streaming.views import HistoryView

    ev = (
        events_with_ts(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value", "ts_ns")
    )
    src = cdc.stage_stream(spark, ev, chunks=4)
    view = HistoryView(
        spark, src.subscribe(), key="user_id", order_col="ts_ns",
        id_col="event_id", name="stream_scd2_history",
    ).start()
    try:
        view.await_catch_up()
        hist = view.history()
        out = hist.select(
            "user_id",
            "event_id",
            F.round("value", 4).alias("value"),
            F.col("valid_from").cast("long").alias("valid_from_ns"),
            F.coalesce(
                F.col("valid_to"), F.lit(9223372036854775807)
            ).cast("long").alias("valid_to_ns"),
            "is_current",
        )
        out = _spill(out)
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


_ASOF_NS = 1705276800000000000  # 2024-01-15T00:00:00Z in epoch nanos


@register(
    "stream_scd2_asof",
    oracle=f"""
    WITH events_ns AS (
      SELECT event_id, user_id, value, epoch_ns(ts) AS ts_ns
      FROM events WHERE event_type = 'purchase'),
    hist AS (
      SELECT user_id, event_id, value, ts_ns AS valid_from,
             lead(ts_ns) OVER (PARTITION BY user_id
                               ORDER BY ts_ns, event_id) AS valid_to
      FROM events_ns)
    SELECT user_id, event_id, round(value, 4) AS value
    FROM hist
    WHERE valid_from <= {_ASOF_NS}
      AND (valid_to IS NULL OR valid_to > {_ASOF_NS})
    """,
    tags=("streaming", "cdc", "scd2"),
)
def stream_scd2_asof(spark, sf_dir):
    """Point-in-time dimension read from the streaming SCD2 view: each
    user's purchase value AS OF 2024-01-15T00:00Z (event-time travel over
    the materialized history — distinct from commit-version time travel,
    which ``snapshot_at`` provides). Oracle = batch interval build +
    point filter."""
    from proteus_spark.streaming.views import HistoryView

    ev = (
        events_with_ts(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "value", "ts_ns")
    )
    src = cdc.stage_stream(spark, ev, chunks=4)
    view = HistoryView(
        spark, src.subscribe(), key="user_id", order_col="ts_ns",
        id_col="event_id", name="stream_scd2_asof",
    ).start()
    try:
        view.await_catch_up()
        pit = view.as_of(_ASOF_NS)
        out = pit.select(
            "user_id", "event_id", F.round("value", 4).alias("value")
        )
        out = _spill(out)
    finally:
        view.stop()
        cdc.cleanup(src)
    return out


@register(
    "stream_join_view_deletes",
    oracle="""
    WITH rev AS (
      SELECT l_orderkey AS o_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      FROM lineitem WHERE l_orderkey % 13 != 0 GROUP BY l_orderkey
    ),
    o AS (SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_orderkey % 13 != 0)
    SELECT COALESCE(o.o_orderkey, r.o_orderkey) AS o_orderkey,
           COALESCE(o.o_totalprice, 0.0) AS o_totalprice,
           COALESCE(r.revenue, 0.0) AS revenue
    FROM o FULL OUTER JOIN rev r USING (o_orderkey)
    """,
    tags=("streaming", "join", "cdc"),
)
def stream_join_view_deletes(spark, sf_dir):
    """JoinQPU with DELETE tombstones, live: orders stream inserts every
    key, then a FINAL micro-batch deletes every o_orderkey % 13 == 0 key
    (staged deterministically — the tombstone file carries the latest
    mtime, so the file source triggers it after every insert batch; the
    revenue stream carries no rows for deleted keys, so no revival race).
    The coalesce merge kills all rows at-or-below the tombstone's version
    and full-key deletion removes the row (the delete semantics the
    reference's JoinQPU never shipped — join.go:393-456 upserts only).
    Final state == batch keyed merge excluding deleted keys."""
    from proteus_spark.streaming.views import JoinView

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    dead = F.col("o_orderkey") % 13 == 0
    inserts = orders.withColumn("_op", F.lit(None).cast("string"))
    tombs = (
        orders.filter(dead)
        .select("o_orderkey")
        .withColumn("o_totalprice", F.lit(None).cast("double"))
        .withColumn("_op", F.lit("DELETE"))
    )
    # tombstone-last staging: insert files carry earlier mtimes than the
    # single tombstone file, and the 1-file-per-trigger subscribe below
    # guarantees the DELETE batch can never coalesce with an insert batch
    # for the same key (the staging invariant the delete semantics rely on)
    src_l = cdc.stage_files(
        spark, [inserts.repartition(3), tombs.coalesce(1)],
        prefix="proteus_cdc_jdel_",
    )

    rev = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 13 != 0)
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    src_r = cdc.stage_stream(spark, rev, chunks=3)
    view = JoinView(
        spark,
        src_l.subscribe(max_files_per_trigger=1),
        src_r.subscribe(max_files_per_trigger=1),
        key="o_orderkey",
        name="stream_join_view_deletes",
        defaults={"o_totalprice": 0.0, "revenue": 0.0},
    ).start()
    try:
        view.await_catch_up()
        snap = view.snapshot().select(
            "o_orderkey",
            "o_totalprice",
            F.round("revenue", 4).alias("revenue"),
        )
        out = _spill(snap)
    finally:
        view.stop()
        cdc.cleanup(src_l)
        cdc.cleanup(src_r)
    return out


def _stream_decon_oracle() -> str:
    from proteus_spark.queries.llm import _decon_oracle

    return _decon_oracle()


@register(
    "stream_decontaminate",
    oracle=_stream_decon_oracle,
    tags=("streaming", "llm", "dedup"),
)
def stream_decontaminate(spark, sf_dir):
    """Benchmark decontamination ON INGEST: training documents replayed as
    4 micro-batches; each batch shingles JVM-side and equi-joins the
    CACHED eval shingle-id set (computed once before the stream starts —
    at 100 TB the eval side is a benchmark corpus, broadcast-sized at any
    training scale), appending per-doc hit counts to the sink. The
    converged sink equals the batch decontamination (the oracle) because
    each document's shingles arrive within one micro-batch — this is the
    shape a live training-data intake runs so leaked eval items never
    land in the lake at all, rather than being scrubbed later."""
    import shutil
    import tempfile

    from proteus_spark.llmops.dedup import DECON_N, shingle_ids

    docs = load(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 0)
    tr = docs.filter(F.col("doc_id") % 50 != 0)
    sh_e = shingle_ids(ev, n=DECON_N).select("s").distinct().cache()
    sh_e.count()  # materialize the static side once, pre-stream

    src = cdc.stage_stream(spark, tr, chunks=4)
    outdir = tempfile.mkdtemp(prefix="proteus_stream_decon_")

    def on_batch(batch, epoch):
        # join-first, dedup matches after — the batch decontaminate's
        # reordered shape (r16, guide §2.3/§5): the per-doc distinct's
        # dedup hash table over the batch's whole shingle set is replaced
        # by the selective broadcast join dropping non-matches first;
        # only matches are deduped
        hits = (
            shingle_ids(batch, n=DECON_N, distinct=False)
            .join(F.broadcast(sh_e), "s")
            .groupBy("doc_id", "s")
            .agg(F.lit(1).alias("_one"))
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_hits"))
        )
        _sink_append(hits, outdir)

    query = (
        src.subscribe(max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .queryName("stream_decontaminate")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        out = spark.read.parquet(outdir)
        return _spill(out)
    finally:
        sh_e.unpersist()
        shutil.rmtree(outdir, ignore_errors=True)


def _stream_lsh_oracle() -> str:
    from proteus_spark.queries.llm import _SHINGLE_CTE, _minhash_band_ctes

    # bands over ALL documents, split lake/arriving in SQL: banding is
    # per-doc independent, so this equals the engine's separate lake and
    # per-batch band computations. The hx->bands chain is SHARED with
    # llm_dedup_minhash_lsh's oracle so the algebra cannot drift.
    return (
        "WITH "
        + _SHINGLE_CTE
        + ","
        + _minhash_band_ctes()
        + """,
    lakeb AS (SELECT * FROM bands WHERE doc_id % 4 = 0),
    arrb  AS (SELECT * FROM bands WHERE doc_id % 4 <> 0),
    hits AS (
      SELECT a.doc_id, count(DISTINCT l.doc_id) AS n
      FROM arrb a JOIN lakeb l ON a.band = l.band AND a.bv = l.bv
      GROUP BY a.doc_id)
    SELECT d.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_lake_candidates,
           CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_dup
    FROM (SELECT doc_id FROM documents WHERE doc_id % 4 <> 0) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """
    )


@register(
    "stream_lsh_dedup_ingest",
    oracle=_stream_lsh_oracle,
    tags=("streaming", "llm", "dedup"),
)
def stream_lsh_dedup_ingest(spark, sf_dir):
    """Near-duplicate gating ON INGEST — the LSH analogue of
    stream_dedup_ingest (which is exact-hash only): the lake's MinHash
    band table is computed ONCE and FROZEN before the stream starts;
    arriving documents — replayed as 4 micro-batches — band themselves
    in-batch with the identical algebra and equi-join the lake table, so
    each document lands with (n_lake_candidates, is_dup) BEFORE entering
    the lake. This is how an incremental crawl keeps near-dups of
    already-held documents out at intake instead of re-deduplicating the
    whole corpus later. Converged sink == the batch lake-vs-arriving
    match (the oracle) because banding is per-document independent and
    the lake side is static — streaming introduces no approximation.

    This query serves the lake from the PARTITIONED band table
    (dedup.lsh_lake_write partitions on bk = pmod(hash(band, bv),
    LSH_LAKE_BUCKETS); lsh_match_against_bucketed turns each batch's
    distinct bk set into a STATIC partition filter on the lake scan) —
    the deployment shape where a 100 TB lake's band table cannot be a
    cached DataFrame, so the CORRECTNESS row exercises the
    PartitionFilters probe end-to-end, matching the semantic gate
    (stream_semdedup_ingest). Results are identical to the cached
    lsh_match_against path by construction (bk is a pure function of
    the join keys; equality + pruning plan-pinned by
    test_bucketed_lake_probe_prunes_partitions).

    Scale shape (100 TB lake): the arriving batch's band table
    (LSH_BANDS rows/doc) BROADCASTS and the lake scan reads only the
    batch's matched bk partitions — bytes ~ |batch band keys| x
    (|lake| / LSH_LAKE_BUCKETS), constant in |lake| when the bucket
    count is sized with the lake; sweep shows flat lake-axis cost at
    lake 1x/10x/100x (scripts/sweep_stream_lsh.py --bucketed). Plan
    pinned by test_stream_lsh_match_broadcasts_arriving_batch.
    Candidate counts only — the exact-Jaccard verify runs async
    downstream exactly as in llm_dedup_minhash_lsh (same candidates,
    same verify path)."""
    import shutil
    import tempfile

    from proteus_spark.llmops.dedup import (
        lsh_band_table,
        lsh_lake_write,
        lsh_match_against_bucketed,
        minhash_signatures,
        shingles,
    )

    docs = load(spark, sf_dir, "documents")
    lake = docs.filter(F.col("doc_id") % 4 == 0)
    arriving = docs.filter(F.col("doc_id") % 4 != 0)

    lakedir = tempfile.mkdtemp(prefix="proteus_stream_lsh_lake_")
    outdir = tempfile.mkdtemp(prefix="proteus_stream_lsh_ingest_")
    try:
        lsh_lake_write(
            lsh_band_table(
                minhash_signatures(shingles(lake, distinct=False))
            ).withColumnRenamed("doc_id", "lake_id"),
            lakedir,
        )
        # resolved ONCE pre-stream: the cached file index is reused
        # across micro-batches (the frozen-lake contract); lake_read
        # replays the writer's schema sidecar so a zero-row lake gates
        # everything as non-duplicate instead of failing inference
        from proteus_spark.llmops.lake import lake_read

        lake_bands = lake_read(spark, lakedir)

        src = cdc.stage_stream(spark, arriving, chunks=4)

        def on_batch(batch, epoch):
            lsh_match_against_bucketed(batch, lake_bands).write.mode(
                "append"
            ).parquet(outdir)

        query = (
            src.subscribe(max_files_per_trigger=1)
            .writeStream.outputMode("append")
            .foreachBatch(on_batch)
            .queryName("stream_lsh_dedup_ingest")
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
            cdc.cleanup(src)
        out = spark.read.parquet(outdir)
        return _spill(out)
    finally:
        shutil.rmtree(outdir, ignore_errors=True)
        shutil.rmtree(lakedir, ignore_errors=True)


def _stream_dsir_oracle() -> str:
    from proteus_spark.queries.llm import _dsir_scored_ctes

    # the converged on-ingest sink == batch scoring against the frozen
    # model: the CTE chain is SHARED with llm_dsir_select's oracle so the
    # model/scoring SQL cannot drift between the batch and stream checks
    return _dsir_scored_ctes() + """
    SELECT doc_id, llr_micros, n_bigrams,
           CAST(CASE WHEN llr_micros > 0 THEN 1 ELSE 0 END AS BIGINT) AS kept
    FROM scored
    """


@register(
    "stream_dsir_ingest",
    oracle=_stream_dsir_oracle,
    tags=("streaming", "llm", "text"),
)
def stream_dsir_ingest(spark, sf_dir):
    """DSIR importance scoring ON INGEST: the importance model (per-bucket
    hashed-bigram log-ratios, <= 4096 rows) is trained ONCE on the
    existing lake and FROZEN; arriving documents — replayed here as 4
    micro-batches — are scored against the broadcast model inside each
    batch, and the keep/drop decision (kept = llr_micros > 0, i.e. the
    doc looks more target-like than corpus-average) lands with the score
    before the document ever enters the lake. This is the live-intake
    half of `llm_dsir_select` (Xie et al. 2023): selection re-ranks a
    static corpus, this gates a stream. Converged sink == batch scoring
    exactly: each document's bigrams arrive within one micro-batch and
    the model is static, so streaming introduces no approximation (the
    convergence is also unit-pinned by
    test_dsir_on_ingest_scoring_converges_to_batch).

    Scale shape (100 TB): training is one map-side-combined groupBy over
    <= 4096 buckets; per batch the model BROADCASTS into an equi-join
    (the corpus side never shuffles beyond the per-doc aggregation) —
    plan-pinned by test_stream_dsir_scoring_broadcasts_frozen_model."""
    import shutil
    import tempfile

    from proteus_spark.llmops.text import dsir_model, dsir_score_against

    docs = load(spark, sf_dir, "documents")
    model = dsir_model(docs).cache()
    model.count()  # freeze/materialize the model once, pre-stream

    src = cdc.stage_stream(spark, docs, chunks=4)
    outdir = tempfile.mkdtemp(prefix="proteus_stream_dsir_ingest_")

    def on_batch(batch, epoch):
        scored = dsir_score_against(batch, model)
        _sink_append(
            scored.select(
                "doc_id",
                "llr_micros",
                "n_bigrams",
                (F.col("llr_micros") > 0).cast("long").alias("kept"),
            ),
            outdir,
        )

    query = (
        src.subscribe(max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .queryName("stream_dsir_ingest")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        out = spark.read.parquet(outdir)
        return _spill(out)
    finally:
        model.unpersist()
        shutil.rmtree(outdir, ignore_errors=True)


def _stream_quality_gate_oracle() -> str:
    from proteus_spark.queries.llm import (
        _QUALITY_FEATS_CTE,
        _gopher_metric_ctes,
        _quality_p_sql,
        _quality_train_ctes,
    )
    from proteus_spark.llmops import text as TXT

    # the converged on-ingest sink == batch scoring of the arriving slice
    # with weights trained on the LAKE slice only: the metric/feature/
    # training CTEs are SHARED with llm_quality_classifier's oracle
    # (which proves the unroll against the engine's trainer), so the
    # model SQL cannot drift between the batch and stream checks — only
    # the training relation (lakef) and the scored slice differ.
    pf = _quality_p_sql("w", "f")
    return f"""
    WITH {_gopher_metric_ctes()},
    {_QUALITY_FEATS_CTE},
    lakef AS MATERIALIZED (SELECT * FROM feats WHERE doc_id % 4 = 0),
    {_quality_train_ctes("lakef")}
    SELECT f.doc_id, {pf} AS score,
           CAST({pf} >= 0.5 AS INT) AS kept
    FROM feats f CROSS JOIN w_{TXT.QUALITY_LR_ROUNDS} w
    WHERE f.doc_id % 4 <> 0
    """


@register(
    "stream_quality_gate",
    oracle=_stream_quality_gate_oracle,
    tags=("streaming", "llm", "text"),
)
def stream_quality_gate(spark, sf_dir):
    """Quality-classifier gating ON INGEST — the fastText/FineWeb
    deployment shape and the sixth member of the ingest-gate family
    (exact-hash, LSH near-dup, decontamination, DSIR, ANN-assign, and
    now learned quality): the logistic classifier trains ONCE on the
    existing lake (doc_id % 4 == 0; in-engine integer-micro GD, the
    llm_quality_classifier trainer) and its six round-6 weights FREEZE;
    arriving documents — replayed as 4 micro-batches — are scored with
    the frozen weights and the keep/drop decision (kept = score >= 0.5,
    the trainer's own rule) lands with the document BEFORE it enters the
    lake. Converged sink == batch scoring of the arriving slice exactly:
    scoring is per-document independent and the weights are literals, so
    streaming introduces no approximation (unit-pinned by
    test_quality_gate_on_ingest_converges_to_batch).

    Scale shape (100 TB): training cost is the lake-side GD (one codegen
    scan + a 6-value exact aggregation per round — bounded driver
    state); per-batch scoring is a PURE Catalyst projection over
    quality_features — the model is six literals, ZERO shuffle, no model
    join at all (plan-pinned by
    test_quality_gate_scoring_is_zero_shuffle), so the gate runs at scan
    speed inside the ingest pipeline at any lake size."""
    import shutil
    import tempfile

    from proteus_spark.llmops.text import (
        quality_features,
        quality_score_against,
        train_quality_classifier,
    )

    docs = load(spark, sf_dir, "documents")
    lake = docs.filter(F.col("doc_id") % 4 == 0)
    arriving = docs.filter(F.col("doc_id") % 4 != 0)
    w, _scored = train_quality_classifier(quality_features(lake))

    src = cdc.stage_stream(spark, arriving, chunks=4)
    outdir = tempfile.mkdtemp(prefix="proteus_stream_qgate_")

    def on_batch(batch, epoch):
        _sink_append(quality_score_against(batch, w), outdir)

    query = (
        src.subscribe(max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .queryName("stream_quality_gate")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        out = spark.read.parquet(outdir)
        return _spill(out)
    finally:
        shutil.rmtree(outdir, ignore_errors=True)


def _stream_semdedup_oracle() -> str:
    """Oracle for `stream_semdedup_ingest` (registered in round 12 after
    the audit freed a slot — llm_multimodal_extract retired; drafted and
    parity-pinned in round 11 by
    tests/test_streaming.py::test_stream_semdedup_oracle_parity so
    registration was a pure reorder). Shape per ROTATION.md:
    centroids = vec_id < 10 with the `stream_ann_ingest` assignment CTE
    verbatim (same cosine, same lowest-cid tie-break, assignment is
    per-vector independent so assign-all-then-split equals the engine's
    separate lake/batch assignments), vectors normalized with the
    IDENTICAL IEEE op order the llm_semdedup oracles replay, pairwise
    round-6 dot vs tau = 0.3."""
    from proteus_spark.queries.llm import _cos_sql, _dot_sql
    from proteus_spark.llmops import similarity as S

    cos_vc = _cos_sql("v.vec", "c.cvec")
    pair = _dot_sql("a.uvec", "l.uvec")
    return f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
               WHERE vec_id < 10),
    v AS (SELECT vec_id, embedding AS vec FROM embeddings),
    assigned AS (
      SELECT vec_id, vec, cid AS bucket FROM (
        SELECT v.vec_id, v.vec, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY round({cos_vc}, 6) DESC, c.cid)
                 AS rn
        FROM v CROSS JOIN c)
      WHERE rn = 1),
    uv AS MATERIALIZED (
      SELECT vec_id, bucket,
             list_transform(vec, e -> CAST(e AS DOUBLE) / nrm) AS uvec
      FROM (SELECT vec_id, bucket, vec,
                   sqrt({_dot_sql('vec', 'vec')}) AS nrm
            FROM assigned)),
    lakeu AS (SELECT * FROM uv WHERE vec_id % 4 = 0),
    arru  AS (SELECT * FROM uv WHERE vec_id % 4 <> 0),
    hits AS (
      SELECT a.vec_id, count(*) AS n, max(round({pair}, 6)) AS mx
      FROM arru a JOIN lakeu l ON a.bucket = l.bucket
      WHERE round({pair}, 6) >= {S.SEMDEDUP_TAU}
      GROUP BY a.vec_id)
    SELECT ar.vec_id, CAST(ar.bucket AS BIGINT) AS cid,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_lake_near,
           h.mx AS max_sim,
           CAST(CASE WHEN COALESCE(h.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
             AS is_dup
    FROM arru ar LEFT JOIN hits h ON h.vec_id = ar.vec_id
    """


@register(
    "stream_semdedup_ingest",
    oracle=_stream_semdedup_oracle,
    tags=("streaming", "llm", "similarity"),
)
def stream_semdedup_ingest(spark, sf_dir):
    """Semantic (embedding) near-dup gating ON INGEST — the SEVENTH
    ingest-gate family member (exact-hash, LSH near-dup, decontamination,
    DSIR, ANN-assign, learned quality, and now SemDeDup): the lake's
    vectors are assigned to the frozen centroids and L2-normalized ONCE
    pre-stream (semdedup_lake_index — the frame the engine already
    maintains for ANN serving), then arriving vectors — replayed as 4
    micro-batches — are assigned with the IDENTICAL rule and gated
    against their own cluster's lake members: (vec_id, cid, n_lake_near,
    max_sim, is_dup) lands BEFORE the vector enters the lake/index.
    Converged sink == batch gating of the arriving slice exactly
    (per-vector independence, static lake — unit-pinned by
    test_semdedup_on_ingest_converges_to_batch).

    This query serves the lake from the PARTITIONED table
    (semdedup_lake_write partitions on the cluster id;
    semdedup_match_against_bucketed turns each batch's distinct
    assigned-cluster set into a STATIC partition filter on the lake
    scan) — the deployment shape where the lake cannot be a cached
    DataFrame, so the CORRECTNESS row exercises the PartitionFilters
    probe end-to-end (VERDICT r11 #5). Results are identical to the
    cached path by construction (equality + plan pinned by
    test_semdedup_bucketed_gate_prunes_partitions_and_matches).

    Scale shape (100 TB lake): per batch the arriving side broadcasts
    and the lake scan reads only |batch clusters| partitions — bytes ~
    |batch| x (|lake|/k), constant in |lake| when k scales with the
    corpus (SemDeDup practice); measured flat on the lake axis by
    scripts/sweep_stream_semdedup.py."""
    import shutil
    import tempfile

    from proteus_spark.llmops.similarity import (
        semdedup_lake_index,
        semdedup_lake_write,
        semdedup_match_against_bucketed,
    )

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10).cache()
    centroids.count()  # materialize the (broadcast-sized) centroid set once
    lake = emb.filter(F.col("vec_id") % 4 == 0)
    arriving = emb.filter(F.col("vec_id") % 4 != 0)

    lakedir = tempfile.mkdtemp(prefix="proteus_semdedup_lake_")
    outdir = tempfile.mkdtemp(prefix="proteus_semdedup_ingest_")
    try:
        semdedup_lake_write(semdedup_lake_index(lake, centroids), lakedir)
        # resolved ONCE pre-stream: the cached file index is reused
        # across micro-batches (the frozen-lake contract); lake_read
        # replays the writer's schema sidecar (empty-lake safety)
        from proteus_spark.llmops.lake import lake_read

        lake_idx = lake_read(spark, lakedir)

        src = cdc.stage_stream(spark, arriving, chunks=4)

        def on_batch(batch, epoch):
            _sink_append(
                semdedup_match_against_bucketed(batch, lake_idx, centroids),
                outdir,
            )

        query = (
            src.subscribe(max_files_per_trigger=1)
            .writeStream.outputMode("append")
            .foreachBatch(on_batch)
            .queryName("stream_semdedup_ingest")
            .start()
        )
        try:
            query.processAllAvailable()
        finally:
            query.stop()
            cdc.cleanup(src)
        out = spark.read.parquet(outdir)
        return _spill(out)
    finally:
        centroids.unpersist()
        shutil.rmtree(outdir, ignore_errors=True)
        shutil.rmtree(lakedir, ignore_errors=True)


@register(
    "stream_ann_ingest",
    # oracle = the batch IVF assignment (same centroid rule as llm_sim_ivf:
    # centroids are the vec_id < 10 vectors; nearest by cosine, tie ->
    # lowest centroid id)
    oracle="""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
               WHERE vec_id < 10),
    v AS (SELECT vec_id, embedding AS vec FROM embeddings),
    scored AS (
      SELECT v.vec_id, c.cid,
             round(list_inner_product(v.vec, c.cvec)
                   / (sqrt(list_inner_product(v.vec, v.vec))
                      * sqrt(list_inner_product(c.cvec, c.cvec))), 6) AS sim
      FROM v CROSS JOIN c)
    SELECT vec_id, CAST(bucket AS BIGINT) AS bucket FROM (
      SELECT vec_id, cid AS bucket,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cid) AS rn
      FROM scored)
    WHERE rn = 1
    """,
    tags=("streaming", "llm", "similarity"),
)
def stream_ann_ingest(spark, sf_dir):
    """Vector-index maintenance ON INGEST: embeddings replayed as 4
    micro-batches; each batch assigns its vectors to the nearest IVF
    centroid (broadcast centroid set, codegen cosine) and appends the
    assignments to the index table — the §2.5 index-delta-maintenance
    story applied to the vector index, and the shape a live embedding
    pipeline runs so new vectors are searchable at the NEXT query without
    any bulk rebuild (IVF bucket search over the table stays valid after
    every batch). Converged assignment == the batch IVF build (the
    oracle). Note the oracle's CROSS JOIN is corpus x 10 centroids —
    bounded fan-out, the standard IVF assignment cost."""
    import shutil
    import tempfile

    from proteus_spark.llmops.similarity import ivf_assign

    emb = load(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 10).cache()
    centroids.count()  # materialize the (broadcast-sized) centroid set once

    src = cdc.stage_stream(spark, emb, chunks=4)
    outdir = tempfile.mkdtemp(prefix="proteus_ann_ingest_")

    def on_batch(batch, epoch):
        ivf_assign(batch, centroids).select("vec_id", "bucket").write.mode(
            "append"
        ).parquet(outdir)

    query = (
        src.subscribe(max_files_per_trigger=1)
        .writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .queryName("stream_ann_ingest")
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
        cdc.cleanup(src)
    try:
        out = spark.read.parquet(outdir).select(
            "vec_id", F.col("bucket").cast("long").alias("bucket")
        )
        return _spill(out)
    finally:
        centroids.unpersist()
        shutil.rmtree(outdir, ignore_errors=True)


@register(
    "stream_view_dag_via_log",
    oracle="""
    WITH rev AS (
      SELECT l_orderkey AS o_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS vote_sum
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey AS o_orderkey, o.o_orderpriority AS title,
           COALESCE(r.vote_sum, 0.0) AS vote_sum
    FROM orders o LEFT JOIN rev r USING (o_orderkey)
    """,
    tags=("streaming", "cdf", "broker", "pipeline"),
)
def stream_view_dag_via_log(spark, sf_dir):
    """The reference's QPU DAG with the TRANSPORT included: an upstream
    sum view (votes per story) publishes its delta batches to an embedded
    log topic via ``cdf_exporter``, and a DOWNSTREAM JoinView consumes
    that exported feed — not the upstream's snapshot — merging it with a
    live stories stream. This is how the reference composes operators
    (sum.go:90-103 feeding join.go:111-143 over a subscription channel),
    here with a durable broker hop in between: the downstream does not
    share state, memory, or even a lineage edge with the upstream; only
    the topic connects them.

    Ordering: the feed carries each changed key's NEW TOTAL per epoch;
    keys are hash-partitioned so per-key feed order is total, and the
    consumer's per-partition OFFSET is the arrival order — the JoinView
    collapses each micro-batch by max_by(value, offset) (order_col), so a
    rate-limited batch holding several epochs of one key applies
    deterministic last-writer-wins. Both views run CONCURRENTLY; the
    upstream's catch-up gate guarantees every epoch is committed to the
    topic before the downstream's catch-up gate drains it. Converged
    downstream state == batch orders LEFT JOIN revenue."""
    import shutil
    import tempfile

    from proteus_spark.sources import minilog
    from proteus_spark.streaming.views import JoinView

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vote"),
    )
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("title")
    )

    topic = tempfile.mkdtemp(prefix="proteus_dag_topic_")
    # Topic width = feed READ parallelism (the Python source plans one
    # task per partition, like Kafka): 4 suits the driver's sf0.01
    # replay; at replica scale the topic would be created wider — the
    # deployment knob PROTEUS_DAG_TOPIC_PARTITIONS scales it (converged
    # state is width-independent: a key lives in one partition, so its
    # per-key LWW order is total regardless of width).
    n_parts = int(os.environ.get("PROTEUS_DAG_TOPIC_PARTITIONS", "4"))
    src_votes = cdc.stage_stream(spark, li, chunks=4)
    up = SumView(
        spark, src_votes.subscribe(), group_by="l_orderkey",
        agg_attr="vote", name="dag_sum_upstream", mode="append",
    )
    up.subscribe(
        minilog.cdf_exporter(topic, partitions=n_parts, key_col="l_orderkey"),
        durable=True,
    )

    minilog.register_log_datasource(spark)
    # Per-partition per-trigger rate cap. 5000 gives a genuinely
    # multi-trigger replay at the driver's sf0.01; at replica scale the
    # feed grows with |changed keys| x epochs and a FIXED cap degenerates
    # into thousands of fixed-overhead micro-batches (measured: 625s at
    # 30x vs 84s with the cap scaled) — raising maxRecordsPerTrigger is
    # the deployment knob, exactly as with the Kafka source, so the scale
    # sweep sets it via env. Converged state is cap-independent.
    cap = os.environ.get("PROTEUS_DAG_MAX_RECORDS_PER_TRIGGER", "5000")
    feed = (
        spark.readStream.format(minilog.FORMAT_NAME)
        .option("path", topic)
        .option("partitions", str(n_parts))
        .option("maxRecordsPerTrigger", cap)
        .load()
    )
    left = feed.select(
        F.from_json("value", "l_orderkey long, vote_sum double").alias("v"),
        F.col("offset").alias("_seq"),
    ).select(
        F.col("v.l_orderkey").alias("o_orderkey"),
        F.col("v.vote_sum").alias("vote_sum"),
        "_seq",
    )
    src_orders = cdc.stage_stream(spark, orders, chunks=2)
    # the synthetic right-side order starts BELOW any real log offset
    # (first per-partition offset is 0): when a key's feed record and its
    # order row land in one batch at equal order, which side wins the
    # max_by collapse would otherwise be nondeterministic (ADVICE r6)
    right = src_orders.subscribe().withColumn("_seq", F.lit(-1).cast("long"))

    down = JoinView(
        spark, left, right, key="o_orderkey", name="dag_join_downstream",
        defaults={"vote_sum": 0.0}, order_col="_seq",
    )
    up.start()
    down.start()
    try:
        up.await_catch_up()    # every delta epoch committed to the topic
        down.await_catch_up()  # downstream drains the feed + stories
        snap = down.snapshot().filter(F.col("title").isNotNull()).select(
            "o_orderkey", "title", F.round("vote_sum", 4).alias("vote_sum")
        )
        out = _spill(snap)
    finally:
        down.stop()
        up.stop()
        cdc.cleanup(src_votes)
        cdc.cleanup(src_orders)
        shutil.rmtree(topic, ignore_errors=True)
    return out


def _recluster_oracle() -> str:
    """Static unroll of the ingest→refresh schedule (every CTE
    MATERIALIZED — the r5 DuckDB lesson). Centroids live as rounded-6
    lists rebuilt with list(m ORDER BY pos); cosines use sequential
    list_inner_product over DOUBLE lists so the fold order matches the
    engine's dot() exactly (the class_margins determinism rules)."""

    def cos(v, c):
        return (
            f"round(list_inner_product({v}, {c}) / "
            f"(sqrt(list_inner_product({v}, {v})) * "
            f"sqrt(list_inner_product({c}, {c}))), 6)"
        )

    def assign(tag, cent, wave_filter):
        return f"""s{tag} AS MATERIALIZED (
      SELECT e.vec_id AS vid, c.cid,
             {cos("CAST(e.embedding AS DOUBLE[])", "c.cvec")} AS sim
      FROM embeddings e CROSS JOIN {cent} c WHERE {wave_filter}),
    i{tag} AS MATERIALIZED (
      SELECT vid, cid AS bucket FROM (
        SELECT vid, cid,
               row_number() OVER (PARTITION BY vid
                                  ORDER BY sim DESC, cid) AS rn
        FROM s{tag}) WHERE rn = 1)"""

    def epoch(k, prev_idx, prev_cent):
        return f"""c{k} AS MATERIALIZED (
      SELECT cid, list(m ORDER BY pos) AS cvec FROM (
        SELECT i.bucket AS cid, g.pos,
               round(avg(CAST(e.embedding[g.pos] AS DOUBLE)), 6) AS m
        FROM {prev_idx} i JOIN embeddings e ON e.vec_id = i.vid,
             (SELECT unnest(generate_series(1, (SELECT d FROM dim))) AS pos) g
        GROUP BY i.bucket, g.pos)
      GROUP BY cid),
    mv{k} AS MATERIALIZED (
      SELECT n.cid FROM c{k} n LEFT JOIN {prev_cent} p USING (cid)
      WHERE p.cvec IS NULL OR n.cvec != p.cvec),
    rs{k} AS MATERIALIZED (
      SELECT e.vec_id AS vid, c.cid,
             {cos("CAST(e.embedding AS DOUBLE[])", "c.cvec")} AS sim
      FROM {prev_idx} i
      JOIN mv{k} mb ON mb.cid = i.bucket
      JOIN embeddings e ON e.vec_id = i.vid
      CROSS JOIN c{k} c),
    i{k} AS MATERIALIZED (
      SELECT i.vid, COALESCE(r.bucket, i.bucket) AS bucket
      FROM {prev_idx} i LEFT JOIN (
        SELECT vid, cid AS bucket FROM (
          SELECT vid, cid,
                 row_number() OVER (PARTITION BY vid
                                    ORDER BY sim DESC, cid) AS rn
          FROM rs{k}) WHERE rn = 1) r ON r.vid = i.vid)"""

    return f"""
    WITH dim AS (
      SELECT CAST(len(embedding) AS INTEGER) AS d FROM embeddings LIMIT 1),
    c0 AS MATERIALIZED (
      SELECT vec_id AS cid,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> round(x, 6)) AS cvec
      FROM embeddings WHERE vec_id < 8),
    {assign("A", "c0", "e.vec_id % 2 = 0")},
    {epoch(1, "iA", "c0")},
    {assign("B", "c1", "e.vec_id % 2 = 1")},
    iAB AS MATERIALIZED (
      SELECT * FROM i1 UNION ALL SELECT * FROM iB),
    {epoch(2, "iAB", "c1")},
    {epoch(3, "i2", "c2")}
    SELECT vid AS vec_id, CAST(bucket AS BIGINT) AS bucket FROM i3
    """


@register(
    "stream_ann_recluster",
    oracle=_recluster_oracle,
    tags=("streaming", "llm", "similarity", "iterative"),
)
def stream_ann_recluster(spark, sf_dir):
    """IVF centroid refresh UNDER DRIFT (VERDICT r5 #5): stream_ann_ingest
    assigns against static centroids forever; this query interleaves
    ingest waves with periodic centroid-refresh epochs so the quantizer
    tracks the data. Schedule: wave A (even vec_ids, 2 micro-batches)
    assigns to the rounded seed centroids; refresh epoch 1 recomputes
    centroids (one posexplode + per-(bucket,pos) partial avg) and
    reassigns ONLY moved-bucket vectors; wave B (odd vec_ids) then
    assigns against the REFRESHED centroids — the drift-adaptation step a
    static index never takes; refresh epochs 2-3 continue toward the
    Lloyd's fixpoint. Every step is deterministic (rounded-6 centroids
    and sims, lowest-cid ties), so the full schedule is ORACLED — unlike
    the KMeans||-seeded batch build (llm_sim_ivf_kmeans, rows-only).
    localCheckpoint truncates lineage between epochs (the fixpoint
    pattern shared with PageRank and BPE training)."""
    import shutil
    import tempfile

    from proteus_spark.llmops.similarity import (
        ivf_assign,
        ivf_recluster_epoch,
        ivf_seed_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    c0 = ivf_seed_centroids(emb, k=8).cache()
    c0.count()

    dirs = [tempfile.mkdtemp(prefix="proteus_recluster_") for _ in range(2)]

    def ingest_wave(wave_df, centroids, outdir):
        cent_as_vec = centroids.select(
            F.col("cid").alias("vec_id"), F.col("cvec").alias("embedding")
        ).cache()
        cent_as_vec.count()
        src = cdc.stage_stream(spark, wave_df, chunks=2)

        def on_batch(batch, epoch):
            _sink_append(ivf_assign(batch, cent_as_vec), outdir)

        q = (
            src.subscribe(max_files_per_trigger=1)
            .writeStream.outputMode("append")
            .foreachBatch(on_batch)
            .queryName("stream_ann_recluster")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            cdc.cleanup(src)
            cent_as_vec.unpersist()
        return spark.read.parquet(outdir)

    try:
        idx = ingest_wave(
            emb.filter(F.col("vec_id") % 2 == 0), c0, dirs[0]
        ).localCheckpoint(eager=True)
        idx, c1 = ivf_recluster_epoch(idx, c0)
        idx = idx.localCheckpoint(eager=True)
        c1 = c1.localCheckpoint(eager=True)
        wave_b = ingest_wave(
            emb.filter(F.col("vec_id") % 2 == 1), c1, dirs[1]
        )
        idx = idx.unionByName(wave_b).localCheckpoint(eager=True)
        idx, c2 = ivf_recluster_epoch(idx, c1)
        idx = idx.localCheckpoint(eager=True)
        c2 = c2.localCheckpoint(eager=True)
        idx, _c3 = ivf_recluster_epoch(idx, c2)
        out = idx.select(
            "vec_id", F.col("bucket").cast("long").alias("bucket")
        )
        return _spill(out)
    finally:
        c0.unpersist()
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
