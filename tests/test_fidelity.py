"""Reference-fidelity and scale-utility tests.

- The two SQL strings the reference itself unit-tests
  (internal/sqlparser/sqlparser_test.go:23-56) run VERBATIM through the
  engine facade against views shaped like the reference's tables.
- salted_sum_view produces identical results to the plain aggregation.
- multimodal resize / engine query_subscribe plumbing.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from proteus_spark.engine import Engine
from proteus_spark.llmops import multimodal as M
from proteus_spark.operators import salted_sum_view, sum_view


def test_reference_parser_point_query_verbatim(spark):
    """sqlparser_test.go:23-40: `select * from t where x = 42`."""
    eng = Engine(spark)
    df = spark.range(100).select(F.col("id").alias("x"), (F.col("id") * 2).alias("y"))
    eng.register_view("t", df)
    rows = eng.query_unary("select * from t where x = 42")
    assert rows == [{"x": "42", "y": "84"}]


def test_reference_parser_topk_query_verbatim(spark, sf_dir):
    """sqlparser_test.go:42-56: the Lobsters top-k SQL, verbatim, against a
    `qpu` view carrying the reference's column names."""
    eng = Engine(spark, sf_dir)
    qpu = spark.sql(
        """
        SELECT o_orderpriority AS title, o_orderstatus AS description,
               o_orderkey AS short_id, o_custkey AS user_id,
               o_totalprice AS vote_sum
        FROM orders
        """
    )
    eng.register_view("qpu", qpu)
    rows = eng.query_unary(
        "SELECT title, description, short_id, user_id, vote_sum "
        "FROM qpu ORDER BY vote_sum DESC LIMIT 5"
    )
    assert len(rows) == 5
    votes = [float(r["vote_sum"]) for r in rows]
    assert votes == sorted(votes, reverse=True)


def test_ts_metadata_through_source_view_and_response(spark, sf_dir, tmp_path):
    """Vector-clock (_ts) plumbing end-to-end: the CDC source stamps each
    record with its ingestion clock (qpu.proto:8-16 LogOperation
    timestamp); a CDC sum view folds max(_ts) per group (state-row clock,
    qpu.proto:97-99); query_unary surfaces _ts in the stringified
    attribute map exactly like any attribute (qpuextapi.proto:33-38)."""
    import time as _time

    from proteus_spark.sources import cdc
    from proteus_spark.streaming.views import SumView

    # two files written ~now: the ingestion clock must land in [t0, t1]
    t0 = int(_time.time() * 1_000_000) - 5_000_000
    ev = spark.createDataFrame(
        [(1, None, 10.0), (1, None, 5.0), (2, None, 7.0)],
        "user_id bigint, old_value double, new_value double",
    )
    src = cdc.stage_stream(spark, ev, chunks=2)
    snap = src.snapshot(with_ts=True)
    assert "_ts" in snap.columns
    t1 = int(_time.time() * 1_000_000) + 5_000_000
    assert all(t0 <= r["_ts"] <= t1 for r in snap.collect())

    view = SumView(
        spark, src.subscribe(with_ts=True), group_by="user_id",
        agg_attr="new_value", name="t_ts_view", mode="cdc",
    ).start()
    try:
        view.await_catch_up()
        state = view.snapshot()
        assert "_ts" in state.columns
        got = {r["user_id"]: r for r in state.collect()}
        assert got[1]["new_value_sum"] == 15.0
        assert t0 <= got[1]["_ts"] <= t1

        eng = Engine(spark)
        eng.register_view("ts_view", state)
        rows = eng.query_unary(
            "SELECT user_id, new_value_sum, _ts FROM ts_view ORDER BY user_id"
        )
        assert rows[0]["user_id"] == "1"
        assert rows[0]["new_value_sum"] == "15.0"
        assert rows[0]["_ts"].isdigit()  # stringified epoch-micros clock
    finally:
        view.stop()
        cdc.cleanup(src)


def test_salted_sum_matches_plain(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "value")
    plain = {
        r["user_id"]: round(r["value_sum"], 4)
        for r in sum_view(ev, "user_id", "value").collect()
    }
    salted = {
        r["user_id"]: round(r["value_sum"], 4)
        for r in salted_sum_view(ev, "user_id", "value", salt_buckets=8).collect()
    }
    assert plain == salted


def test_multimodal_extract_values_and_stub_seam(spark):
    """Value-level pin for extract_features, moved here WITH the round-12
    retirement of the llm_multimodal_extract registry query (a covered
    composition): exact 1:1 row shape, n_bytes = payload byte length,
    magic = first 4 bytes decoded, and the NotImplementedError stub seams
    of extract_features (non-text modalities) and resize_ppm (non-P6
    payloads)."""
    assets = spark.createDataFrame(
        [
            (1, "hello world".encode(), "text"),
            (2, "abc".encode(), "text"),
        ],
        "doc_id long, payload binary, modality string",
    )
    rows = {r["doc_id"]: r for r in M.extract_features(assets).collect()}
    assert set(rows) == {1, 2}  # 1:1 — one output row per asset
    assert (rows[1]["modality"], rows[1]["n_bytes"], rows[1]["magic"]) == (
        "text", 11, "hell",
    )
    # shorter-than-4-byte payload: magic is the whole payload
    assert (rows[2]["n_bytes"], rows[2]["magic"]) == (3, "abc")

    import pytest as _pytest

    stub = spark.createDataFrame(
        [(3, b"\x89PNG1234", "image")],
        "doc_id long, payload binary, modality string",
    )
    with _pytest.raises(Exception, match="NotImplementedError|stubbed"):
        M.extract_features(stub).collect()
    # the resize path's seam: a payload that is not a P6 image raises
    # where a real codec would plug in
    with _pytest.raises(Exception, match="NotImplementedError|only P6"):
        M.resize_ppm(stub).collect()


def test_engine_query_subscribe(spark, sf_dir):
    """Continuous query over a live view: every view update re-evaluates
    the SQL and pushes fresh results."""
    from proteus_spark.sources import cdc
    from proteus_spark.streaming.views import SumView

    eng = Engine(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("user_id", "value")
    src = cdc.stage_stream(spark, ev, chunks=3)
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="t_sub_engine", mode="append",
    )
    pushes: list[tuple[int, int]] = []
    eng.query_subscribe(
        "SELECT user_id, value_sum FROM user_sums ORDER BY value_sum DESC LIMIT 3",
        table="user_sums",
        view=view,
        callback=lambda rows, epoch: pushes.append((epoch, len(rows))),
    )
    view.start()
    try:
        view.await_catch_up()
        view._query.stop()
        assert len(pushes) >= 3  # one push per micro-batch
        assert all(n <= 3 for _, n in pushes)
        # final push reflects the fully-caught-up state
        final = eng.query("SELECT * FROM user_sums").count()
        assert final == ev.select("user_id").distinct().count()
    finally:
        view.stop()
        cdc.cleanup(src)


def test_query_stream_record_type_sequence(spark):
    """The bidi Query record stream (qpuapi.proto:106-116): STATE* records
    with increasing seq ids, END_OF_STREAM closing the snapshot phase,
    then UPDATEDELTA records as the subscribed view keeps updating —
    the reference's record-type sequence (rpcserver.go:101-119)."""
    from proteus_spark.sources import cdc
    from proteus_spark.streaming.views import SumView

    ev = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (1, 5.0)], "user_id bigint, value double"
    )
    src = cdc.stage_stream(spark, ev, chunks=2)
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="t_qstream", mode="append",
    ).start()
    try:
        view.await_catch_up()
        eng = Engine(spark)
        eng.register_view("v", view.snapshot())
        gen = eng.query_stream(
            "SELECT * FROM v ORDER BY user_id", view=view, updates_timeout=60
        )
        records = []
        for rec in gen:
            records.append(rec)
            if rec[1] == "END_OF_STREAM":
                break
        # snapshot phase: one STATE per current group, then the marker
        types = [t for _, t, _ in records]
        assert types == ["STATE", "STATE", "END_OF_STREAM"]
        assert [s for s, _, _ in records] == [0, 1, 2]
        assert records[0][2]["user_id"] == "1"
        assert records[0][2]["value_sum"] == "15.0"

        # a new delta file arrives -> the stream continues as UPDATEDELTA
        spark.createDataFrame(
            [(2, 7.0)], "user_id bigint, value double"
        ).coalesce(1).write.mode("append").parquet(src.path)
        view._query.processAllAvailable()
        upd = next(gen)
        assert upd[0] == 3 and upd[1] == "UPDATEDELTA"
        assert upd[2]["user_id"] == "2" and upd[2]["value_sum"] == "27.0"
        gen.close()
        # the stream's subscriber is REMOVED on close (ADVICE r6: a
        # long-running server must not accrete one leaked collect-per-
        # batch callback + unbounded queue per past stream request)
        assert view._subscribers == []
    finally:
        view.stop()
        cdc.cleanup(src)


def test_query_stream_unsubscribes_on_early_close(spark):
    """A client that disconnects MID-SNAPSHOT (generator closed before
    END_OF_STREAM) must also release its view subscription — the leak
    path ADVICE r6 flagged is precisely abandoned generators."""
    from proteus_spark.sources import cdc
    from proteus_spark.streaming.views import SumView

    ev = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "user_id bigint, value double"
    )
    src = cdc.stage_stream(spark, ev, chunks=1)
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="t_qstream_close", mode="append",
    ).start()
    try:
        view.await_catch_up()
        eng = Engine(spark)
        eng.register_view("v2", view.snapshot())
        gen = eng.query_stream("SELECT * FROM v2", view=view, updates_timeout=60)
        assert next(gen)[1] == "STATE"  # subscriber registered by now
        assert len(view._subscribers) == 1
        gen.close()  # client disconnect
        assert view._subscribers == []
        # unsubscribe is idempotent: a double-remove is a no-op
        view.unsubscribe(lambda d, e: None)
    finally:
        view.stop()
        cdc.cleanup(src)


def test_engine_error_paths(spark):
    """Guardrails: unknown table and malformed SQL surface as analysis /
    parse errors through the facade (the reference returns gRPC errors;
    same contract, better diagnostics)."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException, ParseException

    eng = Engine(spark)
    with _pytest.raises(AnalysisException):
        eng.query("SELECT * FROM table_that_does_not_exist_xyz").collect()
    with _pytest.raises(ParseException):
        eng.query("SELEKT frobnicate")


def test_engine_explain_surfaces_plan(spark, sf_dir):
    eng = Engine(spark, sf_dir)
    p = eng.explain("SELECT o_orderkey FROM orders WHERE o_orderkey = 7")
    assert "Scan parquet" in p and "PushedFilters" in p


def test_dup_components_matches_union_find(spark):
    """dup_components == classic union-find on a chain+clique+singleton-pair
    graph (chains force multi-round propagation)."""
    import random

    from proteus_spark.llmops.dedup import dup_components

    rng = random.Random(42)
    nodes = list(range(100))
    pairs = [(i, i + 1) for i in range(0, 20)]          # chain: diameter 20
    pairs += [(30 + a, 30 + b) for a in range(5) for b in range(a + 1, 5)]
    pairs += [(rng.randrange(50, 100), rng.randrange(50, 100)) for _ in range(30)]
    pairs = [(min(a, b), max(a, b)) for a, b in pairs if a != b]

    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    in_graph = {v for p in pairs for v in p}
    expected = {v: find(v) for v in in_graph}

    df = spark.createDataFrame(pairs, "ida long, idb long")
    got = {r["doc_id"]: r["component"] for r in dup_components(df).collect()}
    assert got == expected


def test_jaccard_candidate_path_matches_baseline(spark, sf_dir):
    """The candidate-pushed intersection (linear in |candidates|) must give
    the same (ni, jaccard) as the unrestricted co-shingle self-join
    filtered to the same pairs."""
    from proteus_spark.llmops import dedup as D
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = D.shingle_ids(docs)
    base = D.jaccard_pairs(sh, 0.0).filter(F.col("ida") % 3 == 0)
    cand = base.select("ida", "idb")
    pushed = D.jaccard_pairs(sh, 0.0, candidates=cand)

    b = {(r["ida"], r["idb"]): round(r["jaccard"], 9) for r in base.collect()}
    p = {(r["ida"], r["idb"]): round(r["jaccard"], 9) for r in pushed.collect()}
    assert b == p and len(b) > 0


def test_dup_components_random_graphs(spark):
    """Property: dup_components == union-find on random pair sets
    (hypothesis-style over seeded rounds, one Spark job per graph)."""
    import random

    from proteus_spark.llmops.dedup import dup_components

    for seed in (1, 7, 99):
        rng = random.Random(seed)
        n = rng.randrange(20, 80)
        pairs = sorted(
            {
                tuple(sorted((rng.randrange(n), rng.randrange(n))))
                for _ in range(rng.randrange(5, 60))
            }
        )
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        parent = list(range(n))

        def find(v):
            while parent[v] != v:
                parent[v] = parent[parent[v]]
                v = parent[v]
            return v

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        in_graph = {v for p in pairs for v in p}
        expected = {v: find(v) for v in in_graph}

        df = spark.createDataFrame(pairs, "ida long, idb long")
        got = {r["doc_id"]: r["component"] for r in dup_components(df).collect()}
        assert got == expected, f"seed {seed}"


def test_chunk_documents_degenerate_texts(spark):
    """Empty and shorter-than-stride texts chunk to exactly one chunk
    (Spark's sequence(0, -1) counts BACKWARDS without the greatest-guard —
    this pins the guard)."""
    from proteus_spark.llmops.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, ""), (2, "short"), (3, "x" * 200), (4, "y" * 201)],
        "doc_id long, text string",
    )
    out = chunk_documents(docs).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_len"]))
    assert by_doc[1] == [(0, 0)]
    assert by_doc[2] == [(0, 5)]
    # starts at every stride multiple below len: 200-char text gets the
    # full chunk plus the 50-char tail window starting at 150
    assert sorted(by_doc[3]) == [(0, 200), (1, 50)]
    assert sorted(by_doc[4]) == [(0, 200), (1, 51)]


def test_pack_sequences_matches_naive_window(spark):
    """The distributed two-phase prefix sum must equal the naive global
    cumulative sum for any bucket layout (including a doc count smaller
    than the parallelism)."""
    from pyspark.sql import functions as F

    from proteus_spark.llmops.text import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         [(3, 100), (7, 500), (11, 12), (20, 513), (21, 1), (40, 256)]],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["tok_offset"], r["bin_id"])
           for r in pack_sequences(docs, budget=512).collect()}
    acc = 0
    exp = {}
    for i, n in [(3, 100), (7, 500), (11, 12), (20, 513), (21, 1), (40, 256)]:
        exp[i] = (acc, acc // 512)
        acc += n
    assert got == exp


def test_parameterized_query_binding(spark, sf_dir):
    """Named + positional parameter binding (the principled form of the
    reference's literal-patching AST cache, apiprocessor.go:335-390)."""
    from proteus_spark.engine import Engine

    eng = Engine(spark, sf_dir)
    named = eng.query(
        "SELECT count(*) AS n FROM lineitem WHERE l_orderkey = :k",
        args={"k": 1},
    ).collect()
    direct = eng.query(
        "SELECT count(*) AS n FROM lineitem WHERE l_orderkey = 1"
    ).collect()
    assert named == direct
    # rebinding the same text answers a different point query
    other = eng.query(
        "SELECT count(*) AS n FROM lineitem WHERE l_orderkey = :k",
        args={"k": 2},
    ).collect()
    assert other == eng.query(
        "SELECT count(*) AS n FROM lineitem WHERE l_orderkey = 2"
    ).collect()


def test_wav_assets_are_valid_wav_files(spark, sf_dir):
    """The synthesized audio payloads must be REAL WAV files: the stdlib
    `wave` reader (an independent RIFF implementation) must accept them
    and report the declared format."""
    import io
    import wave

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(3)
    rows = M.wav_assets(docs).collect()
    assert rows
    for r in rows:
        with wave.open(io.BytesIO(bytes(r["payload"]))) as w:
            assert w.getnchannels() == 1
            assert w.getsampwidth() == 1  # 8-bit
            assert w.getframerate() == M.WAV_RATE
            assert w.getnframes() == M.WAV_N_SAMPLES


def test_audio_features_rejects_non_pcm8(spark):
    """A 16-bit WAV must hit the NotImplementedError seam where a real
    codec (ffmpeg/librosa) would plug in — not silently mis-decode."""
    import struct

    import pytest as _pytest

    hdr = (
        b"RIFF" + struct.pack("<I", 36 + 4) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 4) + b"\x00\x01\x00\x02"
    )
    df = spark.createDataFrame([(1, bytearray(hdr))], "doc_id long, payload binary")
    with _pytest.raises(Exception) as exc:
        M.audio_features(df).collect()
    assert "NotImplementedError" in str(exc.value) or "codec" in str(exc.value)


def test_video_demux_rejects_truncated_frame(spark):
    """A clip ending mid-header or mid-body must RAISE (bounds-checked
    walk), never hang the executor task."""
    import pytest as _pytest

    for payload in (b"P6\n8", b"P6\n8 8\n255\n" + b"x" * 10):
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "doc_id long, payload binary"
        )
        with _pytest.raises(Exception) as exc:
            M.video_frame_features(df).collect()
        assert "truncated" in str(exc.value) or "ValueError" in str(exc.value)


def test_bench_parity_compact_fields():
    """VERDICT r11 #4: the compact parity summary must carry the headline
    freshness fields (notification p50/p99, staleness p99, stale fraction
    vs ceiling) with in-band verdicts — and degrade to a short error note,
    never raise, when the parity block itself errored."""
    import bench

    full = {
        "notification_latency_ms": {"p50": 2100.0, "p99": 3000.0},
        "staleness": {"staleness_versions": {"p99": 1.0}},
        "read_window": {
            "observed_stale_fraction": 0.12,
            "stale_ceiling_continuous_sampling": 0.2,
        },
        "expected_p50_band_ms": [1700, 2700],
    }
    c = bench._parity_compact(full)
    assert c["notify_p50_ms"] == 2100.0 and c["notify_p99_ms"] == 3000.0
    assert c["p50_in_band"] is True and c["stale_in_band"] is True
    assert c["staleness_p99_versions"] == 1.0
    # slow direction fails the band; FASTER-than-band is in-band (the
    # band calibrates sf0.1 — a smaller SF legitimately runs faster)
    fast = dict(full, notification_latency_ms={"p50": 900.0, "p99": 1200.0})
    assert bench._parity_compact(fast)["p50_in_band"] is True
    slow = dict(full, notification_latency_ms={"p50": 9000.0, "p99": 9900.0})
    assert bench._parity_compact(slow)["p50_in_band"] is False
    err = bench._parity_compact({"error": "x" * 500})
    assert set(err) == {"error"} and len(err["error"]) <= 120


def test_bench_attempt_idleness_classification():
    """Review r12 #2: a genuine plan regression must NOT make the
    fully-idle retry unsatisfiable — an idle re-measure that CONFIRMS its
    as-measured value (a real plan cost) leaves the attempt idle, while
    one that beats it by >10% (contention inflated the original) marks
    the attempt dirty; any contention flag is dirty regardless."""
    import bench

    base = {"queries": {"q1": 2.0, "q2": 1.0}, "contended": []}
    # no triggers at all
    assert bench._attempt_is_idle({**base, "idle_remeasure": {}})
    # slow-vs-prev fired but the quiet re-run CONFIRMS the number
    assert bench._attempt_is_idle({**base, "idle_remeasure": {"q1": 1.95}})
    # quiet re-run BEAT the original by >10% -> the original was inflated
    assert not bench._attempt_is_idle({**base, "idle_remeasure": {"q1": 1.5}})
    # contention flag is dirty regardless of re-measure outcomes
    assert not bench._attempt_is_idle(
        {**base, "contended": ["q2"], "idle_remeasure": {"q2": 0.99}}
    )


def test_bench_summary_degrade_never_exceeds_cap():
    """ADVICE r12: the stdout summary must land under the driver's
    tail-capture cap no matter how large the per-query maps grow — the
    degrade chain ends in O(1)-sized fields, so even a pathological
    HEADLINE set cannot decapitate the line into a parse-null."""
    import json

    import bench

    def mk(n_queries):
        qmap = {f"llm_query_with_a_long_name_{i:04d}": 1.234 for i in range(n_queries)}
        return {
            "metric": "headline_queries_total_runtime",
            "value": 12.3,
            "unit": "sec",
            "queries": dict(qmap),
            "queries_clean": dict(qmap),
            "value_clean": 12.3,
            "contended": sorted(qmap),
            "idle_remeasure": dict(qmap),
            "attempts_run": 3,
            "headline_attempt": 1,
            "headline_source": "min_clean_of_contended",
            "parity": {"notify_p50_ms": 2100.0, "p50_in_band": True},
            "sf": 0.1,
        }

    # small summary passes through untouched
    small = mk(3)
    line = bench._degrade_summary(dict(small))
    assert json.loads(line)["queries"] == small["queries"]
    # every scale up to absurd stays parseable AND under the cap, and the
    # headline scalars always survive
    for n in (21, 60, 200, 1000):
        line = bench._degrade_summary(mk(n))
        assert len(line) <= bench._MAX_SUMMARY_CHARS, n
        parsed = json.loads(line)
        assert parsed["value"] == 12.3 and parsed["value_clean"] == 12.3
        assert parsed["parity"]["notify_p50_ms"] == 2100.0
        assert parsed["headline_source"] == "min_clean_of_contended"
        # review r13 #2: the last degrade step must never leave an int
        # under a key the next round iterates — counts move to _n keys
        assert isinstance(parsed.get("contended", []), list)
        assert isinstance(parsed.get("idle_remeasure", {}), (dict, list))


def test_bench_probe_floor_selection():
    """VERDICT r12 #4: the pre-series idle probe compares the 3 FASTEST
    previous-round lines (the most contention-sensitive canaries) against
    their recorded floors — and judges nothing when the record is from a
    different sf (cross-sf floors are meaningless)."""
    import bench

    prev = {
        "sf": 0.1,
        "queries": {"a": 0.5, "b": 0.1, "c": 0.3, "d": 0.2, "e": 0.9},
        "queries_clean": {"a": 0.4, "b": 0.12, "c": 0.3, "d": 0.2, "e": 0.9},
    }
    names = ["a", "b", "c", "d", "e"]
    floors = bench._probe_floors(prev, 0.1, names)
    # 3 fastest by min(queries, queries_clean): b=0.1, d=0.2, c=0.3
    assert floors == {"b": 0.1, "d": 0.2, "c": 0.3}
    # sf mismatch -> no floors -> probe skipped
    assert bench._probe_floors(prev, 0.01, names) == {}
    # names not in the record are ignored
    assert bench._probe_floors(prev, 0.1, ["zz"]) == {}
    # degraded records (lists collapsed to counts) must not crash or
    # mislead the probe (review r13 #2)
    assert bench._probe_floors({"sf": 0.1, "queries": 21}, 0.1, names) == {}


def test_bench_probe_verdict_noise_vs_plan_cost():
    """Review r13 #3: a canary above tolerance whose value REPRODUCES the
    previous pass within 10% is a plan regression (stable), not host
    noise (which swings) — it must stop blocking the series instead of
    burning the probe budget in sleeps."""
    import bench

    floors = {"b": 0.1, "d": 0.2}
    # first pass: b is 2x its floor, no history -> noisy (could be noise)
    noisy, plan = bench._probe_verdict(floors, {"b": 0.2, "d": 0.2}, {})
    assert noisy == {"b"} and plan == set()
    # second pass reproduces within 10% -> plan cost, stops blocking
    noisy, plan = bench._probe_verdict(
        floors, {"b": 0.205, "d": 0.2}, {"b": 0.2, "d": 0.2}
    )
    assert noisy == set() and plan == {"b"}
    # second pass swings (true noise) -> still noisy
    noisy, plan = bench._probe_verdict(
        floors, {"b": 0.5, "d": 0.2}, {"b": 0.2, "d": 0.2}
    )
    assert noisy == {"b"} and plan == set()
    # quiet pass -> neither
    noisy, plan = bench._probe_verdict(
        floors, {"b": 0.11, "d": 0.2}, {"b": 0.5, "d": 0.2}
    )
    assert noisy == set() and plan == set()


def test_bench_still_falling_materiality():
    """The contention detector fires on material descents (host load
    easing: the min is still far above the plan cost), not on monotone
    1-3% JIT/page-cache warming glides on an idle host."""
    import bench

    assert bench._still_falling([1.0, 0.7, 0.5])  # halving: contention
    assert not bench._still_falling([0.200, 0.198, 0.196])  # 2% glide
    assert not bench._still_falling([1.0, 0.5, 0.6])  # not monotone
    assert bench._still_falling([1.0, 0.97, 0.90])  # 10% total: material
