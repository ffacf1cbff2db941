"""Protobuf wire-format parity (SURVEY §2.11 / round-8 verdict's last
"missing" item): the hand-rolled proto3 codec must produce the REAL
encoding — golden-byte tests pin it against hand-computed proto3 wire
bytes (field numbers/types from the reference .proto files), round-trip
tests cover every message incl. deep nesting, the gRPC message frame
reader bounds a forged length, and socket tests carry these messages
end-to-end through ``h2.GrpcQueryServer`` against a live Engine (the
HTTP/2 envelope itself is pinned in tests/test_h2.py)."""

from __future__ import annotations

import io

import pytest

from proteus_spark import h2, wire
from proteus_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


# ---------------------------------------------------------------------------
# Wire primitives
# ---------------------------------------------------------------------------


def test_varint_golden_and_roundtrip():
    # spec examples: 1 -> 0x01, 300 -> 0xAC 0x02
    assert wire.encode_varint(0) == b"\x00"
    assert wire.encode_varint(1) == b"\x01"
    assert wire.encode_varint(127) == b"\x7f"
    assert wire.encode_varint(128) == b"\x80\x01"
    assert wire.encode_varint(300) == b"\xac\x02"
    for n in (0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1):
        buf = wire.encode_varint(n)
        val, pos = wire.decode_varint(buf, 0)
        assert (val, pos) == (n, len(buf))
    with pytest.raises(ValueError):
        wire.decode_varint(b"\x80\x80", 0)  # truncated continuation


# ---------------------------------------------------------------------------
# Golden bytes (hand-computed proto3 encodings)
# ---------------------------------------------------------------------------


def test_query_req_golden():
    # QueryReq.queryStr = field 1, LEN: tag 0x0A, len 8, utf-8 text
    assert (
        wire.encode_query_req({"queryStr": "SELECT 1"})
        == b"\x0a\x08SELECT 1"
    )
    assert wire.decode_query_req(b"\x0a\x08SELECT 1") == {
        "queryStr": "SELECT 1"
    }


def test_timestamp_golden():
    # seconds=1 (field 1 varint: 0x08 0x01), nanos=2 (field 2: 0x10 0x02)
    assert wire.encode_timestamp({"seconds": 1, "nanos": 2}) == b"\x08\x01\x10\x02"
    assert wire.decode_timestamp(b"\x08\x01\x10\x02") == {
        "seconds": 1,
        "nanos": 2,
    }


def test_value_golden_negative_int_is_ten_byte_twos_complement():
    # proto3 int32 -1 encodes as the 64-bit two's complement varint
    expect = b"\x10" + b"\xff" * 9 + b"\x01"
    assert wire.encode_value({"int": -1}) == expect
    assert wire.decode_value(expect) == {"int": -1}


def test_value_golden_double():
    # flt = field 3 fixed64: tag (3<<3)|1 = 0x19 + IEEE754 LE of 1.5
    expect = b"\x19\x00\x00\x00\x00\x00\x00\xf8\x3f"
    assert wire.encode_value({"flt": 1.5}) == expect
    assert wire.decode_value(expect) == {"flt": 1.5}


def test_value_oneof_presence_of_defaults():
    # a SET oneof arm encodes even at the default value
    assert wire.encode_value({"str": ""}) == b"\x0a\x00"
    assert wire.encode_value({"int": 0}) == b"\x10\x00"
    assert wire.decode_value(b"\x0a\x00") == {"str": ""}


def test_response_stream_record_golden_end_of_stream():
    # sequence_id=3 (0x08 0x03), type=END_OF_STREAM=4 (0x10 0x04)
    rec = {"sequence_id": 3, "type": "END_OF_STREAM"}
    assert wire.encode_response_stream_record(rec) == b"\x08\x03\x10\x04"
    assert wire.decode_response_stream_record(b"\x08\x03\x10\x04") == rec


def test_query_resp_record_golden_map_entry():
    # record_id "r1": 0x0A 0x02 r1; attributes {"a": "x"}: one map-entry
    # submessage (field 2, LEN): entry = 0x0A 0x01 a 0x12 0x01 x
    rec = {"record_id": "r1", "attributes": {"a": "x"}}
    expect = b"\x0a\x02r1\x12\x06\x0a\x01a\x12\x01x"
    assert wire.encode_query_resp_record(rec) == expect
    got = wire.decode_query_resp_record(expect)
    assert got["record_id"] == "r1" and got["attributes"] == {"a": "x"}


def test_config_response_golden():
    # qpu_type=SUM=1 (0x08 0x01), schema ["t1","t2"] as repeated strings
    resp = {"qpu_type": "SUM", "schema": ["t1", "t2"]}
    expect = b"\x08\x01\x12\x02t1\x12\x02t2"
    assert wire.encode_config_response(resp) == expect
    assert wire.decode_config_response(expect) == resp


def test_grpc_frame_golden():
    # gRPC Length-Prefixed-Message: flag 0x00 + u32 BE length + payload
    assert wire.frame(b"abc") == b"\x00\x00\x00\x00\x03abc"
    rf = io.BytesIO(b"\x00\x00\x00\x00\x03abc")
    assert wire.read_frame(rf) == b"abc"
    assert wire.read_frame(rf) is None  # clean EOF
    with pytest.raises(ValueError):
        wire.read_frame(io.BytesIO(b"\x00\x00\x00\x00\x05ab"))  # truncated


# ---------------------------------------------------------------------------
# Round-trips over nested messages
# ---------------------------------------------------------------------------


def test_log_operation_roundtrip_state_and_delta():
    op = {
        "object_id": "obj-7",
        "bucket": "orders",
        "timestamp": {"vc": {"dc1": {"seconds": 12, "nanos": 34}}},
        "payload": {
            "state": {
                "attributes": {
                    "name": {"str": "x"},
                    "n": {"int": -42},
                    "score": {"flt": 2.25},
                }
            }
        },
    }
    assert wire.decode_log_operation(wire.encode_log_operation(op)) == op
    delta_op = {
        "object_id": "obj-8",
        "bucket": "orders",
        "payload": {
            "delta": {
                "old": {"attributes": {"v": {"int": 1}}},
                "new": {"attributes": {"v": {"int": 2}}},
            }
        },
    }
    got = wire.decode_log_operation(wire.encode_log_operation(delta_op))
    assert got == delta_op


def test_attribute_predicate_roundtrip():
    p = {
        "attr": {"attr_key": "o_totalprice", "value": {"flt": 0.0}},
        "type": "RANGE",
        "lbound": {"int": 10},
        "ubound": {"int": 20},
    }
    assert wire.decode_attribute_predicate(
        wire.encode_attribute_predicate(p)
    ) == p


def test_query_resp_roundtrip_with_timestamps():
    resp = {
        "respRecord": [
            {
                "record_id": "0",
                "attributes": {"a": "", "b": "2"},
                "timestamp": {"dc1": {"seconds": 5, "nanos": 0}},
                "timestampReceived": {"seconds": 9, "nanos": 1},
            },
            {"record_id": "1", "attributes": {}, "timestamp": {}},
        ]
    }
    got = wire.decode_query_resp(wire.encode_query_resp(resp))
    assert got["respRecord"][0] == resp["respRecord"][0]
    assert got["respRecord"][1]["record_id"] == "1"


def test_request_stream_record_golden_and_roundtrip():
    # RequestStreamRecord{queryRequest{query{query_sql{queryStr:"q"}}}}:
    # SQLQuery = 0x0A 0x01 q; Query.query_sql(field 2) wraps it:
    # 0x12 0x03 <sql>; QueryRequest.query(field 1): 0x0A 0x05 <query>;
    # RequestStreamRecord.queryRequest(field 1): 0x0A 0x07 <qr>
    req = {"queryRequest": {"query": {"query_sql": {"queryStr": "q"}}}}
    expect = b"\x0a\x07\x0a\x05\x12\x03\x0a\x01q"
    assert wire.encode_request_stream_record(req) == expect
    got = wire.decode_request_stream_record(expect)
    assert got["queryRequest"]["query"] == {"query_sql": {"queryStr": "q"}}
    # full envelope with metadata + flags round-trips
    full = {
        "queryRequest": {
            "query": {"query_sql": {"queryStr": "SELECT 1"}},
            "metadata": {"view": "live", "k": ""},
            "sync": True,
            "measureDataTransfer": True,
        }
    }
    got = wire.decode_request_stream_record(
        wire.encode_request_stream_record(full)
    )
    assert got == full
    # the ack arm
    ack = {"ack": {"sequence_id": 9}}
    assert wire.decode_request_stream_record(
        wire.encode_request_stream_record(ack)
    ) == ack


def test_unknown_fields_are_skipped():
    # forward compat: a decoder must skip unknown fields, not crash —
    # append an unknown field 15 (varint) to a valid QueryReq
    buf = wire.encode_query_req({"queryStr": "q"}) + b"\x78\x2a"
    assert wire.decode_query_req(buf) == {"queryStr": "q"}


# ---------------------------------------------------------------------------
# Socket-level end-to-end through the gRPC server against a live Engine
# ---------------------------------------------------------------------------


class _FailAfterFirstRecord:
    """Engine proxy whose SQL stream fails once its first record is out:
    the ack and that record reach the wire, then the stream breaks."""

    def __init__(self, inner):
        self._inner = inner

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def query_stream(self, sql, view=None, typed=False, **kw):
        it = self._inner.query_stream(sql, view=view, typed=typed, **kw)

        def gen():
            yield next(it)
            raise RuntimeError("simulated mid-stream failure")

        return gen()


def test_protobuf_query_unary_over_socket(engine):
    sql = (
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n FROM orders "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    with h2.GrpcQueryServer(engine) as srv:
        resp = h2.call_unary(srv.host, srv.port, sql)
    got = [r["attributes"] for r in resp["respRecord"]]
    assert got == engine.query_unary(sql)
    # record ids are the row ordinals, every value a string
    assert [r["record_id"] for r in resp["respRecord"]] == [
        str(i) for i in range(len(got))
    ]


def test_protobuf_query_stream_state_then_eos(engine):
    sql = "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 3"
    with h2.GrpcQueryServer(engine) as srv:
        recs = h2.call_query_sql(srv.host, srv.port, sql)
    assert [r["type"] for r in recs] == ["STATE"] * 3 + ["END_OF_STREAM"]
    assert [r["sequence_id"] for r in recs] == [0, 1, 2, 3]
    # STATE records carry TYPED ObjectState Values (the reference's
    # qpu.Value oneof): an int32-ranged bigint rides the int arm
    st = recs[0]["logOp"]["payload"]["state"]["attributes"]
    assert "l_orderkey" in st and list(st["l_orderkey"]) == ["int"]


def test_protobuf_get_config_advertises_tables(engine):
    engine.query_unary("SELECT 1 AS one")  # ensure views registered
    with h2.GrpcQueryServer(engine) as srv:
        cfg = h2.call_get_config(srv.host, srv.port)
    assert cfg["qpu_type"] == "DATASTORE_DRIVER"
    assert "lineitem" in cfg["schema"] and "orders" in cfg["schema"]


def test_protobuf_query_with_live_view_pushes_updatedelta(spark, engine):
    """The bidi Query in the wire format: the RequestStreamRecord's
    metadata names a live view; the stream serves STATE* +
    END_OF_STREAM, stays open, and a new micro-batch arrives as an
    UPDATEDELTA ResponseStreamRecord whose logOp carries the changed
    group — the reference's snapshot+subscribe composite, protobuf
    edition."""
    import threading
    import time as _time

    from proteus_spark.sources import cdc
    from proteus_spark.streaming.views import SumView

    ev = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (1, 5.0)], "user_id bigint, value double"
    )
    src = cdc.stage_stream(spark, ev, chunks=2)
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="t_wire_stream", mode="append",
    ).start()
    try:
        view.await_catch_up()
        engine.register_view("vwire", view.snapshot())
        recs: list = []
        done = threading.Event()
        with h2.GrpcQueryServer(engine, views={"live": view}) as srv:

            def consume():
                # widened quiet window: on a loaded host the gap between
                # END_OF_STREAM and the appended file's micro-batch can
                # exceed the 5s default quiet close, ending the stream
                # with no UPDATEDELTA
                recs.extend(
                    h2.call_query_sql(
                        srv.host,
                        srv.port,
                        "SELECT * FROM vwire ORDER BY user_id",
                        view="live",
                        updates_timeout=30,
                    )
                )
                done.set()

            t = threading.Thread(target=consume, daemon=True)
            t.start()
            # wait until the stream's subscriber is REGISTERED (the
            # engine registers it before the snapshot runs, so any delta
            # from here on is captured — view.version alone is already
            # >0 after catch-up and guarantees nothing about the server)
            t0 = _time.monotonic()
            while not view._subscribers and _time.monotonic() - t0 < 30:
                _time.sleep(0.05)
            assert view._subscribers, "stream subscriber never registered"
            spark.createDataFrame(
                [(2, 7.0)], "user_id bigint, value double"
            ).coalesce(1).write.mode("append").parquet(src.path)
            view._query.processAllAvailable()
            assert done.wait(timeout=90)
        types = [r["type"] for r in recs]
        assert types.count("STATE") == 2
        assert "END_OF_STREAM" in types
        assert types[-1] == "UPDATEDELTA"
        assert [r["sequence_id"] for r in recs] == list(range(len(recs)))
        # UPDATEDELTA carries the StateDelta payload arm (new side only
        # — view deltas surface post-update values); STATE carries
        # ObjectState
        assert "state" in recs[0]["logOp"]["payload"]
        upd = recs[-1]["logOp"]["payload"]["delta"]["new"]["attributes"]
        assert upd["user_id"] == {"int": 2}
        assert upd["value_sum"] == {"flt": 27.0}
    finally:
        view.stop()
        cdc.cleanup(src)


def test_protobuf_ast_query_matches_sql_twin(engine):
    """Socket-level: an ASTQuery (RANGE lb-incl/ub-excl + EQ +
    projection + ORDER BY DESC + LIMIT) over the wire returns exactly
    the rows of its SQL twin — one semantics behind two entry
    representations."""
    ast = {
        "table": "lineitem",
        "projection": ["l_orderkey", "l_quantity"],
        "predicate": [
            {
                "attr": {"attr_key": "l_quantity"},
                "type": "RANGE",
                "lbound": {"flt": 10.0},
                "ubound": {"flt": 12.0},
            },
            {
                "attr": {"attr_key": "l_linenumber"},
                "type": "EQ",
                "lbound": {"int": 1},
                "ubound": {"int": 1},
            },
        ],
        "orderBy": {"attributeName": "l_orderkey", "direction": "DESC"},
        "limit": 4,
    }
    with h2.GrpcQueryServer(engine) as srv:
        recs = h2.call_ast(srv.host, srv.port, ast)
    assert [r["type"] for r in recs][-1] == "END_OF_STREAM"
    got = [
        r["logOp"]["payload"]["state"]["attributes"]
        for r in recs
        if r["type"] == "STATE"
    ]
    twin = engine.query_unary(
        "SELECT l_orderkey, l_quantity FROM lineitem "
        "WHERE l_quantity >= 10.0 AND l_quantity < 12.0 "
        "AND l_linenumber = 1 ORDER BY l_orderkey DESC LIMIT 4"
    )
    assert len(got) == len(twin) == 4
    for g, t in zip(got, twin):
        assert str(g["l_orderkey"]["int"]) == t["l_orderkey"]
        assert str(g["l_quantity"]["flt"]) == t["l_quantity"]
    # STATE records carry the source table as the bucket
    assert recs[0]["logOp"]["bucket"] == "lineitem"


def test_protobuf_error_maps_to_grpc_status(engine):
    with h2.GrpcQueryServer(engine) as srv:
        with pytest.raises(RuntimeError, match="grpc-status"):
            h2.call_unary(srv.host, srv.port, "SELECT * FROM no_such_table")
        # the call error must not wedge the server: a good query on a
        # FRESH connection still answers
        ok = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert ok["respRecord"][0]["attributes"] == {"one": "1"}


def test_protobuf_midstream_failure_closes_connection_not_status_line(engine):
    """A failure AFTER the stream has produced records (e.g. in the
    view-update phase of a stream) must never surface in-band, where it
    would interleave into the frame stream: it ends the stream with a
    non-zero grpc-status in the closing HEADERS block, leaving only
    whole gRPC frames in the DATA and no END_OF_STREAM record, so the
    client sees an honest truncation. (The same failure after a flushed
    DATA batch is tests/test_h2.py's mid-stream test.)"""
    sql = "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 3"
    req = {"queryRequest": {"query": {"query_sql": {"queryStr": sql}}}}
    with h2.GrpcQueryServer(_FailAfterFirstRecord(engine)) as srv:
        cli = h2._H2Client(srv.host, srv.port)
        try:
            _hdrs, data, trailers = cli.request(
                "Query", wire.frame(wire.encode_request_stream_record(req))
            )
        finally:
            cli.close()
        assert dict(trailers)["grpc-status"] == "13"
        # whatever made it out is whole frames, none of them END_OF_STREAM
        rdr = io.BytesIO(data)
        types = []
        while (body := wire.read_frame(rdr)) is not None:  # raises if torn
            types.append(wire.decode_response_stream_record(body)["type"])
        assert "END_OF_STREAM" not in types
        # and the failed stream must not wedge the server for new conns
        ok = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert ok["respRecord"][0]["attributes"] == {"one": "1"}


def test_client_helpers_raise_on_eof_before_end_of_stream(engine):
    """A mid-stream server failure must make the bundled client FAIL
    LOUDLY, never return the PARTIAL records that reached it."""
    sql = "SELECT l_orderkey FROM lineitem ORDER BY l_orderkey LIMIT 3"
    with h2.GrpcQueryServer(_FailAfterFirstRecord(engine)) as srv:
        with pytest.raises(RuntimeError, match="grpc-status"):
            h2.call_query_sql(srv.host, srv.port, sql)


def test_ast_query_roundtrip_and_golden():
    """ASTQuery (the reference's internal query form): full round-trip
    incl. predicates/tsPredicate/orderBy/limit, plus a golden encoding
    of the minimal table+limit form (table=field 1 LEN, limit=field 6
    varint: 0x30)."""
    assert (
        wire.encode_ast_query({"table": "t", "limit": 5})
        == b"\x0a\x01t\x30\x05"
    )
    ast = {
        "table": "orders",
        "projection": ["o_orderkey", "o_totalprice"],
        "predicate": [
            {
                "attr": {"attr_key": "o_totalprice"},
                "type": "RANGE",
                "lbound": {"flt": 100.0},
                "ubound": {"flt": 200.0},
            },
            {"attr": {"attr_key": "o_comment"}, "type": "ISNOTNULL"},
        ],
        "tsPredicate": {
            "lbound": {"type": "LATEST", "isClosed": True},
            "ubound": {"type": "LATEST", "isClosed": True},
        },
        "orderBy": {"attributeName": "o_totalprice", "direction": "DESC"},
        "limit": 7,
    }
    got = wire.decode_ast_query(wire.encode_ast_query(ast))
    assert got == ast
    # the AST arm rides the Query envelope both ways
    env = {"queryRequest": {"query": {"query_ast": ast}}}
    got_env = wire.decode_request_stream_record(
        wire.encode_request_stream_record(env)
    )
    assert got_env["queryRequest"]["query"]["query_ast"] == ast


def test_ast_query_predicates_push_to_scan(spark, engine):
    """The AST arm must be as 100 TB-ready as its SQL twin: the
    translated plan pushes the RANGE predicate to the parquet scan
    (PushedFilters) and prunes the read schema to the projection — the
    declarative translation hands Catalyst the same opportunities the
    SQL path gets."""
    from proteus_spark.plans.astq import ast_query

    df = ast_query(
        spark,
        {
            "table": "lineitem",
            "projection": ["l_orderkey", "l_quantity"],
            "predicate": [
                {
                    "attr": {"attr_key": "l_quantity"},
                    "type": "RANGE",
                    "lbound": {"flt": 10.0},
                    "ubound": {"flt": 20.0},
                }
            ],
        },
    )
    jvm = spark._jvm
    p = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "GreaterThanOrEqual(l_quantity,10" in p
    assert "LessThan(l_quantity,20" in p
    assert "struct<l_orderkey:bigint,l_quantity:double>" in p


def test_typed_value_mapping():
    """qpu.Value arm selection from raw Python values: int32-ranged
    ints -> int, floats -> flt, out-of-range ints / bools / None /
    strings -> the string arm (Value.int is proto int32; the
    reference's own schema cannot carry wider integers either)."""
    assert wire._typed_value(7) == {"int": 7}
    assert wire._typed_value(-(2**31)) == {"int": -(2**31)}
    assert wire._typed_value(2**31) == {"str": str(2**31)}
    assert wire._typed_value(2.5) == {"flt": 2.5}
    assert wire._typed_value(True) == {"str": "True"}
    assert wire._typed_value(None) == {"str": ""}
    assert wire._typed_value("x") == {"str": "x"}


def test_forged_length_prefix_rejected_and_server_survives():
    """A forged 5-byte length prefix must not drive a giant allocation:
    read_frame raises above MAX_MESSAGE_BYTES. The server half (the
    violating stream fails, the server keeps serving) is
    tests/test_h2.py::test_grpc_forged_length_prefix_rejected_server_survives."""
    import struct

    huge = struct.pack(">BI", 0, (1 << 32) - 1)
    with pytest.raises(ValueError, match="exceeds limit"):
        wire.read_frame(io.BytesIO(huge + b"x"))
    # at the limit boundary the length itself is accepted (payload short
    # here, so truncation is the error — not the limit)
    ok_len = struct.pack(">BI", 0, wire.MAX_MESSAGE_BYTES)
    with pytest.raises(ValueError, match="truncated frame payload"):
        wire.read_frame(io.BytesIO(ok_len))


def test_updates_timeout_metadata_parse_and_clamp():
    """The per-request quiet-close window rides QueryRequest.metadata as
    a string (parity with the NDJSON server's request-level knob) and is
    intake-bounded by the one shared clamp the gRPC handler calls on the
    metadata value: [0, 300], absent or malformed -> the 5s default."""
    from proteus_spark.engine import clamp_updates_timeout

    cases = [
        ({}, 5.0),
        ({"updates_timeout": "45"}, 45.0),
        ({"updates_timeout": "0"}, 0.0),
        ({"updates_timeout": "1e9"}, 300.0),
        ({"updates_timeout": "-3"}, 0.0),
        ({"updates_timeout": "bogus"}, 5.0),
        # non-finite floats survive min/max clamping unchanged and
        # Queue.get(timeout=nan) blocks forever — they must fall back to
        # the default like any other malformed value (ADVICE r14)
        ({"updates_timeout": "nan"}, 5.0),
        ({"updates_timeout": "inf"}, 5.0),
        ({"updates_timeout": "-inf"}, 5.0),
    ]
    for meta, want in cases:
        assert clamp_updates_timeout(meta.get("updates_timeout")) == want
    # the NDJSON server and Engine.query_stream ride the same clamp
    assert clamp_updates_timeout(float("nan")) == 5.0
    assert clamp_updates_timeout("inf") == 5.0
    assert clamp_updates_timeout(1e12) == 300.0
    assert clamp_updates_timeout(None) == 5.0
    assert clamp_updates_timeout("45") == 45.0
    # the client helper threads it through the metadata map verbatim
    enc = wire.encode_request_stream_record(
        {"queryRequest": {"query": {"query_sql": {"queryStr": "SELECT 1"}},
                          "metadata": {"view": "live",
                                       "updates_timeout": "60"}}}
    )
    dec = wire.decode_request_stream_record(enc)["queryRequest"]
    assert dec["metadata"]["updates_timeout"] == "60"
    assert clamp_updates_timeout(dec["metadata"].get("updates_timeout")) == 60.0
