"""HTTP/2 + gRPC envelope parity, and the protobuf serving path end to
end: HPACK is pinned against RFC 7541's own Appendix C vectors
byte-for-byte (not just round-trips), ``GrpcQueryServer`` is driven
end-to-end against a live Engine, and — decisively — interop is proven
against REAL libnghttp2 clients (curl POST round-trip, nghttp with
verbose trailer capture) when those binaries are present."""

from __future__ import annotations

import io
import shutil
import socket
import struct
import subprocess

import pytest

from proteus_spark import h2, wire
from proteus_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine(spark, sf_dir)


# ---------------------------------------------------------------------------
# HPACK: RFC 7541 Appendix C golden vectors
# ---------------------------------------------------------------------------


def test_hpack_integers_rfc_c1():
    assert h2.hpack_encode_int(10, 5) == bytes([0x0A])
    assert h2.hpack_encode_int(1337, 5) == bytes([0x1F, 0x9A, 0x0A])
    assert h2.hpack_encode_int(42, 8) == bytes([42])
    for n in (0, 9, 31, 32, 1337, 2**20):
        for bits in (4, 5, 6, 7, 8):
            buf = h2.hpack_encode_int(n, bits)
            val, pos = h2.hpack_decode_int(buf, 0, bits)
            assert (val, pos) == (n, len(buf))


def test_huffman_rfc_goldens():
    cases = {
        b"www.example.com": "f1e3c2e5f23a6ba0ab90f4ff",
        b"no-cache": "a8eb10649cbf",
        b"custom-key": "25a849e95ba97d7f",
        b"custom-value": "25a849e95bb8e8b4bf",
        b"302": "6402",
        b"private": "aec3771a4b",
        b"Mon, 21 Oct 2013 20:13:21 GMT":
            "d07abe941054d444a8200595040b8166e082a62d1bff",
        b"https://www.example.com": "9d29ad171863c78f0b97c8e9ae82ae43d3",
        b"307": "640eff",
        b"gzip": "9bd9ab",
        b"foo=ASDJKHQKBZXOQWEOPIUAXQWEOIU; max-age=3600; version=1":
            "94e7821dd7f2e6c7b335dfdfcd5b3960d5af27087f3672c1ab270fb5291f95"
            "87316065c003ed4ee5b1063d5007",
    }
    for raw, want in cases.items():
        assert h2.huffman_encode(raw).hex() == want
        assert h2.huffman_decode(bytes.fromhex(want)) == raw


def test_huffman_totality_and_padding():
    all_bytes = bytes(range(256))
    assert h2.huffman_decode(h2.huffman_encode(all_bytes)) == all_bytes
    assert h2.huffman_encode(b"") == b""
    assert h2.huffman_decode(b"") == b""
    with pytest.raises(ValueError):  # zero-bit padding is invalid
        h2.huffman_decode(bytes.fromhex("f1e3c2e5f23a6ba0ab90f400"))


def test_hpack_request_sequence_rfc_c3_plain():
    """C.3: three requests on one connection WITHOUT Huffman — pins the
    dynamic-table evolution (indices shift as entries are added)."""
    enc = h2.HpackEncoder(huffman=False)
    dec = h2.HpackDecoder()
    reqs = [
        [(":method", "GET"), (":scheme", "http"), (":path", "/"),
         (":authority", "www.example.com")],
        [(":method", "GET"), (":scheme", "http"), (":path", "/"),
         (":authority", "www.example.com"), ("cache-control", "no-cache")],
        [(":method", "GET"), (":scheme", "https"), (":path", "/index.html"),
         (":authority", "www.example.com"), ("custom-key", "custom-value")],
    ]
    wants = [
        "828684410f7777772e6578616d706c652e636f6d",
        "828684be58086e6f2d6361636865",
        "828785bf400a637573746f6d2d6b65790c637573746f6d2d76616c7565",
    ]
    for req, want in zip(reqs, wants):
        block = enc.encode(req)
        assert block.hex() == want
        assert dec.decode(block) == req
    # table state after the sequence (C.3.3): 3 entries, 164 bytes
    assert enc.table.size == dec.table.size == 164
    assert dec.table.entries[0] == ("custom-key", "custom-value")


def test_hpack_request_sequence_rfc_c4_huffman():
    enc = h2.HpackEncoder(huffman=True)
    dec = h2.HpackDecoder()
    reqs = [
        [(":method", "GET"), (":scheme", "http"), (":path", "/"),
         (":authority", "www.example.com")],
        [(":method", "GET"), (":scheme", "http"), (":path", "/"),
         (":authority", "www.example.com"), ("cache-control", "no-cache")],
        [(":method", "GET"), (":scheme", "https"), (":path", "/index.html"),
         (":authority", "www.example.com"), ("custom-key", "custom-value")],
    ]
    wants = [
        "828684418cf1e3c2e5f23a6ba0ab90f4ff",
        "828684be5886a8eb10649cbf",
        "828785bf408825a849e95ba97d7f8925a849e95bb8e8b4bf",
    ]
    for req, want in zip(reqs, wants):
        block = enc.encode(req)
        assert block.hex() == want
        assert dec.decode(block) == req


def test_hpack_response_sequence_rfc_c5_eviction():
    """C.5: three responses with a 256-byte table — the third evicts;
    index arithmetic after eviction is where sloppy tables break."""
    enc = h2.HpackEncoder(max_table_size=256, huffman=False)
    dec = h2.HpackDecoder(max_table_size=256)
    resps = [
        [(":status", "302"), ("cache-control", "private"),
         ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
         ("location", "https://www.example.com")],
        [(":status", "307"), ("cache-control", "private"),
         ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
         ("location", "https://www.example.com")],
        [(":status", "200"), ("cache-control", "private"),
         ("date", "Mon, 21 Oct 2013 20:13:22 GMT"),
         ("location", "https://www.example.com"),
         ("content-encoding", "gzip"),
         ("set-cookie",
          "foo=ASDJKHQKBZXOQWEOPIUAXQWEOIU; max-age=3600; version=1")],
    ]
    wants = [
        "4803333032580770726976617465611d4d6f6e2c203231204f637420323031"
        "332032303a31333a323120474d546e1768747470733a2f2f7777772e657861"
        "6d706c652e636f6d",
        "4803333037c1c0bf",
        "88c1611d4d6f6e2c203231204f637420323031332032303a31333a32322047"
        "4d54c05a04677a69707738666f6f3d4153444a4b48514b425a584f5157454f"
        "50495541585157454f49553b206d61782d6167653d333630303b2076657273"
        "696f6e3d31",
    ]
    for resp, want in zip(resps, wants):
        block = enc.encode(resp)
        assert block.hex() == want
        assert dec.decode(block) == resp
    # C.5.3 table state: 3 entries, 215 bytes
    assert enc.table.size == dec.table.size == 215


def test_hpack_response_sequence_rfc_c6_huffman():
    enc = h2.HpackEncoder(max_table_size=256, huffman=True)
    dec = h2.HpackDecoder(max_table_size=256)
    resps = [
        [(":status", "302"), ("cache-control", "private"),
         ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
         ("location", "https://www.example.com")],
        [(":status", "307"), ("cache-control", "private"),
         ("date", "Mon, 21 Oct 2013 20:13:21 GMT"),
         ("location", "https://www.example.com")],
    ]
    wants = [
        "488264025885aec3771a4b6196d07abe941054d444a8200595040b8166e082"
        "a62d1bff6e919d29ad171863c78f0b97c8e9ae82ae43d3",
        "4883640effc1c0bf",
    ]
    for resp, want in zip(resps, wants):
        block = enc.encode(resp)
        assert block.hex() == want
        assert dec.decode(block) == resp


def test_hpack_table_size_update_and_unknown_index():
    dec = h2.HpackDecoder()
    # size update to 0 evicts everything (0x20 | size with 5-bit prefix)
    dec.decode(bytes.fromhex("400a637573746f6d2d6b65790c637573746f6d2d76616c7565"))
    assert dec.table.entries
    dec.decode(bytes([0x20]))
    assert not dec.table.entries
    with pytest.raises(ValueError):
        dec.decode(bytes([0x80 | 127, 0x80, 0x01]))  # way out of table


def test_hpack_table_size_update_above_settings_limit_rejected():
    # RFC 7541 §4.2: an update above the advertised
    # SETTINGS_HEADER_TABLE_SIZE is a decoding error, not a grant —
    # accepting it would let a peer grow decoder memory without bound.
    dec = h2.HpackDecoder(max_table_size=4096)
    # at the limit: fine (0x20 | 5-bit-prefix int 4096)
    dec.decode(h2.hpack_encode_int(4096, 5, 0x20))
    assert dec.table.max_size == 4096
    # one above: connection error
    with pytest.raises(ValueError, match="SETTINGS_HEADER_TABLE_SIZE"):
        dec.decode(h2.hpack_encode_int(4097, 5, 0x20))
    assert dec.table.max_size == 4096  # unchanged by the rejected update
    # shrink-then-regrow within the limit stays legal
    dec.decode(h2.hpack_encode_int(0, 5, 0x20))
    assert dec.table.max_size == 0
    dec.decode(h2.hpack_encode_int(256, 5, 0x20))
    assert dec.table.max_size == 256


# ---------------------------------------------------------------------------
# Framing
# ---------------------------------------------------------------------------


def test_frame_pack_golden():
    # 9-byte header: len=3, type=DATA(0), flags=END_STREAM, stream 1
    raw = h2.pack_frame(h2.F_DATA, h2.FLAG_END_STREAM, 1, b"abc")
    assert raw == bytes.fromhex("000003000100000001") + b"abc"
    # SETTINGS ack: empty payload, type 4, flags 1, stream 0
    assert h2.pack_frame(h2.F_SETTINGS, h2.FLAG_ACK, 0, b"") == bytes.fromhex(
        "000000040100000000"
    )


# ---------------------------------------------------------------------------
# End-to-end over the in-module client (genuine HTTP/2 on the socket)
# ---------------------------------------------------------------------------


def test_server_advertises_enforced_intake_settings(engine):
    """RFC 9113 §6.5.2: the server's initial SETTINGS advertises the
    intake bounds it enforces (MAX_CONCURRENT_STREAMS mirrors the
    enforcement constant; MAX_HEADER_LIST_SIZE the decoded-list cap), so
    conforming peers never trip them and a peer that does is hostile by
    definition."""
    with h2.GrpcQueryServer(engine) as srv:
        sk = socket.create_connection((srv.host, srv.port), timeout=10)
        sk.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b""))
        hdr = sk.recv(9)
        length = int.from_bytes(hdr[:3], "big")
        assert hdr[3] == h2.F_SETTINGS and not hdr[4] & h2.FLAG_ACK
        payload = b""
        while len(payload) < length:
            payload += sk.recv(length - len(payload))
        sk.close()
        got = {
            int.from_bytes(payload[o : o + 2], "big"):
                int.from_bytes(payload[o + 2 : o + 6], "big")
            for o in range(0, len(payload), 6)
        }
        assert got[h2.SETTINGS_MAX_CONCURRENT_STREAMS] == h2.MAX_CONCURRENT_STREAMS
        # the advertised value, the HpackDecoder default, and this pin all
        # read the ONE module constant (ADVICE r12: no silent drift)
        assert got[h2.SETTINGS_MAX_HEADER_LIST_SIZE] == h2.MAX_HEADER_LIST
        assert h2.HpackDecoder().max_header_list == h2.MAX_HEADER_LIST


def test_grpc_unary_end_to_end(engine):
    sql = (
        "SELECT o_orderkey AS id, o_totalprice FROM orders "
        "ORDER BY o_totalprice DESC LIMIT 3"
    )
    with h2.GrpcQueryServer(engine) as srv:
        resp = h2.call_unary(srv.host, srv.port, sql)
    want = engine.query_unary(sql)
    got = [r["attributes"] for r in resp["respRecord"]]
    assert got == want
    # record ids are the row ordinals
    assert [r["record_id"] for r in resp["respRecord"]] == ["0", "1", "2"]


def test_grpc_query_bidi_sql_and_ast(engine):
    ast = {
        "table": "nation",
        "projection": ["n_nationkey", "n_name"],
        "predicate": [
            {
                "attr": {"attr_key": "n_regionkey"},
                "type": "EQ",
                "lbound": {"int": 1},
                "ubound": {"int": 1},
            }
        ],
        "orderBy": {"attributeName": "n_nationkey", "direction": "ASC"},
        "limit": 3,
    }
    # RANGE is lb-inclusive / ub-exclusive and DESC orders: bound the
    # range by region 1's second and last nation keys, so both bounds
    # hit a row — the lower one is kept, the upper one dropped
    keys = [
        int(r["n_nationkey"])
        for r in engine.query_unary(
            "SELECT n_nationkey FROM nation WHERE n_regionkey = 1 "
            "ORDER BY n_nationkey"
        )
    ]
    ranged = dict(
        ast,
        predicate=ast["predicate"] + [
            {
                "attr": {"attr_key": "n_nationkey"},
                "type": "RANGE",
                "lbound": {"int": keys[1]},
                "ubound": {"int": keys[-1]},
            }
        ],
        orderBy={"attributeName": "n_nationkey", "direction": "DESC"},
        limit=10,
    )
    with h2.GrpcQueryServer(engine) as srv:
        recs = h2.call_query_sql(
            srv.host,
            srv.port,
            "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1 "
            "ORDER BY n_nationkey LIMIT 3",
        )
        ast_recs = h2.call_ast(srv.host, srv.port, ast)
        ranged_recs = h2.call_ast(srv.host, srv.port, ranged)
    assert recs[-1]["type"] == "END_OF_STREAM"
    assert ast_recs[-1]["type"] == "END_OF_STREAM"

    def attrs(r):
        st = r["logOp"]["payload"]["state"]["attributes"]
        return {k: v.get("int", v.get("str")) for k, v in st.items()}

    assert [attrs(r) for r in recs[:-1]] == [attrs(r) for r in ast_recs[:-1]]
    assert len(recs) == 4
    for rs in (recs, ast_recs):
        assert [r["sequence_id"] for r in rs] == [0, 1, 2, 3]
        # STATE records carry TYPED ObjectState Values (the reference's
        # qpu.Value oneof): an int32-ranged bigint rides the int arm
        st = rs[0]["logOp"]["payload"]["state"]["attributes"]
        assert list(st["n_nationkey"]) == ["int"]
    # AST STATE records carry the source table as the bucket
    assert {r["logOp"]["bucket"] for r in ast_recs[:-1]} == {"nation"}
    twin = engine.query_unary(
        "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 1 "
        f"AND n_nationkey >= {keys[1]} AND n_nationkey < {keys[-1]} "
        "ORDER BY n_nationkey DESC"
    )
    assert [attrs(r) for r in ranged_recs[:-1]] == [
        {"n_nationkey": int(t["n_nationkey"]), "n_name": t["n_name"]}
        for t in twin
    ]
    assert [int(t["n_nationkey"]) for t in twin] == keys[-2:0:-1]


def test_grpc_ast_vectorclock_bound_rejected(engine):
    """A VECTORCLOCK snapshot bound addresses a versioned view, not a
    batch table — the server must reject it loudly (INVALID_ARGUMENT),
    never silently serve LATEST."""
    ast = {
        "table": "lineitem",
        "limit": 1,
        "tsPredicate": {"lbound": {"type": "VECTORCLOCK"}},
    }
    with h2.GrpcQueryServer(engine) as srv:
        with pytest.raises(RuntimeError, match="grpc-status 3"):
            h2.call_ast(srv.host, srv.port, ast)


def test_grpc_query_unknown_view_is_invalid_argument(engine):
    """A ``view`` metadata key naming no served view fails with
    INVALID_ARGUMENT — it must not degrade into a plain snapshot stream
    whose client never learns it has no subscription (the NDJSON server
    answers the same request with 400)."""
    with h2.GrpcQueryServer(engine, views={}) as srv:
        with pytest.raises(RuntimeError, match="grpc-status 3.*unknown view"):
            h2.call_query_sql(
                srv.host, srv.port,
                "SELECT r_name FROM region ORDER BY r_name", view="nope",
            )


def test_grpc_subscribe_and_config(engine):
    with h2.GrpcQueryServer(engine) as srv:
        recs = h2.call_subscribe(
            srv.host, srv.port, "SELECT r_name FROM region ORDER BY r_name"
        )
        cfg = h2.call_get_config(srv.host, srv.port)
    assert recs[-1]["type"] == "END_OF_STREAM"
    assert len(recs) == 6  # 5 regions + END_OF_STREAM
    assert cfg["qpu_type"] == "DATASTORE_DRIVER"
    assert {"region", "lineitem", "orders"} <= set(cfg["schema"])


def test_grpc_error_maps_to_trailers_only(engine):
    with h2.GrpcQueryServer(engine) as srv:
        with pytest.raises(RuntimeError) as exc:
            h2.call_unary(srv.host, srv.port, "SELECT * FROM no_such_table")
        assert "grpc-status 3" in str(exc.value)
        with pytest.raises(RuntimeError) as exc2:
            h2.call_unary(srv.host, srv.port, "NOT EVEN SQL ((")
        assert "grpc-status 3" in str(exc2.value)
        # the failed calls must not wedge the server: a good query on a
        # FRESH connection still answers
        ok = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert ok["respRecord"][0]["attributes"] == {"one": "1"}


def test_grpc_midstream_failure_ends_with_error_trailers(engine):
    """A failure AFTER response DATA has gone out (e.g. in the
    view-update phase of a stream) ends the stream with a non-zero
    grpc-status trailer: the DATA sent holds only whole gRPC frames and
    no END_OF_STREAM record, the client helper raises instead of
    returning partial results, and the server serves the next call."""

    class _FlakyEngine:
        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def query_stream(self, sql, view=None, typed=False, **kw):
            it = self._inner.query_stream(sql, view=view, typed=typed, **kw)

            def gen():
                for item in it:
                    if item[1] == "END_OF_STREAM":
                        raise RuntimeError("simulated mid-stream failure")
                    yield item

            return gen()

    # ~130 KB of STATE records: the snapshot flushes at least one
    # 64 KB DATA batch before the failure
    sql = (
        "SELECT l_orderkey AS id, repeat(l_returnflag, 100) AS pad "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1000"
    )
    req = {"queryRequest": {"query": {"query_sql": {"queryStr": sql}}}}
    with h2.GrpcQueryServer(_FlakyEngine(engine)) as srv:
        cli = h2._H2Client(srv.host, srv.port)
        try:
            _h, data, trailers = cli.request(
                "Query", wire.frame(wire.encode_request_stream_record(req))
            )
        finally:
            cli.close()
        assert dict(trailers)["grpc-status"] == "13"
        assert data, "no DATA before the failure; raise LIMIT"
        rdr = io.BytesIO(data)
        types = []
        while (body := wire.read_frame(rdr)) is not None:  # raises if torn
            types.append(wire.decode_response_stream_record(body)["type"])
        assert set(types) == {"STATE"}
        with pytest.raises(RuntimeError, match="grpc-status 13"):
            h2.call_query_sql(srv.host, srv.port, sql)
        ok = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert ok["respRecord"][0]["attributes"] == {"one": "1"}


def test_grpc_forged_length_prefix_rejected_server_survives(engine):
    """A forged 5-byte gRPC length prefix inside a DATA frame must not
    drive a giant allocation: the call fails with INVALID_ARGUMENT and
    the server keeps serving."""
    huge = struct.pack(">BI", 0, (1 << 32) - 1) + b"x"
    with h2.GrpcQueryServer(engine) as srv:
        cli = h2._H2Client(srv.host, srv.port)
        try:
            _h, _d, trailers = cli.request("QueryUnary", huge)
        finally:
            cli.close()
        assert dict(trailers)["grpc-status"] == "3"
        assert "exceeds limit" in dict(trailers)["grpc-message"]
        ok = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert ok["respRecord"][0]["attributes"] == {"one": "1"}


def test_client_raises_when_server_closes_after_response_headers():
    """A server that sends the response HEADERS and then closes must
    make the client raise, never decode an empty response."""
    import threading

    lsock = socket.create_server(("127.0.0.1", 0))
    host, port = lsock.getsockname()[:2]

    def serve():
        conn, _ = lsock.accept()
        rf = conn.makefile("rb")
        h2.read_exact(rf, len(h2.PREFACE))
        # read the whole request so the close is a clean FIN, not a RST
        while True:
            length, ftype, flags, _sid = h2.read_frame_header(rf)
            h2.read_exact(rf, length)
            if ftype == h2.F_DATA and flags & h2.FLAG_END_STREAM:
                break
        block = h2.HpackEncoder().encode(
            [(":status", "200"), ("content-type", "application/grpc")]
        )
        conn.sendall(h2.pack_frame(h2.F_HEADERS, h2.FLAG_END_HEADERS, 1, block))
        conn.shutdown(socket.SHUT_RDWR)
        rf.close()
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    try:
        with pytest.raises(RuntimeError, match="connection closed mid-response"):
            h2.call_unary(host, port, "SELECT 1 AS one")
        t.join(timeout=10)
        assert not t.is_alive()
    finally:
        lsock.close()


def test_grpc_unknown_method_and_service(engine):
    with h2.GrpcQueryServer(engine) as srv:
        cli = h2._H2Client(srv.host, srv.port)
        try:
            _h, _d, trailers = cli.request("NoSuchMethod", wire.frame(b""))
        finally:
            cli.close()
        assert dict(trailers)["grpc-status"] == "12"  # UNIMPLEMENTED


def test_grpc_multiplexed_streams_one_connection(engine):
    """Two concurrent streams on ONE connection: stream 3's response
    must not corrupt stream 1's (HEADERS/DATA interleave by stream id,
    one shared HPACK context in connection order)."""
    sqls = {
        1: "SELECT count(*) AS n FROM orders",
        3: "SELECT count(*) AS n FROM lineitem",
    }
    with h2.GrpcQueryServer(engine) as srv:
        sock = socket.create_connection((srv.host, srv.port), timeout=30)
        rf = sock.makefile("rb")
        enc = h2.HpackEncoder()
        dec = h2.HpackDecoder()
        sock.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b""))
        for sid, sql in sqls.items():
            hdrs = [
                (":method", "POST"), (":scheme", "http"),
                (":path", "/qpuapi.QPUAPI/QueryUnary"),
                (":authority", "localhost"),
                ("content-type", "application/grpc"),
            ]
            sock.sendall(
                h2.pack_frame(
                    h2.F_HEADERS, h2.FLAG_END_HEADERS, sid, enc.encode(hdrs)
                )
                + h2.pack_frame(
                    h2.F_DATA,
                    h2.FLAG_END_STREAM,
                    sid,
                    wire.frame(wire.encode_query_req({"queryStr": sql})),
                )
            )
        data: dict[int, bytearray] = {1: bytearray(), 3: bytearray()}
        done: dict[int, dict] = {}
        while len(done) < 2:
            fh = h2.read_frame_header(rf)
            assert fh is not None
            length, ftype, flags, sid = fh
            payload = h2.read_exact(rf, length)
            if ftype == h2.F_SETTINGS and not flags & h2.FLAG_ACK:
                sock.sendall(h2.pack_frame(h2.F_SETTINGS, h2.FLAG_ACK, 0, b""))
            elif ftype == h2.F_HEADERS:
                hdrs = dict(dec.decode(payload))
                if "grpc-status" in hdrs:
                    done[sid] = hdrs
            elif ftype == h2.F_DATA:
                data[sid] += payload
        rf.close()
        sock.close()
    assert done[1]["grpc-status"] == "0" and done[3]["grpc-status"] == "0"

    def count(sid):
        resp = wire.decode_query_resp(
            wire.read_frame(io.BytesIO(bytes(data[sid])))
        )
        return resp["respRecord"][0]["attributes"]["n"]

    assert int(count(1)) == 1500  # sf0.001 orders
    assert int(count(3)) == 6000  # sf0.001 lineitem


def test_grpc_flow_control_window_exhaustion(engine):
    """A response larger than the 65535-byte connection window: the
    server must STOP at the window edge and resume only on
    WINDOW_UPDATE — proves send-side flow control is honest, not
    fire-and-forget."""
    sql = (
        "SELECT l_orderkey AS id, repeat(l_returnflag, 100) AS pad "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 2000"
    )
    with h2.GrpcQueryServer(engine) as srv:
        sock = socket.create_connection((srv.host, srv.port), timeout=5)
        enc, dec = h2.HpackEncoder(), h2.HpackDecoder()
        sock.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b""))
        hdrs = [
            (":method", "POST"), (":scheme", "http"),
            (":path", "/qpuapi.QPUAPI/QueryUnary"),
            (":authority", "localhost"),
            ("content-type", "application/grpc"),
        ]
        sock.sendall(
            h2.pack_frame(h2.F_HEADERS, h2.FLAG_END_HEADERS, 1, enc.encode(hdrs))
            + h2.pack_frame(
                h2.F_DATA, h2.FLAG_END_STREAM, 1,
                wire.frame(wire.encode_query_req({"queryStr": sql})),
            )
        )
        # timeout-safe reader: accumulate raw bytes, parse whole frames
        # from the blob (a buffered makefile read can DROP bytes when a
        # recv times out mid-read; a plain byte accumulator cannot)
        blob = bytearray()
        got = bytearray()
        trailers = None
        stalled_at = None
        while trailers is None:
            if len(blob) >= 9:
                length = int.from_bytes(blob[:3], "big")
                if len(blob) >= 9 + length:
                    ftype, flags = blob[3], blob[4]
                    sid = int.from_bytes(blob[5:9], "big") & 0x7FFFFFFF
                    payload = bytes(blob[9 : 9 + length])
                    del blob[: 9 + length]
                    if ftype == h2.F_SETTINGS and not flags & h2.FLAG_ACK:
                        sock.sendall(
                            h2.pack_frame(h2.F_SETTINGS, h2.FLAG_ACK, 0, b"")
                        )
                    elif ftype == h2.F_HEADERS:
                        t = dict(dec.decode(payload))
                        if "grpc-status" in t:
                            trailers = t
                    elif ftype == h2.F_DATA and sid == 1:
                        got += payload
                    continue
            try:
                chunk = sock.recv(65536)
            except TimeoutError:
                # window exhausted: the server is (correctly) blocked.
                assert stalled_at is None  # only one stall expected
                stalled_at = len(got)
                assert stalled_at <= 65535
                upd = struct.pack(">I", 1 << 20)
                sock.sendall(
                    h2.pack_frame(h2.F_WINDOW_UPDATE, 0, 0, upd)
                    + h2.pack_frame(h2.F_WINDOW_UPDATE, 0, 1, upd)
                )
                continue
            assert chunk, "server closed mid-response"
            blob += chunk
        sock.close()
    assert trailers["grpc-status"] == "0"
    assert stalled_at is not None, "response fit the window; raise LIMIT"
    resp = wire.decode_query_resp(
        wire.read_frame(io.BytesIO(bytes(got)))
    )
    assert len(resp["respRecord"]) == 2000


def test_grpc_query_with_live_view_pushes_updatedelta(spark, engine):
    """The snapshot+subscribe composite over GENUINE gRPC: STATE* +
    END_OF_STREAM, the stream stays open, and a landing micro-batch
    arrives as an UPDATEDELTA ResponseStreamRecord in a later DATA
    frame before the grpc-status trailer closes the stream."""
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
        name="t_h2_stream", mode="append",
    ).start()
    try:
        view.await_catch_up()
        engine.register_view("vh2", view.snapshot())
        recs: list = []
        done = threading.Event()
        with h2.GrpcQueryServer(engine, views={"live": view}) as srv:

            def consume():
                # widened quiet window: the 5s default can close the
                # stream before a loaded host lands the appended file's
                # micro-batch (observed under a synthetic query-sweep
                # load); the client reads to trailers, so it pays the
                # quiet tail — keep it modest
                recs.extend(
                    h2.call_query_sql(
                        srv.host, srv.port,
                        "SELECT * FROM vh2 ORDER BY user_id",
                        view="live",
                        updates_timeout=30,
                    )
                )
                done.set()

            t = threading.Thread(target=consume, daemon=True)
            t.start()
            # wait for the stream's subscriber to REGISTER (registered
            # before the snapshot runs, so any later delta is captured;
            # view.version is already >0 after catch-up and guarantees
            # nothing about the server's progress)
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


def test_client_read_timeout_outlasts_the_quiet_window(monkeypatch):
    """A ``Query`` with an ``updates_timeout`` window may leave the
    connection silent for the whole window after its last push, so the
    client's read timeout is the window (clamped as the server clamps
    it) plus the fixed 30 s; every other call keeps the fixed 30 s. The
    derived value reaches the socket."""
    seen: list[float] = []

    def record(host, port, method, req, timeout=h2._READ_TIMEOUT_S):
        seen.append(timeout)
        return []

    monkeypatch.setattr(h2, "_grpc_call", record)
    h2.call_query_sql("h", 1, "SELECT 1", view="live", updates_timeout=30)
    h2.call_query_sql("h", 1, "SELECT 1", updates_timeout=1e9)
    h2.call_query_sql("h", 1, "SELECT 1")
    h2.call_subscribe("h", 1, "SELECT 1")
    assert seen == [60.0, 330.0, 30.0, 30.0]

    with socket.socket() as listener:
        listener.bind(("127.0.0.1", 0))
        listener.listen(1)
        cli = h2._H2Client(*listener.getsockname(), timeout=60.0)
        try:
            assert cli.sock.gettimeout() == 60.0
        finally:
            cli.close()


def test_stalled_h2_consumer_cannot_block_view_commit(spark, engine):
    """A gRPC subscriber whose flow-control window is ZERO (never opens
    it) must stall ONLY the server's per-stream handler thread in
    send_data — never the view's foreachBatch: the engine's subscriber
    callback hands deltas to an unbounded queue, so view commits (and
    version bumps) proceed while the consumer is wedged. This is the
    interaction the round-9 stop()-barrier lock and the h2 send path
    newly share; pin it."""
    import threading
    import time as _time

    from proteus_spark.sources import cdc
    from proteus_spark.streaming.views import SumView

    ev = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "user_id bigint, value double"
    )
    src = cdc.stage_stream(spark, ev, chunks=1)
    view = SumView(
        spark, src.subscribe(), group_by="user_id", agg_attr="value",
        name="t_h2_stall", mode="append",
    ).start()
    try:
        view.await_catch_up()
        engine.register_view("vstall", view.snapshot())
        req = {
            "queryRequest": {
                "query": {
                    "query_sql": {
                        "queryStr": "SELECT * FROM vstall ORDER BY user_id"
                    }
                },
                "metadata": {"view": "live"},
            }
        }
        with h2.GrpcQueryServer(engine, views={"live": view}) as srv:
            sock = socket.create_connection((srv.host, srv.port), timeout=5)
            enc = h2.HpackEncoder()
            # SETTINGS_INITIAL_WINDOW_SIZE = 0: every stream starts with
            # a zero send window and we never send WINDOW_UPDATE — the
            # strongest possible consumer stall, legal per RFC 9113 §6.5.2
            settings = struct.pack(
                ">HI", h2.SETTINGS_INITIAL_WINDOW_SIZE, 0
            )
            sock.sendall(
                h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, settings)
            )
            hdrs = [
                (":method", "POST"), (":scheme", "http"),
                (":path", "/qpuapi.QPUAPI/Query"),
                (":authority", "localhost"),
                ("content-type", "application/grpc"),
            ]
            sock.sendall(
                h2.pack_frame(
                    h2.F_HEADERS, h2.FLAG_END_HEADERS, 1, enc.encode(hdrs)
                )
                + h2.pack_frame(
                    h2.F_DATA, h2.FLAG_END_STREAM, 1,
                    wire.frame(wire.encode_request_stream_record(req)),
                )
            )
            # the engine registers the stream's subscriber BEFORE the
            # snapshot runs (and the snapshot's DATA cannot move: window 0)
            t0 = _time.monotonic()
            while not view._subscribers and _time.monotonic() - t0 < 30:
                _time.sleep(0.05)
            assert view._subscribers, "stream subscriber never registered"
            v0 = view.version()
            # land three micro-batches while the consumer is wedged; the
            # view must keep committing. processAllAvailable runs in a
            # worker thread so a wedged foreachBatch FAILS the test
            # instead of hanging it.
            for i in range(3):
                spark.createDataFrame(
                    [(2 + i, 1.0)], "user_id bigint, value double"
                ).coalesce(1).write.mode("append").parquet(src.path)
            ok = threading.Event()

            def drain():
                view._query.processAllAvailable()
                ok.set()

            threading.Thread(target=drain, daemon=True).start()
            assert ok.wait(timeout=120), (
                "view foreachBatch wedged behind the stalled h2 consumer"
            )
            assert view.version() > v0, "no commit while consumer stalled"
            # the wedged consumer's socket closes: the reader loop flips
            # closed and notifies flow, so the handler thread unblocks
            sock.close()
    finally:
        view.stop()
        cdc.cleanup(src)


# ---------------------------------------------------------------------------
# REAL-client interop (libnghttp2): the strongest parity evidence
# ---------------------------------------------------------------------------


@pytest.mark.skipif(shutil.which("curl") is None, reason="curl not present")
def test_curl_http2_grpc_unary_roundtrip(engine, tmp_path):
    """curl --http2-prior-knowledge POSTs a real gRPC request and gets
    the framed QueryResp back — a full round-trip against libnghttp2's
    HPACK encoder (Huffman, dynamic table) and frame layer."""
    sql = "SELECT n_name FROM nation ORDER BY n_nationkey LIMIT 4"
    body = tmp_path / "req.bin"
    body.write_bytes(wire.frame(wire.encode_query_req({"queryStr": sql})))
    with h2.GrpcQueryServer(engine) as srv:
        out = subprocess.run(
            [
                "curl", "-sS", "--http2-prior-knowledge",
                "-X", "POST", "--data-binary", f"@{body}",
                "-H", "Content-Type: application/grpc",
                "-H", "TE: trailers",
                "-o", str(tmp_path / "resp.bin"),
                "-w", "%{http_code} %{http_version}",
                f"http://{srv.host}:{srv.port}/qpuapi.QPUAPI/QueryUnary",
            ],
            capture_output=True, text=True, timeout=60,
        )
    assert out.returncode == 0, out.stderr
    code, version = out.stdout.split()
    assert (code, version) == ("200", "2")
    raw = (tmp_path / "resp.bin").read_bytes()
    resp = wire.decode_query_resp(wire.read_frame(io.BytesIO(raw)))
    names = [r["attributes"]["n_name"] for r in resp["respRecord"]]
    want = [r["n_name"] for r in engine.query_unary(sql)]
    assert len(names) == 4 and names == want


@pytest.mark.skipif(shutil.which("nghttp") is None, reason="nghttp absent")
def test_nghttp_sees_grpc_trailers(engine, tmp_path):
    """nghttp -v prints every frame it receives: assert a REAL client
    observes the response HEADERS (:status 200, grpc content-type), the
    DATA, and the grpc-status trailer frame."""
    sql = "SELECT count(*) AS n FROM region"
    body = tmp_path / "req.bin"
    body.write_bytes(wire.frame(wire.encode_query_req({"queryStr": sql})))
    with h2.GrpcQueryServer(engine) as srv:
        out = subprocess.run(
            [
                "nghttp", "-v", "-d", str(body),
                "-H", "content-type: application/grpc",
                f"http://{srv.host}:{srv.port}/qpuapi.QPUAPI/QueryUnary",
            ],
            capture_output=True, text=True, timeout=60,
        )
    assert out.returncode == 0, out.stderr
    log = out.stdout
    assert ":status: 200" in log
    assert "content-type: application/grpc" in log
    assert "grpc-status: 0" in log  # the trailers HEADERS frame


@pytest.mark.skipif(shutil.which("nghttp") is None, reason="nghttp absent")
def test_nghttp_error_trailers_only(engine, tmp_path):
    body = tmp_path / "req.bin"
    body.write_bytes(
        wire.frame(wire.encode_query_req({"queryStr": "SELECT * FROM nope"}))
    )
    with h2.GrpcQueryServer(engine) as srv:
        out = subprocess.run(
            [
                "nghttp", "-v", "-d", str(body),
                "-H", "content-type: application/grpc",
                f"http://{srv.host}:{srv.port}/qpuapi.QPUAPI/QueryUnary",
            ],
            capture_output=True, text=True, timeout=60,
        )
    assert out.returncode == 0, out.stderr
    assert "grpc-status: 3" in out.stdout  # INVALID_ARGUMENT, Trailers-Only


# ---------------------------------------------------------------------------
# HPACK property tests (hypothesis): the goldens pin spec conformance on
# the RFC's examples; these pin totality — any header sequence survives
# a shared encoder/decoder context
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_name_st = st.one_of(
    st.sampled_from(
        [n for n, _ in h2.HPACK_STATIC]
        + ["grpc-status", "grpc-message", "x-custom", "te"]
    ),
    st.text(
        alphabet=st.characters(min_codepoint=0x21, max_codepoint=0x7E),
        min_size=1,
        max_size=24,
    ).map(str.lower),
)
_value_st = st.text(max_size=64)  # any unicode incl. empty
_headers_st = st.lists(st.tuples(_name_st, _value_st), max_size=12)


@settings(max_examples=50, deadline=None)
@given(blocks=st.lists(_headers_st, min_size=1, max_size=5),
       huffman=st.booleans(), table=st.sampled_from([0, 64, 4096]))
def test_hpack_roundtrip_shared_context(blocks, huffman, table):
    """A SEQUENCE of header blocks through one encoder/decoder pair must
    round-trip exactly — dynamic-table state (insertions, evictions at
    small table sizes, index shifts) must stay synchronized across
    blocks, which is where HPACK implementations actually break."""
    enc = h2.HpackEncoder(max_table_size=table, huffman=huffman)
    dec = h2.HpackDecoder(max_table_size=table)
    for headers in blocks:
        assert dec.decode(enc.encode(headers)) == headers
    assert dec.table.size == enc.table.size <= table


@settings(max_examples=100, deadline=None)
@given(data=st.binary(max_size=256))
def test_huffman_roundtrip_arbitrary_bytes(data):
    assert h2.huffman_decode(h2.huffman_encode(data)) == data


@settings(max_examples=100, deadline=None)
@given(n=st.integers(min_value=0, max_value=2**40),
       bits=st.integers(min_value=1, max_value=8),
       top=st.booleans())
def test_hpack_int_roundtrip(n, bits, top):
    flag = (0x80 >> (8 - bits) << (8 - bits)) & 0xFF if top and bits < 8 else 0
    buf = h2.hpack_encode_int(n, bits, flag)
    val, pos = h2.hpack_decode_int(buf, 0, bits)
    assert (val, pos) == (n, len(buf))


def test_malformed_frames_kill_only_their_connection(engine):
    """Protocol violations (CONTINUATION for a stream that never sent
    HEADERS, garbage HPACK) must tear down THAT connection only — a
    fresh connection right after must serve normally."""
    with h2.GrpcQueryServer(engine) as srv:
        bad = socket.create_connection((srv.host, srv.port), timeout=10)
        bad.sendall(
            h2.PREFACE
            + h2.pack_frame(h2.F_SETTINGS, 0, 0, b"")
            + h2.pack_frame(h2.F_CONTINUATION, h2.FLAG_END_HEADERS, 7, b"\x82")
        )
        # server closes the violating connection (EOF, not a hang)
        bad.settimeout(10)
        while True:
            chunk = bad.recv(65536)
            if not chunk:
                break
        bad.close()
        # a second connection with garbage HPACK in HEADERS
        bad2 = socket.create_connection((srv.host, srv.port), timeout=10)
        bad2.sendall(
            h2.PREFACE
            + h2.pack_frame(h2.F_SETTINGS, 0, 0, b"")
            + h2.pack_frame(
                h2.F_HEADERS,
                h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM,
                1,
                bytes([0xFF, 0xFF, 0xFF, 0xFF]),  # truncated hpack int
            )
        )
        bad2.settimeout(10)
        while True:
            chunk = bad2.recv(65536)
            if not chunk:
                break
        bad2.close()
        # the server is still healthy for well-formed clients
        resp = h2.call_unary(
            srv.host, srv.port, "SELECT count(*) AS n FROM region"
        )
        assert resp["respRecord"][0]["attributes"]["n"] == "5"


def test_intake_bounds_kill_only_their_connection(engine):
    """Unbounded-memory attempts — a frame above the advertised
    SETTINGS_MAX_FRAME_SIZE, or a CONTINUATION flood pushing the header
    block past MAX_HEADER_BLOCK — must tear down THAT connection (same
    blast radius as any protocol violation), and a fresh connection must
    serve normally."""
    with h2.GrpcQueryServer(engine) as srv:
        # frame length above MAX_FRAME: rejected BEFORE the payload is
        # buffered (FRAME_SIZE_ERROR semantics)
        big = socket.create_connection((srv.host, srv.port), timeout=10)
        hdr = (h2.MAX_FRAME + 1).to_bytes(3, "big") + bytes([h2.F_DATA, 0]) \
            + (1).to_bytes(4, "big")
        big.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b"") + hdr)
        big.settimeout(10)
        while True:
            chunk = big.recv(65536)
            if not chunk:
                break
        big.close()
        # CONTINUATION flood: header block grows past MAX_HEADER_BLOCK
        flood = socket.create_connection((srv.host, srv.port), timeout=10)
        flood.sendall(
            h2.PREFACE
            + h2.pack_frame(h2.F_SETTINGS, 0, 0, b"")
            + h2.pack_frame(h2.F_HEADERS, 0, 1, b"\x82")  # no END_HEADERS
        )
        filler = b"\x00" * h2.MAX_FRAME
        try:
            for _ in range(h2.MAX_HEADER_BLOCK // h2.MAX_FRAME + 2):
                flood.sendall(h2.pack_frame(h2.F_CONTINUATION, 0, 1, filler))
        except OSError:
            pass  # server already tore the connection down mid-send
        flood.settimeout(10)
        try:
            while True:
                chunk = flood.recv(65536)
                if not chunk:
                    break
        except OSError:
            pass
        flood.close()
        # the server survives both: a fresh connection answers
        out = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert out["respRecord"][0]["attributes"] == {"one": "1"}


def _read_frames_until_eof(sk, timeout=10):
    """Collect (ftype, sid, payload) frames from the server until EOF."""
    sk.settimeout(timeout)
    buf = b""
    try:
        while True:
            chunk = sk.recv(65536)
            if not chunk:
                break
            buf += chunk
    except OSError:
        pass
    frames = []
    pos = 0
    while pos + 9 <= len(buf):
        ln = int.from_bytes(buf[pos : pos + 3], "big")
        ftype = buf[pos + 3]
        sid = int.from_bytes(buf[pos + 5 : pos + 9], "big") & 0x7FFFFFFF
        payload = buf[pos + 9 : pos + 9 + ln]
        frames.append((ftype, sid, payload))
        pos += 9 + ln
    return frames


def test_stream_id_flood_bounded_and_goaway_enhance_your_calm(engine):
    """ADVICE r10: the per-stream caps bound each stream id, but ids are
    free — a peer opening unlimited ids with pending state must hit the
    per-connection MAX_CONCURRENT_STREAMS ceiling, get a GOAWAY carrying
    ENHANCE_YOUR_CALM (RFC 9113 §5.4.1: signal the violation before
    closing), and lose only its own connection."""
    with h2.GrpcQueryServer(engine) as srv:
        flood = socket.create_connection((srv.host, srv.port), timeout=10)
        flood.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b""))
        try:
            # odd client stream ids, HEADERS without END_STREAM: each
            # leaves pending undispatched state on the connection
            for i in range(h2.MAX_CONCURRENT_STREAMS + 2):
                flood.sendall(
                    h2.pack_frame(
                        h2.F_HEADERS, h2.FLAG_END_HEADERS, 2 * i + 1, b"\x82"
                    )
                )
        except OSError:
            pass  # server already tore the connection down mid-send
        frames = _read_frames_until_eof(flood)
        flood.close()
        goaways = [f for f in frames if f[0] == h2.F_GOAWAY]
        assert goaways, f"no GOAWAY in {[(t, s) for t, s, _ in frames]}"
        err = int.from_bytes(goaways[-1][2][4:8], "big")
        assert err == h2.ERR_CALM
        # blast radius is the one connection
        out = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert out["respRecord"][0]["attributes"] == {"one": "1"}


def test_connection_buffer_cap_and_goaway(engine, monkeypatch):
    """Aggregate buffered-bytes ceiling across stream ids (patched small
    so the test is fast): DATA spread over many streams — each far below
    the per-stream cap — must still trip the per-connection cap, with
    GOAWAY ENHANCE_YOUR_CALM."""
    monkeypatch.setattr(h2, "MAX_CONNECTION_BUFFER", 100_000)
    with h2.GrpcQueryServer(engine) as srv:
        sk = socket.create_connection((srv.host, srv.port), timeout=10)
        sk.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b""))
        chunk = b"\x00" * 16000
        try:
            for i in range(8):  # 8 x 16 KB across 8 stream ids > 100 KB
                sk.sendall(h2.pack_frame(h2.F_DATA, 0, 2 * i + 1, chunk))
        except OSError:
            pass
        frames = _read_frames_until_eof(sk)
        sk.close()
        goaways = [f for f in frames if f[0] == h2.F_GOAWAY]
        assert goaways
        assert int.from_bytes(goaways[-1][2][4:8], "big") == h2.ERR_CALM
        out = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert out["respRecord"][0]["attributes"] == {"one": "1"}


def test_hpack_amplification_bounded_and_goaway_calm(engine):
    """ADVICE r11 (medium): MAX_HEADER_BLOCK caps the WIRE block, but
    indexed refs amplify 1-2 wire bytes into up-to-4KB dynamic-table
    entries — a 64KB block could decode to ~100s of MB of parked header
    lists. The decoder now enforces the RFC 7541 §4.1 uncompressed-size
    bound mid-decode; over the wire the violation classifies as an
    intake bound (GOAWAY ENHANCE_YOUR_CALM, not COMPRESSION_ERROR — the
    HPACK stream is well-formed), and only that connection dies."""
    # unit level: a ~4KB wire block whose indexed refs decode > 64KB
    big_val = "a" * 3900
    block = bytearray()
    block += h2.hpack_encode_int(0, 6, 0x40)  # literal w/ indexing, new name
    block += h2.hpack_encode_int(1, 7) + b"x"  # name "x", not huffman
    block += h2.hpack_encode_int(len(big_val), 7) + big_val.encode()
    block += bytes(h2.hpack_encode_int(62, 7, 0x80)) * 30  # 30 refs ~ 118 KB
    dec = h2.HpackDecoder()
    with pytest.raises(ValueError, match="decoded header list exceeds"):
        dec.decode(bytes(block))
    # a fresh decoder still accepts the same entry at sane ref counts
    ok = h2.HpackDecoder().decode(bytes(block[: len(block) - 30]))
    assert ok[0] == ("x", big_val)

    # wire level: the amplifying connection gets GOAWAY ENHANCE_YOUR_CALM
    with h2.GrpcQueryServer(engine) as srv:
        sk = socket.create_connection((srv.host, srv.port), timeout=10)
        sk.sendall(
            h2.PREFACE
            + h2.pack_frame(h2.F_SETTINGS, 0, 0, b"")
            + h2.pack_frame(
                h2.F_HEADERS, h2.FLAG_END_HEADERS, 1, bytes(block)
            )
        )
        frames = _read_frames_until_eof(sk)
        sk.close()
        goaways = [f for f in frames if f[0] == h2.F_GOAWAY]
        assert goaways
        assert int.from_bytes(goaways[-1][2][4:8], "big") == h2.ERR_CALM
        out = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert out["respRecord"][0]["attributes"] == {"one": "1"}


def test_pre_dispatch_window_update_credit_retained():
    """ADVICE r11 (low): a stream is OPEN from END_HEADERS — WINDOW_UPDATE
    credit granted between END_HEADERS and dispatch must be retained
    (a client granting all credit up front would otherwise permanently
    under-credit the stream and stall send_data). _headers_done seeds the
    stream window; idle-id updates still create no state."""

    class _FakeSock:
        def sendall(self, b):
            pass

    conn = h2._H2Conn(_FakeSock())
    srv = h2.GrpcQueryServer.__new__(h2.GrpcQueryServer)  # no engine needed
    hdr_frag = {1: bytearray(b"\x82")}  # :method GET — minimal valid block
    srv._headers_done(conn, 1, hdr_frag, {1: False}, {}, {})
    assert conn.stream_windows.get(1) == conn.init_window
    conn.window_update(1, 12345)  # pre-dispatch credit: retained
    assert conn.stream_windows[1] == conn.init_window + 12345
    conn.window_update(99, 12345)  # idle id: still creates no state
    assert 99 not in conn.stream_windows


def test_goaway_error_codes_by_violation_class(engine):
    """GOAWAY carries the class-appropriate RFC 9113 error code:
    oversized frame -> FRAME_SIZE_ERROR, garbage HPACK ->
    COMPRESSION_ERROR."""
    with h2.GrpcQueryServer(engine) as srv:
        big = socket.create_connection((srv.host, srv.port), timeout=10)
        hdr = (h2.MAX_FRAME + 1).to_bytes(3, "big") + bytes([h2.F_DATA, 0]) \
            + (1).to_bytes(4, "big")
        big.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b"") + hdr)
        frames = _read_frames_until_eof(big)
        big.close()
        goaways = [f for f in frames if f[0] == h2.F_GOAWAY]
        assert goaways
        assert int.from_bytes(goaways[-1][2][4:8], "big") == h2.ERR_FRAME_SIZE

        bad = socket.create_connection((srv.host, srv.port), timeout=10)
        bad.sendall(
            h2.PREFACE
            + h2.pack_frame(h2.F_SETTINGS, 0, 0, b"")
            + h2.pack_frame(
                h2.F_HEADERS,
                h2.FLAG_END_HEADERS | h2.FLAG_END_STREAM,
                1,
                bytes([0x80]),  # hpack index 0 -> decode error
            )
        )
        frames = _read_frames_until_eof(bad)
        bad.close()
        goaways = [f for f in frames if f[0] == h2.F_GOAWAY]
        assert goaways
        assert int.from_bytes(goaways[-1][2][4:8], "big") == h2.ERR_COMPRESSION


def test_stream_state_cleaned_at_trailers():
    """Per-stream flow-control/reset bookkeeping must not accrete over a
    long-lived connection: trailers terminate the stream, so after N
    sequential streams the connection's per-stream maps are empty —
    state is bounded by CONCURRENT streams, not streams ever served."""

    class _FakeSock:
        def sendall(self, b):
            pass

    conn = h2._H2Conn(_FakeSock())
    for sid in range(1, 201, 2):
        s = h2._GrpcStream(conn, sid)
        s.send_response_headers()
        conn.send_data(sid, b"x", end_stream=False)
        conn.reset_streams.add(sid + 1000001)  # unrelated id stays
        s.send_trailers(0)
    assert conn.stream_windows == {}
    assert all(x > 1000000 for x in conn.reset_streams)


def test_rst_flood_frees_state_and_legit_cancels_survive(engine):
    """r11 review fixes: (a) RST frees a cancelled stream's assembly
    state, so a client cancelling MORE than MAX_CONCURRENT_STREAMS
    in-flight requests over one connection is NOT torn down as hostile;
    (b) RST/WINDOW_UPDATE over arbitrary idle ids create no per-stream
    state (unit-checked on the connection object)."""
    with h2.GrpcQueryServer(engine) as srv:
        sk = socket.create_connection((srv.host, srv.port), timeout=10)
        sk.sendall(h2.PREFACE + h2.pack_frame(h2.F_SETTINGS, 0, 0, b""))
        # open-then-cancel 2x the stream cap: HEADERS (no END_STREAM)
        # leaves pending state; RST must free it each time
        for i in range(2 * h2.MAX_CONCURRENT_STREAMS):
            sid = 2 * i + 1
            sk.sendall(
                h2.pack_frame(h2.F_HEADERS, h2.FLAG_END_HEADERS, sid, b"\x82")
                + h2.pack_frame(
                    h2.F_RST, 0, sid, (8).to_bytes(4, "big")  # CANCEL
                )
            )
        # the connection must still serve a real request afterwards
        # (teardown would have closed the socket): send a GOAWAY to end
        # cleanly, then check the server is healthy on a new connection
        sk.sendall(h2.pack_frame(h2.F_GOAWAY, 0, 0, b"\0" * 8))
        sk.settimeout(10)
        while True:
            try:
                if not sk.recv(65536):
                    break
            except OSError:
                break
        sk.close()
        out = h2.call_unary(srv.host, srv.port, "SELECT 1 AS one")
        assert out["respRecord"][0]["attributes"] == {"one": "1"}

    class _FakeSock:
        def sendall(self, b):
            pass

    conn = h2._H2Conn(_FakeSock())
    for sid in range(1, 2001, 2):  # WINDOW_UPDATE flood over idle ids
        conn.window_update(sid, 1)
    assert conn.stream_windows == {}
