"""Protobuf wire format: the reference's actual serialization.

The reference serves gRPC with proto3 messages (qpuapi.proto,
qpuextapi.proto, qpu.proto; server internal/rpc_server/rpcserver.go:73-98).
This module is the hand-rolled proto3 codec for those messages — no
protobuf/gRPC libraries exist in this environment, and the proto3
encoding is a small, public, stable spec (varints, tagged fields,
length-delimited submessages):

- generic wire primitives (encode_varint/decode, tag/field iteration);
- per-message codecs for the reference's API messages, field numbers and
  types transcribed from the .proto files (cited per codec), plus the
  mapping of raw attribute values onto qpu.Value's typed oneof;
- the gRPC length-prefixed MESSAGE FRAME (1-byte compressed flag +
  4-byte big-endian length + payload) — the exact layer gRPC puts each
  protobuf message in — with a reader that bounds the declared length.

``h2.GrpcQueryServer`` carries these frames on HTTP/2; ``server.py`` is
the JSON transport. Golden-byte tests in tests/test_wire.py pin the
proto3 encoding against hand-computed bytes, not just round-trips.

Message values are plain Python dicts mirroring proto field names;
proto3 presence rules apply (default-valued fields are omitted on the
wire and materialize as defaults on decode). Map fields encode in
sorted-key order — proto3 leaves map order unspecified, and a
deterministic order makes encodings byte-stable for tests and hashes.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

# ---------------------------------------------------------------------------
# Wire primitives (proto3 encoding spec)
# ---------------------------------------------------------------------------

_WT_VARINT, _WT_I64, _WT_LEN, _WT_I32 = 0, 1, 2, 5
_MASK64 = (1 << 64) - 1


def encode_varint(n: int) -> bytes:
    """Base-128 varint of an unsigned 64-bit value. Negative int32/int64
    proto fields encode as their 64-bit two's complement (always 10
    bytes for negatives) — callers pass the signed value through
    ``n & _MASK64`` via :func:`_field_varint`."""
    if n < 0:
        raise ValueError("encode_varint takes the unsigned representation")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    """(value, next_pos); raises on truncation or >10-byte runaways."""
    result, shift = 0, 0
    for i in range(10):
        if pos + i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[pos + i]
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result & _MASK64, pos + i + 1
        shift += 7
    raise ValueError("varint longer than 10 bytes")


def _tag(field: int, wt: int) -> bytes:
    return encode_varint((field << 3) | wt)


def _field_varint(field: int, n: int) -> bytes:
    """Varint field; omitted at proto3 default (0). Signed values use
    two's complement (proto3 int32/int64/enum semantics)."""
    if n == 0:
        return b""
    return _tag(field, _WT_VARINT) + encode_varint(n & _MASK64)


def _field_bytes(field: int, payload: bytes) -> bytes:
    if not payload:
        return b""
    return _tag(field, _WT_LEN) + encode_varint(len(payload)) + payload


def _field_msg(field: int, payload: bytes, present: bool) -> bytes:
    """Submessage field: unlike scalars, an explicitly-present EMPTY
    message still encodes (length 0) — presence is the semantic."""
    if not present:
        return b""
    return _tag(field, _WT_LEN) + encode_varint(len(payload)) + payload


def _field_str(field: int, s: str) -> bytes:
    return _field_bytes(field, s.encode("utf-8"))


def _signed(n: int, bits: int = 64) -> int:
    """Undo two's complement after decode_varint."""
    if n >= 1 << (bits - 1):
        n -= 1 << bits
    return n


def iter_fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) over a message buffer —
    varints as unsigned ints, LEN fields as bytes, fixed as raw bytes.
    Unknown fields are the caller's to skip (proto3 forward compat)."""
    pos = 0
    while pos < len(buf):
        key, pos = decode_varint(buf, pos)
        field, wt = key >> 3, key & 0x7
        if wt == _WT_VARINT:
            val, pos = decode_varint(buf, pos)
        elif wt == _WT_LEN:
            ln, pos = decode_varint(buf, pos)
            if pos + ln > len(buf):
                raise ValueError("truncated length-delimited field")
            val, pos = buf[pos : pos + ln], pos + ln
        elif wt == _WT_I64:
            if pos + 8 > len(buf):
                raise ValueError("truncated fixed64")
            val, pos = buf[pos : pos + 8], pos + 8
        elif wt == _WT_I32:
            if pos + 4 > len(buf):
                raise ValueError("truncated fixed32")
            val, pos = buf[pos : pos + 4], pos + 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, val


# ---------------------------------------------------------------------------
# Message codecs (field numbers cited from the reference .proto files)
# ---------------------------------------------------------------------------

# google.protobuf.Timestamp {int64 seconds = 1; int32 nanos = 2;}
def encode_timestamp(ts: dict) -> bytes:
    return _field_varint(1, int(ts.get("seconds", 0))) + _field_varint(
        2, int(ts.get("nanos", 0))
    )


def decode_timestamp(buf: bytes) -> dict:
    out = {"seconds": 0, "nanos": 0}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["seconds"] = _signed(v)
        elif f == 2:
            out["nanos"] = _signed(v)
    return out


# qpu.Value {oneof val {string str = 1; int32 int = 2; double flt = 3;}}
# (qpu.proto:41-47)
def encode_value(val: dict) -> bytes:
    # oneof presence: even default values (empty string, 0, 0.0) encode
    # explicitly — the set arm IS the information
    if "str" in val:
        b = val["str"].encode("utf-8")
        return _tag(1, _WT_LEN) + encode_varint(len(b)) + b
    if "int" in val:
        return _tag(2, _WT_VARINT) + encode_varint(int(val["int"]) & _MASK64)
    if "flt" in val:
        return _tag(3, _WT_I64) + struct.pack("<d", float(val["flt"]))
    return b""


def decode_value(buf: bytes) -> dict:
    out: dict = {}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out = {"str": v.decode("utf-8")}
        elif f == 2:
            # int32 negatives arrive as the 64-bit two's complement
            # varint (proto3 spec) — undo at 64 bits, the result fits
            out = {"int": _signed(v)}
        elif f == 3:
            out = {"flt": struct.unpack("<d", v)[0]}
    return out


# qpu.Attribute {string attr_key = 1; Value value = 3;} (qpu.proto:36-39)
def encode_attribute(attr: dict) -> bytes:
    out = _field_str(1, attr.get("attr_key", ""))
    if "value" in attr:
        out += _field_msg(3, encode_value(attr["value"]), True)
    return out


def decode_attribute(buf: bytes) -> dict:
    out: dict = {"attr_key": ""}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["attr_key"] = v.decode("utf-8")
        elif f == 3:
            out["value"] = decode_value(v)
    return out


# qpu.AttributePredicate {Attribute attr = 1; PredicateType type = 2;
#   Value lbound = 3; Value ubound = 4;}  enum ISNULL=0 ISNOTNULL=1
#   RANGE=2 EQ=3 (qpu.proto:49-67)
PREDICATE_TYPES = {"ISNULL": 0, "ISNOTNULL": 1, "RANGE": 2, "EQ": 3}
_PREDICATE_NAMES = {v: k for k, v in PREDICATE_TYPES.items()}


def encode_attribute_predicate(p: dict) -> bytes:
    out = b""
    if "attr" in p:
        out += _field_msg(1, encode_attribute(p["attr"]), True)
    out += _field_varint(2, PREDICATE_TYPES.get(p.get("type", "ISNULL"), 0))
    if "lbound" in p:
        out += _field_msg(3, encode_value(p["lbound"]), True)
    if "ubound" in p:
        out += _field_msg(4, encode_value(p["ubound"]), True)
    return out


def decode_attribute_predicate(buf: bytes) -> dict:
    out: dict = {"type": "ISNULL"}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["attr"] = decode_attribute(v)
        elif f == 2:
            out["type"] = _PREDICATE_NAMES.get(v, v)
        elif f == 3:
            out["lbound"] = decode_value(v)
        elif f == 4:
            out["ubound"] = decode_value(v)
    return out


def _encode_map_entry(key: str, val_payload: bytes) -> bytes:
    """proto map<string, M> entry: a nested message {1: key, 2: value}."""
    return _field_str(1, key) + _field_msg(2, val_payload, True)


# qpu.Vectorclock {map<string, Timestamp> vc = 1;} (qpu.proto:101-103)
def encode_vectorclock(vc: dict) -> bytes:
    out = b""
    for key in sorted(vc.get("vc", {})):
        entry = _encode_map_entry(key, encode_timestamp(vc["vc"][key]))
        out += _field_msg(1, entry, True)
    return out


def decode_vectorclock(buf: bytes) -> dict:
    vc: dict = {}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            key, ts = "", {"seconds": 0, "nanos": 0}
            for ef, _ewt, ev in iter_fields(v):
                if ef == 1:
                    key = ev.decode("utf-8")
                elif ef == 2:
                    ts = decode_timestamp(ev)
            vc[key] = ts
    return {"vc": vc}


# qpu.ObjectState {map<string, Value> attributes = 1;} (qpu.proto:30-34)
def encode_object_state(st: dict) -> bytes:
    out = b""
    for key in sorted(st.get("attributes", {})):
        entry = _encode_map_entry(key, encode_value(st["attributes"][key]))
        out += _field_msg(1, entry, True)
    return out


def decode_object_state(buf: bytes) -> dict:
    attrs: dict = {}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            key, val = "", {}
            for ef, _ewt, ev in iter_fields(v):
                if ef == 1:
                    key = ev.decode("utf-8")
                elif ef == 2:
                    val = decode_value(ev)
            attrs[key] = val
    return {"attributes": attrs}


# qpu.Payload {oneof val {ObjectState state = 1; StateDelta delta = 2;}}
# StateDelta {ObjectState old = 1; ObjectState new = 2;} (qpu.proto:16-28)
def encode_payload(p: dict) -> bytes:
    if "state" in p:
        return _field_msg(1, encode_object_state(p["state"]), True)
    if "delta" in p:
        d = p["delta"]
        inner = b""
        if "old" in d:
            inner += _field_msg(1, encode_object_state(d["old"]), True)
        if "new" in d:
            inner += _field_msg(2, encode_object_state(d["new"]), True)
        return _field_msg(2, inner, True)
    return b""


def decode_payload(buf: bytes) -> dict:
    out: dict = {}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out = {"state": decode_object_state(v)}
        elif f == 2:
            delta: dict = {}
            for df, _dwt, dv in iter_fields(v):
                if df == 1:
                    delta["old"] = decode_object_state(dv)
                elif df == 2:
                    delta["new"] = decode_object_state(dv)
            out = {"delta": delta}
    return out


# qpu.LogOperation {string object_id = 1; string bucket = 2;
#   Vectorclock timestamp = 3; Payload payload = 4;} (qpu.proto:8-14)
def encode_log_operation(op: dict) -> bytes:
    out = _field_str(1, op.get("object_id", ""))
    out += _field_str(2, op.get("bucket", ""))
    if "timestamp" in op:
        out += _field_msg(3, encode_vectorclock(op["timestamp"]), True)
    if "payload" in op:
        out += _field_msg(4, encode_payload(op["payload"]), True)
    return out


def decode_log_operation(buf: bytes) -> dict:
    out: dict = {"object_id": "", "bucket": ""}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["object_id"] = v.decode("utf-8")
        elif f == 2:
            out["bucket"] = v.decode("utf-8")
        elif f == 3:
            out["timestamp"] = decode_vectorclock(v)
        elif f == 4:
            out["payload"] = decode_payload(v)
    return out


# qpuextapi.QueryReq {string queryStr = 1;} (qpuextapi.proto:15-17)
def encode_query_req(req: dict) -> bytes:
    return _field_str(1, req.get("queryStr", ""))


def decode_query_req(buf: bytes) -> dict:
    out = {"queryStr": ""}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["queryStr"] = v.decode("utf-8")
    return out


# qpuextapi.QueryRespRecord {string record_id = 1;
#   map<string, string> attributes = 2;
#   map<string, Timestamp> timestamp = 3;
#   Timestamp timestampReceived = 4;} (qpuextapi.proto:33-38)
def encode_query_resp_record(rec: dict) -> bytes:
    parts = [_field_str(1, rec.get("record_id", ""))]
    for key in sorted(rec.get("attributes", {})):
        # default-valued key/value parts drop per proto3 scalar rules; a
        # zero-length entry message still encodes (the entry's presence
        # is the map membership) and decodes back to {"": ""}
        entry = _field_str(1, key) + _field_str(2, rec["attributes"][key])
        parts.append(_field_msg(2, entry, True))
    for key in sorted(rec.get("timestamp", {})):
        entry = _encode_map_entry(key, encode_timestamp(rec["timestamp"][key]))
        parts.append(_field_msg(3, entry, True))
    if "timestampReceived" in rec:
        parts.append(
            _field_msg(4, encode_timestamp(rec["timestampReceived"]), True)
        )
    return b"".join(parts)


def decode_query_resp_record(buf: bytes) -> dict:
    out: dict = {"record_id": "", "attributes": {}, "timestamp": {}}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["record_id"] = v.decode("utf-8")
        elif f == 2:
            key, val = "", ""
            for ef, _ewt, ev in iter_fields(v):
                if ef == 1:
                    key = ev.decode("utf-8")
                elif ef == 2:
                    val = ev.decode("utf-8")
            out["attributes"][key] = val
        elif f == 3:
            key, ts = "", {"seconds": 0, "nanos": 0}
            for ef, _ewt, ev in iter_fields(v):
                if ef == 1:
                    key = ev.decode("utf-8")
                elif ef == 2:
                    ts = decode_timestamp(ev)
            out["timestamp"][key] = ts
        elif f == 4:
            out["timestampReceived"] = decode_timestamp(v)
    return out


# qpuextapi.QueryResp {repeated QueryRespRecord respRecord = 1;}
def encode_query_resp(resp: dict) -> bytes:
    # join, not `out +=`: repeated += over a corpus-sized record list is
    # QUADRATIC (the accumulated bytes recopy per record — measured 5.8s
    # for a 20k-record/2.1MB response, 4x the whole linear encode)
    return b"".join(
        _field_msg(1, encode_query_resp_record(rec), True)
        for rec in resp.get("respRecord", [])
    )


def decode_query_resp(buf: bytes) -> dict:
    recs = []
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            recs.append(decode_query_resp_record(v))
    return {"respRecord": recs}


# qpu.SnapshotTime {SnapshotTimeType type = 1; Vectorclock value = 2;
#   bool isClosed = 3;} enum LATEST=0 ZERO=1 INF=2 VECTORCLOCK=3 /
#   SnapshotTimePredicate {SnapshotTime lbound = 1; ubound = 2;}
#   (qpu.proto:69-99)
SNAPSHOT_TIME_TYPES = {"LATEST": 0, "ZERO": 1, "INF": 2, "VECTORCLOCK": 3}
_SNAPSHOT_TIME_NAMES = {v: k for k, v in SNAPSHOT_TIME_TYPES.items()}


def encode_snapshot_time(st: dict) -> bytes:
    out = _field_varint(1, SNAPSHOT_TIME_TYPES.get(st.get("type", "LATEST"), 0))
    if "value" in st:
        out += _field_msg(2, encode_vectorclock(st["value"]), True)
    if st.get("isClosed"):
        out += _field_varint(3, 1)
    return out


def decode_snapshot_time(buf: bytes) -> dict:
    out: dict = {"type": "LATEST", "isClosed": False}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["type"] = _SNAPSHOT_TIME_NAMES.get(v, v)
        elif f == 2:
            out["value"] = decode_vectorclock(v)
        elif f == 3:
            out["isClosed"] = bool(v)
    return out


def encode_snapshot_time_predicate(p: dict) -> bytes:
    out = b""
    if "lbound" in p:
        out += _field_msg(1, encode_snapshot_time(p["lbound"]), True)
    if "ubound" in p:
        out += _field_msg(2, encode_snapshot_time(p["ubound"]), True)
    return out


def decode_snapshot_time_predicate(buf: bytes) -> dict:
    out: dict = {}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["lbound"] = decode_snapshot_time(v)
        elif f == 2:
            out["ubound"] = decode_snapshot_time(v)
    return out


# qpuapi.OrderBy {string attributeName = 1; Order direction = 2;}
#   enum ASC=0 DESC=1 / ASTQuery {string table = 1; repeated string
#   projection = 2; repeated qpu.AttributePredicate predicate = 3;
#   qpu.SnapshotTimePredicate tsPredicate = 4; OrderBy orderBy = 5;
#   int64 limit = 6;} (qpuapi.proto:68-93)
def encode_order_by(ob: dict) -> bytes:
    out = _field_str(1, ob.get("attributeName", ""))
    out += _field_varint(2, 1 if ob.get("direction") == "DESC" else 0)
    return out


def decode_order_by(buf: bytes) -> dict:
    out = {"attributeName": "", "direction": "ASC"}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["attributeName"] = v.decode("utf-8")
        elif f == 2:
            out["direction"] = "DESC" if v == 1 else "ASC"
    return out


def encode_ast_query(ast: dict) -> bytes:
    out = _field_str(1, ast.get("table", ""))
    for s in ast.get("projection", []):
        out += _field_msg(2, s.encode("utf-8"), True)
    for p in ast.get("predicate", []):
        out += _field_msg(3, encode_attribute_predicate(p), True)
    if "tsPredicate" in ast:
        out += _field_msg(
            4, encode_snapshot_time_predicate(ast["tsPredicate"]), True
        )
    if "orderBy" in ast:
        out += _field_msg(5, encode_order_by(ast["orderBy"]), True)
    out += _field_varint(6, int(ast.get("limit", 0)))
    return out


def decode_ast_query(buf: bytes) -> dict:
    out: dict = {"table": "", "projection": [], "predicate": [], "limit": 0}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["table"] = v.decode("utf-8")
        elif f == 2:
            out["projection"].append(v.decode("utf-8"))
        elif f == 3:
            out["predicate"].append(decode_attribute_predicate(v))
        elif f == 4:
            out["tsPredicate"] = decode_snapshot_time_predicate(v)
        elif f == 5:
            out["orderBy"] = decode_order_by(v)
        elif f == 6:
            out["limit"] = _signed(v)
    return out


# qpuapi.SQLQuery {string queryStr = 1;} / Query {oneof query
#   {ASTQuery query_ast = 1; SQLQuery query_sql = 2;}} / QueryRequest
#   {Query query = 1; map<string,string> metadata = 2; bool sync = 3;
#   bool measureDataTransfer = 4;} / RequestStreamRecord {oneof request
#   {QueryRequest queryRequest = 1; AckMsg ack = 2;}} / AckMsg
#   {int64 sequence_id = 1;} (qpuapi.proto:26-93). BOTH query arms are
#   served: SQL (the client form) and ASTQuery (the reference's internal
#   QPU-to-QPU representation, translated onto the operator layer by
#   plans/astq.py).
def encode_query_request(req: dict) -> bytes:
    out = b""
    q = req.get("query", {})
    if "query_ast" in q:
        out += _field_msg(
            1, _field_msg(1, encode_ast_query(q["query_ast"]), True), True
        )
    elif "query_sql" in q:
        inner = _field_str(1, q["query_sql"].get("queryStr", ""))
        out += _field_msg(1, _field_msg(2, inner, True), True)
    for key in sorted(req.get("metadata", {})):
        entry = _field_str(1, key) + _field_str(2, req["metadata"][key])
        out += _field_msg(2, entry, True)
    if req.get("sync"):
        out += _field_varint(3, 1)
    if req.get("measureDataTransfer"):
        out += _field_varint(4, 1)
    return out


def decode_query_request(buf: bytes) -> dict:
    out: dict = {"query": {}, "metadata": {}, "sync": False,
                 "measureDataTransfer": False}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            for qf, _qwt, qv in iter_fields(v):
                if qf == 1:
                    out["query"] = {"query_ast": decode_ast_query(qv)}
                elif qf == 2:
                    sql = ""
                    for sf, _swt, sv in iter_fields(qv):
                        if sf == 1:
                            sql = sv.decode("utf-8")
                    out["query"] = {"query_sql": {"queryStr": sql}}
        elif f == 2:
            key, val = "", ""
            for ef, _ewt, ev in iter_fields(v):
                if ef == 1:
                    key = ev.decode("utf-8")
                elif ef == 2:
                    val = ev.decode("utf-8")
            out["metadata"][key] = val
        elif f == 3:
            out["sync"] = bool(v)
        elif f == 4:
            out["measureDataTransfer"] = bool(v)
    return out


def encode_request_stream_record(rec: dict) -> bytes:
    if "queryRequest" in rec:
        return _field_msg(1, encode_query_request(rec["queryRequest"]), True)
    if "ack" in rec:
        inner = _field_varint(1, int(rec["ack"].get("sequence_id", 0)))
        return _field_msg(2, inner, True)
    return b""


def decode_request_stream_record(buf: bytes) -> dict:
    out: dict = {}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out = {"queryRequest": decode_query_request(v)}
        elif f == 2:
            seq = 0
            for af, _awt, av in iter_fields(v):
                if af == 1:
                    seq = _signed(av)
            out = {"ack": {"sequence_id": seq}}
    return out


# qpuapi.ResponseStreamRecord {int64 sequence_id = 1;
#   StreamRecordType type = 2; LogOperation logOp = 3;}
# enum UPDATEOP=0 UPDATEDELTA=1 STATE=2 HEARTBEAT=3 END_OF_STREAM=4
# (qpuapi.proto:95-120)
STREAM_RECORD_TYPES = {
    "UPDATEOP": 0,
    "UPDATEDELTA": 1,
    "STATE": 2,
    "HEARTBEAT": 3,
    "END_OF_STREAM": 4,
}
_STREAM_RECORD_NAMES = {v: k for k, v in STREAM_RECORD_TYPES.items()}


def encode_response_stream_record(rec: dict) -> bytes:
    out = _field_varint(1, int(rec.get("sequence_id", 0)))
    out += _field_varint(
        2, STREAM_RECORD_TYPES.get(rec.get("type", "UPDATEOP"), 0)
    )
    if "logOp" in rec:
        out += _field_msg(3, encode_log_operation(rec["logOp"]), True)
    return out


def decode_response_stream_record(buf: bytes) -> dict:
    out: dict = {"sequence_id": 0, "type": "UPDATEOP"}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["sequence_id"] = _signed(v)
        elif f == 2:
            out["type"] = _STREAM_RECORD_NAMES.get(v, v)
        elif f == 3:
            out["logOp"] = decode_log_operation(v)
    return out


# qpuapi.ConfigRequest {SnapshotTimePredicate clock = 1;} — clock unused
# by the reference too; decoded as opaque presence only.
def encode_config_request(_req: dict | None = None) -> bytes:
    return b""


# qpuapi.ConfigResponse {QPUType qpu_type = 1; repeated string schema = 2;
#   repeated AttributePredicate supportedQueries = 3;}
# enum DATASTORE_DRIVER=0 SUM=1 JOIN=2 INDEX=3 CACHE=4 (qpuapi.proto:128-141)
QPU_TYPES = {"DATASTORE_DRIVER": 0, "SUM": 1, "JOIN": 2, "INDEX": 3, "CACHE": 4}
_QPU_TYPE_NAMES = {v: k for k, v in QPU_TYPES.items()}


def encode_config_response(resp: dict) -> bytes:
    out = _field_varint(
        1, QPU_TYPES.get(resp.get("qpu_type", "DATASTORE_DRIVER"), 0)
    )
    for s in resp.get("schema", []):
        out += _field_msg(2, s.encode("utf-8"), True)
    for p in resp.get("supportedQueries", []):
        out += _field_msg(3, encode_attribute_predicate(p), True)
    return out


def decode_config_response(buf: bytes) -> dict:
    out: dict = {"qpu_type": "DATASTORE_DRIVER", "schema": []}
    for f, _wt, v in iter_fields(buf):
        if f == 1:
            out["qpu_type"] = _QPU_TYPE_NAMES.get(v, v)
        elif f == 2:
            out["schema"].append(v.decode("utf-8"))
        elif f == 3:
            out.setdefault("supportedQueries", []).append(
                decode_attribute_predicate(v)
            )
    return out


# ---------------------------------------------------------------------------
# gRPC message framing (the layer gRPC wraps each protobuf message in)
# ---------------------------------------------------------------------------


def frame(payload: bytes, compressed: bool = False) -> bytes:
    """gRPC length-prefixed message: 1-byte compressed flag + u32
    big-endian length + payload (the gRPC over-HTTP/2 spec's
    Length-Prefixed-Message). Compression is never used here (the
    reference does not enable it either)."""
    return struct.pack(">BI", 1 if compressed else 0, len(payload)) + payload


# One gRPC message may legitimately be large (a bulked QueryResp), but a
# length prefix is attacker-controlled bytes: without a ceiling a single
# forged 5-byte header makes the reader attempt a 4 GB allocation. 256 MB
# is far above any real message here (a 100k-record unary response is
# ~10 MB) while bounding the damage of a hostile prefix.
MAX_MESSAGE_BYTES = 256 << 20


def read_frame(rf, max_len: int = MAX_MESSAGE_BYTES) -> bytes | None:
    """Read one length-prefixed message from a binary file-like; None on
    clean EOF at a frame boundary; raises on truncation mid-frame or on
    a length above ``max_len`` (a forged prefix must not drive a giant
    allocation)."""
    head = rf.read(5)
    if not head:
        return None
    if len(head) < 5:
        raise ValueError("truncated frame header")
    compressed, ln = struct.unpack(">BI", head)
    if compressed:
        raise ValueError("compressed frames not supported")
    if ln > max_len:
        raise ValueError(f"frame length {ln} exceeds limit {max_len}")
    payload = rf.read(ln)
    if len(payload) < ln:
        raise ValueError("truncated frame payload")
    return payload


_INT32_MIN, _INT32_MAX = -(1 << 31), (1 << 31) - 1


def _typed_value(v) -> dict:
    """Map a raw Python attribute value onto qpu.Value's typed oneof —
    the reference ships TYPED ObjectState values (qpu.proto:41-47), so
    the protobuf stream surface does too (the JSON surface keeps the
    documented stringify-everything deviation). Value.int is proto
    int32; integers outside int32 fall back to the string arm (the
    reference's own schema cannot carry them either), as do all other
    types — deterministic, documented."""
    if isinstance(v, bool):  # bool is an int subclass: check first
        return {"str": str(v)}
    if isinstance(v, int):
        if _INT32_MIN <= v <= _INT32_MAX:
            return {"int": v}
        return {"str": str(v)}
    if isinstance(v, float):
        return {"flt": v}
    return {"str": "" if v is None else str(v)}
