"""gRPC over HTTP/2: the protobuf serving path.

The reference serves its protobuf messages as gRPC over HTTP/2
(internal/rpc_server/rpcserver.go:73-98 — a stock grpc-go server).
``wire.py`` is the proto3 codec and the gRPC message frame; this module
carries those frames on the real envelope. It implements, from the
public RFCs (no HTTP/2 or HPACK libraries exist in this sandbox):

- **HPACK (RFC 7541)**: prefix-coded integers, the full static table
  (Appendix A), a size-bounded dynamic table, all five field
  representations, and canonical Huffman coding (Appendix B) — encoder
  and decoder. Golden tests reproduce the RFC's own Appendix C vectors
  byte-for-byte (C.1 integers, C.3/C.4 request sequences with dynamic
  table evolution, C.5/C.6 responses with eviction).
- **HTTP/2 framing (RFC 9113)**: the client connection preface,
  DATA / HEADERS / CONTINUATION / SETTINGS / PING / GOAWAY /
  RST_STREAM / WINDOW_UPDATE frames, stream multiplexing, and honest
  send-side flow control (connection + per-stream windows, blocked
  writers wake on WINDOW_UPDATE).
- **gRPC mapping (the public gRPC-over-HTTP/2 spec)**: requests as
  POST to ``/qpuapi.QPUAPI/<Method>`` (the reference's proto package +
  service, qpuapi.proto:9-23), ``content-type: application/grpc``,
  length-prefixed messages in DATA frames, response HEADERS with
  ``:status: 200``, and the status in HTTP trailers (``grpc-status`` /
  ``grpc-message``; errors before any message map to the Trailers-Only
  form). Status codes keep rpcserver.go's mapping: INVALID_ARGUMENT(3)
  for client errors, INTERNAL(13) otherwise.

``GrpcQueryServer`` serves an ``Engine`` through the reference's four
QPUAPI methods (QueryUnary / Query / QuerySubscribe / GetConfig).
Interop is proven against REAL clients in tests/test_h2.py: curl
(libnghttp2) completes a full QueryUnary round-trip over h2c
prior-knowledge, and ``nghttp -v`` sees the trailers. The in-module
``call_*`` client helpers serve where those binaries aren't present.
"""

from __future__ import annotations

import io
import socket
import struct
import threading

from proteus_spark import wire
from proteus_spark.engine import clamp_updates_timeout

# ---------------------------------------------------------------------------
# HPACK: prefix-coded integers (RFC 7541 §5.1)
# ---------------------------------------------------------------------------


def hpack_encode_int(value: int, prefix_bits: int, top: int = 0) -> bytes:
    """Encode ``value`` with an N-bit prefix; ``top`` carries the
    representation's flag bits in the byte's high (8-N) bits."""
    limit = (1 << prefix_bits) - 1
    if value < limit:
        return bytes([top | value])
    out = bytearray([top | limit])
    value -= limit
    while value >= 128:
        out.append((value & 0x7F) | 0x80)
        value >>= 7
    out.append(value)
    return bytes(out)


def hpack_decode_int(buf: bytes, pos: int, prefix_bits: int) -> tuple[int, int]:
    limit = (1 << prefix_bits) - 1
    value = buf[pos] & limit
    pos += 1
    if value < limit:
        return value, pos
    shift = 0
    while True:
        b = buf[pos]
        pos += 1
        value += (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return value, pos


# ---------------------------------------------------------------------------
# HPACK: canonical Huffman code (RFC 7541 Appendix B)
# ---------------------------------------------------------------------------

# (code, bit length) for symbols 0..255 plus EOS at index 256, transcribed
# from the RFC table. Golden tests pin the encodings the RFC's Appendix C
# examples exercise; a totality test round-trips every byte value.
_HUFFMAN: list[tuple[int, int]] = [
    (0x1FF8, 13), (0x7FFFD8, 23), (0xFFFFFE2, 28), (0xFFFFFE3, 28),
    (0xFFFFFE4, 28), (0xFFFFFE5, 28), (0xFFFFFE6, 28), (0xFFFFFE7, 28),
    (0xFFFFFE8, 28), (0xFFFFEA, 24), (0x3FFFFFFC, 30), (0xFFFFFE9, 28),
    (0xFFFFFEA, 28), (0x3FFFFFFD, 30), (0xFFFFFEB, 28), (0xFFFFFEC, 28),
    (0xFFFFFED, 28), (0xFFFFFEE, 28), (0xFFFFFEF, 28), (0xFFFFFF0, 28),
    (0xFFFFFF1, 28), (0xFFFFFF2, 28), (0x3FFFFFFE, 30), (0xFFFFFF3, 28),
    (0xFFFFFF4, 28), (0xFFFFFF5, 28), (0xFFFFFF6, 28), (0xFFFFFF7, 28),
    (0xFFFFFF8, 28), (0xFFFFFF9, 28), (0xFFFFFFA, 28), (0xFFFFFFB, 28),
    (0x14, 6), (0x3F8, 10), (0x3F9, 10), (0xFFA, 12),
    (0x1FF9, 13), (0x15, 6), (0xF8, 8), (0x7FA, 11),
    (0x3FA, 10), (0x3FB, 10), (0xF9, 8), (0x7FB, 11),
    (0xFA, 8), (0x16, 6), (0x17, 6), (0x18, 6),
    (0x0, 5), (0x1, 5), (0x2, 5), (0x19, 6),
    (0x1A, 6), (0x1B, 6), (0x1C, 6), (0x1D, 6),
    (0x1E, 6), (0x1F, 6), (0x5C, 7), (0xFB, 8),
    (0x7FFC, 15), (0x20, 6), (0xFFB, 12), (0x3FC, 10),
    (0x1FFA, 13), (0x21, 6), (0x5D, 7), (0x5E, 7),
    (0x5F, 7), (0x60, 7), (0x61, 7), (0x62, 7),
    (0x63, 7), (0x64, 7), (0x65, 7), (0x66, 7),
    (0x67, 7), (0x68, 7), (0x69, 7), (0x6A, 7),
    (0x6B, 7), (0x6C, 7), (0x6D, 7), (0x6E, 7),
    (0x6F, 7), (0x70, 7), (0x71, 7), (0x72, 7),
    (0xFC, 8), (0x73, 7), (0xFD, 8), (0x1FFB, 13),
    (0x7FFF0, 19), (0x1FFC, 13), (0x3FFC, 14), (0x22, 6),
    (0x7FFD, 15), (0x3, 5), (0x23, 6), (0x4, 5),
    (0x24, 6), (0x5, 5), (0x25, 6), (0x26, 6),
    (0x27, 6), (0x6, 5), (0x74, 7), (0x75, 7),
    (0x28, 6), (0x29, 6), (0x2A, 6), (0x7, 5),
    (0x2B, 6), (0x76, 7), (0x2C, 6), (0x8, 5),
    (0x9, 5), (0x2D, 6), (0x77, 7), (0x78, 7),
    (0x79, 7), (0x7A, 7), (0x7B, 7), (0x7FFE, 15),
    (0x7FC, 11), (0x3FFD, 14), (0x1FFD, 13), (0xFFFFFFC, 28),
    (0xFFFE6, 20), (0x3FFFD2, 22), (0xFFFE7, 20), (0xFFFE8, 20),
    (0x3FFFD3, 22), (0x3FFFD4, 22), (0x3FFFD5, 22), (0x7FFFD9, 23),
    (0x3FFFD6, 22), (0x7FFFDA, 23), (0x7FFFDB, 23), (0x7FFFDC, 23),
    (0x7FFFDD, 23), (0x7FFFDE, 23), (0xFFFFEB, 24), (0x7FFFDF, 23),
    (0xFFFFEC, 24), (0xFFFFED, 24), (0x3FFFD7, 22), (0x7FFFE0, 23),
    (0xFFFFEE, 24), (0x7FFFE1, 23), (0x7FFFE2, 23), (0x7FFFE3, 23),
    (0x7FFFE4, 23), (0x1FFFDC, 21), (0x3FFFD8, 22), (0x7FFFE5, 23),
    (0x3FFFD9, 22), (0x7FFFE6, 23), (0x7FFFE7, 23), (0xFFFFEF, 24),
    (0x3FFFDA, 22), (0x1FFFDD, 21), (0xFFFE9, 20), (0x3FFFDB, 22),
    (0x3FFFDC, 22), (0x7FFFE8, 23), (0x7FFFE9, 23), (0x1FFFDE, 21),
    (0x7FFFEA, 23), (0x3FFFDD, 22), (0x3FFFDE, 22), (0xFFFFF0, 24),
    (0x1FFFDF, 21), (0x3FFFDF, 22), (0x7FFFEB, 23), (0x7FFFEC, 23),
    (0x1FFFE0, 21), (0x1FFFE1, 21), (0x3FFFE0, 22), (0x1FFFE2, 21),
    (0x7FFFED, 23), (0x3FFFE1, 22), (0x7FFFEE, 23), (0x7FFFEF, 23),
    (0xFFFEA, 20), (0x3FFFE2, 22), (0x3FFFE3, 22), (0x3FFFE4, 22),
    (0x7FFFF0, 23), (0x3FFFE5, 22), (0x3FFFE6, 22), (0x7FFFF1, 23),
    (0x3FFFFE0, 26), (0x3FFFFE1, 26), (0xFFFEB, 20), (0x7FFF1, 19),
    (0x3FFFE7, 22), (0x7FFFF2, 23), (0x3FFFE8, 22), (0x1FFFFEC, 25),
    (0x3FFFFE2, 26), (0x3FFFFE3, 26), (0x3FFFFE4, 26), (0x7FFFFDE, 27),
    (0x7FFFFDF, 27), (0x3FFFFE5, 26), (0xFFFFF1, 24), (0x1FFFFED, 25),
    (0x7FFF2, 19), (0x1FFFE3, 21), (0x3FFFFE6, 26), (0x7FFFFE0, 27),
    (0x7FFFFE1, 27), (0x3FFFFE7, 26), (0x7FFFFE2, 27), (0xFFFFF2, 24),
    (0x1FFFE4, 21), (0x1FFFE5, 21), (0x3FFFFE8, 26), (0x3FFFFE9, 26),
    (0xFFFFFFD, 28), (0x7FFFFE3, 27), (0x7FFFFE4, 27), (0x7FFFFE5, 27),
    (0xFFFEC, 20), (0xFFFFF3, 24), (0xFFFED, 20), (0x1FFFE6, 21),
    (0x3FFFE9, 22), (0x1FFFE7, 21), (0x1FFFE8, 21), (0x7FFFF3, 23),
    (0x3FFFEA, 22), (0x3FFFEB, 22), (0x1FFFFEE, 25), (0x1FFFFEF, 25),
    (0xFFFFF4, 24), (0xFFFFF5, 24), (0x3FFFFEA, 26), (0x7FFFF4, 23),
    (0x3FFFFEB, 26), (0x7FFFFE6, 27), (0x3FFFFEC, 26), (0x3FFFFED, 26),
    (0x7FFFFE7, 27), (0x7FFFFE8, 27), (0x7FFFFE9, 27), (0x7FFFFEA, 27),
    (0x7FFFFEB, 27), (0xFFFFFFE, 28), (0x7FFFFEC, 27), (0x7FFFFED, 27),
    (0x7FFFFEE, 27), (0x7FFFFEF, 27), (0x7FFFFF0, 27), (0x3FFFFEE, 26),
    (0x3FFFFFFF, 30),
]

# decode table: left-to-right bit walk over a {0,1}-keyed trie would be
# slow in Python; use a dict keyed by (bits, length) — codes are
# prefix-free, so probing lengths in ascending order is unambiguous.
_HUF_DECODE: dict[tuple[int, int], int] = {
    (code, bits): sym for sym, (code, bits) in enumerate(_HUFFMAN)
}
_HUF_LENGTHS = sorted({bits for _, bits in _HUFFMAN})


def huffman_encode(data: bytes) -> bytes:
    acc = 0
    nbits = 0
    out = bytearray()
    for b in data:
        code, bits = _HUFFMAN[b]
        acc = (acc << bits) | code
        nbits += bits
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
    if nbits:  # pad with EOS prefix (all-ones)
        out.append(((acc << (8 - nbits)) | ((1 << (8 - nbits)) - 1)) & 0xFF)
    return bytes(out)


def huffman_decode(data: bytes) -> bytes:
    out = bytearray()
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        matched = True
        while matched:
            matched = False
            for ln in _HUF_LENGTHS:
                if ln > nbits:
                    break
                sym = _HUF_DECODE.get(
                    ((acc >> (nbits - ln)) & ((1 << ln) - 1), ln)
                )
                if sym is not None:
                    if sym == 256:
                        raise ValueError("EOS symbol in huffman data")
                    out.append(sym)
                    nbits -= ln
                    matched = True
                    break
    # trailing bits must be a (possibly empty) EOS prefix: all ones, < 8
    if nbits >= 8 or (acc & ((1 << nbits) - 1)) != (1 << nbits) - 1:
        raise ValueError("invalid huffman padding")
    return bytes(out)


# ---------------------------------------------------------------------------
# HPACK: static table (RFC 7541 Appendix A) + dynamic table
# ---------------------------------------------------------------------------

HPACK_STATIC: list[tuple[str, str]] = [
    (":authority", ""), (":method", "GET"), (":method", "POST"),
    (":path", "/"), (":path", "/index.html"), (":scheme", "http"),
    (":scheme", "https"), (":status", "200"), (":status", "204"),
    (":status", "206"), (":status", "304"), (":status", "400"),
    (":status", "404"), (":status", "500"), ("accept-charset", ""),
    ("accept-encoding", "gzip, deflate"), ("accept-language", ""),
    ("accept-ranges", ""), ("accept", ""),
    ("access-control-allow-origin", ""), ("age", ""), ("allow", ""),
    ("authorization", ""), ("cache-control", ""),
    ("content-disposition", ""), ("content-encoding", ""),
    ("content-language", ""), ("content-length", ""),
    ("content-location", ""), ("content-range", ""), ("content-type", ""),
    ("cookie", ""), ("date", ""), ("etag", ""), ("expect", ""),
    ("expires", ""), ("from", ""), ("host", ""), ("if-match", ""),
    ("if-modified-since", ""), ("if-none-match", ""), ("if-range", ""),
    ("if-unmodified-since", ""), ("last-modified", ""), ("link", ""),
    ("location", ""), ("max-forwards", ""), ("proxy-authenticate", ""),
    ("proxy-authorization", ""), ("range", ""), ("referer", ""),
    ("refresh", ""), ("retry-after", ""), ("server", ""),
    ("set-cookie", ""), ("strict-transport-security", ""),
    ("transfer-encoding", ""), ("user-agent", ""), ("vary", ""),
    ("via", ""), ("www-authenticate", ""),
]
_STATIC_N = len(HPACK_STATIC)  # 61


class _DynTable:
    """HPACK dynamic table: FIFO, size-bounded, entry size = name +
    value + 32 (RFC 7541 §4.1). Index 1 is the most recent entry."""

    def __init__(self, max_size: int = 4096):
        self.entries: list[tuple[str, str]] = []
        self.size = 0
        self.max_size = max_size

    def add(self, name: str, value: str) -> None:
        need = len(name.encode()) + len(value.encode()) + 32
        self.entries.insert(0, (name, value))
        self.size += need
        self._evict()

    def resize(self, max_size: int) -> None:
        self.max_size = max_size
        self._evict()

    def _evict(self) -> None:
        while self.size > self.max_size and self.entries:
            n, v = self.entries.pop()
            self.size -= len(n.encode()) + len(v.encode()) + 32


# SETTINGS_MAX_HEADER_LIST_SIZE value: the SINGLE source for both the
# advertised limit (the server's initial SETTINGS frame) and the enforced
# decoded-list bound (HpackDecoder default) — one constant so the two
# cannot drift and the server advertise one limit while enforcing another
# (ADVICE r12).
MAX_HEADER_LIST = 65536


class HpackDecoder:
    def __init__(
        self, max_table_size: int = 4096, max_header_list: int = MAX_HEADER_LIST
    ):
        self.table = _DynTable(max_table_size)
        # RFC 7541 §4.2: a dynamic-table-size update MUST be at or below
        # the limit we advertised via SETTINGS_HEADER_TABLE_SIZE; a larger
        # value is a decoding (= connection) error, not a grant — without
        # this a peer grows the decoder table without bound.
        self.settings_limit = max_table_size
        # SETTINGS_MAX_HEADER_LIST_SIZE analogue (ADVICE r11): the WIRE
        # block is capped upstream (MAX_HEADER_BLOCK), but indexed refs
        # amplify 1-2 wire bytes into up-to-4KB table entries, so a 64KB
        # block could otherwise DECODE to ~100s of MB. Enforce the bound
        # on the decoded list (RFC 7541 uncompressed size: name + value
        # + 32 per entry), aborting mid-decode before the memory exists.
        self.max_header_list = max_header_list

    def _lookup(self, idx: int) -> tuple[str, str]:
        if idx == 0:
            raise ValueError("hpack index 0")
        if idx <= _STATIC_N:
            return HPACK_STATIC[idx - 1]
        dyn = idx - _STATIC_N - 1
        if dyn >= len(self.table.entries):
            raise ValueError(f"hpack index {idx} out of table")
        return self.table.entries[dyn]

    def _read_string(self, buf: bytes, pos: int) -> tuple[str, int]:
        huff = bool(buf[pos] & 0x80)
        length, pos = hpack_decode_int(buf, pos, 7)
        raw = buf[pos : pos + length]
        if len(raw) != length:
            raise ValueError("truncated hpack string")
        pos += length
        return (huffman_decode(raw) if huff else raw).decode("utf-8"), pos

    def decode(self, block: bytes) -> list[tuple[str, str]]:
        headers: list[tuple[str, str]] = []
        listed = 0  # RFC 7541 §4.1 uncompressed size of the decoded list
        pos = 0

        def _emit(name: str, value: str) -> None:
            nonlocal listed
            listed += len(name.encode()) + len(value.encode()) + 32
            if listed > self.max_header_list:
                # phrased to classify as ENHANCE_YOUR_CALM (an intake
                # bound), not COMPRESSION_ERROR: the HPACK stream itself
                # is well-formed — the peer is amplifying, not corrupt
                raise ValueError("decoded header list exceeds limit")
            headers.append((name, value))

        while pos < len(block):
            b = block[pos]
            if b & 0x80:  # indexed field
                idx, pos = hpack_decode_int(block, pos, 7)
                _emit(*self._lookup(idx))
            elif b & 0x40:  # literal with incremental indexing
                idx, pos = hpack_decode_int(block, pos, 6)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = self._read_string(block, pos)
                value, pos = self._read_string(block, pos)
                self.table.add(name, value)
                _emit(name, value)
            elif b & 0x20:  # dynamic table size update
                size, pos = hpack_decode_int(block, pos, 5)
                if size > self.settings_limit:
                    raise ValueError(
                        f"hpack table size update {size} exceeds advertised "
                        f"SETTINGS_HEADER_TABLE_SIZE {self.settings_limit}"
                    )
                self.table.resize(size)
            else:  # literal without indexing (0000) / never indexed (0001)
                idx, pos = hpack_decode_int(block, pos, 4)
                name = self._lookup(idx)[0] if idx else None
                if name is None:
                    name, pos = self._read_string(block, pos)
                value, pos = self._read_string(block, pos)
                _emit(name, value)
        return headers


class HpackEncoder:
    """Encoder with the standard strategy: full (name, value) static or
    dynamic hit -> indexed field; name-only hit -> literal with
    incremental indexing against the name index; else literal with
    incremental indexing and a literal name. ``huffman=True`` Huffman-
    codes every literal string (what nghttp2 does when shorter; here
    unconditional so the path is always exercised)."""

    def __init__(self, max_table_size: int = 4096, huffman: bool = True):
        self.table = _DynTable(max_table_size)
        self.huffman = huffman

    def _string(self, s: str) -> bytes:
        raw = s.encode("utf-8")
        if self.huffman:
            enc = huffman_encode(raw)
            if len(enc) <= len(raw):  # RFC C.6.2 huffman-codes at equal len
                return hpack_encode_int(len(enc), 7, 0x80) + enc
        return hpack_encode_int(len(raw), 7, 0x00) + raw

    def encode(self, headers: list[tuple[str, str]]) -> bytes:
        out = bytearray()
        for name, value in headers:
            full_idx = name_idx = 0
            for i, (n, v) in enumerate(HPACK_STATIC, start=1):
                if n == name:
                    if v == value:
                        full_idx = i
                        break
                    if not name_idx:
                        name_idx = i
            if not full_idx:
                for i, (n, v) in enumerate(
                    self.table.entries, start=_STATIC_N + 1
                ):
                    if n == name and v == value:
                        full_idx = i
                        break
                    if n == name and not name_idx:
                        name_idx = i
            if full_idx:
                out += hpack_encode_int(full_idx, 7, 0x80)
                continue
            out += hpack_encode_int(name_idx, 6, 0x40)
            if not name_idx:
                out += self._string(name)
            out += self._string(value)
            self.table.add(name, value)
        return bytes(out)


# ---------------------------------------------------------------------------
# HTTP/2 framing (RFC 9113)
# ---------------------------------------------------------------------------

PREFACE = b"PRI * HTTP/2.0\r\n\r\nSM\r\n\r\n"
F_DATA, F_HEADERS, F_PRIORITY, F_RST, F_SETTINGS = 0, 1, 2, 3, 4
F_PUSH, F_PING, F_GOAWAY, F_WINDOW_UPDATE, F_CONTINUATION = 5, 6, 7, 8, 9
FLAG_END_STREAM = 0x1  # DATA / HEADERS
FLAG_ACK = 0x1  # SETTINGS / PING
FLAG_END_HEADERS = 0x4
FLAG_PADDED = 0x8
FLAG_PRIORITY = 0x20
DEFAULT_WINDOW = 65535
MAX_FRAME = 16384
# Intake bounds (per stream): the server advertises default SETTINGS, so
# a conforming peer never exceeds MAX_FRAME per frame — enforcing it (and
# capping header-block / request-body accumulation) turns a hostile
# peer's unbounded-memory attempt into the same connection teardown any
# other protocol violation gets. gRPC requests here are small (a
# QueryReq / RequestStreamRecord); 64 KB of headers and 64 MB of body
# are generous ceilings, not tight fits.
MAX_HEADER_BLOCK = 65536
MAX_REQUEST_BODY = 64 << 20
# Per-CONNECTION aggregates (ADVICE r10): the per-stream caps above bound
# each stream id, but stream ids are free — without these a hostile peer
# opens unlimited ids and buffers MAX_REQUEST_BODY per id indefinitely.
# Cap the count of streams with pending (undispatched) state and the
# total bytes buffered across them; exceeding either is the same
# connection teardown as any other violation (ENHANCE_YOUR_CALM).
MAX_CONCURRENT_STREAMS = 128
MAX_CONNECTION_BUFFER = 128 << 20
SETTINGS_MAX_CONCURRENT_STREAMS = 0x3
SETTINGS_INITIAL_WINDOW_SIZE = 0x4
SETTINGS_MAX_FRAME_SIZE = 0x5
SETTINGS_MAX_HEADER_LIST_SIZE = 0x6
# RFC 9113 §7 error codes used in GOAWAY
ERR_PROTOCOL, ERR_FRAME_SIZE = 0x1, 0x6
ERR_COMPRESSION, ERR_CALM = 0x9, 0xB


def pack_frame(ftype: int, flags: int, stream_id: int, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))[1:]
        + bytes([ftype, flags])
        + struct.pack(">I", stream_id & 0x7FFFFFFF)
        + payload
    )


def read_exact(rf, n: int) -> bytes | None:
    buf = b""
    while len(buf) < n:
        chunk = rf.read(n - len(buf))
        if not chunk:
            return None
        buf += chunk
    return buf


def read_frame_header(rf) -> tuple[int, int, int, int] | None:
    hdr = read_exact(rf, 9)
    if hdr is None:
        return None
    length = int.from_bytes(hdr[:3], "big")
    return length, hdr[3], hdr[4], int.from_bytes(hdr[5:9], "big") & 0x7FFFFFFF


def _strip_padding(payload: bytes, flags: int) -> bytes:
    if flags & FLAG_PADDED:
        pad = payload[0]
        payload = payload[1:]
        if pad > len(payload):
            raise ValueError("padding exceeds frame")
        payload = payload[: len(payload) - pad]
    return payload


# ---------------------------------------------------------------------------
# Server
# ---------------------------------------------------------------------------


class _H2Conn:
    """Per-connection HTTP/2 state shared by the reader loop and the
    per-stream handler threads: serialized writes, one HPACK context
    each way, honest send-side flow control."""

    def __init__(self, sock):
        self.sock = sock
        self.wlock = threading.Lock()  # frame writes + encoder context
        self.enc = HpackEncoder()
        self.dec = HpackDecoder()
        self.max_frame = MAX_FRAME
        self.init_window = DEFAULT_WINDOW  # peer's, for new streams
        self.conn_window = DEFAULT_WINDOW  # our budget toward the peer
        self.stream_windows: dict[int, int] = {}
        self.flow = threading.Condition()
        self.closed = False
        self.reset_streams: set[int] = set()
        # stream ids with a live handler (added at dispatch, dropped at
        # trailers): per-stream state — windows, resets — is tracked ONLY
        # for these, so RST/WINDOW_UPDATE floods over arbitrary ids
        # cannot grow connection state (the r11 aggregate-bound rule)
        self.dispatched: set[int] = set()

    def write(self, raw: bytes) -> None:
        with self.wlock:
            self.sock.sendall(raw)

    def send_headers(
        self, stream_id: int, headers: list[tuple[str, str]], end_stream: bool
    ) -> None:
        # encoder context mutates per block: encode under the write lock
        # so block order on the wire matches encoder state order
        with self.wlock:
            block = self.enc.encode(headers)
            flags = FLAG_END_HEADERS | (FLAG_END_STREAM if end_stream else 0)
            self.sock.sendall(pack_frame(F_HEADERS, flags, stream_id, block))

    def send_data(self, stream_id: int, data: bytes, end_stream: bool) -> None:
        view = memoryview(data)
        while True:
            with self.flow:
                if self.closed or stream_id in self.reset_streams:
                    return
                sw = self.stream_windows.setdefault(stream_id, self.init_window)
                budget = min(self.conn_window, sw, self.max_frame)
                if len(view) and budget <= 0:
                    # honest flow control: block until WINDOW_UPDATE
                    self.flow.wait(timeout=30)
                    continue
                n = min(len(view), max(budget, 0))
                self.conn_window -= n
                self.stream_windows[stream_id] = sw - n
            chunk = bytes(view[:n])
            view = view[n:]
            last = not len(view)
            self.write(
                pack_frame(
                    F_DATA,
                    FLAG_END_STREAM if (end_stream and last) else 0,
                    stream_id,
                    chunk,
                )
            )
            if last:
                return

    def window_update(self, stream_id: int, increment: int) -> None:
        with self.flow:
            if stream_id == 0:
                self.conn_window += increment
            elif (
                stream_id in self.dispatched
                or stream_id in self.stream_windows
            ):
                self.stream_windows[stream_id] = (
                    self.stream_windows.get(stream_id, self.init_window)
                    + increment
                )
            # else: update for an idle/closed stream — legal to receive
            # after close (RFC 9113 §5.1), but it must not CREATE state:
            # a flood of updates over arbitrary ids would otherwise grow
            # stream_windows without bound
            self.flow.notify_all()


class _GrpcStream:
    """One gRPC response stream: ``sendall`` sends the response HEADERS
    once, then feeds the bytes into flow-controlled DATA frames;
    ``send_trailers`` closes the stream with its grpc-status."""

    def __init__(self, conn: _H2Conn, stream_id: int):
        self.conn = conn
        self.stream_id = stream_id
        self.headers_sent = False

    def send_response_headers(self) -> None:
        if not self.headers_sent:
            self.headers_sent = True
            self.conn.send_headers(
                self.stream_id,
                [(":status", "200"), ("content-type", "application/grpc")],
                end_stream=False,
            )

    def sendall(self, data: bytes) -> None:
        self.send_response_headers()
        self.conn.send_data(self.stream_id, data, end_stream=False)

    def send_trailers(self, status: int, message: str | None = None) -> None:
        trailers = [("grpc-status", str(status))]
        if message:
            trailers.append(("grpc-message", _percent_encode(message[:500])))
        try:
            if not self.headers_sent:
                # gRPC Trailers-Only response: one HEADERS frame carrying
                # response headers + trailers, END_STREAM set
                self.headers_sent = True
                self.conn.send_headers(
                    self.stream_id,
                    [(":status", "200"), ("content-type", "application/grpc")]
                    + trailers,
                    end_stream=True,
                )
                return
            self.conn.send_headers(self.stream_id, trailers, end_stream=True)
        finally:
            # trailers terminate the stream: drop its flow-control and
            # reset bookkeeping so a long-lived connection's per-stream
            # state stays bounded by CONCURRENT streams, not by every
            # stream id ever served
            with self.conn.flow:
                self.conn.stream_windows.pop(self.stream_id, None)
                self.conn.reset_streams.discard(self.stream_id)
                self.conn.dispatched.discard(self.stream_id)


def _percent_encode(msg: str) -> str:
    """gRPC percent-encodes grpc-message (spaces and printable ASCII
    except '%' pass through)."""
    out = []
    for ch in msg:
        o = ord(ch)
        if 0x20 <= o <= 0x7E and ch != "%":
            out.append(ch)
        else:
            out.extend(f"%{b:02X}" for b in ch.encode("utf-8"))
    return "".join(out)


_SERVICE_PREFIX = "/qpuapi.QPUAPI/"  # qpuapi.proto:3,9


def _is_client_error(exc: Exception) -> bool:
    name = type(exc).__name__
    return "Analysis" in name or "Parse" in name or isinstance(exc, ValueError)


class GrpcQueryServer:
    """Serve an ``Engine`` as gRPC over HTTP/2 — the protobuf sibling of
    server.QueryServer. ``:path`` picks the method:

    - ``QueryUnary`` takes a QueryReq and answers one QueryResp;
    - ``Query`` takes a RequestStreamRecord (the bidi stream's element
      type) carrying either query arm: SQL, or an ASTQuery translated
      onto the operator layer. Its QueryRequest.metadata may name a live
      ``views`` entry (``view``), continuing the stream as UPDATEDELTA
      records after END_OF_STREAM — the reference's snapshot+subscribe
      composite — and may carry ``updates_timeout``, the quiet-close
      window;
    - ``QuerySubscribe`` takes a QueryReq; it and ``Query`` answer a
      stream of ResponseStreamRecords ending with END_OF_STREAM;
    - ``GetConfig`` answers one ConfigResponse.

    Analysis/parse errors map to INVALID_ARGUMENT (3), internal failures
    to INTERNAL (13) — the same mapping rpcserver.go gets from Go's
    status package. Interop-tested against curl and nghttp (both
    libnghttp2) in tests/test_h2.py."""

    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        views: dict | None = None,
    ):
        self.engine = engine
        self.views = views or {}
        self._sock = socket.create_server((host, port))
        self.host, self.port = self._sock.getsockname()[:2]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._serve, daemon=True)

    def start(self) -> "GrpcQueryServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        try:  # unblock accept()
            socket.create_connection((self.host, self.port), timeout=1).close()
        except OSError:
            pass
        self._sock.close()
        self._thread.join(timeout=5)

    def __enter__(self) -> "GrpcQueryServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- connection handling ------------------------------------------------
    def _serve(self) -> None:
        while not self._stop.is_set():
            try:
                conn, _addr = self._sock.accept()
            except OSError:
                return
            if self._stop.is_set():
                conn.close()
                return
            threading.Thread(
                target=self._handle, args=(conn,), daemon=True
            ).start()

    def _handle(self, conn) -> None:
        rf = conn.makefile("rb")
        h2 = _H2Conn(conn)
        last_sid = 0  # highest client stream id seen, for GOAWAY
        try:
            if read_exact(rf, len(PREFACE)) != PREFACE:
                conn.close()
                return
            # advertise the intake bounds we enforce (RFC 9113 §6.5.2) so
            # CONFORMING peers never trip them: MAX_CONCURRENT_STREAMS and
            # MAX_HEADER_LIST_SIZE mirror the enforcement constants — a
            # peer exceeding an advertised limit is hostile by definition,
            # which is exactly the GOAWAY story the enforcement tells
            h2.write(
                pack_frame(
                    F_SETTINGS, 0, 0,
                    struct.pack(
                        ">HIHI",
                        SETTINGS_MAX_CONCURRENT_STREAMS,
                        MAX_CONCURRENT_STREAMS,
                        SETTINGS_MAX_HEADER_LIST_SIZE,
                        MAX_HEADER_LIST,
                    ),
                )
            )
            # per-stream request assembly
            req_headers: dict[int, list[tuple[str, str]]] = {}
            req_body: dict[int, bytearray] = {}
            hdr_frag: dict[int, bytearray] = {}
            hdr_end_stream: dict[int, bool] = {}
            while True:
                fh = read_frame_header(rf)
                if fh is None:
                    return
                length, ftype, flags, sid = fh
                if sid > last_sid:
                    last_sid = sid
                if length > MAX_FRAME:
                    # RFC 9113 §4.2: larger than the advertised
                    # SETTINGS_MAX_FRAME_SIZE is FRAME_SIZE_ERROR
                    raise ValueError(f"frame of {length} exceeds MAX_FRAME")
                payload = read_exact(rf, length)
                if payload is None:
                    return
                if ftype == F_SETTINGS and not flags & FLAG_ACK:
                    self._apply_settings(h2, payload)
                    h2.write(pack_frame(F_SETTINGS, FLAG_ACK, 0, b""))
                elif ftype == F_PING and not flags & FLAG_ACK:
                    h2.write(pack_frame(F_PING, FLAG_ACK, 0, payload))
                elif ftype == F_WINDOW_UPDATE:
                    h2.window_update(
                        sid, int.from_bytes(payload, "big") & 0x7FFFFFFF
                    )
                elif ftype == F_GOAWAY:
                    return
                elif ftype == F_RST:
                    # free the cancelled stream's assembly state — it
                    # would otherwise count against the per-connection
                    # aggregates forever (a client cancelling >cap
                    # requests over a connection's lifetime must not
                    # get torn down as hostile)
                    req_headers.pop(sid, None)
                    req_body.pop(sid, None)
                    hdr_frag.pop(sid, None)
                    hdr_end_stream.pop(sid, None)
                    with h2.flow:
                        # record the reset ONLY for a live handler (it
                        # reads this to stop writing; trailers clean it
                        # up) — arbitrary-id RST floods must not grow
                        # the set
                        if sid in h2.dispatched:
                            h2.reset_streams.add(sid)
                        else:
                            # cancelled BEFORE dispatch: drop the window
                            # _headers_done seeded — no handler/trailer
                            # will ever clean it up
                            h2.stream_windows.pop(sid, None)
                        h2.flow.notify_all()
                elif ftype == F_HEADERS:
                    body = _strip_padding(payload, flags)
                    if flags & FLAG_PRIORITY:
                        body = body[5:]
                    hdr_frag[sid] = bytearray(body)
                    hdr_end_stream[sid] = bool(flags & FLAG_END_STREAM)
                    if flags & FLAG_END_HEADERS:
                        self._headers_done(
                            h2, sid, hdr_frag, hdr_end_stream,
                            req_headers, req_body,
                        )
                elif ftype == F_CONTINUATION:
                    hdr_frag[sid] += payload
                    if len(hdr_frag[sid]) > MAX_HEADER_BLOCK:
                        raise ValueError("header block exceeds limit")
                    if flags & FLAG_END_HEADERS:
                        self._headers_done(
                            h2, sid, hdr_frag, hdr_end_stream,
                            req_headers, req_body,
                        )
                elif ftype == F_DATA:
                    data = _strip_padding(payload, flags)
                    body = req_body.setdefault(sid, bytearray())
                    body.extend(data)
                    if len(body) > MAX_REQUEST_BODY:
                        raise ValueError("request body exceeds limit")
                    if length:  # flow-control credit back to the client
                        upd = struct.pack(">I", length)
                        h2.write(pack_frame(F_WINDOW_UPDATE, 0, 0, upd))
                        h2.write(pack_frame(F_WINDOW_UPDATE, 0, sid, upd))
                    if flags & FLAG_END_STREAM:
                        self._dispatch(h2, sid, req_headers, req_body)
                # PRIORITY / PUSH_PROMISE / unknown: ignored
                if ftype in (F_HEADERS, F_CONTINUATION, F_DATA):
                    # per-connection aggregate intake bounds: count and
                    # size of streams still accumulating (dispatch pops
                    # them, so steady-state pending is small; the sum is
                    # over <= MAX_CONCURRENT_STREAMS entries)
                    if len(req_body) + len(hdr_frag) > MAX_CONCURRENT_STREAMS:
                        raise ValueError("open streams exceed limit")
                    buffered = sum(len(b) for b in req_body.values()) + sum(
                        len(b) for b in hdr_frag.values()
                    )
                    if buffered > MAX_CONNECTION_BUFFER:
                        raise ValueError("connection buffer exceeds limit")
        except (OSError, ValueError, KeyError, IndexError) as exc:
            # client went away, or sent a protocol violation (bad HPACK,
            # CONTINUATION for an unknown stream, truncated varint):
            # tear the connection down — the per-connection blast radius
            # a real h2 server has. RFC 9113 §5.4.1: on a violation (not
            # a vanished peer) best-effort send GOAWAY with the error
            # code first, so better-behaved peers can distinguish a
            # protocol violation from a network failure (ADVICE r10).
            if not isinstance(exc, OSError):
                msg = str(exc)
                if "MAX_FRAME" in msg:
                    code = ERR_FRAME_SIZE
                elif isinstance(exc, ValueError) and (
                    "hpack" in msg or "huffman" in msg
                ):
                    # checked BEFORE the intake-bound match: the hpack
                    # table-size message also says "exceeds", and RFC
                    # 9113 requires COMPRESSION_ERROR for HPACK faults
                    code = ERR_COMPRESSION
                elif "exceeds limit" in msg or "exceed limit" in msg:
                    # exactly the five intake-bound messages (header
                    # block / decoded header list / request body / open
                    # streams / connection buffer); "padding exceeds
                    # frame" deliberately falls through to
                    # PROTOCOL_ERROR. NOTE the decoded-header-list bound
                    # raises from inside HPACK decode but is NOT a
                    # compression fault (the stream is well-formed, the
                    # peer is amplifying) — the hpack/huffman arm above
                    # matching on message text keeps it out of
                    # COMPRESSION_ERROR, which
                    # test_hpack_amplification_bounded_and_goaway_calm
                    # pins.
                    code = ERR_CALM
                else:
                    code = ERR_PROTOCOL
                try:
                    h2.write(
                        pack_frame(
                            F_GOAWAY, 0, 0,
                            struct.pack(">II", last_sid, code),
                        )
                    )
                    # closing with unread client bytes pending would RST
                    # the connection and discard the GOAWAY in flight:
                    # half-close our side and briefly drain theirs so
                    # the frame is deliverable. The drain is bounded by
                    # a TOTAL deadline, not just per-recv — a peer
                    # dribbling one byte per 0.9s must not pin this
                    # thread open-endedly
                    import time as _time

                    conn.shutdown(socket.SHUT_WR)
                    deadline = _time.monotonic() + 1.0
                    while _time.monotonic() < deadline:
                        conn.settimeout(
                            max(0.05, deadline - _time.monotonic())
                        )
                        if not conn.recv(65536):
                            break
                except OSError:
                    pass
        finally:
            with h2.flow:
                h2.closed = True
                h2.flow.notify_all()
            try:
                rf.close()
                conn.close()
            except OSError:
                pass

    @staticmethod
    def _apply_settings(h2: _H2Conn, payload: bytes) -> None:
        for off in range(0, len(payload) - 5, 6):
            ident = int.from_bytes(payload[off : off + 2], "big")
            value = int.from_bytes(payload[off + 2 : off + 6], "big")
            if ident == SETTINGS_MAX_FRAME_SIZE:
                h2.max_frame = max(MAX_FRAME, min(value, (1 << 24) - 1))
            elif ident == SETTINGS_INITIAL_WINDOW_SIZE:
                with h2.flow:
                    delta = value - h2.init_window
                    h2.init_window = value
                    for s in h2.stream_windows:
                        h2.stream_windows[s] += delta
                    h2.flow.notify_all()

    def _headers_done(
        self, h2, sid, hdr_frag, hdr_end_stream, req_headers, req_body
    ) -> None:
        req_headers[sid] = h2.dec.decode(bytes(hdr_frag.pop(sid)))
        req_body.setdefault(sid, bytearray())
        # the stream is OPEN from END_HEADERS (RFC 9113 §5.1): seed its
        # send window NOW so WINDOW_UPDATE credits arriving between
        # END_HEADERS and dispatch are retained (ADVICE r11 — a client
        # granting all credit up front would otherwise be permanently
        # under-credited and stall send_data). Assembly state exists for
        # sid, so this creates no arbitrary-id growth; pre-dispatch RST
        # pops the entry, dispatch hands it to the trailer cleanup.
        with h2.flow:
            h2.stream_windows.setdefault(sid, h2.init_window)
        if hdr_end_stream.pop(sid, False):
            self._dispatch(h2, sid, req_headers, req_body)

    # -- request dispatch ----------------------------------------------------
    def _dispatch(self, h2, sid, req_headers, req_body) -> None:
        headers = req_headers.pop(sid, [])
        body = bytes(req_body.pop(sid, b""))
        with h2.flow:
            h2.dispatched.add(sid)
        threading.Thread(
            target=self._run_method,
            args=(h2, sid, dict(headers), body),
            daemon=True,
        ).start()

    def _run_method(self, h2, sid, headers, body) -> None:
        try:
            self._run_method_inner(h2, sid, headers, body)
        except OSError:
            pass  # client went away mid-response

    def _run_method_inner(self, h2, sid, headers, body) -> None:
        stream = _GrpcStream(h2, sid)
        path = headers.get(":path", "")
        if not path.startswith(_SERVICE_PREFIX):
            stream.send_trailers(12, f"unknown service in {path!r}")
            return
        method = path[len(_SERVICE_PREFIX) :]
        try:
            req = wire.read_frame(io.BytesIO(body)) or b""
            if method == "QueryUnary":
                self._query_unary(stream, wire.decode_query_req(req)["queryStr"])
            elif method == "Query":
                qreq = wire.decode_request_stream_record(req).get("queryRequest")
                q = (qreq or {}).get("query", {})
                meta = (qreq or {}).get("metadata", {})
                view = None
                if "view" in meta:
                    # a misspelled view must not degrade into a plain
                    # snapshot stream: the client would never learn it
                    # has no subscription (the NDJSON server answers 400)
                    view = self.views.get(meta["view"])
                    if view is None:
                        raise ValueError(f"unknown view {meta['view']!r}")
                if "query_sql" in q:
                    self._query_stream(
                        stream,
                        q["query_sql"]["queryStr"],
                        view=view,
                        updates_timeout=clamp_updates_timeout(
                            meta.get("updates_timeout")
                        ),
                    )
                elif "query_ast" in q:
                    self._query_ast_stream(stream, q["query_ast"])
                else:
                    raise ValueError(
                        "Query expects a RequestStreamRecord carrying "
                        "QueryRequest.query (query_sql or query_ast)"
                    )
            elif method == "QuerySubscribe":
                self._query_stream(stream, wire.decode_query_req(req)["queryStr"])
            elif method == "GetConfig":
                self._get_config(stream)
            else:
                stream.send_trailers(12, f"unknown method {method!r}")
                return
        except Exception as exc:
            # before the first message this is a Trailers-Only response;
            # after it, the trailers end a stream that has no
            # END_OF_STREAM record, so the client sees the failure
            code = 3 if _is_client_error(exc) else 13
            stream.send_trailers(code, str(exc))
            return
        stream.send_trailers(0)

    # -- method handlers: each plans + runs its query BEFORE the first
    # sendall, so a failure still maps to a Trailers-Only status ----------
    def _query_unary(self, stream: _GrpcStream, sql: str) -> None:
        records = self.engine.query_unary(sql)
        resp = {
            "respRecord": [
                {
                    # the reference stamps the store's object id; the SQL
                    # surface has no canonical row id, so the row ordinal
                    # serves (documented deviation, same as server.py)
                    "record_id": str(i),
                    "attributes": rec,
                }
                for i, rec in enumerate(records)
            ]
        }
        stream.sendall(wire.frame(wire.encode_query_resp(resp)))

    def _query_stream(
        self, stream: _GrpcStream, sql: str, view=None,
        updates_timeout: float = 5.0,
    ) -> None:
        records = self.engine.query_stream(
            sql, view=view, typed=True, updates_timeout=updates_timeout
        )
        self._send_records(stream, records, bucket="result")

    def _query_ast_stream(self, stream: _GrpcStream, ast: dict) -> None:
        """Serve the ASTQuery arm: translate onto the operator layer
        (plans/astq.py) and stream STATE records + END_OF_STREAM — the
        reference's QPU-to-QPU request path, same record shape as the
        SQL arm, with the source table as the bucket."""
        from proteus_spark.plans.astq import ast_query

        rows = ast_query(self.engine.spark, ast).collect()
        records = [(i, "STATE", row.asDict()) for i, row in enumerate(rows)]
        records.append((len(rows), "END_OF_STREAM", None))
        self._send_records(stream, records, bucket=ast.get("table", "result"))

    @staticmethod
    def _send_records(stream: _GrpcStream, records, bucket: str) -> None:
        """Encode ``(seq, type, attrs)`` triples as ResponseStreamRecord
        frames. Snapshot STATE records buffer into bulk writes (one
        flow-control round per ~64 KB instead of per record — measured
        2.6s -> bulk for a 20k-record stream); control records
        (END_OF_STREAM) and live pushes (UPDATEDELTA) flush IMMEDIATELY —
        they are the latency-sensitive part of the snapshot+subscribe
        contract."""
        buf = bytearray()
        for seq, rtype, attrs in records:
            rec: dict = {"sequence_id": seq, "type": rtype}
            if attrs is not None:
                state = {
                    "attributes": {
                        k: wire._typed_value(v) for k, v in attrs.items()
                    }
                }
                # payload arm follows the record type, as in the
                # reference: STATE carries ObjectState, UPDATEDELTA a
                # StateDelta (qpu.proto:16-28). The engine's view deltas
                # surface post-update values only, so the delta's `old`
                # side is absent (proto3 submessage non-presence).
                payload = (
                    {"delta": {"new": state}}
                    if rtype == "UPDATEDELTA"
                    else {"state": state}
                )
                rec["logOp"] = {
                    "object_id": str(attrs.get("id", seq)),
                    "bucket": bucket,
                    "payload": payload,
                }
            buf += wire.frame(wire.encode_response_stream_record(rec))
            if rtype != "STATE" or len(buf) >= 65536:
                stream.sendall(bytes(buf))
                buf.clear()
        if buf:
            stream.sendall(bytes(buf))

    def _get_config(self, stream: _GrpcStream) -> None:
        tables = sorted(
            t.name for t in self.engine.spark.catalog.listTables()
        )
        resp = {"qpu_type": "DATASTORE_DRIVER", "schema": tables}
        stream.sendall(wire.frame(wire.encode_config_response(resp)))


# ---------------------------------------------------------------------------
# Client
# ---------------------------------------------------------------------------


# How long a client read waits for the server before it gives up.
_READ_TIMEOUT_S = 30.0


class _H2Client:
    """Minimal h2c prior-knowledge client for the call_* helpers: one
    request per connection (the tests that need multiplexing drive
    streams by hand or use curl/nghttp). ``timeout`` bounds each socket
    read."""

    def __init__(self, host: str, port: int, timeout: float = _READ_TIMEOUT_S):
        import socket

        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.rf = self.sock.makefile("rb")
        self.enc = HpackEncoder()
        self.dec = HpackDecoder()
        self.sock.sendall(PREFACE + pack_frame(F_SETTINGS, 0, 0, b""))

    def request(
        self, method: str, body: bytes
    ) -> tuple[list[tuple[str, str]], bytes, list[tuple[str, str]]]:
        """POST one gRPC message; returns (headers, data, trailers)."""
        headers = [
            (":method", "POST"),
            (":scheme", "http"),
            (":path", _SERVICE_PREFIX + method),
            (":authority", "localhost"),
            ("content-type", "application/grpc"),
            ("te", "trailers"),
        ]
        sid = 1
        block = self.enc.encode(headers)
        self.sock.sendall(
            pack_frame(F_HEADERS, FLAG_END_HEADERS, sid, block)
        )
        for off in range(0, len(body), MAX_FRAME) or [0]:
            chunk = body[off : off + MAX_FRAME]
            last = off + MAX_FRAME >= len(body)
            self.sock.sendall(
                pack_frame(
                    F_DATA, FLAG_END_STREAM if last else 0, sid, chunk
                )
            )
        resp_headers: list[tuple[str, str]] = []
        trailers: list[tuple[str, str]] = []
        data = bytearray()
        got_headers = False
        while True:
            fh = read_frame_header(self.rf)
            if fh is None:
                raise RuntimeError("connection closed mid-response")
            length, ftype, flags, fsid = fh
            payload = read_exact(self.rf, length)
            if payload is None:
                raise RuntimeError("truncated frame")
            if ftype == F_SETTINGS and not flags & FLAG_ACK:
                self.sock.sendall(pack_frame(F_SETTINGS, FLAG_ACK, 0, b""))
            elif ftype == F_PING and not flags & FLAG_ACK:
                self.sock.sendall(pack_frame(F_PING, FLAG_ACK, 0, payload))
            elif ftype == F_HEADERS and fsid == sid:
                hdrs = self.dec.decode(_strip_padding(payload, flags))
                if got_headers:
                    trailers = hdrs
                else:
                    got_headers = True
                    # Trailers-Only: grpc-status arrives in the first block
                    if flags & FLAG_END_STREAM:
                        trailers = hdrs
                    resp_headers = hdrs
                if flags & FLAG_END_STREAM:
                    return resp_headers, bytes(data), trailers
            elif ftype == F_DATA and fsid == sid:
                data += _strip_padding(payload, flags)
                if length:  # receive-side flow-control credit
                    upd = struct.pack(">I", length)
                    self.sock.sendall(
                        pack_frame(F_WINDOW_UPDATE, 0, 0, upd)
                        + pack_frame(F_WINDOW_UPDATE, 0, sid, upd)
                    )
                if flags & FLAG_END_STREAM:
                    return resp_headers, bytes(data), trailers
            elif ftype == F_GOAWAY:
                # surface the RFC 9113 error code the server now sends
                # on violations (r11) — peers distinguish a protocol
                # violation from a network failure by exactly this
                code = (
                    int.from_bytes(payload[4:8], "big")
                    if len(payload) >= 8
                    else 0
                )
                names = {
                    0x0: "NO_ERROR",
                    ERR_PROTOCOL: "PROTOCOL_ERROR",
                    ERR_FRAME_SIZE: "FRAME_SIZE_ERROR",
                    ERR_COMPRESSION: "COMPRESSION_ERROR",
                    ERR_CALM: "ENHANCE_YOUR_CALM",
                }
                raise RuntimeError(
                    f"server sent GOAWAY "
                    f"({names.get(code, hex(code))})"
                )

    def close(self) -> None:
        try:
            self.sock.sendall(pack_frame(F_GOAWAY, 0, 0, b"\0" * 8))
        except OSError:
            pass
        self.rf.close()
        self.sock.close()


def _grpc_call(
    host: str, port: int, method: str, req: bytes,
    timeout: float = _READ_TIMEOUT_S,
):
    cli = _H2Client(host, port, timeout)
    try:
        _hdrs, data, trailers = cli.request(method, wire.frame(req))
    finally:
        cli.close()
    tmap = dict(trailers)
    status = int(tmap.get("grpc-status", "2"))
    if status != 0:
        raise RuntimeError(
            f"grpc-status {status}: {tmap.get('grpc-message', '')}"
        )
    frames = []
    rf = io.BytesIO(data)
    while True:
        f = wire.read_frame(rf)
        if f is None:
            return frames
        frames.append(f)


def call_unary(host: str, port: int, sql: str) -> dict:
    frames = _grpc_call(
        host, port, "QueryUnary",
        wire.encode_query_req({"queryStr": sql}),
    )
    return wire.decode_query_resp(frames[0])


def call_subscribe(host: str, port: int, sql: str) -> list[dict]:
    frames = _grpc_call(
        host, port, "QuerySubscribe",
        wire.encode_query_req({"queryStr": sql}),
    )
    return [wire.decode_response_stream_record(f) for f in frames]


def call_query_sql(
    host: str,
    port: int,
    sql: str,
    view: str | None = None,
    updates_timeout: float | None = None,
) -> list[dict]:
    """One bidi ``Query``. With ``updates_timeout`` the server stays
    silent for up to that quiet window after its last push before it
    closes the stream, so the client's reads wait the window (as the
    server clamps it) on top of the usual read timeout."""
    qreq: dict = {"query": {"query_sql": {"queryStr": sql}}}
    if view is not None:
        qreq["metadata"] = {"view": view}
    timeout = _READ_TIMEOUT_S
    if updates_timeout is not None:
        qreq.setdefault("metadata", {})["updates_timeout"] = str(
            updates_timeout
        )
        timeout += clamp_updates_timeout(updates_timeout)
    req = wire.encode_request_stream_record({"queryRequest": qreq})
    frames = _grpc_call(host, port, "Query", req, timeout)
    return [wire.decode_response_stream_record(f) for f in frames]


def call_ast(host: str, port: int, ast: dict) -> list[dict]:
    req = wire.encode_request_stream_record(
        {"queryRequest": {"query": {"query_ast": ast}}}
    )
    frames = _grpc_call(host, port, "Query", req)
    return [wire.decode_response_stream_record(f) for f in frames]


def call_get_config(host: str, port: int) -> dict:
    frames = _grpc_call(
        host, port, "GetConfig", wire.encode_config_request({})
    )
    return wire.decode_config_response(frames[0])
