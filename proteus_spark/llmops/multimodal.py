"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The reference's data model is exactly this shape — an object is a key, an
UNINTERPRETED BLOB, and metadata attributes (reference:
Documentation.md:23-33; S3 objects with x-amz-meta-* attributes,
internal/qpu_classes/datastore_driver/s3/store.go:146-200). Here the blob
becomes a ``binary`` column with a metadata struct, and per-modality
decode/feature-extraction runs as Arrow-batched ``mapInPandas`` — the
Spark-side plumbing (schema, batch shape, partition parallelism) is real.
Library-backed codecs (PIL/librosa/ffmpeg) are not in this environment;
each decoder raises NotImplementedError where one would plug in:
``extract_features`` on any non-text modality, and ``resize_ppm``,
``audio_features``, ``video_frame_features`` and ``png_stats`` on a
payload outside the one format each decodes. Four modalities run END TO
END anyway because their formats need no library: the PPM (P6) image
path (``ppm_assets``/``resize_ppm``, decode → pool → re-encode), the WAV
(RIFF 8-bit PCM) audio path (``wav_assets``/``audio_features``,
chunk-walk decode → windowed amplitude/energy/RMS), the concatenated-P6
video path (``video_assets``/``video_frame_features``, frame-walk demux
→ keyframe-sampled channel means) and the PNG path
(``png_assets``/``png_stats``, zlib inflate → scanline unfilter →
channel sums) — all oracle-checked byte-for-byte.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EXTRACT_SCHEMA = "doc_id long, modality string, n_bytes long, magic string"


def to_binary_assets(docs: DataFrame) -> DataFrame:
    """Wrap documents as multimodal assets: (doc_id, payload binary,
    modality, meta struct). For testdata the payload is the utf-8 encoding
    of the text; real pipelines would read image/audio bytes the same way
    (spark.read.format('binaryFile') yields an identical shape)."""
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text").alias("modality"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("n_chars").alias("n_chars"),
        ).alias("meta"),
    )


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched decode/extract pass over binary payloads.

    mapInPandas keeps partition parallelism and streams batches through
    Python once — the correct shape for CPU-bound media work at scale
    (repartition upstream to size batches; no driver involvement).

    text -> byte length + 4-byte magic prefix. Other modalities are where a
    real decoder plugs in (PIL/librosa/ffmpeg) — stubbed deterministically.

    The batch function is a CLOSURE on purpose: cloudpickle then ships it
    by value, so executor Python workers need no importable copy of this
    package (the external driver runs us from an arbitrary cwd).
    """

    def _magic(payload: bytes, modality: str) -> str:
        if modality == "text":
            return bytes(payload[:4]).decode("utf-8", errors="replace")
        # Real decoders (image resize, audio resample, video frame-sample)
        # are not available in this environment; the plumbing around them
        # is what a worker would execute.
        raise NotImplementedError(f"decoder for modality {modality!r} is stubbed")

    def _extract_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "magic": [
                        _magic(payload, modality)
                        for payload, modality in zip(pdf["payload"], pdf["modality"])
                    ],
                }
            )

    return assets.mapInPandas(_extract_batch, schema=EXTRACT_SCHEMA)


FRAMES_SCHEMA = "doc_id long, frame_idx long, n_bytes long, head string"


PPM_SIDE = 8  # synthesized asset: 8x8 RGB
PPM_POOL = 4  # pooled 4x4 per output pixel -> 2x2 thumbnail


def ppm_assets(docs: DataFrame, side: int = PPM_SIDE) -> DataFrame:
    """Synthesize REAL PPM (P6) images JVM-side: header + side*side*3 raw
    RGB bytes taken from the (padded) document text. P6 is a genuine
    image format that needs no codec library, so the decode path below is
    a WORKING decoder, not a stub — the one modality this environment
    can exercise end-to-end.

    Text is stripped to printable ASCII first so one character == one
    byte: the oracle replays pixel values with per-CHARACTER codepoint
    arithmetic, and a multi-byte UTF-8 character would shift the byte
    stream against it (and overflow the header's promised body size)."""
    header = f"P6\n{side} {side}\n255\n".encode()
    n = side * side * 3
    ascii_text = F.regexp_replace("text", "[^ -~]", "")
    body = F.encode(F.substring(F.rpad(ascii_text, n, "x"), 1, n), "utf-8")
    return docs.select(
        "doc_id",
        F.concat(F.lit(header), body).alias("payload"),
        F.lit("image/ppm").alias("modality"),
    )


def resize_ppm(assets: DataFrame, pool: int = PPM_POOL) -> DataFrame:
    """REAL image decode → average-pool → re-encode for PPM (P6) assets:
    (doc_id, width, height, thumb binary, tvals array<int>).

    The decoder parses the P6 header (magic, dimensions, maxval) and
    reinterprets the raw RGB body with numpy; pooling is exact integer
    mean (block_sum // block_px) per channel; the thumbnail re-encodes
    as a valid P6. Arrow-batched mapInPandas, partition-parallel, no
    driver involvement — and because every step is integer arithmetic on
    known bytes, a SQL oracle can replay the pooled values (``tvals``)
    byte-for-byte. Non-PPM modalities still raise where a richer codec
    (PIL/ffmpeg) would plug in."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _decode(payload: bytes):
            b = bytes(payload)
            if not b.startswith(b"P6"):
                raise NotImplementedError("only P6 PPM decodes here")
            # header = magic, width, height, maxval as whitespace-separated
            # tokens; body starts after the single whitespace byte that
            # follows maxval
            fields, i = [], 2
            while len(fields) < 3:
                while b[i : i + 1].isspace():
                    i += 1
                j = i
                while not b[j : j + 1].isspace():
                    j += 1
                fields.append(int(b[i:j]))
                i = j
            i += 1  # the single whitespace after maxval
            w, h, _maxval = fields
            return _np.frombuffer(b, dtype=_np.uint8, count=w * h * 3, offset=i).reshape(
                h, w, 3
            )

        def _one(payload: bytes):
            img = _decode(payload)
            h, w, _ = img.shape
            oh, ow = h // pool, w // pool
            arr = img[: oh * pool, : ow * pool, :].astype(_np.int64)
            pooled = (
                arr.reshape(oh, pool, ow, pool, 3).sum(axis=(1, 3)) // (pool * pool)
            ).astype(_np.uint8)
            thumb = f"P6\n{ow} {oh}\n255\n".encode() + pooled.tobytes()
            return ow, oh, thumb, [int(v) for v in pooled.reshape(-1)]

        for pdf in batches:
            ws, hs, thumbs, tvals = [], [], [], []
            for payload in pdf["payload"]:
                w, h, t, v = _one(payload)
                ws.append(w)
                hs.append(h)
                thumbs.append(t)
                tvals.append(v)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": ws,
                    "height": hs,
                    "thumb": thumbs,
                    "tvals": tvals,
                }
            )

    return assets.mapInPandas(
        _batches,
        schema="doc_id long, width int, height int, thumb binary, tvals array<int>",
    )


def sample_frames(
    assets: DataFrame, frame_size: int = 64, every_n: int = 4
) -> DataFrame:
    """Frame sampling: one asset row fans out to every ``every_n``-th
    fixed-size chunk of the payload — the one-to-many mapInPandas shape a
    video sampler uses (ffmpeg keyframe extraction plugs into ``_chunks``).
    Deterministic here: frames are literal byte slices, so the result is
    oracle-checkable with substring arithmetic.
    """

    def _frames_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        def _chunks(payload: bytes):
            b = bytes(payload)
            for idx, start in enumerate(range(0, len(b), frame_size)):
                if idx % every_n == 0:
                    yield idx, b[start : start + frame_size]

        for pdf in batches:
            ids, idxs, sizes, heads = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for idx, frame in _chunks(payload):
                    ids.append(doc_id)
                    idxs.append(idx)
                    sizes.append(len(frame))
                    heads.append(frame[:4].decode("utf-8", errors="replace"))
            yield _pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "n_bytes": sizes, "head": heads}
            )

    return assets.mapInPandas(_frames_batch, schema=FRAMES_SCHEMA)


WAV_N_SAMPLES = 1024  # fixed payload size -> the 44-byte RIFF header is constant
WAV_WINDOW = 256      # feature window -> 4 windows per asset
WAV_RATE = 8000


def _wav_header(n_samples: int, rate: int = WAV_RATE) -> bytes:
    """Canonical 44-byte RIFF/WAVE header for 8-bit mono PCM — 8-bit PCM
    is a legal WAV encoding that needs no codec library (the audio
    counterpart of the PPM trick)."""
    import struct

    return (
        b"RIFF"
        + struct.pack("<I", 36 + n_samples)
        + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 1, 1, 8)
        + b"data"
        + struct.pack("<I", n_samples)
    )


def wav_assets(docs: DataFrame, n_samples: int = WAV_N_SAMPLES) -> DataFrame:
    """Synthesize REAL WAV (RIFF, 8-bit mono PCM) audio JVM-side: constant
    header + ``n_samples`` unsigned-8-bit samples taken from the (padded)
    printable-ASCII document text — one character == one sample byte, so
    the oracle can replay every sample with per-character codepoint
    arithmetic (exactly the PPM construction, ppm_assets above)."""
    header = _wav_header(n_samples)
    ascii_text = F.regexp_replace("text", "[^ -~]", "")
    body = F.encode(
        F.substring(F.rpad(ascii_text, n_samples, "x"), 1, n_samples), "utf-8"
    )
    return docs.select(
        "doc_id",
        F.concat(F.lit(header), body).alias("payload"),
        F.lit("audio/wav").alias("modality"),
    )


def audio_features(assets: DataFrame, window: int = WAV_WINDOW) -> DataFrame:
    """REAL audio decode → windowed feature extraction for PCM WAV assets:
    (doc_id, win_idx, n_samples, sum_amp, sum_sq_dev, rms).

    The decoder walks the RIFF chunk list (validates magic, fmt codec =
    1/PCM, 8-bit mono), reinterprets the data chunk with numpy, and
    reduces fixed windows to amplitude sums, squared deviation from the
    unsigned-PCM midpoint (128), and RMS — the framing/energy pass every
    audio pipeline starts with (VAD, silence trim, loudness norm).
    Integer sums make the result bit-reproducible by a SQL oracle; rms is
    the sqrt of an exact integer ratio, identical in both engines.
    Arrow-batched mapInPandas, one-to-many (asset -> windows), partition
    parallel; a compressed codec (mp3/opus via ffmpeg) would plug into
    ``_decode`` with the same surrounding contract."""

    def _batches(batches):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def _decode(payload: bytes) -> _np.ndarray:
            b = bytes(payload)
            if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
                raise NotImplementedError("only RIFF/WAVE decodes here")
            i, fmt, data = 12, None, None
            while i + 8 <= len(b):
                cid = b[i : i + 4]
                size = _struct.unpack("<I", b[i + 4 : i + 8])[0]
                if cid == b"fmt ":
                    fmt = _struct.unpack("<HHIIHH", b[i + 8 : i + 24])
                elif cid == b"data":
                    data = b[i + 8 : i + 8 + size]
                i += 8 + size + (size & 1)
            if fmt is None or data is None:
                raise ValueError("missing fmt/data chunk")
            codec, channels, _rate, _br, _align, bits = fmt
            if (codec, channels, bits) != (1, 1, 8):
                raise NotImplementedError(
                    "only 8-bit mono PCM decodes without a codec library"
                )
            return _np.frombuffer(data, dtype=_np.uint8)

        for pdf in batches:
            ids, wins, ns, sums, sqs, rms = [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                x = _decode(payload).astype(_np.int64)
                # partial final window KEPT (n_samples = its actual count)
                # — matches the oracle's (i-1)//window grouping, which
                # emits a short last group when len is not a multiple
                for k, start in enumerate(range(0, len(x), window)):
                    seg = x[start : start + window]
                    dev = seg - 128
                    q = int((dev * dev).sum())
                    ids.append(doc_id)
                    wins.append(k)
                    ns.append(len(seg))
                    sums.append(int(seg.sum()))
                    sqs.append(q)
                    rms.append(round(float(_np.sqrt(q / len(seg))), 6))
            yield _pd.DataFrame(
                {
                    "doc_id": ids,
                    "win_idx": wins,
                    "n_samples": ns,
                    "sum_amp": sums,
                    "sum_sq_dev": sqs,
                    "rms": rms,
                }
            )

    return assets.mapInPandas(
        _batches,
        schema="doc_id long, win_idx long, n_samples long, "
        "sum_amp long, sum_sq_dev long, rms double",
    )


VID_FRAMES = 6     # frames per synthesized clip
VID_EVERY = 2      # keyframe stride: sample every 2nd frame
VID_SIDE = PPM_SIDE


def video_assets(docs: DataFrame, frames: int = VID_FRAMES, side: int = VID_SIDE) -> DataFrame:
    """Synthesize REAL multi-frame video clips as concatenated PPM (P6)
    frames — the uncompressed-video container shape (an MJPEG/Y4M stream
    is exactly 'repeated self-describing frames'); no codec needed, so
    the frame walk below is a WORKING demuxer. Frame f's pixels start at
    text offset f*side*side*3 (padded), so the oracle replays any pixel
    with codepoint arithmetic."""
    header = f"P6\n{side} {side}\n255\n".encode()
    n = side * side * 3
    ascii_text = F.regexp_replace("text", "[^ -~]", "")
    padded = F.rpad(ascii_text, n * frames, "x")
    body = F.concat(
        *[
            F.concat(
                F.lit(header), F.encode(F.substring(padded, f * n + 1, n), "utf-8")
            )
            for f in range(frames)
        ]
    )
    return docs.select(
        "doc_id",
        body.alias("payload"),
        F.lit("video/ppm-seq").alias("modality"),
    )


def video_frame_features(assets: DataFrame, every_n: int = VID_EVERY) -> DataFrame:
    """WORKING video demux + keyframe sampling: walk the concatenated-P6
    stream frame by frame (each frame's header declares its own size —
    the demuxer loop every container format requires), keep every
    ``every_n``-th frame, and reduce it to per-channel integer means:
    (doc_id, frame_idx, width, height, mean_r, mean_g, mean_b).

    One-to-many Arrow-batched mapInPandas (clip -> sampled frames),
    partition-parallel; an ffmpeg keyframe extractor plugs into the walk
    with the same surrounding contract. Integer sums // pixel count keep
    the oracle bit-exact."""

    def _batches(batches):
        import numpy as _np
        import pandas as _pd

        def _parse_frame(b: bytes, i: int):
            if b[i : i + 2] != b"P6":
                raise NotImplementedError("only P6 frame streams demux here")
            # bounds-checked header walk: a truncated header must raise,
            # not spin — b[k:k+1] is b'' past EOF and b''.isspace() is
            # False, so an unguarded token scan would loop forever
            fields, j = [], i + 2
            while len(fields) < 3:
                while j < len(b) and b[j : j + 1].isspace():
                    j += 1
                k = j
                while k < len(b) and not b[k : k + 1].isspace():
                    k += 1
                if k == j or k >= len(b):
                    raise ValueError("truncated P6 frame header")
                fields.append(int(b[j:k]))
                j = k
            j += 1
            w, h, _maxval = fields
            if j + w * h * 3 > len(b):
                raise ValueError("truncated P6 frame body")
            return w, h, j, j + w * h * 3

        for pdf in batches:
            ids, idxs, ws, hs, mr, mg, mb = [], [], [], [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                i = frame_idx = 0
                while i < len(b):
                    w, h, start, end = _parse_frame(b, i)
                    if frame_idx % every_n == 0:
                        px = _np.frombuffer(
                            b, dtype=_np.uint8, count=w * h * 3, offset=start
                        ).astype(_np.int64).reshape(-1, 3)
                        sums = px.sum(axis=0) // (w * h)
                        ids.append(doc_id)
                        idxs.append(frame_idx)
                        ws.append(w)
                        hs.append(h)
                        mr.append(int(sums[0]))
                        mg.append(int(sums[1]))
                        mb.append(int(sums[2]))
                    i = end
                    frame_idx += 1
            yield _pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "width": ws,
                    "height": hs,
                    "mean_r": mr,
                    "mean_g": mg,
                    "mean_b": mb,
                }
            )

    return assets.mapInPandas(
        _batches,
        schema="doc_id long, frame_idx long, width int, height int, "
        "mean_r long, mean_g long, mean_b long",
    )


# -- PNG: a REAL compressed-image codec path, stdlib-only --------------------
# PNG needs only zlib (stdlib) — unlike JPEG there is no external library
# to stub. The encoder below writes genuine PNGs (signature, IHDR, CRCed
# chunks, zlib IDAT, per-row scanline filters) and the decoder implements
# the full filter reversal (None/Sub/Up/Average/Paeth), so this modality
# exercises an actual entropy-coded image format end-to-end. Rows cycle
# through ALL FIVE filter types at encode time, so the oracle-checked
# query proves every unfilter branch, not just the trivial one.
def png_assets(docs: DataFrame) -> DataFrame:
    """Synthesize real PNGs (one per doc, dims and pixels derived from
    doc_id) via Arrow-batched mapInPandas. Row y uses filter type y % 5 —
    every scanline filter the spec defines appears in every image."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        import pandas as _pd

        # helpers are LOCAL so the closure pickles by value (executor
        # workers cannot import proteus_spark from a foreign driver cwd)
        bpp = 3

        def _paeth_l(a: int, b: int, c: int) -> int:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            if pb <= pc:
                return b
            return c

        def _chunk(tag: bytes, data: bytes) -> bytes:
            crc = zlib.crc32(tag + data) & 0xFFFFFFFF
            return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", crc)

        def _one(doc_id: int) -> bytes:
            w, h = 16 + doc_id % 9, 12 + doc_id % 7
            raw = bytearray()
            prev = bytes(w * bpp)
            for y in range(h):
                row = bytes(
                    (doc_id + 2 * c + 3 * x + 5 * y) % 256
                    for x in range(w)
                    for c in range(bpp)
                )
                ft = y % 5
                raw.append(ft)
                for i, v in enumerate(row):
                    a = row[i - bpp] if i >= bpp else 0
                    b = prev[i]
                    cc = prev[i - bpp] if i >= bpp else 0
                    if ft == 0:
                        f = v
                    elif ft == 1:
                        f = (v - a) % 256
                    elif ft == 2:
                        f = (v - b) % 256
                    elif ft == 3:
                        f = (v - (a + b) // 2) % 256
                    else:
                        f = (v - _paeth_l(a, b, cc)) % 256
                    raw.append(f)
                prev = row
            ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
            return (
                b"\x89PNG\r\n\x1a\n"
                + _chunk(b"IHDR", ihdr)
                + _chunk(b"IDAT", zlib.compress(bytes(raw)))
                + _chunk(b"IEND", b"")
            )

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [_one(int(d)) for d in pdf["doc_id"]],
                    "modality": ["image/png"] * len(pdf),
                }
            )

    return docs.select("doc_id").mapInPandas(
        _batches, schema="doc_id long, payload binary, modality string"
    )


def png_stats(assets: DataFrame) -> DataFrame:
    """REAL PNG decode (stdlib zlib; full filter reversal) → per-channel
    integer pixel sums: (doc_id, width, height, r_sum, g_sum, b_sum).
    Sums are exact integers, so the comparison against the closed-form
    oracle has zero float slack. Supports non-interlaced 8-bit RGB —
    other color types raise where a full decoder (PIL) would plug in."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import struct
        import zlib

        import pandas as _pd

        bpp = 3

        def _paeth_l(a: int, b: int, c: int) -> int:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            if pa <= pb and pa <= pc:
                return a
            if pb <= pc:
                return b
            return c

        def _decode(payload: bytes):
            b = bytes(payload)
            if b[:8] != b"\x89PNG\r\n\x1a\n":
                raise NotImplementedError("not a PNG")
            i, w, h, idat = 8, None, None, b""
            while i < len(b):
                (ln,) = struct.unpack(">I", b[i : i + 4])
                tag = b[i + 4 : i + 8]
                data = b[i + 8 : i + 8 + ln]
                if tag == b"IHDR":
                    w, h, depth, ctype, _comp, _filt, ilace = struct.unpack(
                        ">IIBBBBB", data
                    )
                    if (depth, ctype, ilace) != (8, 2, 0):
                        raise NotImplementedError(
                            "only non-interlaced 8-bit RGB decodes here"
                        )
                elif tag == b"IDAT":
                    idat += data
                i += 12 + ln
            raw = zlib.decompress(idat)
            stride = w * bpp
            out = bytearray()
            prev = bytes(stride)
            pos = 0
            for _y in range(h):
                ft = raw[pos]
                row = bytearray(raw[pos + 1 : pos + 1 + stride])
                pos += 1 + stride
                for i2 in range(stride):
                    a = row[i2 - bpp] if i2 >= bpp else 0
                    up = prev[i2]
                    cc = prev[i2 - bpp] if i2 >= bpp else 0
                    if ft == 1:
                        row[i2] = (row[i2] + a) % 256
                    elif ft == 2:
                        row[i2] = (row[i2] + up) % 256
                    elif ft == 3:
                        row[i2] = (row[i2] + (a + up) // 2) % 256
                    elif ft == 4:
                        row[i2] = (row[i2] + _paeth_l(a, up, cc)) % 256
                prev = bytes(row)
                out += row
            return w, h, bytes(out)

        for pdf in batches:
            ws, hs, rs, gs, bs = [], [], [], [], []
            for payload in pdf["payload"]:
                w, h, px = _decode(payload)
                ws.append(w)
                hs.append(h)
                rs.append(sum(px[0::3]))
                gs.append(sum(px[1::3]))
                bs.append(sum(px[2::3]))
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": ws,
                    "height": hs,
                    "r_sum": rs,
                    "g_sum": gs,
                    "b_sum": bs,
                }
            )

    return assets.mapInPandas(
        _batches,
        schema="doc_id long, width int, height int, "
        "r_sum long, g_sum long, b_sum long",
    )
