"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas
iterators (``mapInPandas``).

The container has no image/audio codec LIBRARIES (PIL/ffmpeg), so the
compressed-format decode is stubbed (``NotImplementedError``) behind
``decoder=`` — but the pipeline is exercised END-TO-END with a real
dependency-free codec: binary PPM (P6), a header + raw RGB format
decodable in pure Python (``decode_ppm``). ``render_ppm_from_text``
deterministically renders document text into real P6 payloads so the
decode stage runs against genuine image bytes on the driver testdata
(no media files ship with the container), and the pixel derivation is
codepoint-based so a plain-SQL oracle reproduces the stats exactly.
Everything around the codec — schema contract, batch iteration,
partition-level parallelism, poison-payload isolation — is shared
with the stubbed formats. Swapping in a PIL/ffmpeg decoder changes
one function, not the plan: at 100 TB the shape is a parquet scan of
(id, binary, meta) → ``mapInPandas`` with bounded Arrow batches (no
row-at-a-time serde, no driver funnel) → columnar feature output.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# typed-metadata contract for opaque media payloads
MEDIA_META_FIELDS = "media_type STRING, n_bytes INT, content_hash STRING"


def documents_as_media(df: DataFrame) -> DataFrame:
    """Adapter: treat the documents' ``text`` as an opaque utf-8
    payload keyed by ``doc_id`` so the binary pipeline is exercisable
    on the driver testdata (no real media files ship with the
    container)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return df.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.length(payload).alias("n_bytes").cast("int"),
        F.md5(payload).alias("content_hash"),
    )


def fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in decoder: derives pseudo width/height/
    duration from the payload bytes so the full pipeline (schema,
    batching, output shape) runs and is oracle-checkable."""
    n = len(payload)
    return {"width": n % 640, "height": (n * 7) % 480, "n_frames": n % 16}


# ---------------------------------------------------------------------
# Real codec: binary PPM (P6) — pure-Python encode/decode, no deps.
# ---------------------------------------------------------------------

def encode_ppm(width: int, height: int, rgb: bytes) -> bytes:
    """Minimal P6 writer (maxval 255). ``rgb`` must be exactly
    ``width*height*3`` bytes."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"need {width * height * 3} pixel bytes, got {len(rgb)}")
    return b"P6\n%d %d\n255\n" % (width, height) + rgb


def _decode_ppm_at(payload: bytes, start: int) -> tuple[dict, int]:
    """Parse ONE P6 image beginning at ``start``; return its stats and
    the offset one past its pixel block (the prefix-decoder a
    concatenated-frame stream needs — frame boundaries are DISCOVERED
    by parsing each header, never assumed from a fixed stride)."""
    if payload[start : start + 2] != b"P6":
        raise ValueError("not a binary PPM (P6) payload")
    # header = magic, width, height, maxval as whitespace-separated
    # ASCII tokens; a single whitespace byte then separates the header
    # from the raw RGB block. (Comment lines are legal PPM; this
    # encoder never emits them and the decoder rejects them rather
    # than guessing.)
    pos, fields = start + 2, []
    while len(fields) < 3 and pos < len(payload):
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        tok_start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tok = payload[tok_start:pos]
        if not tok.isdigit():
            raise ValueError(f"malformed PPM header token {tok!r}")
        fields.append(int(tok))
    if len(fields) < 3 or pos >= len(payload):
        raise ValueError("truncated PPM header")
    pos += 1  # the single whitespace after maxval
    width, height, maxval = fields
    # netpbm requires positive dimensions; accepting 0x0 "images" would
    # let a tiny crafted stream of zero-pixel headers inflate the
    # flat-map output (one frame row per ~11 bytes) instead of
    # isolating to a NULL poison row (r11 advisor finding)
    if width < 1 or height < 1:
        raise ValueError(f"non-positive PPM dimensions {width}x{height}")
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    end = pos + width * height * 3
    rgb = payload[pos:end]
    if len(rgb) != width * height * 3:
        raise ValueError(
            f"pixel block is {len(rgb)} bytes, want {width * height * 3}"
        )
    return (
        {"width": width, "height": height, "n_frames": 1, "pixel_sum": sum(rgb)},
        end,
    )


def decode_ppm(payload: bytes) -> dict:
    """REAL decoder for a single binary PPM (P6): parse the magic,
    dimensions and maxval from the header, validate the pixel payload
    length (trailing junk rejected), and compute image stats from the
    raw RGB bytes. Raises ``ValueError`` on anything malformed —
    ``extract_features``/``ppm_features`` convert that to NULL feature
    columns (poison-payload isolation)."""
    feats, end = _decode_ppm_at(payload, 0)
    if end != len(payload):
        raise ValueError(f"{len(payload) - end} trailing bytes after pixel block")
    return feats


def decode_ppm_stream(payload: bytes) -> list[dict]:
    """REAL decoder for a concatenated-P6 stream (the netpbm
    convention for multi-image files — the dependency-free stand-in
    for a video container): parse frame after frame, each boundary
    discovered from its own header, until the payload is exactly
    consumed. At least one frame is required; a malformed or
    trailing-junk payload raises ``ValueError``."""
    frames, pos = [], 0
    while pos < len(payload):
        feats, pos = _decode_ppm_at(payload, pos)
        frames.append(feats)
    if not frames:
        raise ValueError("empty stream")
    return frames


# side of every rendered PPM frame, in pixels
PPM_SIDE = 4


def render_ppm_from_text(df: DataFrame) -> DataFrame:
    """Deterministically render each document's ``text`` into a REAL
    binary PPM payload keyed by ``doc_id`` (``mapInPandas``, one Arrow
    batch in → one out): pixel bytes are the text's CODEPOINTS clamped
    to 255 and cycled to fill PPM_SIDE x PPM_SIDE x 3 bytes
    (codepoints, not utf-8 bytes, so a plain-SQL oracle reproduces the
    stats with ``unicode(substr(...))`` for any corpus, ASCII or not);
    empty text renders solid black. This is the testdata stand-in for
    a parquet scan of real image payloads — the decode stage downstream
    is format-real either way."""
    n_px = PPM_SIDE * PPM_SIDE * 3

    def _render(batches):
        for pdf in batches:
            payloads = []
            for s in pdf["text"]:
                s = s or ""
                if s:
                    px = bytes(min(ord(c), 255) for c in s[:n_px])
                    reps = n_px // len(px) + 1
                    px = (px * reps)[:n_px]
                else:
                    px = b"\x00" * n_px
                payloads.append(encode_ppm(PPM_SIDE, PPM_SIDE, px))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id", "text").mapInPandas(
        _render, "media_id BIGINT, payload BINARY"
    )


def render_ppm_stream_from_text(df: DataFrame) -> DataFrame:
    """Render each document's ``text`` into a REAL multi-frame P6 stream
    (``len(text) % 4 + 1`` concatenated frames): frame ``f``'s pixel
    ``i`` is ``base[(i + f) % len(base)]`` where ``base`` is the
    clamped-codepoint window ``render_ppm_from_text`` uses — a
    per-frame phase shift, so consecutive frames differ and the SQL
    oracle reproduces every frame's stats from the same formula."""
    n_px = PPM_SIDE * PPM_SIDE * 3

    def _render(batches):
        for pdf in batches:
            payloads = []
            for s in pdf["text"]:
                s = s or ""
                base = [min(ord(c), 255) for c in s[:n_px]] or [0]
                n_frames = len(s) % 4 + 1
                stream = b"".join(
                    encode_ppm(
                        PPM_SIDE, PPM_SIDE,
                        bytes(base[(i + f) % len(base)] for i in range(n_px)),
                    )
                    for f in range(n_frames)
                )
                payloads.append(stream)
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id", "text").mapInPandas(
        _render, "media_id BIGINT, payload BINARY"
    )


FRAME_SAMPLE_SCHEMA = (
    "media_id BIGINT, frame_idx INT, width INT, height INT, pixel_sum BIGINT"
)


def sample_ppm_frames(media: DataFrame, every: int = 2) -> DataFrame:
    """REAL frame sampling over concatenated-P6 streams: decode every
    frame boundary (headers, not strides), keep each ``every``-th
    frame's stats — the flat-map shape (output batch LONGER than the
    input batch) a real ffmpeg frame sampler needs, with real
    container parsing instead of q70's fixed-chop stand-in. A
    malformed stream contributes one NULL-feature row (frame_idx
    NULL), preserving per-media accountability without killing the
    task."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    frames = decode_ppm_stream(bytes(payload))
                except ValueError:
                    rows.append((mid, None, None, None, None))
                    continue
                for idx in range(0, len(frames), every):
                    f = frames[idx]
                    rows.append((mid, idx, f["width"], f["height"], f["pixel_sum"]))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "width", "height", "pixel_sum"],
            )

    return media.select("media_id", "payload").mapInPandas(_sample, FRAME_SAMPLE_SCHEMA)


PPM_FEATURE_SCHEMA = "media_id BIGINT, width INT, height INT, pixel_sum BIGINT"


def ppm_features(media: DataFrame) -> DataFrame:
    """Decode real PPM payloads and emit per-image pixel stats; a
    malformed payload yields NULL features, never a task failure."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    f = decode_ppm(bytes(payload))
                    rows.append((mid, f["width"], f["height"], f["pixel_sum"]))
                except ValueError:
                    rows.append((mid, None, None, None))
            yield pd.DataFrame(
                rows, columns=["media_id", "width", "height", "pixel_sum"]
            )

    return media.select("media_id", "payload").mapInPandas(_extract, PPM_FEATURE_SCHEMA)


RESIZE_SCHEMA = "media_id BIGINT, payload BINARY, n_bytes INT"


def resize_media(media: DataFrame, target_bytes: int = 4096) -> DataFrame:
    """Resize step of an image pipeline, shape-faithful: 1 payload in →
    1 (smaller, fixed-budget) payload out via ``mapInPandas``. The fake
    resizer truncates/cycles bytes to ``target_bytes`` (a real one
    decodes, scales, re-encodes — same signature, same batch shape).
    Output partitioning is inherited from the scan: no shuffle, the
    transform is embarrassingly parallel."""

    def _resize(batches):
        for pdf in batches:
            out_payloads = []
            for payload in pdf["payload"]:
                b = bytes(payload)
                if not b:
                    out_payloads.append(b"")
                elif len(b) >= target_bytes:
                    out_payloads.append(b[:target_bytes])
                else:
                    reps = target_bytes // len(b) + 1
                    out_payloads.append((b * reps)[:target_bytes])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": out_payloads,
                    "n_bytes": [len(p) for p in out_payloads],
                }
            )

    return media.select("media_id", "payload").mapInPandas(_resize, RESIZE_SCHEMA)


FRAME_SCHEMA = "media_id BIGINT, frame_idx INT, frame_len INT, frame_md5 STRING"


def sample_frames_chars(media_text: DataFrame, id_col: str, text_col: str, every: int = 2) -> DataFrame:
    """Frame sampling, shape-faithful: 1 video in → N sampled frames
    out (a flat-mapping ``mapInPandas`` — the output batch is LONGER
    than the input batch, the plumbing a real ffmpeg frame sampler
    needs). The fake codec chops the char payload into
    ``len % 16 + 1`` equal frames and keeps every ``every``-th; frame
    identity is the md5 of the frame content, so the whole pipeline is
    oracle-checkable in plain SQL."""
    import hashlib

    def _sample(batches):
        for pdf in batches:
            ids, idxs, lens, md5s = [], [], [], []
            for mid, s in zip(pdf["media_id"], pdf["payload_text"]):
                n_frames = len(s) % 16 + 1
                flen = len(s) // n_frames
                for i in range(0, n_frames, every):
                    frame = s[i * flen : (i + 1) * flen]
                    ids.append(mid)
                    idxs.append(i)
                    lens.append(len(frame))
                    md5s.append(hashlib.md5(frame.encode("utf-8")).hexdigest())
            yield pd.DataFrame(
                {"media_id": ids, "frame_idx": idxs, "frame_len": lens, "frame_md5": md5s}
            )

    src = media_text.select(
        F.col(id_col).alias("media_id"), F.col(text_col).alias("payload_text")
    )
    return src.mapInPandas(_sample, FRAME_SCHEMA)


FEATURE_SCHEMA = "media_id BIGINT, n_bytes INT, width INT, height INT, n_frames INT"


def extract_features(
    media: DataFrame,
    decoder: Callable[[bytes], dict] = fake_decode,
) -> DataFrame:
    """Decode/feature-extract via ``mapInPandas``: one Arrow batch in,
    one columnar batch out; decode failures yield NULL features rather
    than failing the partition (at scale a poison payload must not kill
    a 10-hour job)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                n = len(payload)
                try:
                    feats = decoder(bytes(payload))
                    rows.append((mid, n, feats.get("width"), feats.get("height"), feats.get("n_frames")))
                except (NotImplementedError, ValueError):
                    # unavailable codec or poison payload → NULL
                    # features; never a task failure
                    rows.append((mid, n, None, None, None))
            yield pd.DataFrame(rows, columns=["media_id", "n_bytes", "width", "height", "n_frames"])

    return media.select("media_id", "payload").mapInPandas(_extract, FEATURE_SCHEMA)


# ---------------------------------------------------------------------
# Real codec #2: WAV (RIFF / PCM 16-bit mono) — pure-Python
# encode/decode, no deps. Integer samples make every decoded stat
# integer-exact, so the SQL oracle parity is by construction.
# ---------------------------------------------------------------------

def encode_wav(sample_rate: int, samples: list[int]) -> bytes:
    """Minimal RIFF/WAVE writer: PCM (format 1), mono, 16-bit."""
    import struct

    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> dict:
    """REAL decoder for RIFF/WAVE PCM: validate the RIFF/WAVE magic and
    declared size, walk the chunk list (skipping unknown chunks — LIST/
    INFO metadata is legal WAV), require fmt = PCM/mono/16-bit, and
    compute sample stats from the raw int16 data. Raises ``ValueError``
    on anything malformed — the poison-payload NULL-row contract."""
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    declared = struct.unpack("<I", payload[4:8])[0]
    if declared != len(payload) - 8:
        raise ValueError(f"RIFF size {declared} != payload size {len(payload) - 8}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        clen = struct.unpack("<I", payload[pos + 4 : pos + 8])[0]
        chunk = payload[pos + 8 : pos + 8 + clen]
        if len(chunk) != clen:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            fmt = chunk
        elif cid == b"data":
            data = chunk
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("short fmt chunk")
    audio_format, channels, sample_rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if (audio_format, channels, bits) != (1, 1, 16):
        raise ValueError(
            f"unsupported encoding (format={audio_format}, channels={channels}, bits={bits})"
        )
    if len(data) % 2:
        raise ValueError("odd data-chunk length for 16-bit samples")
    samples = struct.unpack(f"<{len(data) // 2}h", data)
    return {
        "sample_rate": sample_rate,
        "n_samples": len(samples),
        "peak": max((abs(s) for s in samples), default=0),
        "amp_sum": sum(abs(s) for s in samples),
    }


WAV_N_SAMPLES = 64
WAV_SAMPLE_RATE = 8000


def render_wav_from_text(df: DataFrame) -> DataFrame:
    """Deterministically render each document's ``text`` into a REAL
    WAV payload keyed by ``doc_id`` (WAV_SAMPLE_RATE Hz): sample i is
    ``clamp_codepoint * 129 - 16384`` (range fits int16) over the first
    WAV_N_SAMPLES characters cycled — codepoint-based like
    ``render_ppm_from_text`` so a plain-SQL oracle reproduces the
    decoded stats exactly; empty text renders silence."""

    def _render(batches):
        for pdf in batches:
            payloads = []
            for s in pdf["text"]:
                s = s or ""
                if s:
                    base = [min(ord(c), 255) * 129 - 16384 for c in s[:WAV_N_SAMPLES]]
                    samples = [base[i % len(base)] for i in range(WAV_N_SAMPLES)]
                else:
                    samples = [0] * WAV_N_SAMPLES
                payloads.append(encode_wav(WAV_SAMPLE_RATE, samples))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "payload": payloads})

    return df.select("doc_id", "text").mapInPandas(
        _render, "media_id BIGINT, payload BINARY"
    )


WAV_FEATURE_SCHEMA = (
    "media_id BIGINT, sample_rate INT, n_samples INT, peak INT, amp_sum BIGINT"
)


def wav_features(media: DataFrame) -> DataFrame:
    """Decode real WAV payloads and emit per-clip sample stats; a
    malformed payload yields NULL features, never a task failure."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    f = decode_wav(bytes(payload))
                    rows.append(
                        (mid, f["sample_rate"], f["n_samples"], f["peak"], f["amp_sum"])
                    )
                except ValueError:
                    rows.append((mid, None, None, None, None))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "sample_rate", "n_samples", "peak", "amp_sum"],
            )

    return media.select("media_id", "payload").mapInPandas(_extract, WAV_FEATURE_SCHEMA)
