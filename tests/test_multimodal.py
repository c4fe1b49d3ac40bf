"""Multimodal plumbing: binary payload adapter, Arrow-batched feature
extraction, poison-payload tolerance (stubbed decoder)."""

from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
    documents_as_media,
    extract_features,
    fake_decode,
)
from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_media_adapter_schema(spark):
    media = documents_as_media(load_table(spark, SF_DIR, "documents"))
    assert dict(media.dtypes) == {
        "media_id": "bigint",
        "payload": "binary",
        "media_type": "string",
        "n_bytes": "int",
        "content_hash": "string",
    }
    row = media.orderBy("media_id").first()
    assert row["n_bytes"] == len(row["payload"]) and row["media_type"] == "text/plain"


def test_extract_features_fake_decoder(spark):
    media = documents_as_media(load_table(spark, SF_DIR, "documents"))
    feats = extract_features(media, decoder=fake_decode)
    rows = feats.collect()
    assert len(rows) == 500
    r = rows[0]
    assert r["width"] == r["n_bytes"] % 640
    assert r["height"] == (r["n_bytes"] * 7) % 480
    assert r["n_frames"] == r["n_bytes"] % 16


def test_extract_features_stub_decoder_yields_nulls(spark):
    """A decoder without codecs must not fail the job — features come
    back NULL, byte counts still populated."""

    def codec_missing(payload: bytes) -> dict:
        # where a real codec (PIL.Image.open / soundfile / pyav) plugs
        # in; nested so the workers get it by value, not by import
        raise NotImplementedError("no media codec installed")

    media = documents_as_media(load_table(spark, SF_DIR, "documents")).limit(10)
    rows = extract_features(media, decoder=codec_missing).collect()
    assert len(rows) == 10
    assert all(r["width"] is None and r["height"] is None for r in rows)
    assert all(r["n_bytes"] > 0 for r in rows)


def test_resize_media_fixed_budget(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        resize_media,
    )

    media = documents_as_media(load_table(spark, SF_DIR, "documents")).limit(20)
    out = resize_media(media, target_bytes=256).collect()
    assert len(out) == 20
    assert all(r["n_bytes"] == 256 for r in out)
    # short payloads cycle: prefix must equal the original payload start
    src = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for r in out:
        orig = src[r["media_id"]]
        assert bytes(r["payload"])[: min(len(orig), 256)] == orig[: min(len(orig), 256)]


def test_sample_frames_deterministic_flatmap(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        sample_frames_chars,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(30)
    a = sample_frames_chars(docs, "doc_id", "text", every=2).collect()
    b = sample_frames_chars(docs, "doc_id", "text", every=2).collect()
    key = lambda r: (r["media_id"], r["frame_idx"], r["frame_len"], r["frame_md5"])
    assert sorted(map(key, a)) == sorted(map(key, b))
    assert len(a) > 30, "flat-map must expand rows (several frames per doc)"
    # every-2 sampling: only even frame indices survive
    assert all(r["frame_idx"] % 2 == 0 for r in a)


# ---------------------------------------------------------------------
# Real codec: binary PPM (P6) — the one format this container can
# decode for real (pure Python, no codec libraries). These pin the
# parser against hand-built payloads, including the poison cases the
# NULL-feature contract exists for.
# ---------------------------------------------------------------------

def test_decode_ppm_roundtrip():
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rgb = bytes(range(48))  # 4x4 RGB
    feats = decode_ppm(encode_ppm(4, 4, rgb))
    assert feats == {"width": 4, "height": 4, "n_frames": 1, "pixel_sum": sum(range(48))}
    # non-square, wide header numbers
    rgb2 = bytes([200] * (12 * 1 * 3))
    feats2 = decode_ppm(encode_ppm(12, 1, rgb2))
    assert (feats2["width"], feats2["height"], feats2["pixel_sum"]) == (12, 1, 200 * 36)


def test_decode_ppm_rejects_poison_payloads():
    import pytest as _pytest

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    good = encode_ppm(4, 4, bytes(48))
    for bad in (
        b"P3\n4 4\n255\n" + bytes(48),  # ascii PPM, not P6
        b"JFIF....",                     # not a PPM at all
        good[:-1],                       # truncated pixel block
        good + b"\x00",                  # trailing junk
        b"P6\n4 4\n65535\n" + bytes(96),  # 16-bit maxval unsupported
        b"P6\n4 x\n255\n" + bytes(48),   # malformed dimension token
        b"P6\n4 4\n255",                 # header only, no pixel block
    ):
        with _pytest.raises(ValueError):
            decode_ppm(bad)


def test_render_ppm_payloads_are_real_and_sql_parity_holds(spark):
    """The rendered payloads must be REAL P6 files (decodable by the
    real parser), and pixel_sum must equal the codepoint formula the
    q217 oracle uses — the cross-engine contract."""
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm,
        ppm_features,
        render_ppm_from_text,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(25)
    media = render_ppm_from_text(docs)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for mid, payload in payloads.items():
        assert payload[:2] == b"P6"
        feats = decode_ppm(payload)  # must not raise: the file is real
        s = texts[mid] or ""
        base = [min(ord(c), 255) for c in s[:48]] or [0]
        want = sum(base[i % len(base)] for i in range(48))
        assert feats["pixel_sum"] == want, mid
    out = {r["media_id"]: r for r in ppm_features(media).collect()}
    assert all(out[m]["pixel_sum"] == decode_ppm(p)["pixel_sum"] for m, p in payloads.items())
    assert all((out[m]["width"], out[m]["height"]) == (4, 4) for m in payloads)


def test_ppm_features_isolates_poison_rows(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        encode_ppm,
        ppm_features,
    )

    rows = [
        (1, bytearray(encode_ppm(4, 4, bytes(48)))),
        (2, bytearray(b"not a ppm")),
        (3, bytearray(encode_ppm(4, 4, bytes(48))[:-5])),  # truncated
    ]
    media = spark.createDataFrame(rows, "media_id BIGINT, payload BINARY")
    out = {r["media_id"]: r for r in ppm_features(media).collect()}
    assert out[1]["pixel_sum"] == 0 and out[1]["width"] == 4
    assert out[2]["pixel_sum"] is None and out[2]["width"] is None
    assert out[3]["pixel_sum"] is None


# ---------------------------------------------------------------------
# Real codec #2: WAV (RIFF / PCM 16-bit mono)
# ---------------------------------------------------------------------

def test_decode_wav_roundtrip():
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    samples = [0, 100, -32768, 32767, -1]
    feats = decode_wav(encode_wav(8000, samples))
    assert feats == {
        "sample_rate": 8000,
        "n_samples": 5,
        "peak": 32768,
        "amp_sum": 0 + 100 + 32768 + 32767 + 1,
    }
    assert decode_wav(encode_wav(44100, []))["n_samples"] == 0
    assert decode_wav(encode_wav(44100, []))["peak"] == 0


def test_decode_wav_skips_unknown_chunks():
    # LIST/INFO metadata chunks are legal WAV; the walker must skip
    # them (word-aligned) and still find fmt/data
    import struct

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    base = encode_wav(8000, [7, -7, 9])
    # splice an odd-length LIST chunk (with pad byte) after "WAVE"
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = base[:12] + extra + base[12:]
    spliced = b"RIFF" + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    feats = decode_wav(spliced)
    assert (feats["n_samples"], feats["peak"], feats["amp_sum"]) == (3, 9, 23)


def test_decode_wav_rejects_poison_payloads():
    import struct

    import pytest as _pytest

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    good = encode_wav(8000, [1, 2, 3, 4])
    stereo = good[:22] + struct.pack("<H", 2) + good[24:]
    eightbit = good[34:36]  # bits field lives at offset 34
    eight = good[:34] + struct.pack("<H", 8) + good[36:]
    assert eightbit == struct.pack("<H", 16)
    for bad in (
        b"OggS....",                                  # not RIFF
        good[:4] + struct.pack("<I", 999) + good[8:],  # size lies
        good[:-3],                                     # truncated data chunk (and size lies)
        good[:8] + b"AVI " + good[12:],                # RIFF but not WAVE
        stereo,                                        # 2-channel unsupported
        eight,                                         # 8-bit unsupported
        encode_wav(8000, [])[:36],                     # fmt only, no data chunk
    ):
        with _pytest.raises(ValueError):
            decode_wav(bad)


def test_render_wav_payloads_are_real_and_sql_parity_holds(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_wav,
        render_wav_from_text,
        wav_features,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(25)
    media = render_wav_from_text(docs)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for mid, payload in payloads.items():
        assert payload[:4] == b"RIFF"
        feats = decode_wav(payload)  # must not raise: the file is real
        s = texts[mid] or ""
        base = [min(ord(c), 255) * 129 - 16384 for c in s[:64]] or [0]
        want = [base[i % len(base)] for i in range(64)]
        assert feats["amp_sum"] == sum(abs(x) for x in want), mid
        assert feats["peak"] == max(abs(x) for x in want), mid
        assert (feats["sample_rate"], feats["n_samples"]) == (8000, 64)
    out = {r["media_id"]: r for r in wav_features(media).collect()}
    assert all(
        out[m]["amp_sum"] == decode_wav(p)["amp_sum"] for m, p in payloads.items()
    )


def test_wav_features_isolates_poison_rows(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        encode_wav,
        wav_features,
    )

    rows = [
        (1, bytearray(encode_wav(8000, [5, -5]))),
        (2, bytearray(b"not audio")),
    ]
    media = spark.createDataFrame(rows, "media_id BIGINT, payload BINARY")
    out = {r["media_id"]: r for r in wav_features(media).collect()}
    assert out[1]["amp_sum"] == 10 and out[1]["n_samples"] == 2
    assert out[2]["amp_sum"] is None and out[2]["sample_rate"] is None


# ---------------------------------------------------------------------
# Real container: concatenated-P6 stream (multi-frame)
# ---------------------------------------------------------------------

def test_decode_ppm_stream_parses_heterogeneous_frames():
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm_stream,
        encode_ppm,
    )

    # frame boundaries must come from HEADERS: mix frame sizes so any
    # fixed-stride assumption breaks
    stream = (
        encode_ppm(4, 4, bytes(48))
        + encode_ppm(2, 1, bytes([9] * 6))
        + encode_ppm(1, 1, bytes([1, 2, 3]))
    )
    frames = decode_ppm_stream(stream)
    assert [(f["width"], f["height"], f["pixel_sum"]) for f in frames] == [
        (4, 4, 0), (2, 1, 54), (1, 1, 6),
    ]


def test_decode_ppm_stream_rejects_malformed():
    import pytest as _pytest

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm_stream,
        encode_ppm,
    )

    good = encode_ppm(2, 2, bytes(12))
    for bad in (b"", good + b"JUNK..", good + good[:-3], good[:-1]):
        with _pytest.raises(ValueError):
            decode_ppm_stream(bad)


def test_sample_ppm_frames_flatmap_and_parity(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm_stream,
        render_ppm_stream_from_text,
        sample_ppm_frames,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(40)
    media = render_ppm_stream_from_text(docs)
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    out = sample_ppm_frames(media, every=2).collect()
    assert len(out) >= len(payloads), "flat-map must not shrink the media set"
    by_media = {}
    for r in out:
        by_media.setdefault(r["media_id"], []).append(r)
    for mid, payload in payloads.items():
        frames = decode_ppm_stream(payload)  # streams must be real
        s = texts[mid] or ""
        assert len(frames) == len(s) % 4 + 1
        base = [min(ord(c), 255) for c in s[:48]] or [0]
        sampled = sorted(by_media[mid], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in sampled] == list(range(0, len(frames), 2))
        for r in sampled:
            want = sum(base[(i + r["frame_idx"]) % len(base)] for i in range(48))
            assert r["pixel_sum"] == want, (mid, r["frame_idx"])


def test_sample_ppm_frames_isolates_poison_streams(spark):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        encode_ppm,
        sample_ppm_frames,
    )

    rows = [
        (1, bytearray(encode_ppm(4, 4, bytes(48)) * 3)),
        (2, bytearray(b"not a stream")),
    ]
    media = spark.createDataFrame(rows, "media_id BIGINT, payload BINARY")
    out = sample_ppm_frames(media, every=2).collect()
    good = sorted(r["frame_idx"] for r in out if r["media_id"] == 1)
    bad = [r for r in out if r["media_id"] == 2]
    assert good == [0, 2]
    assert len(bad) == 1 and bad[0]["frame_idx"] is None and bad[0]["pixel_sum"] is None


# ---------------------------------------------------------------------
# Property-based codec round-trips (hypothesis): any encodable image/
# clip decodes back to its exact stats, and ANY truncation of a valid
# payload raises instead of returning garbage.
# ---------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    data=st.data(),
)
def test_ppm_roundtrip_property(w, h, data):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rgb = bytes(
        data.draw(
            st.lists(
                st.integers(0, 255), min_size=w * h * 3, max_size=w * h * 3
            )
        )
    )
    feats = decode_ppm(encode_ppm(w, h, rgb))
    assert feats == {
        "width": w, "height": h, "n_frames": 1, "pixel_sum": sum(rgb)
    }


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=8),
    h=st.integers(min_value=1, max_value=8),
    cut=st.integers(min_value=1, max_value=10_000),
)
def test_ppm_any_truncation_raises(w, h, cut):
    import pytest as _pytest

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    payload = encode_ppm(w, h, bytes(range(256))[: w * h * 3].ljust(w * h * 3, b"\x07"))
    cut = cut % len(payload)  # every proper prefix, including empty
    with _pytest.raises(ValueError):
        decode_ppm(payload[:cut])


@settings(max_examples=60, deadline=None)
@given(
    rate=st.integers(min_value=1, max_value=192_000),
    samples=st.lists(st.integers(-32768, 32767), min_size=0, max_size=64),
)
def test_wav_roundtrip_property(rate, samples):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    feats = decode_wav(encode_wav(rate, samples))
    assert feats == {
        "sample_rate": rate,
        "n_samples": len(samples),
        "peak": max((abs(s) for s in samples), default=0),
        "amp_sum": sum(abs(s) for s in samples),
    }


@settings(max_examples=60, deadline=None)
@given(
    samples=st.lists(st.integers(-32768, 32767), min_size=1, max_size=16),
    cut=st.integers(min_value=1, max_value=10_000),
)
def test_wav_any_truncation_raises(samples, cut):
    import pytest as _pytest

    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_wav,
        encode_wav,
    )

    payload = encode_wav(8000, samples)
    cut = cut % len(payload)
    with _pytest.raises(ValueError):
        decode_wav(payload[:cut])


@settings(max_examples=40, deadline=None)
@given(
    frames=st.lists(
        st.tuples(st.integers(1, 4), st.integers(1, 4)), min_size=1, max_size=5
    ),
)
def test_ppm_stream_roundtrip_property(frames):
    from data_warehouse_and_bi_dashboards_for_iowa_alcoholic_beverages_division_spark.operators.multimodal import (
        decode_ppm_stream,
        encode_ppm,
    )

    stream = b"".join(
        encode_ppm(w, h, bytes((i * 37 + j) % 256 for j in range(w * h * 3)))
        for i, (w, h) in enumerate(frames)
    )
    got = decode_ppm_stream(stream)
    assert [(f["width"], f["height"]) for f in got] == frames
