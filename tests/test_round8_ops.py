"""Round-8 additions: real PNG/JPEG codecs + the media decode audit,
wide-md5 confirm keys for the minhash family, self-describing ANN audit.

The codecs are the round's seam-opening deliverable (VERDICT r07 ask #2):
PNG rides stdlib zlib + the five scanline filters; JPEG is baseline
sequential DCT with the public ITU T.81 Annex K tables.  Tests cover
round-trips, foreign-filter decode and defect flips (a broken kernel must
flip the audit booleans / digests).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from conftest import SF_DIR

from procurement_system_bigdata_spark.catalog import load_table
from procurement_system_bigdata_spark.operators import codecs, multimodal


# --- PNG ---------------------------------------------------------------------


def test_png_roundtrip_exact():
    rng = np.random.default_rng(11)
    for shape in [(24, 32, 3), (7, 5, 3), (1, 1, 3), (64, 3, 3)]:
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)


def test_png_decodes_all_five_filters():
    """A hand-filtered PNG using filters 0..4 across rows must reconstruct
    the original pixels — exercising the Sub/Up/Average/Paeth paths our
    own encoder (filter 0 only) never produces."""
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (10, 9, 3), dtype=np.uint8)
    stride = 27
    rows, prev = [], np.zeros(stride, dtype=np.int32)
    for y in range(10):
        cur = img[y].reshape(-1).astype(np.int32)
        f = y % 5
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur.copy()
            filt[3:] = (cur[3:] - cur[:-3]) % 256
        elif f == 2:
            filt = (cur - prev) % 256
        elif f == 3:
            a = np.concatenate([[0, 0, 0], cur[:-3]])
            filt = (cur - (a + prev) // 2) % 256
        else:
            filt = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt[x] = (cur[x] - pred) % 256
        rows.append(bytes([f]) + bytes(filt.astype(np.uint8)))
        prev = cur

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 9, 10, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(png), img)


def test_png_gray_and_rgba_profiles():
    """Gray expands to RGB; RGBA drops alpha — both via hand-built files."""

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    raw = b"".join(b"\x00" + gray[y].tobytes() for y in range(3))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = codecs.decode_png(png)
    assert out.shape == (3, 4, 3)
    assert np.array_equal(out[..., 0], gray) and np.array_equal(out[..., 2], gray)

    rgba = np.random.default_rng(5).integers(0, 256, (3, 4, 4), dtype=np.uint8)
    raw = b"".join(b"\x00" + rgba[y].tobytes() for y in range(3))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(codecs.decode_png(png), rgba[:, :, :3])


def test_png_crc_corruption_detected():
    img = np.zeros((4, 4, 3), dtype=np.uint8)
    buf = bytearray(codecs.encode_png(img))
    buf[-9] ^= 0xFF  # flip a byte inside IEND's CRC region / IDAT tail
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_png(bytes(buf))


# --- JPEG --------------------------------------------------------------------


def test_jpeg_roundtrip_error_bounds():
    """Lossy but bounded: smooth gradients reconstruct within ~1 level at
    q90; noise (the worst case for DCT) within ~8 mean abs; exact dims
    for non-multiple-of-8 sizes."""
    rng = np.random.default_rng(13)
    grad = codecs.decode_ppm(codecs.synthesize_image(5))
    dec = codecs.decode_jpeg(codecs.encode_jpeg(grad, 90))
    assert dec.shape == grad.shape
    assert np.abs(dec.astype(float) - grad.astype(float)).mean() < 1.5

    noise = rng.integers(0, 256, (24, 32, 3), dtype=np.uint8)
    dec2 = codecs.decode_jpeg(codecs.encode_jpeg(noise, 90))
    assert np.abs(dec2.astype(float) - noise.astype(float)).mean() < 10.0

    odd = rng.integers(0, 256, (13, 11, 3), dtype=np.uint8)
    assert codecs.decode_jpeg(codecs.encode_jpeg(odd, 75)).shape == (13, 11, 3)


def test_jpeg_quality_dial_monotone():
    """Lower quality -> smaller payload and larger reconstruction error
    (sanity that the IJG quality scaling actually reaches the tables)."""
    img = codecs.decode_ppm(codecs.synthesize_image(9))
    sizes, errs = [], []
    for q in (95, 75, 40, 10):
        jp = codecs.encode_jpeg(img, q)
        sizes.append(len(jp))
        dec = codecs.decode_jpeg(jp)
        errs.append(np.abs(dec.astype(float) - img.astype(float)).mean())
    assert sizes == sorted(sizes, reverse=True)
    assert errs == sorted(errs)


def test_jpeg_encode_deterministic():
    img = codecs.decode_ppm(codecs.synthesize_image(17))
    assert codecs.encode_jpeg(img, 90) == codecs.encode_jpeg(img, 90)
    assert codecs.encode_png(img) == codecs.encode_png(img)


def test_decode_image_sniff_dispatch():
    """The PIL-swap seam: decode_image routes by magic bytes across all
    four real image codecs."""
    img = codecs.decode_ppm(codecs.synthesize_image(3))
    assert np.array_equal(codecs.decode_image(codecs.encode_ppm(img)), img)
    assert np.array_equal(codecs.decode_image(codecs.encode_png(img)), img)
    jp = codecs.decode_image(codecs.encode_jpeg(img, 90))
    assert jp.shape == img.shape
    with pytest.raises(codecs.UnsupportedMediaError):
        codecs.decode_image(b"RIFF....WAVE")  # audio payload at image seam


# --- media_decode audit ------------------------------------------------------


def test_media_decode_covers_all_three_formats(spark):
    docs = load_table(spark, SF_DIR, "documents")
    media = multimodal.attach_synthetic_images(docs)
    out = multimodal.decode_images_audit(media).collect()
    assert len(out) == docs.count()  # nothing dead-lettered
    kinds = {r.media_type for r in out}
    assert kinds == {"image/x-portable-pixmap", "image/png", "image/jpeg"}
    assert all(r.err_ok for r in out)
    assert all(
        (r.width, r.height) == (multimodal.DECODE_WIDTH, multimodal.DECODE_HEIGHT)
        for r in out
    )
    # lossless rows share the gradient digest; jpeg rows differ from it
    by_kind = {}
    for r in out:
        by_kind.setdefault((r.media_type, r.media_id % 256), set()).add(r.pixel_md5)
    for (kind, cls), digests in by_kind.items():
        assert len(digests) == 1, (kind, cls)


def test_media_decode_defect_flips_audit(spark):
    """A pixel-level defect in the decode path must flip err_ok and the
    digest — the property that makes the oracle a real gate.  Simulated by
    auditing a corpus whose JPEG rows were encoded at a much coarser
    quality than the contract assumes."""
    docs = load_table(spark, SF_DIR, "documents").limit(30)
    ids = docs.selectExpr("CAST(doc_id AS LONG) AS media_id")
    import pandas as pd

    w, h = multimodal.DECODE_WIDTH, multimodal.DECODE_HEIGHT

    def bad_batches(it):
        for pdf in it:
            contents, types = [], []
            for mid in pdf["media_id"]:
                arr = codecs.decode_ppm(codecs.synthesize_image(int(mid), w, h))
                contents.append(codecs.encode_jpeg(arr, 5))  # contract says 90
                types.append("image/jpeg")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "content": contents,
                    "media_type": types,
                    "n_bytes": [len(c) for c in contents],
                }
            )

    bad = ids.mapInPandas(bad_batches, schema=multimodal.MEDIA_SCHEMA)
    rows = multimodal.decode_images_audit(bad).collect()
    assert rows and not any(r.err_ok for r in rows)


# --- wide-md5 confirm keys (advisor round-7 finding) -------------------------


def test_minhash_confirm_uses_wide_keys(spark):
    """The confirm-side token sets must be md5 strings (collision-free
    equality), while signatures keep the narrow affine-compatible fold —
    checked structurally via the plan schema of each subtree."""
    from procurement_system_bigdata_spark.operators import dedup

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    wide = dedup._doc_token_hashes(docs, 1, wide=True)
    narrow = dedup._doc_token_hashes(docs, 1)
    assert dict(wide.dtypes)["h"] == "string"
    assert dict(narrow.dtypes)["h"] == "bigint"
    # pairs output unchanged in shape; jaccard computed over wide sets
    pairs = dedup.minhash_lsh_pairs(docs, k=6, n_bands=2)
    assert [f[0] for f in pairs.dtypes] == ["doc_a", "doc_b", "jaccard"]


def test_ann_report_self_describes_sampling(spark):
    from procurement_system_bigdata_spark.operators import similarity

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(40)
    [full] = similarity.lsh_ann_report(emb).collect()
    [sampled] = similarity.lsh_ann_report(emb, sample_queries=7).collect()
    assert full.n_anchors == 0
    assert sampled.n_anchors == 7


# --- production profile (VERDICT r07 ask #8) ---------------------------------


def test_production_profile_contracts(spark):
    """Every PRODUCTION_DIALS entry must (a) run, and (b) satisfy the
    bounded contract its `effect` documents, vs the oracle-default dial:

    - supplier_orders: identical row SET (order unconstrained)
    - lm_perplexity_buckets: same (source,bucket) keys, n_docs divergence
      bounded (<5% of source total at this tiny SF)
    - dedup_minhash_lsh: precision exact — every pair's jaccard >= 0.9
    - bloom_decontamination: zero false negatives — every exact benchmark
      hit stays flagged
    - embedding_ann_lsh: n_anchors self-describes the dial; audit booleans
      hold on the sampled sub-universe
    """
    from procurement_system_bigdata_spark.queries.registry import (
        PRODUCTION_DIALS,
        REGISTRY,
        production_queries,
    )

    pq = production_queries()
    assert set(PRODUCTION_DIALS) <= set(pq)
    assert all(d.dials and d.effect for d in PRODUCTION_DIALS.values())

    # supplier_orders: same row set
    default_rows = sorted(
        map(tuple, REGISTRY["supplier_orders"].fn(spark, SF_DIR).collect())
    )
    prod_rows = sorted(map(tuple, pq["supplier_orders"](spark, SF_DIR).collect()))
    assert default_rows == prod_rows

    # lm_perplexity_buckets: same keys, bounded count divergence
    exact = {
        (r.source, r.bucket): r.n_docs
        for r in REGISTRY["lm_perplexity_buckets"].fn(spark, SF_DIR).collect()
    }
    approx = {
        (r.source, r.bucket): r.n_docs
        for r in pq["lm_perplexity_buckets"](spark, SF_DIR).collect()
    }
    assert set(exact) == set(approx)
    per_source_total: dict = {}
    for (src, _), n in exact.items():
        per_source_total[src] = per_source_total.get(src, 0) + n
    for key, n in exact.items():
        assert abs(approx[key] - n) <= max(2, 0.05 * per_source_total[key[0]]), key

    # dedup_minhash_lsh production banding: precision exact
    pairs = pq["dedup_minhash_lsh"](spark, SF_DIR).collect()
    assert all(r.jaccard >= 0.9 for r in pairs)

    # bloom fast dial: no false negatives vs the exact-hash dial's flags
    slow_flagged = {
        r.doc_id
        for r in REGISTRY["bloom_decontamination"].fn(spark, SF_DIR).collect()
        if r.flagged
    }
    fast_flagged = {
        r.doc_id
        for r in pq["bloom_decontamination"](spark, SF_DIR).collect()
        if r.flagged
    }
    # both dials are FN-free supersets of the true hits; the TRUE hits are
    # their intersection's lower bound — assert the fast dial kept every
    # doc both dials would catch deterministically: exact contamination
    from procurement_system_bigdata_spark.queries import llmdata

    exact_hits = {
        r.doc_id
        for r in REGISTRY["decontamination"].fn(spark, SF_DIR).collect()
        if r.n_overlap > 0
    }
    if exact_hits:
        assert exact_hits <= fast_flagged and exact_hits <= slow_flagged

    # ann audit: self-described dial + booleans hold
    [rep] = pq["embedding_ann_lsh"](spark, SF_DIR).collect()
    assert rep.n_anchors == llmdata.ANN_PRODUCTION_ANCHORS
    assert rep.subset_ok and rep.scores_exact_ok and rep.recall_ok


# --- perceptual image dedup (round-8 extension) ------------------------------


def test_dhash_matches_closed_form(spark):
    """The distributed dHash equals the single-threaded codec-path value
    for every class present in the corpus."""
    docs = load_table(spark, SF_DIR, "documents").limit(64)
    media = multimodal.attach_pattern_images(docs)
    rows = multimodal.image_dhash(media).collect()
    assert rows
    for r in rows:
        arr = codecs.decode_image(codecs.encode_png(codecs.pattern_pixels(r.media_id)))
        assert r.dhash == codecs.dhash_hex(arr)
        assert r.dhash == "".join([r.band0, r.band1, r.band2, r.band3])


def test_hamming64_column_matches_python(spark):
    import random

    rng = random.Random(5)
    pairs = [
        (
            "%016x" % rng.getrandbits(64),
            "%016x" % rng.getrandbits(64),
        )
        for _ in range(50)
    ]
    df = spark.createDataFrame(pairs, ["dh_a", "dh_b"]).select(
        "dh_a", "dh_b", multimodal._hamming64("dh_a", "dh_b").alias("h")
    )
    for r in df.collect():
        assert r.h == bin(int(r.dh_a, 16) ^ int(r.dh_b, 16)).count("1"), (
            r.dh_a,
            r.dh_b,
        )


def test_image_neardup_finds_planted_pairs(spark):
    """Docs whose classes are a planted (2g, 2g+1) perturbation pair — or
    the same class — must appear as confirmed near-dups; unrelated-group
    pairs must not."""
    docs = load_table(spark, SF_DIR, "documents")
    media = multimodal.attach_pattern_images(docs)
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in multimodal.image_neardup_pairs(media).collect()
    }
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    by_group = {}
    for i in ids:
        by_group.setdefault((i % 256) // 2, []).append(i)
    n_same_group_checked = 0
    for group, members in by_group.items():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                a, b = members[x], members[y]
                assert (a, b) in pairs, (a, b, group)
                assert pairs[(a, b)] <= multimodal.DHASH_MAX_HAMMING
                n_same_group_checked += 1
    assert n_same_group_checked > 0
    # every reported pair's CLASS pair must be in the exhaustively-computed
    # confirmed set (mostly same-group; one legitimate cross-group
    # perceptual collision exists at exactly hamming 6: classes 119/181)
    hs = multimodal._pattern_class_hashes()

    def _ham(x, y):
        return bin(int(x, 16) ^ int(y, 16)).count("1")

    for (a, b), hm in pairs.items():
        ca, cb = sorted((a % 256, b % 256))
        assert _ham(hs[ca], hs[cb]) == hm <= multimodal.DHASH_MAX_HAMMING, (a, b)


# --- Bloom auto-sizing (round-8 production dial) ------------------------------


def test_bloom_m_for_inverts_fp_formula():
    import math

    from procurement_system_bigdata_spark.operators import decontam

    for n, p in ((1_000, 0.01), (30_000, 0.01), (1_000_000, 0.001)):
        m = decontam.bloom_m_for(n, p)
        fp = (1.0 - math.exp(-decontam.BLOOM_K * n / m)) ** decontam.BLOOM_K
        assert fp <= p, (n, p, m, fp)
        # and the next-smaller power of two would exceed the target
        # (unless clamped at the 2^15 floor)
        if m > (1 << 15):
            fp_half = (1.0 - math.exp(-decontam.BLOOM_K * n / (m // 2))) ** decontam.BLOOM_K
            assert fp_half > p, (n, p, m)
    assert decontam.bloom_m_for(0) == decontam.BLOOM_M_BITS


def test_bloom_auto_size_keeps_superset_guarantee(spark):
    """auto_size changes m (and therefore the FP pattern) but never drops
    a true hit: every exactly-contaminated doc stays flagged."""
    from conftest import SF_DIR as _sf
    from procurement_system_bigdata_spark.queries import llmdata
    from procurement_system_bigdata_spark.queries.registry import REGISTRY

    auto = {
        r.doc_id
        for r in llmdata.q_bloom_decontamination(
            spark, _sf, fast_hash=True, auto_size=True
        ).collect()
        if r.flagged
    }
    exact_hits = {
        r.doc_id
        for r in REGISTRY["decontamination"].fn(spark, _sf).collect()
        if r.n_overlap > 0
    }
    assert exact_hits and exact_hits <= auto


# --- codec robustness fuzz (round-8): malformed payloads never crash ---------


def test_codec_fuzz_never_crashes():
    """Random and mutated payloads must either decode to a valid array or
    raise UnsupportedMediaError — never any other exception and never a
    hang.  At 100 TB corpus scale malformed files are a certainty, and
    the mapInPandas dead-letter convention only catches
    UnsupportedMediaError."""
    import random

    rng = random.Random(17)
    base = codecs.decode_ppm(codecs.synthesize_image(7))
    valid = {
        "ppm": codecs.encode_ppm(base),
        "png": codecs.encode_png(base),
        "jpeg": codecs.encode_jpeg(base, 90),
    }

    def try_decode(payload):
        try:
            out = codecs.decode_image(payload)
            assert out.ndim == 3 and out.shape[2] == 3 and out.dtype == np.uint8
        except codecs.UnsupportedMediaError:
            pass  # the one allowed failure mode

    # pure random bytes behind each magic prefix
    magics = [b"P6", b"BM", b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff\xe0", b"\xff\xd8\xff\xdb"]
    for _ in range(60):
        m = magics[rng.randrange(len(magics))]
        try_decode(m + bytes(rng.randrange(256) for _ in range(rng.randrange(0, 400))))

    # truncations of valid payloads at every byte class
    for payload in valid.values():
        for cut in range(0, len(payload), max(1, len(payload) // 40)):
            try_decode(payload[:cut])

    # single-byte corruptions of valid payloads
    for payload in valid.values():
        buf = bytearray(payload)
        for _ in range(60):
            i = rng.randrange(len(buf))
            old = buf[i]
            buf[i] = rng.randrange(256)
            try_decode(bytes(buf))
            buf[i] = old


def test_codec_fuzz_hypothesis_roundtrip():
    """Property-based: any uint8 RGB array round-trips PNG exactly and
    JPEG within the noise bound; both encoders are deterministic."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @settings(max_examples=25, deadline=None)
    @given(
        arrays(
            np.uint8,
            st.tuples(
                st.integers(1, 20), st.integers(1, 20), st.just(3)
            ),
        )
    )
    def prop(img):
        assert np.array_equal(codecs.decode_png(codecs.encode_png(img)), img)
        jp = codecs.encode_jpeg(img, 85)
        assert jp == codecs.encode_jpeg(img, 85)
        dec = codecs.decode_jpeg(jp)
        assert dec.shape == img.shape

    prop()


# --- audio fingerprint dedup (round-8 extension) ------------------------------


def test_audio_fingerprint_matches_closed_form(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(40)
    media = multimodal.attach_fp_tones(docs)
    rows = multimodal.audio_fingerprints(media).collect()
    assert rows
    for r in rows:
        fp = codecs.audio_zc_fingerprint(codecs.synthesize_fp_tone(r.media_id))
        assert [getattr(r, f"w{i}") for i in range(codecs.FP_WINDOWS)] == fp


def test_two_grid_bucketing_guarantees_recall():
    """Property behind the candidate join: any pair of non-negative ints
    with |a-b| <= 1 shares a bucket on at least one of the two offset
    grids; any pair with |a-b| >= 2 shares neither."""
    for a in range(0, 60):
        for b in range(0, 60):
            shares = any((a + g) // 2 == (b + g) // 2 for g in (0, 1))
            assert shares == (abs(a - b) <= 1), (a, b)


