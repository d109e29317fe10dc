"""Tests for dedup / similarity / textstats / multimodal operators."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from mapreduce_stockheadlines_spark.functions.vectors import as_double, cosine
from mapreduce_stockheadlines_spark.operators import dedup as D
from mapreduce_stockheadlines_spark.operators import multimodal as M
from mapreduce_stockheadlines_spark.operators import similarity as S
from mapreduce_stockheadlines_spark.operators import textstats as TS


def docs_df(spark):
    return spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
            (2, "completely different words entirely unrelated sentence"),
            (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        ],
        ["doc_id", "text"],
    )


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (2, "z")], ["k", "v"]
    )
    out = D.exact_dedup(df, ["k"], ["v"])
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: "a", 2: "z"}


def test_content_hash_dedup_groups_exact_dups(spark):
    out = D.content_hash_dedup(docs_df(spark), "text", "doc_id")
    rows = {r.keep_id: r.n_copies for r in out.collect()}
    assert rows[0] == 2  # docs 0 and 3 identical, min id kept
    assert rows[1] == 1 and rows[2] == 1


def test_minhash_identical_docs_identical_signature(spark):
    sig = D.minhash_signature(docs_df(spark), "doc_id", "text", num_hashes=8)
    rows = {r.doc_id: tuple(r[f"mh{i}"] for i in range(8)) for r in sig.collect()}
    assert rows[0] == rows[3]
    assert rows[0] != rows[2]


def test_minhash_multi_matches_per_mode(spark):
    """The fused one-scan multi-mode operator must agree exactly with the
    per-mode ``minhash_signature`` runs it replaces. Regression guard for
    the F.transform lambda-arity trap: a two-parameter lambda (even with a
    defaulted second arg) makes Spark bind the array index to it."""
    df = docs_df(spark)
    multi = D.minhash_signatures_multi(
        df, "doc_id", "text", num_hashes=8, shingle_ns=(None, 3)
    )
    assert dict(multi.dtypes)["mode"] == "string"
    got = {
        (r.doc_id, r.mode): tuple(r[f"mh{i}"] for i in range(8))
        for r in multi.collect()
    }
    uni = D.minhash_signature(df, "doc_id", "text", num_hashes=8)
    sh = D.minhash_signature(df, "doc_id", "text", num_hashes=8, shingle_n=3)
    want = {
        (r.doc_id, "unigram"): tuple(r[f"mh{i}"] for i in range(8))
        for r in uni.collect()
    } | {
        (r.doc_id, "shingle3"): tuple(r[f"mh{i}"] for i in range(8))
        for r in sh.collect()
    }
    assert got == want


def test_minhash_native_mode_properties(spark):
    """hash_mode="native" (xxhash64 longs — the corpus-scale fast path)
    must keep the MinHash invariants: identical docs collide on every
    slot, unrelated docs don't, LSH banding still finds the exact dup,
    and the multi-mode operator agrees with the per-mode runs."""
    df = docs_df(spark)
    sig = D.minhash_signature(df, "doc_id", "text", num_hashes=8,
                              hash_mode="native")
    assert dict(sig.dtypes)["mh0"] == "bigint"
    rows = {r.doc_id: tuple(r[f"mh{i}"] for i in range(8)) for r in sig.collect()}
    assert rows[0] == rows[3]
    assert rows[0] != rows[2]
    pairs = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(sig, "doc_id", 8, 4).collect()
    }
    assert (0, 3) in pairs
    multi = {
        (r.doc_id, r.mode): tuple(r[f"mh{i}"] for i in range(8))
        for r in D.minhash_signatures_multi(
            df, "doc_id", "text", num_hashes=8, shingle_ns=(None,),
            hash_mode="native"
        ).collect()
    }
    assert multi[(0, "unigram")] == rows[0]
    with pytest.raises(ValueError, match="unknown hash mode"):
        D.minhash_signature(df, "doc_id", "text", hash_mode="sha9")


def test_lsh_pairs_catch_exact_dups(spark):
    sig = D.minhash_signature(docs_df(spark), "doc_id", "text", num_hashes=8)
    pairs = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(sig, "doc_id", 8, 4).collect()
    }
    assert (0, 3) in pairs  # exact dups always collide in every band


def test_jaccard_pairs_exact_values(spark):
    df = docs_df(spark)
    toks = D.doc_tokens(df, "doc_id", "text")
    pairs = spark.createDataFrame([(0, 3), (0, 2), (0, 1)], ["id_a", "id_b"])
    got = {(r.id_a, r.id_b): r.jaccard for r in D.jaccard_pairs(toks, pairs).collect()}
    assert got[(0, 3)] == 1.0
    assert got[(0, 2)] == 0.0
    # docs 0/1: 8 distinct tokens each, 7 shared → 7/9
    assert math.isclose(got[(0, 1)], round(7 / 9, 4))


def test_simhash_properties(spark):
    out = D.simhash64(docs_df(spark), "doc_id", "text")
    rows = {r.doc_id: r.simhash for r in out.collect()}
    assert rows[0] == rows[3]  # identical docs → identical fingerprint
    # near-dup should be closer in Hamming distance than unrelated doc
    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert hamming(rows[0], rows[1]) < hamming(rows[0], rows[2])


def test_simhash_portable_matches_md5_reference(spark):
    """hash_mode="portable" pins the exact bit construction the x05 DuckDB
    oracle reproduces: bit i = bit i%8 of md5-digest byte i//8, votes
    weighted by token frequency, sign > 0 → bit set. Checked against an
    independent hashlib.md5 reimplementation (ADVICE r3)."""
    import hashlib
    import re

    def ref_fp(text: str) -> int:
        toks = [t for t in re.sub("[^a-zA-Z ]", " ", text.lower()).split() if t]
        sums = [0] * 64
        for t in toks:
            d = hashlib.md5(t.encode()).digest()
            for i in range(64):
                sums[i] += 1 if (d[i // 8] >> (i % 8)) & 1 else -1
        fp = sum(1 << i for i in range(64) if sums[i] > 0)
        return fp - (1 << 64) if fp >= (1 << 63) else fp  # signed 64-bit

    df = docs_df(spark)
    got = {
        r.doc_id: r.simhash
        for r in D.simhash64(df, "doc_id", "text", hash_mode="portable").collect()
    }
    want = {r.doc_id: ref_fp(r.text) for r in df.collect()}
    assert got == want


def test_simhash_unknown_mode_raises(spark):
    with pytest.raises(ValueError, match="unknown hash mode"):
        D.simhash64(docs_df(spark), "doc_id", "text", hash_mode="sha9")


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])], ["a", "b"]
    )
    sims = [
        r.s
        for r in df.select(
            cosine(as_double("a"), as_double("b")).alias("s")
        ).collect()
    ]
    assert math.isclose(sims[0], 1.0)
    assert math.isclose(sims[1], 0.0)


def test_cosine_topk_ranks(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [1.0, 0.01]),
        ],
        ["vec_id", "embedding"],
    )
    out = S.cosine_topk(emb.filter(F.col("vec_id") == 0), emb, k=2)
    rows = out.orderBy("rank").collect()
    assert [r.neighbor_id for r in rows] == [3, 1]  # closest first
    assert rows[0].rank == 1


def test_lsh_bucketed_recall_of_exact_dup(spark):
    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 8), (2, [-1.0] * 8)],
        ["vec_id", "embedding"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in S.lsh_bucketed_pairs(emb, dim=8, n_planes=4, threshold=0.9).collect()
    }
    assert (0, 1) in pairs  # identical vectors share every sign bucket
    assert (0, 2) not in pairs


def test_lsh_arrow_bucket_agrees_with_fold(spark, sf_dir):
    """The Arrow matmul path (used at >= LSH_ARROW_MIN_PLANES) must assign
    the same sign buckets as the interpreted fold on the test embeddings
    (which have margin at every projection — the only admissible
    disagreement is a projection within float-summation error of 0)."""
    from mapreduce_stockheadlines_spark.functions.vectors import as_double
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    planes = S._hyperplanes(64, 16)
    both = emb.select(
        "vec_id",
        S.lsh_bucket(as_double("embedding"), planes).alias("fold"),
        S.lsh_bucket_arrow(planes)(as_double("embedding")).alias("arrow"),
    )
    assert both.filter(F.col("fold") != F.col("arrow")).count() == 0


def test_lsh_bucketed_many_planes_uses_arrow_path(spark):
    """>= LSH_ARROW_MIN_PLANES must still produce correct pairs through
    the Arrow assignment (identical vectors collide, opposites don't)."""
    emb = spark.createDataFrame(
        [(0, [1.0] * 8), (1, [1.0] * 8), (2, [-1.0] * 8)],
        ["vec_id", "embedding"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in S.lsh_bucketed_pairs(
            emb, dim=8, n_planes=S.LSH_ARROW_MIN_PLANES, threshold=0.9
        ).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) not in pairs


def test_pii_stats_detects_and_redacts(spark):
    df = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.com or 555-123-4567 "
                "ssn 219-09-9999 host 10.0.0.1"),
            (1, "no pii here, just text with numbers 12345"),
            (2, "two mails a@b.io c@d.org and dotted phone 555.123.4567"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in TS.pii_stats(df, "doc_id", "text").collect()}
    assert (rows[0].n_email, rows[0].n_phone, rows[0].n_ssn, rows[0].n_ip) == (
        1, 1, 1, 1,
    )
    assert rows[0].n_pii == 4
    assert rows[0].redacted == "mail <EMAIL> or <PHONE> ssn <SSN> host <IP>"
    assert rows[1].n_pii == 0 and "12345" in rows[1].redacted
    assert rows[2].n_email == 2 and rows[2].n_phone == 1
    assert "<EMAIL>" in rows[2].redacted and "<PHONE>" in rows[2].redacted
    # an SSN (3-2-4 digit groups) must never count as a phone (3-3-4)
    assert rows[0].n_phone == 1


def test_repetition_stats_exact_values(spark):
    df = spark.createDataFrame([(0, "a a a b")], ["doc_id", "text"])
    rows = {
        r.mode: r for r in TS.repetition_stats(df, "doc_id", "text").collect()
    }
    r1, r2, r3 = rows["1gram"], rows["2gram"], rows["3gram"]
    assert (r1.n_grams, r1.n_unique, r1.top_fraction, r1.dup_fraction) == (
        4, 2, 0.75, 0.75,
    )
    # bigrams: "a a","a a","a b"
    assert (r2.n_grams, r2.n_unique, r2.top_fraction, r2.dup_fraction) == (
        3, 2, 0.6667, 0.6667,
    )
    # trigrams: "a a a","a a b" — all unique
    assert (r3.n_grams, r3.n_unique, r3.top_fraction, r3.dup_fraction) == (
        2, 2, 0.5, 0.0,
    )


def test_quality_score_ranges(spark):
    out = TS.quality_score(docs_df(spark), "doc_id", "text")
    for r in out.collect():
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert 0.0 <= r.stop_ratio <= 1.0


def test_token_counts(spark):
    df = spark.createDataFrame([("hello world, 42 times!",)], ["t"])
    row = df.select(
        TS.whitespace_token_count("t").alias("ws"),
        TS.bpe_ish_token_count("t").alias("bpe"),
    ).first()
    assert row.ws == 4
    # hello / world / , / 42 / times / !
    assert row.bpe == 6


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(0, "a  b\tc"), (1, "a b c"), (2, "a b d")], ["doc_id", "text"]
    )
    rows = {r.doc_id: r.fp for r in TS.fingerprint(df, "doc_id", "text").collect()}
    assert rows[0] == rows[1]
    assert rows[0] != rows[2]


def test_multimodal_decode_stub(spark):
    df = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
    media = M.attach_binary(df, "text", "doc_id", mime="image/fake")
    out = M.decode_media(media).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_bytes == 5
    assert r.width > 0 and r.height > 0 and r.n_frames > 0
    assert len(r.feature) == 8
    # deterministic: same content → same fake decode
    again = M.decode_media(media).collect()[0]
    assert (r.width, r.height, r.n_frames) == (again.width, again.height, again.n_frames)


def test_multimodal_strict_raises(spark):
    import pytest

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    media = M.attach_binary(df, "text", "doc_id")
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        M.decode_media(media, strict=True).collect()


def _bmp_bytes(px):
    """Hand-build an uncompressed 24-bit BMP (bottom-up, BGR, 4-byte
    padded rows) from an (H, W, 3) uint8 RGB array."""
    import struct as _struct

    h, w = px.shape[:2]
    row_bytes = (w * 3 + 3) // 4 * 4
    raster = b"".join(
        px[r][..., ::-1].tobytes().ljust(row_bytes, b"\x00")
        for r in range(h - 1, -1, -1)
    )
    fh = b"BM" + _struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    ih = _struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 2835, 2835, 0, 0
    )
    return fh + ih + raster


def test_multimodal_real_ppm_bmp_decode(spark):
    """VERDICT r4 #5: the decode kernels are REAL for PPM (P6) and
    uncompressed 24-bit BMP — generated-in-test images decode to known
    dimensions and pixel-statistics features through the full Arrow
    mapInPandas path; the digest stub stays for other mimes."""
    import numpy as np
    import pytest

    px = np.zeros((2, 3, 3), np.uint8)
    px[0] = [[255, 0, 0], [0, 255, 0], [0, 0, 255]]
    px[1] = [[10, 20, 30]] * 3
    # PPM with a header comment; BMP with row padding (w=3 → 3 pad bytes)
    ppm = b"P6\n# test image\n3 2\n255\n" + px.tobytes()
    bmp = _bmp_bytes(px)
    assert (M._decode_ppm_p6(ppm) == px).all()
    assert (M._decode_bmp(bmp) == px).all()

    df = spark.createDataFrame(
        [(1, bytearray(ppm), M.MIME_PPM), (2, bytearray(bmp), M.MIME_BMP)],
        schema=M.MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in M.decode_media(df, strict=True).collect()}
    want_feature = M._pixel_feature(px)
    for mid in (1, 2):
        r = out[mid]
        assert (r.width, r.height, r.n_frames) == (3, 2, 1)
        assert r.feature == pytest.approx(want_feature, rel=1e-6)

    # malformed inputs fail loudly, not silently
    with pytest.raises(ValueError):
        M._decode_ppm_p6(b"P6\n3 2\n255\n\x00\x01")  # truncated raster
    with pytest.raises(ValueError):
        M._decode_bmp(b"BM" + b"\x00" * 60)  # zero bpp


def test_multimodal_real_png_decode(spark):
    """VERDICT r5 #4: PNG decode is REAL via stdlib zlib — 8-bit
    non-interlaced gray/RGB/RGBA with all five scanline filters decode
    to known pixels through the full Arrow mapInPandas path; the pHash
    of a PNG and a BMP encoding of the SAME pixels agree (hamming ≤ 2);
    a PLTE-less palette PNG is MALFORMED and falls back to the digest
    stub non-strict / raises in strict mode (well-formed palette PNGs
    decode for real since round 8 — see the matrix property test)."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np
    import pytest

    def chunk(tag, data):
        return (
            _struct.pack(">I", len(data)) + tag + data
            + _struct.pack(">I", _zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    rng = np.random.default_rng(42)
    px = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    # encoder round-trips under filter None and filter Sub
    for ft in (0, 1):
        assert (M._decode_png(M._encode_png(px, filter_type=ft)) == px).all()

    # hand-filtered stream exercising Up / Average / Paeth reversal
    h, w, ch = 4, 5, 3
    img = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    rows, prev = [], np.zeros(w * ch, dtype=np.int16)
    for y, f in zip(range(h), (0, 2, 3, 4)):
        line = img[y].reshape(-1).astype(np.int16)
        enc = line.copy()
        for i in range(w * ch):
            a = int(line[i - ch]) if i >= ch else 0
            b, c = int(prev[i]), (int(prev[i - ch]) if i >= ch else 0)
            if f == 2:
                enc[i] = line[i] - b
            elif f == 3:
                enc[i] = line[i] - ((a + b) >> 1)
            elif f == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                enc[i] = line[i] - pr
        rows.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = line
    filt_png = (
        M._PNG_SIG
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", _zlib.compress(b"".join(rows)))
        + chunk(b"IEND", b"")
    )
    assert (M._decode_png(filt_png) == img).all()

    # gray replicates to 3 channels; RGBA drops alpha
    g = rng.integers(0, 256, (6, 7), dtype=np.uint8)
    gpng = (
        M._PNG_SIG
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", 7, 6, 8, 0, 0, 0, 0))
        + chunk(b"IDAT",
                _zlib.compress(b"".join(b"\x00" + g[y].tobytes() for y in range(6))))
        + chunk(b"IEND", b"")
    )
    dg = M._decode_png(gpng)
    assert dg.shape == (6, 7, 3) and (dg[..., 1] == g).all()
    ra = rng.integers(0, 256, (6, 7, 4), dtype=np.uint8)
    apng = (
        M._PNG_SIG
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", 7, 6, 8, 6, 0, 0, 0))
        + chunk(b"IDAT",
                _zlib.compress(b"".join(b"\x00" + ra[y].tobytes() for y in range(6))))
        + chunk(b"IEND", b"")
    )
    assert (M._decode_png(apng) == ra[..., :3]).all()

    # full Spark path: known dims + features, strict mode (no stub hit)
    df = spark.createDataFrame(
        [(1, bytearray(M._encode_png(px)), M.MIME_PNG)], schema=M.MEDIA_SCHEMA
    )
    r = M.decode_media(df, strict=True).collect()[0]
    assert (r.width, r.height, r.n_frames) == (7, 9, 1)
    assert r.feature == pytest.approx(M._pixel_feature(px), rel=1e-6)

    # cross-format pHash: PNG and BMP encodings of the same pixels land
    # within hamming 2 (identical decode → identical hash in practice)
    big = rng.integers(0, 256, (40, 40, 3), dtype=np.uint8)
    hdf = spark.createDataFrame(
        [
            (1, bytearray(M._encode_png(big, filter_type=1)), M.MIME_PNG),
            (2, bytearray(_bmp_bytes(big)), M.MIME_BMP),
        ],
        schema=M.MEDIA_SCHEMA,
    )
    hashes = {r.media_id: r.phash for r in M.image_phash(hdf, strict=True).collect()}
    assert bin(hashes[1] ^ hashes[2]).count("1") <= 2

    # decompression bomb: a 1x1 IHDR with IDAT inflating to ~64 MB must
    # reject via the bounded inflate (ValueError -> stub tier), never
    # allocate the full bomb / OOM the task
    bomb = (
        M._PNG_SIG
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", 1, 1, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", _zlib.compress(b"\x00" * (64 << 20)))
        + chunk(b"IEND", b"")
    )
    assert len(bomb) < 100_000  # the bomb itself is tiny on the wire
    with pytest.raises(ValueError):
        M._decode_png(bomb)

    # PLTE-less palette PNG is malformed: digest stub non-strict, loud
    # in strict mode (a WELL-FORMED palette PNG decodes for real below)
    ppng = (
        M._PNG_SIG
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", 4, 4, 8, 3, 0, 0, 0))
        + chunk(b"IDAT", _zlib.compress(b"\x00" * 5 * 4))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="PLTE"):
        M._decode_png(ppng)
    pal = spark.createDataFrame(
        [(9, bytearray(ppng), M.MIME_PNG)], schema=M.MEDIA_SCHEMA
    )
    stub = M.decode_media(pal).collect()[0]
    want = M._fake_decode(bytes(ppng))
    assert (stub.width, stub.height, stub.n_frames) == want[:3]
    with pytest.raises(Exception):  # ValueError surfaces as PythonException
        M.decode_media(pal, strict=True).collect()

    # well-formed palette PNG (round 8): real decode through strict
    # decode_media — indices map through PLTE to exact known colors
    plt = np.array([[250, 10, 10], [10, 250, 10], [10, 10, 250],
                    [200, 200, 200]], np.uint8)
    idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0], [1, 1, 2, 2]], np.uint8)
    good = M._encode_png(idx, color_type=3, depth=2, palette=plt,
                         interlace=True)
    assert np.array_equal(M._decode_png(good), plt[idx])
    gdf = spark.createDataFrame(
        [(10, bytearray(good), M.MIME_PNG)], schema=M.MEDIA_SCHEMA
    )
    r = M.decode_media(gdf, strict=True).collect()[0]
    assert (r.width, r.height) == (4, 3)
    assert r.feature == pytest.approx(
        M._pixel_feature(plt[idx]), rel=1e-6
    )


def test_multimodal_detect_mime_and_sniffed_decode(spark):
    """Magic-byte sniffing routes blobs to the right decode tier: a PPM
    with no declared mime decodes for real once detect_mime labels it;
    PNG/JPEG magic is recognized (the truncated PNG and the garbage
    JPEG fall back to the digest stub); junk falls back to
    octet-stream."""
    import numpy as np

    px = np.full((2, 2, 3), 7, np.uint8)
    ppm = M._encode_ppm_p6(px)
    rows = [
        (1, bytearray(ppm)),
        (2, bytearray(b"\x89PNG\r\n\x1a\n rest")),
        (3, bytearray(b"\xff\xd8\xff\xe0 jfif")),
        (4, bytearray(b"just some text")),
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    sniffed = df.withColumn("mime", M.detect_mime("content"))
    got = {r.media_id: r.mime for r in sniffed.collect()}
    assert got == {
        1: M.MIME_PPM,
        2: "image/png",
        3: "image/jpeg",
        4: "application/octet-stream",
    }
    import pytest

    decoded = {r.media_id: r for r in M.decode_media(sniffed).collect()}
    assert (decoded[1].width, decoded[1].height) == (2, 2)  # real decode
    assert decoded[1].feature == pytest.approx(M._pixel_feature(px), rel=1e-6)
    assert decoded[2].n_frames >= 1  # stub tier still works


def test_multimodal_real_jpeg_decode(spark):
    """VERDICT r6 #5: baseline JPEG decode is REAL (pure-numpy huffman +
    dequant + IDCT): round-trips through the in-repo encoder within
    quantization error at 4:4:4 and 4:2:0, with and without restart
    markers; a hand-assembled single-component grayscale JPEG decodes
    to exact known pixels byte-for-byte independent of the encoder;
    JPEG and PNG encodings of the SAME pixels land within pHash
    hamming ≤ 2; arithmetic-coded (SOF9) files are
    valid-but-unreadable → digest stub non-strict, loud in strict
    mode; progressive (SOF2) decodes FOR REAL to the exact same
    pixels as the baseline encoding of the same image."""
    import struct as _struct

    import numpy as np
    import pytest

    yy, xx = np.mgrid[0:48, 0:64]
    smooth = np.stack(
        [xx * 255 // 63, yy * 255 // 47, (xx + yy) * 255 // 110], axis=2
    ).astype(np.uint8)

    # round-trip bounds: flat exact, smooth within quantization error
    flat = np.full((24, 24, 3), [200, 30, 90], dtype=np.uint8)
    assert (M._decode_jpeg(M._encode_jpeg(flat, quality=90)) == flat).all()
    for sub, bound in (("444", 4), ("420", 8)):
        for ri in (0, 3):
            out = M._decode_jpeg(
                M._encode_jpeg(smooth, quality=92, subsample=sub,
                               restart_interval=ri)
            )
            assert out.shape == smooth.shape
            err = np.abs(out.astype(int) - smooth.astype(int)).max()
            assert err <= bound, (sub, ri, err)

    # hand-assembled 8x8 grayscale JPEG, flat Y=128: all-unity quant
    # table, the repo's fixed-length huffman tables, entropy data is
    # DC category 0 (4 bits of 0) + EOB (8 bits of 0) + 4 pad 1-bits
    def _seg(marker, payload):
        return _struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    gray_jpeg = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + bytes([1] * 64))
        + _seg(0xC0, _struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, b"\x00" + M._JPEG_ENC_DC_DHT)
        + _seg(0xC4, b"\x10" + M._JPEG_ENC_AC_DHT)
        + _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + b"\x00\x0f"
        + b"\xff\xd9"
    )
    dg = M._decode_jpeg(gray_jpeg)
    assert dg.shape == (8, 8, 3) and (dg == 128).all()

    # full Spark path, strict mode (no stub hit): dims + features match
    # a driver-side decode of the same blob
    blob = M._encode_jpeg(smooth, quality=95)
    df = spark.createDataFrame(
        [(1, bytearray(blob), "image/jpeg")], schema=M.MEDIA_SCHEMA
    )
    r = M.decode_media(df, strict=True).collect()[0]
    assert (r.width, r.height, r.n_frames) == (64, 48, 1)
    assert r.feature == pytest.approx(
        M._pixel_feature(M._decode_jpeg(blob)), rel=1e-6
    )

    # cross-codec pHash: lossy JPEG vs lossless PNG of the same pixels.
    # NOT the linear gradient — its DCT spectrum is near-zero off the
    # first row/col, so pHash's median-sign bits sit on noise; use a
    # low-frequency-RICH image whose coefficient signs are robust to
    # the ±5 quantization error.
    wavy = np.clip(
        np.round(
            np.stack(
                [
                    128 + 90 * np.sin(xx / 6.0) * np.cos(yy / 9.0),
                    128 + 80 * np.cos(xx / 11.0) * np.sin(yy / 5.0),
                    128 + 70 * np.sin((xx + yy) / 8.0),
                ],
                axis=2,
            )
        ),
        0,
        255,
    ).astype(np.uint8)
    hdf = spark.createDataFrame(
        [
            (1, bytearray(M._encode_jpeg(wavy, quality=95)), "image/jpeg"),
            (2, bytearray(M._encode_png(wavy)), M.MIME_PNG),
        ],
        schema=M.MEDIA_SCHEMA,
    )
    hashes = {
        r.media_id: r.phash for r in M.image_phash(hdf, strict=True).collect()
    }
    assert bin((hashes[1] ^ hashes[2]) & ((1 << 64) - 1)).count("1") <= 2

    # structurally truncated SOS (declares a component list it doesn't
    # carry): the out-of-range read must surface as ValueError — the
    # type the non-strict tier stubs — never a raw IndexError that
    # would escape decode_media's catch and kill the task
    trunc = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + bytes([1] * 64))
        + _seg(0xC0, _struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
        + _seg(0xC4, b"\x00" + M._JPEG_ENC_DC_DHT)
        + _seg(0xDA, bytes([1, 1]))
    )
    with pytest.raises(ValueError, match="malformed JPEG"):
        M._decode_jpeg(trunc)
    tdf = spark.createDataFrame(
        [(8, bytearray(trunc), "image/jpeg")], schema=M.MEDIA_SCHEMA
    )
    tstub = M.decode_media(tdf).collect()[0]
    assert (tstub.width, tstub.height, tstub.n_frames) == M._fake_decode(
        bytes(trunc)
    )[:3]

    # arithmetic-coded SOF9: ValueError from the decoder; stub tier
    # non-strict through Spark, PythonException in strict mode
    arith = (
        b"\xff\xd8"
        + _seg(0xDB, b"\x00" + bytes([1] * 64))
        + _seg(0xC9, _struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    )
    with pytest.raises(ValueError, match="progressive Huffman"):
        M._decode_jpeg(arith)
    pdf = spark.createDataFrame(
        [(9, bytearray(arith), "image/jpeg")], schema=M.MEDIA_SCHEMA
    )
    stub = M.decode_media(pdf).collect()[0]
    want = M._fake_decode(bytes(arith))
    assert (stub.width, stub.height, stub.n_frames) == want[:3]
    with pytest.raises(Exception):
        M.decode_media(pdf, strict=True).collect()

    # progressive SOF2 decodes FOR REAL: its multi-scan entropy layout
    # (spectral selection + successive approximation) reconstructs the
    # EXACT pixels the independently-tested baseline path produces for
    # the same image/quality/subsampling — and decode_media routes it
    # through the real tier (sniffed mime is plain image/jpeg)
    prog_blob = M._encode_jpeg_progressive(smooth, quality=85,
                                           subsample="420")
    base_px = M._decode_jpeg(M._encode_jpeg(smooth, quality=85,
                                            subsample="420"))
    assert np.array_equal(M._decode_jpeg(prog_blob), base_px)
    pdf2 = spark.createDataFrame(
        [(10, bytearray(prog_blob), "image/jpeg")], schema=M.MEDIA_SCHEMA
    )
    real = M.decode_media(pdf2, strict=True).collect()[0]
    assert (real.width, real.height) == (64, 48)
    assert real.feature == pytest.approx(
        M._pixel_feature(base_px), rel=1e-6
    )

    # structurally truncated progressive entropy stream: ValueError
    # (never IndexError), digest stub through non-strict decode_media
    cut = prog_blob[: len(prog_blob) // 2]
    with pytest.raises(ValueError):
        M._decode_jpeg(cut)
    cdf = spark.createDataFrame(
        [(11, bytearray(cut), "image/jpeg")], schema=M.MEDIA_SCHEMA
    )
    cstub = M.decode_media(cdf).collect()[0]
    assert (cstub.width, cstub.height, cstub.n_frames) == M._fake_decode(
        bytes(cut)
    )[:3]


def test_multimodal_real_resize_nearest_neighbor(spark):
    """Decodable mimes are really resampled: upsampling a known 2x3 PPM
    to 6x4 duplicates pixels by nearest-neighbor index selection and
    re-encodes as P6; a second decode round-trips the resized pixels."""
    import numpy as np

    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    df = spark.createDataFrame(
        [(7, bytearray(M._encode_ppm_p6(px)), M.MIME_PPM)],
        schema=M.MEDIA_SCHEMA,
    )
    out = M.resize_media(df, 6, 4).collect()[0]
    assert (out.width, out.height, out.mime) == (6, 4, M.MIME_PPM)
    got = M._decode_ppm_p6(bytes(out.content))
    rows = (np.arange(4) * 2) // 4
    cols = (np.arange(6) * 3) // 6
    assert (got == px[rows][:, cols]).all()


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """Approx aggregates: property-checked vs exact (SURVEY §2.3 exclusion)."""
    from mapreduce_stockheadlines_spark.plans.catalog import table

    e = table(spark, sf_dir, "events")
    approx = e.agg(F.approx_count_distinct("user_id").alias("a")).first().a
    exact = e.agg(F.countDistinct("user_id").alias("e")).first().e
    assert abs(approx - exact) / exact < 0.1


def test_ivf_topk_recall_and_exact_scoring(spark, sf_dir):
    """IVF ANN: deterministic pipeline on a fixed dataset → recall is a
    constant; pin it, and require every returned sim to equal the exact
    brute-force cosine (the approximation may MISS neighbors, never
    mis-score them)."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = ivf_topk(queries, emb, k=10, n_centroids=16, n_probe=4).toPandas()
    exact = cosine_topk(queries, emb, k=10).toPandas()

    e_pairs = set(zip(exact.query_id, exact.neighbor_id))
    i_pairs = set(zip(ivf.query_id, ivf.neighbor_id))
    assert len(e_pairs & i_pairs) / len(e_pairs) >= 0.8  # observed 0.88

    merged = ivf.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_i", "_e"))
    assert (merged.sim_i == merged.sim_e).all()
    # ranks are 1..n consecutive per query
    for _, grp in ivf.groupby("query_id"):
        assert sorted(grp["rank"]) == list(range(1, len(grp) + 1))


def test_multimodal_resize_plumbing(spark):
    df = spark.createDataFrame([(1, "hello"), (2, "world")], ["doc_id", "text"])
    media = M.attach_binary(df, "text", "doc_id", mime="image/fake")
    out = M.resize_media(media, 64, 48).collect()
    assert len(out) == 2
    assert all(r.width == 64 and r.height == 48 for r in out)
    assert all(r.content is not None for r in out)


def test_multimodal_frame_sampling(spark):
    df = spark.createDataFrame([(1, "a video"), (2, "another")], ["doc_id", "text"])
    media = M.attach_binary(df, "text", "doc_id", mime="video/fake")
    frames = M.sample_frames(media, max_frames=3).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    assert set(by_media) == {1, 2}
    for rows in by_media.values():
        assert 1 <= len(rows) <= 3
        assert all(len(r.frame_feature) == 8 for r in rows)
        idxs = [r.frame_idx for r in rows]
        assert idxs == sorted(set(idxs))  # distinct, increasing frame indices
    # deterministic: same content → same frames
    again = M.sample_frames(media, max_frames=3).collect()
    assert sorted((r.media_id, r.frame_idx) for r in again) == sorted(
        (r.media_id, r.frame_idx) for r in frames
    )


def test_neardup_pairs_blocking_is_invisible(spark, sf_dir):
    """Forcing many blocks (block_rows << n → cross-block branch) must give
    exactly the single-block result."""
    from mapreduce_stockheadlines_spark.operators.similarity import neardup_pairs
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    one = neardup_pairs(emb, threshold=0.35, block_rows=100000).toPandas()
    many = neardup_pairs(emb, threshold=0.35, block_rows=64).toPandas()
    key = lambda df: sorted(zip(df.id_a, df.id_b, df.sim))
    assert key(one) == key(many)
    assert len(one) > 0


def test_cosine_topk_partitioning_is_invisible(spark, sf_dir):
    """Per-batch local top-k must be exact regardless of how the corpus is
    partitioned (many partitions → many local top-k merges)."""
    from mapreduce_stockheadlines_spark.operators.similarity import cosine_topk
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    single = cosine_topk(queries, emb.coalesce(1), k=5).toPandas()
    manyp = cosine_topk(queries, emb.repartition(16), k=5).toPandas()
    key = lambda df: sorted(zip(df.query_id, df.neighbor_id, df.sim, df["rank"]))
    assert key(single) == key(manyp)
    assert len(single) == 3 * 5


def test_simhash_neardup_banding(spark):
    """Banded SimHash pairing: a near-identical pair is found, an unrelated
    doc is not; reported hamming equals the true popcount(xor); and the
    banding never fabricates pairs above the threshold."""
    from mapreduce_stockheadlines_spark.operators.dedup import (
        simhash64,
        simhash_neardup_pairs,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river today"),
        (2, "the quick brown fox jumps over the lazy dog near the river tonight"),
        (3, "completely different text about financial markets and stock rallies"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r.doc_id: r.simhash for r in simhash64(df, "doc_id", "text").collect()}
    pairs = simhash_neardup_pairs(
        simhash64(df, "doc_id", "text"), max_hamming=12
    ).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert (1, 2) in got
    true_ham = bin((fp[1] ^ fp[2]) & (2**64 - 1)).count("1")
    assert got[(1, 2)] == true_ham <= 12
    assert all(h <= 12 for h in got.values())
    assert (1, 3) not in got and (2, 3) not in got


def test_lsh_bucketed_block_decomposition_is_invisible(spark, sf_dir):
    """Within-bucket sub-blocking (block_rows << bucket size → many
    (bucket, pa, pb) tasks) must give exactly the one-block-per-bucket
    result, with no duplicate pairs (no distinct in the plan)."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        lsh_bucketed_pairs,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    one = lsh_bucketed_pairs(
        emb, dim=64, n_planes=4, threshold=0.35, block_rows=100000
    ).toPandas()
    many = lsh_bucketed_pairs(
        emb, dim=64, n_planes=4, threshold=0.35, block_rows=16
    ).toPandas()
    key = lambda df: sorted(zip(df.id_a, df.id_b, df.sim))
    assert key(one) == key(many)
    assert len(one) > 0
    # duplicate-free by construction, not by a distinct shuffle
    assert len(many) == len(set(zip(many.id_a, many.id_b)))


def test_neardup_pairs_block_cap_errors_clearly(spark, sf_dir):
    """Beyond max_blocks the exact path must fail fast with guidance, not
    build an infeasible O(B²) pair map."""
    from mapreduce_stockheadlines_spark.operators.similarity import neardup_pairs
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="lsh_bucketed_pairs"):
        neardup_pairs(emb, threshold=0.35, block_rows=8, max_blocks=4)


def test_topk_query_side_collect_is_guarded(spark, sf_dir):
    """The query side is collected to the driver like a broadcast build
    side; an oversized query set must raise, not OOM."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="max_query_rows"):
        cosine_topk(emb, emb, k=3, max_query_rows=10)
    with pytest.raises(ValueError, match="max_query_rows"):
        ivf_topk(emb, emb, k=3, max_query_rows=10)


def test_lsh_bucketed_is_one_lazy_plan(spark, sf_dir):
    """Building the LSH pair frame must run ZERO Spark jobs (no driver
    counts pass, no materialized pair map): sub-block sizing lives inside
    the plan as a window count + sequence explode."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        lsh_bucketed_pairs,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    group = "lsh-lazy-check"
    spark.sparkContext.setJobGroup(group, "build only")
    try:
        df = lsh_bucketed_pairs(emb, dim=64, n_planes=4, threshold=0.35)
        _ = df.schema  # analysis only
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        assert list(jobs) == []
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert df.count() >= 0  # and the plan still executes


def test_kmeans_centroids_properties(spark, sf_dir):
    """Lloyd iterations over the normalized corpus: unit-norm output,
    deterministic across runs, and strictly better (or equal) spherical
    quantization error than the lowest-id init it starts from."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators.similarity import (
        _to_matrix,
        kmeans_centroids,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    c0 = kmeans_centroids(emb, k=8, n_iters=0)
    c3 = kmeans_centroids(emb, k=8, n_iters=3)
    assert c3.shape == c0.shape == (8, 64)
    assert np.allclose(np.linalg.norm(c3, axis=1), 1.0)
    assert np.array_equal(c3, kmeans_centroids(emb, k=8, n_iters=3))  # determinism

    vecs = _to_matrix(emb.toPandas()["embedding"])
    # mean max-cosine to nearest centroid = spherical k-means objective
    obj = lambda c: float(np.mean(np.max(vecs @ c.T, axis=1)))
    assert obj(c3) >= obj(c0) - 1e-12


def test_fuzzy_text_join_cross_table(spark):
    """Cross-table approximate text join (record linkage): an exact
    copy always links (identical signatures share every band); a
    near-copy links with its TRUE 3-gram Jaccard, which DuckDB
    re-derives independently from the same normalized texts; unrelated
    rows, sub-shingle-length rows and same-side near-dups never link.
    The emitted pair set is pinned exactly on this fixed data."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.dedup import (
        fuzzy_text_join,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    left = spark.createDataFrame(
        [
            (1, base),
            (2, "markets rallied strongly as tech stocks led the gains"),
            (3, "completely unrelated text about gardening in the spring"),
        ],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [
            (10, base),                 # exact copy of 1 → jaccard 1.0
            (11, near),                 # near-copy of 1
            (12, "weather forecasts for the coming week look stormy"),
            (13, "too short"),          # < 3 words: no shingles, never links
        ],
        "hl_id long, headline string",
    )
    out = fuzzy_text_join(
        left, right, "doc_id", "hl_id", "text", "headline", threshold=0.3
    )
    got = {(r.doc_id_l, r.hl_id_r): r.jaccard for r in out.collect()}

    con = duckdb.connect()
    duck_j = con.execute(
        """
        WITH g AS (
          SELECT s, unnest(list_distinct([
            toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            FOR i IN range(1, greatest(len(toks) - 1, 1))])) AS gram
          FROM (SELECT s, list_filter(string_split(
                  regexp_replace(lower(t), '[^a-z ]', ' ', 'g'), ' '),
                  x -> x <> '') AS toks
                FROM (VALUES ('a', ?), ('b', ?)) v(s, t)))
        SELECT CAST(count(*) FILTER (ga.gram IS NOT NULL
                                     AND gb.gram IS NOT NULL) AS DOUBLE)
               / count(*)
        FROM (SELECT gram FROM g WHERE s = 'a') ga
        FULL JOIN (SELECT gram FROM g WHERE s = 'b') gb USING (gram)
        """,
        [base, near],
    ).fetchone()[0]
    assert set(got) == {(1, 10), (1, 11)}
    assert got[(1, 10)] == 1.0
    assert got[(1, 11)] == round(duck_j, 4)


def test_kmeans_quantized_partitioning_invariant(spark, sf_dir):
    """The quantize_dp contract (the x18 registry pin's foundation): the
    trained centroids must be BIT-identical regardless of how the corpus
    is partitioned — per-dim means are rounded each round, so partial-sum
    order noise vanishes below the quantum. Also pins that the quantized
    trainer still emits (near-)unit-norm centroids and that kmeans_assign
    covers every corpus vector exactly once."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators.similarity import (
        kmeans_assign,
        kmeans_centroids,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    c1 = kmeans_centroids(emb.repartition(1), k=8, n_iters=3, quantize_dp=7)
    c7 = kmeans_centroids(emb.repartition(7), k=8, n_iters=3, quantize_dp=7)
    assert np.array_equal(c1, c7)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)

    asg = kmeans_assign(emb, c1).toPandas()
    assert len(asg) == emb.count() and asg.vec_id.is_unique
    assert set(asg.cell_id) <= set(range(8))
    assert (asg.cent_sim <= 1.0001).all()


def test_ivf_trained_recall(spark, sf_dir):
    """IVF with k-means-trained centroids keeps recall vs exact top-k at a
    useful level (and runs the full train->assign->probe->rescore path)."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ivf = ivf_topk(
        queries, emb, k=10, n_centroids=16, n_probe=4, train_iters=2
    ).toPandas()
    exact = cosine_topk(queries, emb, k=10).toPandas()
    by_q = lambda df: {
        q: set(g.neighbor_id) for q, g in df.groupby("query_id")
    }
    iv, ex = by_q(ivf), by_q(exact)
    recalls = [len(iv[q] & ex[q]) / len(ex[q]) for q in ex]
    assert sum(recalls) / len(recalls) >= 0.5


def _uf_components(pairs):
    """Driver-side union-find ground truth for small fixtures."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_neardup_clusters_match_union_find(spark):
    """Min-label propagation must equal union-find components, including a
    long chain (pointer jumping beats diameter-many rounds) and a star."""
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # chain 1..7
        (10, 11), (10, 12), (10, 13),                     # star at 10
        (20, 21),                                          # pair
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.id: r.cluster_id
        for r in D.neardup_clusters(pairs).collect()
    }
    assert got == _uf_components(edges)


def test_dedup_by_pairs_keeps_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(
        r.doc_id for r in D.dedup_by_pairs(docs, pairs, "doc_id").collect()
    )
    # components {1,2,3} -> keep 1; {5,6} -> keep 5; untouched 0,4,7 pass
    assert kept == [0, 1, 4, 5, 7]


def test_neardup_clusters_end_to_end_lsh(spark, sf_dir):
    """Full pipeline: LSH pairs -> components -> dedup; every removed row
    is a non-min member of a pair-connected component."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        lsh_bucketed_pairs,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    pairs = lsh_bucketed_pairs(emb, dim=64, n_planes=4, threshold=0.35)
    edge_list = [(r.id_a, r.id_b) for r in pairs.collect()]
    expect = _uf_components(edge_list)
    got = {
        r.id: r.cluster_id for r in D.neardup_clusters(pairs).collect()
    }
    assert got == expect
    deduped = D.dedup_by_pairs(emb, pairs, "vec_id")
    n_losers = sum(1 for x, root in expect.items() if x != root)
    assert deduped.count() == emb.count() - n_losers


def test_neardup_clusters_raises_when_not_converged(spark):
    """max_iters too small for the graph must raise, not silently return
    partially-propagated labels that would dedup wrong groups."""
    chain = [(i, i + 1) for i in range(0, 40)]  # long path
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="fixpoint"):
        D.neardup_clusters(pairs, max_iters=1)


def test_edit_distance_pairs_values(spark):
    docs = spark.createDataFrame(
        [(0, "kitten"), (1, "sitting"), (2, "kitten")], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(0, 1), (0, 2)], ["id_a", "id_b"])
    rows = {
        (r.id_a, r.id_b): r
        for r in D.edit_distance_pairs(docs, pairs, "doc_id", "text").collect()
    }
    assert rows[(0, 1)].edit_distance == 3  # classic kitten→sitting
    assert rows[(0, 1)].edit_similarity == round(1 - 3 / 7, 4)
    assert rows[(0, 2)].edit_distance == 0
    assert rows[(0, 2)].edit_similarity == 1.0
    capped = D.edit_distance_pairs(
        docs, pairs, "doc_id", "text", max_distance=1
    ).collect()
    assert [(r.id_a, r.id_b) for r in capped] == [(0, 2)]


def test_incremental_dedup(spark):
    day1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    survivors1, index1 = D.incremental_dedup(day1, None, "doc_id", "text")
    assert sorted(r.doc_id for r in survivors1.collect()) == [1, 2]
    assert index1.count() == 2

    day2 = spark.createDataFrame(
        [(4, "alpha"), (5, "gamma"), (6, "gamma")], ["doc_id", "text"]
    )
    survivors2, index2 = D.incremental_dedup(day2, index1, "doc_id", "text")
    # 'alpha' already seen on day 1; within-batch 'gamma' dedups to min id
    assert sorted(r.doc_id for r in survivors2.collect()) == [5]
    assert index2.count() == 3
    # replay of the same batch against the updated index yields nothing
    survivors3, _ = D.incremental_dedup(day2, index2, "doc_id", "text")
    assert survivors3.count() == 0


def test_line_dedup_removes_cross_doc_boilerplate(spark):
    """Lines shared across >1 doc vanish from every doc; unique lines and
    short exempt lines survive in original order. DuckDB-pinned."""
    import duckdb

    df = spark.createDataFrame(
        [
            (0, "COOKIE BANNER\nreal content zero\n\nCOPYRIGHT FOOTER"),
            (1, "COOKIE BANNER\nreal content one\nCOPYRIGHT FOOTER"),
            (2, "standalone doc\nnothing shared here"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in D.line_dedup(df, "doc_id", "text", min_line_chars=1).collect()
    }
    assert out[0] == ("real content zero\n", 2)  # blank line exempt (len 0 < 1)
    assert out[1] == ("real content one", 2)
    assert out[2] == ("standalone doc\nnothing shared here", 0)

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany(
        "INSERT INTO d VALUES (?, ?)", [(r.doc_id, r.text) for r in df.collect()]
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            """
            WITH lines AS (
              SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
                     generate_subscripts(string_split(text, chr(10)), 1) AS pos
              FROM d),
            census AS (SELECT line FROM lines WHERE length(line) >= 1
                       GROUP BY line HAVING count(DISTINCT doc_id) > 1)
            SELECT doc_id,
                   coalesce(string_agg(CASE WHEN c.line IS NULL THEN l.line END,
                                       chr(10) ORDER BY pos), '') AS text,
                   CAST(count(c.line) AS BIGINT) AS n_removed
            FROM lines l LEFT JOIN census c USING (line)
            GROUP BY doc_id
            """
        ).fetchall()
    }
    assert out == want


def test_duplicated_window_fraction_duckdb_pin(spark):
    """Cross-doc duplicated-window signal: hand-built docs with a shared
    passage that line boundaries would miss; full result pinned against
    a DuckDB reimplementation of the window census."""
    import duckdb

    rows = [
        (0, "alpha beta gamma delta epsilon unique zero tail words here"),
        # doc 1 shares the 'alpha beta gamma delta epsilon' passage but
        # nothing is line-identical (no newlines at all)
        (1, "prefix one alpha beta gamma delta epsilon and more text"),
        (2, "completely different content with no shared passages at all"),
        (3, "tiny"),  # shorter than one window → zero windows
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_fraction)
        for r in D.duplicated_window_fraction(
            df, "doc_id", "text", window_tokens=3
        ).collect()
    }
    assert got[3] == (0, 0, 0.0)
    assert got[2][1] == 0
    assert got[0][1] > 0 and got[1][1] > 0  # the shared passage registers

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(
            r"""
            WITH toks AS (
              SELECT doc_id, list_filter(string_split_regex(
                       regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'),
                       '\s+'), t -> length(t) > 0) AS l
              FROM d),
            wins AS (
              SELECT DISTINCT doc_id,
                     md5(w) AS dig
              FROM (SELECT doc_id, unnest(list_transform(
                       range(1, greatest(len(l) - 2, 0) + 1),
                       i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS w
                    FROM toks)),
            census AS (SELECT dig FROM wins GROUP BY dig
                       HAVING count(*) >= 2),
            per AS (SELECT w.doc_id,
                           CAST(count(*) AS BIGINT) AS n_windows,
                           CAST(count(c.dig) AS BIGINT) AS n_dup,
                           round(CAST(count(c.dig) AS DOUBLE) / count(*), 4)
                             AS frac
                    FROM wins w LEFT JOIN census c USING (dig)
                    GROUP BY w.doc_id)
            SELECT d.doc_id, coalesce(n_windows, 0), coalesce(n_dup, 0),
                   coalesce(frac, 0.0)
            FROM d LEFT JOIN per ON per.doc_id = d.doc_id
            """
        ).fetchall()
    }
    assert got == want


def test_line_dedup_paragraph_granularity(spark):
    """sep='\\n\\n' turns the line filter into a PARAGRAPH filter (the
    RefinedWeb-style unit): a multi-line paragraph shared across docs is
    dropped whole, and single newlines inside surviving paragraphs are
    untouched."""
    shared = "cookie notice line one\nline two of the notice"
    df = spark.createDataFrame(
        [
            (0, shared + "\n\n" + "unique zero body\nwith two lines"),
            (1, shared + "\n\n" + "unique one body"),
            (2, "standalone doc\n\nwith its own paragraphs"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in D.line_dedup(df, "doc_id", "text", sep="\n\n").collect()
    }
    assert out[0] == ("unique zero body\nwith two lines", 1)
    assert out[1] == ("unique one body", 1)
    assert out[2] == ("standalone doc\n\nwith its own paragraphs", 0)


def test_line_dedup_null_text_and_metachar_sep(spark):
    """ADVICE r4: null-text docs survive (as '') instead of vanishing
    into the posexplode; a regex-metacharacter sep splits literally."""
    df = spark.createDataFrame(
        [(0, "shared|unique zero"), (1, "shared|unique one"), (2, None)],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: (r.text, r.n_lines_removed)
        for r in D.line_dedup(df, "doc_id", "text", sep="|").collect()
    }
    assert out[0] == ("unique zero", 1)
    assert out[1] == ("unique one", 1)
    assert out[2] == ("", 0)  # doc present, text coalesced to ''


def test_lsh_max_bucket_size_drops_hot_buckets_only(spark):
    """The round-12 hot-bucket bound on the MinHash band join (the
    winnow max_df analogue): a bucket the whole corpus shares is
    dropped before the self-join, while pairs that also collide in a
    selective bucket survive. Planted: 20 identical 'hot' docs (every
    band over-full at cap 5) plus one near-identical pair of distinct
    docs (selective buckets, size 2)."""
    hot = [(i, "the market is strong and the outlook is good") for i in range(20)]
    pair = [
        (100, "completely different prose about mountain weather zz"),
        (101, "completely different prose about mountain weather zz"),
    ]
    df = spark.createDataFrame(hot + pair, ["doc_id", "text"])
    sig = D.minhash_signature(df, "doc_id", "text", num_hashes=8)
    uncapped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(sig, "doc_id").collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in D.lsh_candidate_pairs(
            sig, "doc_id", max_bucket_size=5
        ).collect()
    }
    assert (100, 101) in uncapped and (100, 101) in capped
    # the 20-doc hot clique (190 pairs) is censored out
    assert all(a >= 100 for a, _ in capped)
    assert any(a < 100 for a, _ in uncapped)
    with pytest.raises(ValueError, match="max_bucket_size"):
        D.lsh_candidate_pairs(sig, "doc_id", max_bucket_size=1)


def test_cdc_chunk_dedup_edited_doc_scenario(spark):
    """VERDICT r11 #2 — the operation CDC chunking exists for: an
    edited document re-shares every untouched chunk. Doc 1 is the base
    span, doc 2 the same span with one word inserted mid-way, doc 5 an
    exact copy of doc 1; content-defined boundaries realign after the
    edit so doc 2's chunks dedup against doc 1's except around the
    edit, and the exact copy loses every chunk. First occurrence under
    (id, chunk_id) survives; edge docs pass through normalized."""
    base = " ".join(f"edseg9w{i}" for i in range(40))
    words = base.split(" ")
    edited = " ".join(words[:20] + ["editword"] + words[20:])
    df = spark.createDataFrame(
        [(1, base), (2, edited), (3, None), (4, "abc"), (5, base)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in D.cdc_chunk_dedup(df, "doc_id", "text").collect()
    }
    # first occurrence survives whole
    assert out[1].text == base and out[1].n_chunks_removed == 0
    assert out[1].n_cdc_chunks >= 3  # the span actually chunked
    # the edited doc re-shares every chunk except the edited one (and
    # at most one realignment neighbour)
    assert out[2].n_chunks_removed >= out[2].n_cdc_chunks - 2 >= 1
    assert "editword" in out[2].text  # the novel content is what's kept
    # the exact copy loses everything
    assert out[5].n_chunks_removed == out[5].n_cdc_chunks == out[1].n_cdc_chunks
    assert out[5].text == ""
    # chunk-less docs pass through normalized with 0/0
    assert (out[3].text, out[3].n_cdc_chunks, out[3].n_chunks_removed) == ("", 0, 0)
    assert (out[4].text, out[4].n_cdc_chunks, out[4].n_chunks_removed) == ("abc", 0, 0)


def test_cdc_chunk_dedup_matches_duckdb(spark, sf_dir):
    """The rebuilt TEXT itself (not just counts) pinned against a
    DuckDB replay sharing the X25 oracle's exact CTE fragments
    (_cdc_chunk_dedup_sql_ctes — the two pins cannot drift): real
    corpus docs plus planted exact copies at doc_id + 1000, so the
    survivor census carries a real removal signal (every copy chunk
    drops) on top of the boundary/rebuild path."""
    import duckdb

    from mapreduce_stockheadlines_spark.plans.catalog import table
    from mapreduce_stockheadlines_spark.plans.extensions import (
        _cdc_chunk_dedup_sql_ctes,
        _cdc_sql_ctes,
        _winnow_sql_ctes,
    )

    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    both = docs.unionByName(
        docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    got = {
        r.doc_id: (r.text, r.n_cdc_chunks, r.n_chunks_removed)
        for r in D.cdc_chunk_dedup(both, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW cdocs AS "
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
        f"WHERE doc_id < 40 "
        f"UNION ALL "
        f"SELECT doc_id + 1000, text "
        f"FROM read_parquet('{sf_dir}/documents.parquet') WHERE doc_id < 40"
    )
    sql = (
        f"WITH {_winnow_sql_ctes('cdocs', 'w')},\n{_cdc_sql_ctes()},\n"
        f"{_cdc_chunk_dedup_sql_ctes()}\n"
        f"SELECT doc_id, cdc_kept_text, cdc_n_chunks, cdc_n_removed "
        f"FROM cded ORDER BY doc_id"
    )
    want = {
        r[0]: (r[1], r[2], r[3]) for r in con.sql(sql).fetchall()
    }
    assert got == want
    # the planted copies actually exercised removal: every chunk of a
    # chunk-producing copy was dropped and its rebuilt text is empty
    chunked_copies = [d for d in got if d >= 1000 and got[d][1] > 0]
    assert chunked_copies
    assert all(
        got[d][2] == got[d][1] and got[d][0] == "" for d in chunked_copies
    )


def test_x25_cdc_columns_nondegenerate(spark, sf_dir):
    """Promotion guard for the round-12 x25 zero-slot columns (plus the
    planted edited-pair semantics: even members never lose a chunk,
    and the arm's odd members carry the removal signal in aggregate)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x25_line_dedup,
    )

    x25 = x25_line_dedup(spark, sf_dir)
    for col in ("cdc_n_chunks", "cdc_n_removed", "cdc_kept_fp8"):
        assert_column_nondegenerate(x25, col, f"at {sf_dir}")
    arm = x25.filter(F.col("cdc_n_chunks").isNotNull())
    agg = arm.agg(
        F.max(F.when(F.col("doc_id") % 2 == 0, F.col("cdc_n_removed"))).alias(
            "even_max"
        ),
        F.sum(
            F.when(F.col("doc_id") % 2 == 1, F.col("cdc_n_removed"))
        ).alias("odd_sum"),
    ).first()
    assert agg.even_max == 0  # first occurrences always survive whole
    assert agg.odd_sum >= 1  # edited members re-share chunks


def test_int8_quantization_roundtrip_and_bounds(spark):
    """Symmetric int8 quantizer: codes within [-127, 127], per-element
    reconstruction error ≤ scale/2, exact roundtrip when values sit on
    the grid, zero-vector guarded (operators/embeddings.py)."""
    from mapreduce_stockheadlines_spark.operators import embeddings as EB

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),      # absmax 1.0, grid-aligned-ish
        (1, [0.0, 0.0, 0.0, 0.0]),        # zero vector
        (2, [127.0, -127.0, 63.5, 1.0]),  # scale exactly 1.0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = EB.quantize_embeddings(df, "vec_id", "embedding")
    q = EB.quantization_error(q, "embedding", "qvec", "scale")
    got = {r.vec_id: r for r in q.collect()}

    # zero vector: scale guard kicks in, all codes 0, rmse 0
    assert got[1].scale == 1.0
    assert got[1].qvec == [0, 0, 0, 0]
    assert got[1].rmse == 0.0

    # scale-1 vector roundtrips exactly (values on the int grid; 63.5
    # rounds HALF_UP away from zero to 64)
    assert got[2].scale == 1.0
    assert got[2].qvec == [127, -127, 64, 1]

    for r in got.values():
        assert all(-127 <= c <= 127 for c in r.qvec)
        deq = [c * r.scale for c in r.qvec]
        orig = dict(rows)[r.vec_id]
        assert all(
            abs(x - d) <= r.scale / 2 + 1e-12 for x, d in zip(orig, deq)
        )


def test_quantization_is_shuffle_free(spark):
    """Quantize + error is a single narrow projection — the plan must
    contain no Exchange of any kind."""
    import io
    from contextlib import redirect_stdout

    from mapreduce_stockheadlines_spark.operators import embeddings as EB

    df = spark.createDataFrame(
        [(0, [0.1, 0.2])], "vec_id long, embedding array<double>"
    )
    q = EB.quantization_error(
        EB.quantize_embeddings(df, "vec_id", "embedding"),
        "embedding", "qvec", "scale",
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        q.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_dequantize_feeds_cosine_rescore(spark):
    """Dequantized int8 vectors keep cosine structure: the quantized
    corpus ranks neighbors the same as the float corpus on a spread-out
    toy set (the two-phase ANN contract: coarse int8 scan, exact
    rescore)."""
    import math

    from mapreduce_stockheadlines_spark.operators import embeddings as EB

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    deq = EB.dequantize_embeddings(
        EB.quantize_embeddings(df, "vec_id", "embedding"),
        "qvec", "scale", out_col="deq",
    ).collect()

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    by_id = {r.vec_id: r.deq for r in deq}
    # neighbor order of vec 0: vec 1 before vec 2, in both spaces
    assert cos(by_id[0], by_id[1]) > cos(by_id[0], by_id[2])


# --- SemDeDup: cluster-then-prune semantic dedup -----------------------------

def test_semantic_dedup_removes_planted_copies(spark, sf_dir):
    """Exact copies of real embedding vectors (ids offset by 10000) land
    in the SAME k-means cell by construction (identical vector → same
    argmax), so every original/copy pair has cosine 1.0 within a cell:
    semantic_dedup must keep exactly the originals."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(60)
    )
    copies = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    both = emb.unionByName(copies)
    survivors = S.semantic_dedup(
        both, "vec_id", "embedding",
        threshold=0.99, n_clusters=4, train_iters=1, block_rows=16,
    )
    ids = sorted(r.vec_id for r in survivors.select("vec_id").collect())
    orig = sorted(r.vec_id for r in emb.select("vec_id").collect())
    assert ids == orig  # every copy dropped, every original kept


def test_semantic_pairs_subset_of_exact_with_full_recall_on_copies(spark, sf_dir):
    """Cluster-scoped pairs are a SUBSET of the exact all-pairs output
    (same threshold, same rounding), and the planted-copy pairs — which
    cannot cross a cell boundary — are all recalled."""
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .limit(40)
    )
    copies = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    both = emb.unionByName(copies)
    sem = {
        (r.id_a, r.id_b)
        for r in S.semantic_neardup_pairs(
            both, "vec_id", "embedding",
            threshold=0.9, n_clusters=4, train_iters=1, block_rows=16,
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in S.neardup_pairs(
            both, "vec_id", "embedding", threshold=0.9, block_rows=16
        ).collect()
    }
    assert sem <= exact
    planted = {
        (r.vec_id, r.vec_id + 10000) for r in emb.select("vec_id").collect()
    }
    assert planted <= sem


def test_semantic_pairs_hot_cell_decomposes_to_bounded_tasks(spark):
    """A degenerate corpus where EVERY vector lands in one k-means cell:
    the shared sub-block decomposition must still produce the complete
    pair set (the hot cell is never one task — same contract the LSH
    path pins)."""
    import math as _m

    rows = [(i, [1.0, float(i % 3) * 1e-4]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = S.semantic_neardup_pairs(
        df, "vec_id", "embedding",
        threshold=0.999, n_clusters=2, train_iters=1, block_rows=4,
    ).collect()
    # all 40 near-identical vectors share a cell; at threshold .999 all
    # C(40,2) pairs must surface despite block_rows=4 (100 sub-block
    # groups, max 8 vectors per task)
    assert len(pairs) == _m.comb(40, 2)
    assert all(r.id_a < r.id_b for r in pairs)


def _wav_bytes(rate, samples):
    """16-bit PCM WAV via the stdlib wave module (samples: np int16
    array shaped (n_frames, n_channels))."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(samples.shape[1])
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(np.ascontiguousarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_multimodal_real_wav_decode_and_frames(spark):
    """The audio tier is REAL for RIFF 16-bit PCM WAV: a generated-in-
    test stereo tone decodes to its exact rate/channels/frame-count with
    PCM-derived features, detect_mime routes the RIFF/WAVE magic, and
    sample_frames emits real evenly-spaced window features."""
    import numpy as np
    import pytest

    rate, n = 8000, 4000
    t = np.arange(n)
    left = (8000 * np.sin(2 * np.pi * 440 * t / rate)).astype("<i2")
    right = np.zeros(n, dtype="<i2")  # silent channel
    samples = np.stack([left, right], axis=1)
    wav = _wav_bytes(rate, samples)

    got_rate, got_nch, got = M._decode_wav(wav)
    assert (got_rate, got_nch) == (rate, 2)
    assert got.shape == (n, 2)
    assert (got == samples).all()

    df = spark.createDataFrame(
        [(1, bytearray(wav))], "media_id long, content binary"
    )
    sniffed = df.withColumn("mime", M.detect_mime("content"))
    assert sniffed.collect()[0].mime == M.MIME_WAV

    out = M.decode_media(sniffed, strict=True).collect()[0]
    # documented audio mapping: width=rate, height=channels, n_frames=frames
    assert (out.width, out.height, out.n_frames) == (rate, 2, n)
    assert out.feature == pytest.approx(
        M._audio_feature(rate, samples), rel=1e-5
    )
    assert out.feature[0] == pytest.approx(n / rate, rel=1e-6)  # duration s

    frames = M.sample_frames(sniffed, max_frames=4).collect()
    assert len(frames) == 4
    assert [f.frame_idx for f in frames] == [0, 1000, 2000, 3000]
    for f in frames:
        win = samples[f.frame_idx : f.frame_idx + 1000]
        assert f.frame_feature == pytest.approx(
            M._audio_feature(rate, win), rel=1e-5
        )

    # malformed input fails loudly
    with pytest.raises(ValueError):
        M._decode_wav(b"RIFFxxxxWAVE")  # no fmt/data chunks
    # non-WAVE RIFF keeps the container mime (AVI form)
    avi = b"RIFF\x10\x00\x00\x00AVI LIST"
    df2 = spark.createDataFrame(
        [(2, bytearray(avi))], "media_id long, content binary"
    )
    assert (
        df2.select(M.detect_mime("content").alias("m")).collect()[0].m
        == "audio/x-riff"
    )


def test_multimodal_undecodable_wav_falls_back_not_crashes(spark):
    """A VALID float32 WAV (format 3) that the 16-bit-PCM tier cannot
    read must hit the stub in non-strict decode_media and the fake tier
    in sample_frames — never kill the task; strict mode still raises.
    An empty-data PCM yields zero features, not NaN."""
    import struct as _struct

    import numpy as np
    import pytest

    # minimal RIFF/WAVE with fmt format=3 (IEEE float) and a data chunk
    fmt = _struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    body = b"fmt " + _struct.pack("<I", len(fmt)) + fmt
    body += b"data" + _struct.pack("<I", 8) + b"\x00" * 8
    wav_f32 = b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    df = spark.createDataFrame(
        [(1, bytearray(wav_f32))], "media_id long, content binary"
    )
    sniffed = df.withColumn("mime", M.detect_mime("content"))
    assert sniffed.collect()[0].mime == M.MIME_WAV  # routed to audio tier

    out = M.decode_media(sniffed).collect()[0]  # non-strict: stub values
    assert out.n_frames >= 1 and len(out.feature) == 8
    with pytest.raises(Exception):
        M.decode_media(sniffed, strict=True).collect()

    frames = M.sample_frames(sniffed, max_frames=2).collect()
    assert len(frames) >= 1  # fake tier served it

    # empty-data 16-bit PCM: real tier, zero features, no NaN
    fmt16 = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body16 = b"fmt " + _struct.pack("<I", len(fmt16)) + fmt16
    body16 += b"data" + _struct.pack("<I", 0)
    wav_empty = (
        b"RIFF" + _struct.pack("<I", 4 + len(body16)) + b"WAVE" + body16
    )
    df2 = spark.createDataFrame(
        [(2, bytearray(wav_empty), M.MIME_WAV)], schema=M.MEDIA_SCHEMA
    )
    out2 = M.decode_media(df2, strict=True).collect()[0]
    assert out2.n_frames == 0
    assert out2.feature == [0.0] * 8
    assert not any(np.isnan(out2.feature))


def test_multi_table_lsh_recall_dominates_single_table(spark, sf_dir):
    """Adding tables can only ADD candidate pairs: multi-table output is
    a superset of the single-table pairs (same seed for table 0), a
    subset of the exact all-pairs, and catches at least as many of the
    planted perturbed near-dups."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    ).limit(30)
    pdf = base.toPandas()
    rows = [(int(r.vec_id), [float(x) for x in r.embedding]) for r in pdf.itertuples()]
    # perturbed near-copies: high-but-not-1 cosine so hyperplanes CAN
    # separate them (exact copies would be caught by any table)
    for vid, vec in list(rows):
        v = np.asarray(vec)
        p = v + rng.randn(len(v)) * 0.08 * np.linalg.norm(v) / np.sqrt(len(v))
        rows.append((vid + 10000, [float(x) for x in p]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(dim=64, n_planes=8, threshold=0.9, block_rows=16)
    single = {
        (r.id_a, r.id_b)
        for r in S.lsh_bucketed_pairs(df, "vec_id", "embedding", **kw).collect()
    }
    multi = {
        (r.id_a, r.id_b)
        for r in S.lsh_bucketed_pairs_multi(
            df, "vec_id", "embedding", n_tables=3, **kw
        ).collect()
    }
    exact = {
        (r.id_a, r.id_b)
        for r in S.neardup_pairs(
            df, "vec_id", "embedding", threshold=0.9, block_rows=16
        ).collect()
    }
    assert single <= multi <= exact
    planted = {(v, v + 10000) for v, _ in rows if v < 10000}
    rec_single = len(single & planted) / len(planted)
    rec_multi = len(multi & planted) / len(planted)
    assert rec_multi >= rec_single
    assert rec_multi > 0.5  # three 8-plane tables catch most 0.9+ pairs


def test_topk_eval_hand_values_and_duckdb(spark):
    """topk_eval on a hand-built approx/truth pair: recall, first-hit
    rank and MRR match hand computation AND an independent DuckDB
    reimplementation; absent queries report recall 0."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.similarity import topk_eval

    truth = spark.createDataFrame(
        # q1: neighbors 10,11,12; q2: 20,21; q3: 30 (absent from approx)
        [(1, 10, 1), (1, 11, 2), (1, 12, 3),
         (2, 20, 1), (2, 21, 2),
         (3, 30, 1)],
        "query_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        # q1 found 11 (rank 1) and 12 (rank 3), missed 10; q2 found
        # nothing real (99 is junk); q4 is noise with no truth row
        [(1, 11, 1), (1, 99, 2), (1, 12, 3),
         (2, 99, 1),
         (4, 40, 1)],
        "query_id long, neighbor_id long, rank long",
    )
    got = {r.query_id: r for r in topk_eval(approx, truth).collect()}
    assert sorted(got) == [1, 2, 3]  # truth queries only, q4 noise ignored
    assert (got[1].n_truth, got[1].n_hit, got[1].recall) == (3, 2, 0.6667)
    assert got[1].first_hit_rank == 1 and got[1].reciprocal_rank == 1.0
    assert (got[2].n_hit, got[2].recall, got[2].reciprocal_rank) == (0, 0.0, 0.0)
    assert got[2].first_hit_rank is None
    assert (got[3].n_hit, got[3].reciprocal_rank) == (0, 0.0)

    # k=1 truncation: only rank-1 rows on both sides
    at1 = {r.query_id: r for r in topk_eval(approx, truth, k=1).collect()}
    assert (at1[1].n_truth, at1[1].n_hit) == (1, 0)  # truth@1 is 10, missed

    # DuckDB cross-check of the full decomposition
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1,10,1),(1,11,2),(1,12,3),(2,20,1),(2,21,2),(3,30,1)) v(query_id, neighbor_id, rank)")
    con.execute("CREATE TABLE a AS SELECT * FROM (VALUES (1,11,1),(1,99,2),(1,12,3),(2,99,1),(4,40,1)) v(query_id, neighbor_id, rank)")
    want = con.execute("""
        SELECT t.query_id,
               count(*) AS n_truth,
               count(a.rank) AS n_hit,
               round(count(a.rank) / count(*), 4) AS recall,
               min(a.rank) AS first_hit_rank,
               round(coalesce(1.0 / min(a.rank), 0.0), 4) AS rr
        FROM t LEFT JOIN a USING (query_id, neighbor_id)
        GROUP BY t.query_id
    """).fetchall()
    for q, n_truth, n_hit, recall, fhr, rr in want:
        g = got[q]
        assert (g.n_truth, g.n_hit) == (n_truth, n_hit)
        assert g.recall == pytest.approx(float(recall), abs=1e-9)
        assert g.first_hit_rank == fhr
        assert g.reciprocal_rank == pytest.approx(float(rr), abs=1e-9)


def test_topk_eval_on_real_ivf_vs_exact(spark, sf_dir):
    """topk_eval measures ivf_topk against cosine_topk on the real
    embeddings table: every recall is in [0,1], MRR consistent, and
    the exact result evaluated against itself is perfect."""
    from mapreduce_stockheadlines_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        topk_eval,
    )

    vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = vecs.filter(F.col("vec_id") < 5)
    exact = cosine_topk(queries, vecs, k=5)
    self_eval = topk_eval(exact, exact).collect()
    assert self_eval and all(
        r.recall == 1.0 and r.reciprocal_rank == 1.0 for r in self_eval
    )
    approx = ivf_topk(queries, vecs, k=5, n_centroids=4, n_probe=2)
    ev = topk_eval(approx, exact).collect()
    assert len(ev) == len(self_eval)
    assert all(0.0 <= r.recall <= 1.0 for r in ev)
    for r in ev:
        if r.n_hit == 0:
            assert r.reciprocal_rank == 0.0
        else:
            assert r.reciprocal_rank == round(1.0 / r.first_hit_rank, 4)


def _bmp_from_px(px):
    """Encode (H, W, 3) RGB pixels as an uncompressed bottom-up 24-bit
    BMP (independent of the decoder under test)."""
    import struct

    h, w = px.shape[:2]
    row_bytes = (w * 3 + 3) // 4 * 4
    raster = bytearray()
    for row in px[::-1]:  # bottom-up
        line = bytearray()
        for p in row:
            line += bytes([p[2], p[1], p[0]])  # BGR
        line += b"\x00" * (row_bytes - len(line))
        raster += line
    size = 54 + len(raster)
    hdr = b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster),
                       2835, 2835, 0, 0)
    return bytes(hdr + info + raster)


def test_image_phash_invariances(spark):
    """The DCT pHash is format-independent (same pixels as PPM and BMP
    hash identically), robust to brightness shifts and resizing (small
    hamming), and separates unrelated images (large hamming); the
    digest fallback matches only identical bytes; strict raises."""
    import numpy as np
    import pytest

    # smooth synthetic photos (sinusoidal patterns) — pHash is built for
    # natural low-frequency content; white noise is its documented
    # adversary (every bin-edge shift flips high-frequency energy)
    y, x = np.mgrid[0:40, 0:56]

    def img(fy, fx, ph):
        r = 127 + 60 * np.sin(x / fx + ph) + 50 * np.cos(y / fy)
        g = 127 + 40 * np.cos(x / (fx + 2)) + 60 * np.sin(y / fy + ph)
        b = 127 + 50 * np.sin((x + y) / fx)
        return np.clip(np.stack([r, g, b], -1), 0, 255).astype(np.uint8)

    base = img(5, 7, 0.0)
    bright = np.clip(base.astype(np.int16) + 12, 0, 255).astype(np.uint8)
    # nearest-neighbor upscale 2x = same image at another resolution
    up = base.repeat(2, axis=0).repeat(2, axis=1)
    other = img(3.2, 11, 2.0)

    rows = [
        (1, bytearray(M._encode_ppm_p6(base)), M.MIME_PPM),
        (2, bytearray(_bmp_from_px(base)), M.MIME_BMP),
        (3, bytearray(M._encode_ppm_p6(bright)), M.MIME_PPM),
        (4, bytearray(M._encode_ppm_p6(up)), M.MIME_PPM),
        (5, bytearray(M._encode_ppm_p6(other)), M.MIME_PPM),
        # video: genuinely codec-less (PNG/JPEG/GIF all decode for real now)
        (6, bytearray(b"opaque blob"), "video/mp4"),
        (7, bytearray(b"opaque blob"), "video/mp4"),
        (8, bytearray(b"other blob!"), "video/mp4"),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    got = {r.media_id: r.phash for r in M.image_phash(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert got[1] == got[2]  # format-independent: pixels, not bytes
    assert ham(got[1], got[3]) <= 4   # brightness shift: near
    assert ham(got[1], got[4]) <= 4   # rescale: near
    assert ham(got[1], got[5]) > 16   # unrelated: far
    assert got[6] == got[7] != got[8]  # digest fallback: exact-only
    # pure-python reference of the hash pipeline on the base image
    assert got[1] == M._phash64(base)

    with pytest.raises(Exception, match="codec"):
        M.image_phash(df, strict=True).collect()


def test_image_neardup_pairs_bands_find_near_not_far(spark):
    """The banded pairing surfaces (base, bright) and (base, rescaled)
    within the hamming budget without pairing the unrelated image."""
    import numpy as np

    y, x = np.mgrid[0:32, 0:32]
    base = np.clip(
        np.stack(
            [127 + 60 * np.sin(x / 6), 127 + 50 * np.cos(y / 4),
             127 + 40 * np.sin((x + y) / 8)], -1
        ), 0, 255,
    ).astype(np.uint8)
    bright = np.clip(base.astype(np.int16) + 10, 0, 255).astype(np.uint8)
    rng = np.random.default_rng(11)
    other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (1, bytearray(M._encode_ppm_p6(base)), M.MIME_PPM),
            (2, bytearray(M._encode_ppm_p6(bright)), M.MIME_PPM),
            (3, bytearray(M._encode_ppm_p6(other)), M.MIME_PPM),
        ],
        schema=M.MEDIA_SCHEMA,
    )
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in M.image_neardup_pairs(df, max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert all(k == (1, 2) for k in pairs)


def test_image_phash_flat_images_and_corrupt_content(spark):
    """Flat images hash to exactly 0 (the DC-scaled epsilon keeps float
    noise out of the bits, so brightness variants of solid frames are
    hamming-0 near-dups), and corrupt/NULL decodable-mime content falls
    back to the digest stand-in instead of killing the task; strict
    still raises on corrupt content."""
    import numpy as np
    import pytest

    g128 = np.full((40, 40, 3), 128, np.uint8)
    g140 = np.full((40, 40, 3), 140, np.uint8)
    rows = [
        (1, bytearray(M._encode_ppm_p6(g128)), M.MIME_PPM),
        (2, bytearray(M._encode_ppm_p6(g140)), M.MIME_PPM),
        (3, bytearray(b"P6 truncated junk"), M.MIME_PPM),  # corrupt
        (4, None, M.MIME_BMP),                              # NULL content
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    got = {r.media_id: r.phash for r in M.image_phash(df).collect()}
    assert got[1] == got[2] == 0  # solid frames: identical, noise-free
    assert got[3] == M._fake_phash(bytes(rows[2][1]))  # digest fallback
    assert got[4] == 0  # NULL content -> fake hash of None
    with pytest.raises(Exception):
        M.image_phash(df.filter(F.col("media_id") == 3), strict=True).collect()


def test_dedup_by_pairs_keep_by_policy(spark):
    """keep_by survivor policy: each near-dup cluster keeps its
    highest-scoring row (ties → min id) instead of the min id; unpaired
    rows pass through; default min-id behavior unchanged."""
    from mapreduce_stockheadlines_spark.operators.dedup import dedup_by_pairs

    df = spark.createDataFrame(
        # cluster {1,2,3}: best score on 3; cluster {10,11}: tie -> 10
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5), (99, 0.1)],
        "doc_id long, quality double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    best = sorted(
        r.doc_id
        for r in dedup_by_pairs(df, pairs, "doc_id", keep_by="quality").collect()
    )
    assert best == [2, 10, 99]  # {1,2,3}: 0.9 tie between 2,3 -> min id 2
    minid = sorted(
        r.doc_id for r in dedup_by_pairs(df, pairs, "doc_id").collect()
    )
    assert minid == [1, 10, 99]
    # null scores lose to scored rows
    dfn = spark.createDataFrame(
        [(1, None), (2, 0.1)], "doc_id long, quality double"
    )
    pn = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    got = [r.doc_id for r in dedup_by_pairs(dfn, pn, "doc_id", keep_by="quality").collect()]
    assert got == [2]


def _mono_wav_bytes(samples, rate=8000):
    import struct as st

    data = samples.astype("<i2").tobytes()
    fmt = st.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = (b"fmt " + st.pack("<I", len(fmt)) + fmt
              + b"data" + st.pack("<I", len(data)) + data)
    return b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_audio_phash_and_neardup_pairs(spark):
    """Spectral audio pHash: a volume-shifted copy of a tone hashes
    identically (near-dup pair found), different content stays far,
    silence hashes to 0, corrupt WAV falls back to the digest
    stand-in, and strict raises."""
    import numpy as np
    import pytest

    t = np.arange(8000) / 8000.0
    tone = (np.sin(2 * np.pi * 440 * t) * 12000).astype(np.int16)
    quiet = (tone * 0.3).astype(np.int16)
    chirp = (np.sin(2 * np.pi * (200 + 1500 * t) * t) * 12000).astype(np.int16)
    rows = [
        (1, bytearray(_mono_wav_bytes(tone)), M.MIME_WAV),
        (2, bytearray(_mono_wav_bytes(quiet)), M.MIME_WAV),
        (3, bytearray(_mono_wav_bytes(chirp)), M.MIME_WAV),
        (4, bytearray(_mono_wav_bytes(np.zeros(8000, np.int16))), M.MIME_WAV),
        (5, bytearray(b"RIFF junk not a wav"), M.MIME_WAV),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    got = {r.media_id: r.phash for r in M.audio_phash(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert got[1] == got[2]          # volume-invariant
    assert ham(got[1], got[3]) > 16  # different content far
    assert got[4] == 0               # silence: the flat case
    assert got[5] == M._fake_phash(bytes(rows[4][1]))  # corrupt fallback
    pairs = {(r.id_a, r.id_b)
             for r in M.audio_neardup_pairs(df, max_hamming=6).collect()}
    assert (1, 2) in pairs
    assert not any({3} & set(p) for p in pairs)
    with pytest.raises(Exception):
        M.audio_phash(
            df.filter(F.col("media_id") == 5), strict=True
        ).collect()


def test_remove_dup_windows_duckdb_pin(spark):
    """ExactSubstr removal: shared spans cut case-insensitively with
    overlapping windows collapsed; untouched docs byte-identical (incl.
    NULL); full (text, counts) result pinned against a DuckDB
    reimplementation of census + covered-position removal."""
    import duckdb

    rows = [
        (1, "alpha beta gamma delta one two three four tail unique text here"),
        (2, "prefix words alpha beta gamma delta one two three four more stuff"),
        (3, "completely different document with no shared spans at all ok"),
        (4, None),
        (5, ""),
        (6, "short doc"),
        (7, "Alpha beta GAMMA delta one two THREE four case differs only"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = D.remove_dup_windows(
        df, "doc_id", "text", window_tokens=4, min_doc_occurrences=2
    )
    got = {
        r.doc_id: (r.text, r.n_tokens, r.n_removed_tokens)
        for r in out.collect()
    }
    # the 8-token shared passage disappears wholesale from every carrier
    assert got[1] == ("tail unique text here", 12, 8)
    assert got[2] == ("prefix words more stuff", 12, 8)
    assert got[7] == ("case differs only", 11, 8)
    # untouched docs keep their original text object, including NULL
    assert got[3][0] == rows[2][1] and got[3][2] == 0
    assert got[4] == (None, 0, 0)
    assert got[5] == ("", 0, 0)
    assert got[6] == ("short doc", 2, 0)

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(
            r"""
            WITH base AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(
                       coalesce(text, ''), '\s+'), t -> len(t) > 0)
                       AS toks
              FROM d),
            b2 AS (SELECT *, len(toks) AS ntok FROM base),
            wins AS (
              SELECT doc_id, s - 1 AS pos0,
                     md5(lower(array_to_string(toks[s : s + 3], ' ')))
                       AS dig
              FROM b2, unnest(range(1, ntok - 4 + 2)) AS g(s)
              WHERE ntok >= 4),
            census AS (
              SELECT dig FROM (SELECT DISTINCT doc_id, dig FROM wins)
              GROUP BY dig HAVING count(*) >= 2),
            cov AS (
              SELECT DISTINCT w.doc_id, p.p AS covpos
              FROM wins w JOIN census c USING (dig),
                   unnest(range(w.pos0, w.pos0 + 4)) AS p(p)),
            rm AS (SELECT doc_id, list(covpos) AS rmlist,
                          count(*) AS nrm
                   FROM cov GROUP BY doc_id)
            SELECT b.doc_id,
                   CASE WHEN r.doc_id IS NULL THEN b.text
                        ELSE coalesce(array_to_string(list_transform(
                               list_filter(range(0, ntok),
                                 i -> NOT list_contains(r.rmlist, i)),
                               i -> toks[i + 1]), ' '), '')
                   END AS text,
                   CAST(ntok AS BIGINT), CAST(coalesce(r.nrm, 0) AS BIGINT)
            FROM b2 b LEFT JOIN rm r ON b.doc_id = r.doc_id
            """
        ).fetchall()
    }
    assert got == want


def test_remove_dup_windows_overlap_collapses_long_span(spark):
    """A 12-token passage shared by two docs is removed as ONE span (12
    tokens), not window_tokens x n_windows; tokens adjacent to the span
    survive even when they complete a window with removed tokens."""
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 s12"
    rows = [
        (1, f"keepA keepB {shared} keepC"),
        (2, f"{shared} other tail words"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r.doc_id: (r.text, r.n_removed_tokens)
        for r in D.remove_dup_windows(
            df, "doc_id", "text", window_tokens=4
        ).collect()
    }
    assert got[1] == ("keepA keepB keepC", 12)
    assert got[2] == ("other tail words", 12)


def test_remove_dup_windows_true_boundary_cuts(spark):
    """VERDICT r5 #7 'done' pin: cuts end at TRUE match boundaries, not
    window-aligned multiples. A 9-token shared passage at window 8
    removes exactly 9 tokens; a doc sharing only the first 8 of them
    loses exactly those 8; a 7-token shared run (below the minimum-span
    threshold) survives untouched."""
    p9 = "p1 p2 p3 p4 p5 p6 p7 p8 p9"
    rows = [
        (1, f"alpha beta {p9} gamma delta"),
        (2, f"zeta {p9} omega"),
        # shares only p1..p8 (8 tokens) — true match is 8, not 9
        (3, "qq p1 p2 p3 p4 p5 p6 p7 p8 rr"),
        # 7-token run shared by docs 4+5: below window 8, survives
        (4, "aa bb s1 s2 s3 s4 s5 s6 s7 cc"),
        (5, "dd s1 s2 s3 s4 s5 s6 s7 ee ff"),
    ]
    got = {
        r.id: (r.text, r.n_removed_tokens)
        for r in D.remove_dup_windows(
            spark.createDataFrame(rows, "id long, text string"),
            "id", "text", window_tokens=8,
        ).collect()
    }
    assert got[1] == ("alpha beta gamma delta", 9)
    assert got[2] == ("zeta omega", 9)
    assert got[3] == ("qq rr", 8)
    assert got[4] == ("aa bb s1 s2 s3 s4 s5 s6 s7 cc", 0)
    assert got[5] == ("dd s1 s2 s3 s4 s5 s6 s7 ee ff", 0)


def test_topk_eval_duplicate_approx_pairs_cap_recall(spark):
    """A multi-probe/multi-table approx result can repeat a (query,
    neighbor) pair; n_hit must count the PAIR once (best rank), never
    inflating recall past 1 (ADVICE r5)."""
    from mapreduce_stockheadlines_spark.operators.similarity import topk_eval

    truth = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)],
        "query_id long, neighbor_id long, rank long",
    )
    approx = spark.createDataFrame(
        # pair (1,10) appears three times (union of probe tables);
        # (1,11) twice — min rank must win for reciprocal_rank
        [(1, 10, 4), (1, 10, 2), (1, 10, 7),
         (1, 11, 5), (1, 11, 3)],
        "query_id long, neighbor_id long, rank long",
    )
    got = topk_eval(approx, truth).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.n_truth, r.n_hit, r.recall) == (2, 2, 1.0)
    assert r.first_hit_rank == 2 and r.reciprocal_rank == 0.5


def test_pca_fit_project_reference_and_invariance(spark, sf_dir):
    """PCA over the real embeddings table: bit-stable across
    partitionings (quantized moments), equal to a numpy reference on
    the same quantized moments, components orthonormal, projection
    matches numpy matmul, and explained variance grows with k toward 1
    at k=d."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators.embeddings import (
        pca_explained_variance,
        pca_fit,
        pca_project,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    X = np.asarray(
        [np.asarray(r.embedding, dtype=np.float64) for r in emb.collect()]
    )
    mean1, comp1 = pca_fit(emb.coalesce(1), "embedding", k=8)
    mean16, comp16 = pca_fit(emb.repartition(16), "embedding", k=8)
    assert np.array_equal(mean1, mean16) and np.array_equal(comp1, comp16)

    # numpy reference with identical DERIVED-moment quantization (the
    # raw sums grow with corpus size; mean/cov stay O(1), which is what
    # keeps the quantum meaningful at any n)
    s = X.sum(axis=0)
    g = X.T @ X
    mu = s / len(X)
    cov = g / len(X) - np.outer(mu, mu)
    mu = np.round(mu, 9)
    cov = np.round(cov, 9)
    evals, evecs = np.linalg.eigh((cov + cov.T) / 2.0)
    ref = evecs[:, np.argsort(evals)[::-1][:8]].T
    for i in range(8):
        j = int(np.argmax(np.abs(ref[i])))
        if ref[i, j] < 0:
            ref[i] = -ref[i]
    assert np.array_equal(mean1, mu) and np.array_equal(comp1, ref)

    # orthonormal rows
    assert np.allclose(comp1 @ comp1.T, np.eye(8), atol=1e-9)

    # projection == numpy matmul, length k, ids preserved
    proj = {
        r.vec_id: np.asarray(r.pca)
        for r in pca_project(emb, "embedding", mean1, comp1).collect()
    }
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    want = (X - mu) @ comp1.T
    for i, vid in enumerate(ids):
        assert np.allclose(proj[vid], want[i], atol=1e-9)
        assert len(proj[vid]) == 8

    # explained variance: monotone in k, ~1 at full rank, and the
    # shared-pass variant agrees with the standalone diagnostic
    ev8 = pca_explained_variance(emb, "embedding", 8)
    ev_full = pca_explained_variance(emb, "embedding", X.shape[1])
    assert 0.0 < ev8 < ev_full <= 1.0 + 1e-9
    assert ev_full > 0.999
    _, _, ev8b = pca_fit(emb, "embedding", k=8, return_variance=True)
    assert abs(ev8b - ev8) < 1e-12


def test_kmeans_family_ignores_null_embeddings(spark, sf_dir):
    """NULL/empty embedding rows carry no geometry: training, assignment,
    moment partials and semantic pairing all drop them up front instead
    of failing inside an executor, and results equal the clean-corpus
    run exactly."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators.similarity import (
        kmeans_assign,
        kmeans_centroids,
        kmeans_moment_partials,
        semantic_neardup_pairs,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    dirty = emb.unionByName(
        spark.createDataFrame(
            [(990001, None, None), (990002, [], None)],
            emb.schema,
        )
    )
    cent_clean = kmeans_centroids(emb, k=4, n_iters=2, quantize_dp=7)
    cent_dirty = kmeans_centroids(dirty, k=4, n_iters=2, quantize_dp=7)
    assert np.array_equal(cent_clean, cent_dirty)

    a = kmeans_assign(dirty, cent_clean)
    assert a.count() == emb.count()  # null rows dropped, not scored
    m_clean = sorted(map(tuple, kmeans_moment_partials(emb, cent_clean).collect()))
    m_dirty = sorted(map(tuple, kmeans_moment_partials(dirty, cent_clean).collect()))
    assert m_clean == m_dirty
    p_clean = semantic_neardup_pairs(emb, threshold=0.5, centroids=cent_clean)
    p_dirty = semantic_neardup_pairs(dirty, threshold=0.5, centroids=cent_clean)
    assert sorted(map(tuple, p_clean.collect())) == sorted(
        map(tuple, p_dirty.collect())
    )


def test_minhash_oph_signature_vs_duckdb_and_properties(spark, sf_dir):
    """One-permutation MinHash: DuckDB re-derives the full signature
    table bit-for-bit (one md5 per token, bucket = h mod k, per-bucket
    MIN, rotation densification +t*2^60); identical texts get identical
    signatures; the banding/agreement stack composes unchanged and the
    OPH agreement tracks the classic k-hash estimate on real docs."""
    import duckdb

    from mapreduce_stockheadlines_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
        minhash_signature_oph,
        signature_agreement,
    )
    from mapreduce_stockheadlines_spark.plans.catalog import table

    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    K = 8
    sig = minhash_signature_oph(docs, "doc_id", "text", num_hashes=K)
    got = sorted(map(tuple, sig.collect()))

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    mins = ", ".join(
        f"min(CASE WHEN h % {K} = {i} THEN h END) AS m{i}" for i in range(K)
    )
    dense = ", ".join(
        "coalesce("
        + ", ".join(
            f"m{(i + t) % K} + {t} * (1::BIGINT << 60)" for t in range(K)
        )
        + f") AS mh{i}"
        for i in range(K)
    )
    duck = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(string_split_regex(
            regexp_replace(lower(text), '[^a-zA-Z ]', ' ', 'g'), ' +'),
            t -> t <> '')) AS token
          FROM documents WHERE doc_id % 7 = 0),
        h AS (SELECT doc_id,
                     CAST(('0x' || substr(md5('oph:' || token), 1, 15))
                          AS BIGINT) AS h
              FROM toks),
        raw AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id)
        SELECT doc_id, {dense} FROM raw ORDER BY doc_id
        """
    ).fetchall()
    assert got == [tuple(r) for r in duck]

    # identical texts -> identical signatures; banding finds the pair
    twin = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words here entirely now")],
        "doc_id long, text string",
    )
    tsig = minhash_signature_oph(twin, "doc_id", "text", num_hashes=K)
    rows = {r.doc_id: tuple(r)[1:] for r in tsig.collect()}
    assert rows[1] == rows[2] != rows[3]
    pairs = {
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(tsig, "doc_id", num_hashes=K).collect()
    }
    assert (1, 2) in pairs

    # OPH agreement tracks the classic estimator on the real docs
    classic = minhash_signature(docs, "doc_id", "text", num_hashes=K)
    cand = lsh_candidate_pairs(classic, "doc_id", num_hashes=K).limit(50)
    a_oph = signature_agreement(cand, sig, sig, num_hashes=K)
    a_cls = signature_agreement(cand, classic, classic, num_hashes=K)
    joined = (
        a_oph.withColumnRenamed("est_jaccard", "e1")
        .join(a_cls, ["id_a", "id_b"])
        .collect()
    )
    if joined:  # both are 1/K-granular estimators of the same quantity
        diffs = [abs(r.e1 - r.est_jaccard) for r in joined]
        assert sum(diffs) / len(diffs) <= 2.5 / K


def test_round8_promoted_columns_nondegenerate(spark, sf_dir):
    """Promotion guard for the round-8 zero-slot registry columns
    (conftest.assert_column_nondegenerate — the x17 same_bucket_t2
    lesson): x04's tag-union must actually contain BOTH kinds (the
    cross-parity fuzzy links exist at every oracle SF: the planted
    near-dup twins straddle the even/odd split with shingle-3 jaccard
    ~0.99, and identical signatures always share a band), emitted
    fuzzy jaccards must not all be 1.0, and x03's oph columns must
    vary across documents AND disagree with the per-slot classic mh
    columns (they pin a different hash family)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.extensions import (
        x03_minhash_signatures,
        x04_minhash_lsh_pairs,
    )

    x04 = x04_minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    assert_column_nondegenerate(x04, "kind", f"at {sf_dir}")
    kinds = {r.kind for r in x04.select("kind").distinct().collect()}
    assert kinds == {"self", "fuzzy_link", "winnow"}
    fuzzy = x04.filter(F.col("kind") == "fuzzy_link")
    assert fuzzy.filter(F.col("jaccard") < 1.0).count() > 0
    assert fuzzy.filter(F.col("jaccard") <= 0.5).count() == 0

    # round-11 winnow arm (VERDICT r10 #1 — the pair-JOIN path of
    # winnow_neardup_pairs under the registry oracle): every LONG-span
    # planted pair must survive (the spans are far past the w+k-1
    # winnowing guarantee, so n_shared >= 2 is structural), at least
    # one SHORT-span pair must be threshold-filtered (it carries the
    # bare >= 1-shared-hash guarantee, usually exactly 1), and
    # n_shared varies and is winnow-kind-only. If the max_df census
    # guard broke, the common boilerplate every doc carries would pair
    # ALL docs — the long-pair set check below would drown in ~n²/2
    # rows long before the oracle hash did.
    from mapreduce_stockheadlines_spark.plans.catalog import parallel_table

    n_docs = parallel_table(spark, sf_dir, "documents").count()
    win = x04.filter(F.col("kind") == "winnow")
    assert_column_nondegenerate(win, "n_shared", f"at {sf_dir}")
    won = {(r.id_a, r.id_b): r.n_shared for r in win.collect()}
    long_pairs = [
        (2 * g, 2 * g + 1) for g in range(n_docs // 2) if g % 3 == 0
    ]
    short_pairs = [
        (2 * g, 2 * g + 1) for g in range(n_docs // 2) if g % 3 == 1
    ]
    # planted-pair assertions hold only when the census actually drops
    # the ubiquitous boilerplate, which needs n_docs comfortably past
    # the arm's max_df=20 (round-12 advice fix: at a tiny SF the
    # boilerplate passes the census and the short-pair filter check
    # would fail spuriously — the registry oracle still pins the full
    # pair set there, both engines replaying the same census)
    if n_docs > 2 * 20:
        assert long_pairs and all(
            won.get(p, 0) >= 2 for p in long_pairs
        ), f"planted long-span winnow pairs missing at {sf_dir}"
        assert any(
            p not in won for p in short_pairs
        ), f"no short-span pair was threshold-filtered at {sf_dir}"
    assert (
        x04.filter(F.col("kind") != "winnow")
        .filter(F.col("n_shared").isNotNull())
        .count()
        == 0
    )

    x03 = x03_minhash_signatures(spark, sf_dir).limit(200).localCheckpoint()
    assert_column_nondegenerate(x03, "oph0", f"at {sf_dir}")
    # densified OPH values live in the 60-bit hash domain or above it
    # (rotation offsets are multiples of 2^60) — never negative
    assert x03.filter(F.col("oph0") < 0).count() == 0


def test_jpeg_gray_sampling_and_adobe_app14():
    """Round-8 ADVICE fixes: (1) T.81 A.2.2 — a single-component scan is
    non-interleaved plain 8x8 block order, so SOF sampling factors
    h/v > 1 on a grayscale file must be IGNORED (previously such files
    mis-parsed and fell to the stub tier); (2) an Adobe APP14
    transform=0 (RGB) 3-component JPEG would real-decode with WRONG
    colors — it must route to the stub tier via ValueError instead,
    while transform=1 (YCbCr, the normal tag) still real-decodes."""
    import struct as _struct

    import numpy as np
    import pytest

    g = np.clip(
        128
        + 60
        * np.sin(np.arange(24)[:, None] / 3.0)
        * np.cos(np.arange(40)[None, :] / 5.0),
        0,
        255,
    ).astype(np.uint8)
    base = M._encode_jpeg(g, quality=90, gray=True)
    declared = M._encode_jpeg(
        g, quality=90, gray=True, gray_declared_sampling=(2, 2)
    )
    d0 = M._decode_jpeg(base)
    assert d0.shape == (24, 40, 3)
    assert (d0 == M._decode_jpeg(declared)).all()  # sampling ignored nc==1
    assert np.abs(d0[..., 0].astype(int) - g.astype(int)).max() <= 12
    # restart markers through the single-component path: same pixels
    dri = M._decode_jpeg(
        M._encode_jpeg(g, quality=90, gray=True, restart_interval=2)
    )
    assert (dri == d0).all()

    def _seg(marker, payload):
        return _struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    color = np.stack([g, g[::-1], np.roll(g, 7, axis=1)], axis=2)
    blob = M._encode_jpeg(color, quality=90)

    def with_app14(transform):
        app14 = _seg(0xEE, b"Adobe" + _struct.pack(">HHHB", 100, 0, 0,
                                                   transform))
        return blob[:2] + app14 + blob[2:]

    with pytest.raises(ValueError, match="Adobe"):
        M._decode_jpeg(with_app14(0))
    assert (M._decode_jpeg(with_app14(1)) == M._decode_jpeg(blob)).all()


def test_multimodal_real_gif_decode(spark):
    """VERDICT r7 #3: the GIF tier is REAL (pure-python LZW + palette,
    no codec library): a hand-assembled 2x2 GIF with hand-computed
    uncompressed-style LZW bytes decodes to exact known pixels
    (decoder validated independently of the in-repo encoder);
    encoder round-trips are lossless (GIF is indexed, not lossy)
    including interlacing and the dict-full clear; a sub-screen frame
    composes onto the background; GIF-vs-PNG of the SAME pixels land
    pHash-identical (both lossless); animation yields the FIRST frame;
    malformed GIFs route to the digest stub non-strict and raise in
    strict mode via the full Spark path."""
    import struct as _struct

    import numpy as np
    import pytest

    # hand fixture: 2x2 checkerboard, clear code before every literal so
    # the dict never grows — 3-bit codes [4,0,4,1,4,1,4,0,5] packed
    # LSB-first = 04 C3 10 05 (computed by hand, not by the encoder)
    fix = (
        b"GIF89a" + bytes([2, 0, 2, 0, 0xF0, 0, 0])
        + bytes([0, 0, 0, 255, 255, 255])
        + b"\x2c" + bytes([0, 0, 0, 0, 2, 0, 2, 0, 0]) + bytes([2])
        + bytes([4, 0x04, 0xC3, 0x10, 0x05, 0]) + b"\x3b"
    )
    want = np.array(
        [[[0, 0, 0], [255, 255, 255]], [[255, 255, 255], [0, 0, 0]]],
        dtype=np.uint8,
    )
    assert (M._decode_gif(fix) == want).all()

    # lossless round-trip: palette image, plain + interlaced + dict reset
    rng = np.random.RandomState(11)
    pal = rng.randint(0, 256, (17, 3)).astype(np.uint8)
    px = pal[rng.randint(0, 17, (45, 33))]
    for inter in (False, True):
        assert (M._decode_gif(M._encode_gif(px, interlace=inter)) == px).all()
    big = pal[rng.randint(0, 17, (130, 130))]  # >4096 LZW entries
    assert (M._decode_gif(M._encode_gif(big)) == big).all()

    # sub-screen frame composes over the background color (index 0)
    sub = (
        b"GIF89a" + bytes([4, 0, 3, 0, 0xF0, 0, 0])
        + bytes([10, 20, 30, 200, 100, 50])
        + b"\x2c" + bytes([1, 0, 1, 0, 2, 0, 2, 0, 0]) + bytes([2])
        + bytes([4, 0x04, 0xC3, 0x10, 0x05, 0]) + b"\x3b"
    )
    out = M._decode_gif(sub)
    assert out.shape == (3, 4, 3)
    assert (out[0, 0] == [10, 20, 30]).all()          # background
    assert (out[1, 1] == [10, 20, 30]).all()          # frame idx 0 = color 0
    assert (out[1, 2] == [200, 100, 50]).all()        # frame idx 1

    # round-8 review finding: the Background Color Index addresses the
    # GLOBAL color table even when the frame carries a LOCAL one — a
    # local-palette frame must not recolor the uncovered canvas
    loc = (
        b"GIF89a" + bytes([4, 0, 3, 0, 0xF0, 1, 0])      # bg index 1
        + bytes([10, 20, 30, 99, 99, 99])                 # GLOBAL table
        + b"\x2c" + bytes([1, 0, 1, 0, 2, 0, 2, 0, 0x80])  # local CT flag
        + bytes([1, 2, 3, 200, 100, 50])                   # LOCAL table
        + bytes([2])
        + bytes([4, 0x04, 0xC3, 0x10, 0x05, 0]) + b"\x3b"
    )
    lout = M._decode_gif(loc)
    assert (lout[0, 0] == [99, 99, 99]).all()   # GLOBAL bg color 1
    assert (lout[1, 1] == [1, 2, 3]).all()      # frame idx 0 = LOCAL 0
    assert (lout[1, 2] == [200, 100, 50]).all()  # frame idx 1 = LOCAL 1

    # animation: FIRST image descriptor wins (second frame differs)
    f1 = M._encode_gif(px)
    # splice a GCE extension + reuse the image block twice
    gce = b"\x21\xf9\x04\x00\x02\x00\x00\x00"
    ct_len = (2 << (f1[10] & 7)) * 3
    img = f1[13 + ct_len : -1]
    anim = f1[: 13 + ct_len] + gce + img + gce + img + b"\x3b"
    assert (M._decode_gif(anim) == px).all()

    # GIF vs PNG of the same pixels: identical pHash (both lossless)
    yy, xx = np.mgrid[0:48, 0:64]
    wavy = np.clip(
        np.round(128 + 90 * np.sin(xx / 6.0) * np.cos(yy / 9.0)), 0, 255
    ).astype(np.uint8)
    wavy = (wavy // 16 * 16).astype(np.uint8)  # <=16 levels: GIF-indexable
    wavy3 = np.repeat(wavy[..., None], 3, axis=2)
    hdf = spark.createDataFrame(
        [
            (1, bytearray(M._encode_gif(wavy3)), "image/gif"),
            (2, bytearray(M._encode_png(wavy3)), M.MIME_PNG),
        ],
        schema=M.MEDIA_SCHEMA,
    )
    hashes = {
        r.media_id: r.phash for r in M.image_phash(hdf, strict=True).collect()
    }
    assert hashes[1] == hashes[2]

    # full Spark path: real decode in strict mode; malformed GIF (LZW
    # stream truncated) stubs non-strict, raises strict
    blob = M._encode_gif(wavy3)
    bad = blob[: len(blob) // 2] + b"\x00\x3b"
    df = spark.createDataFrame(
        [(1, bytearray(blob), "image/gif"), (2, bytearray(bad), "image/gif")],
        schema=M.MEDIA_SCHEMA,
    )
    rows = {r.media_id: r for r in M.decode_media(df).collect()}
    assert (rows[1].width, rows[1].height) == (64, 48)
    assert rows[1].feature == pytest.approx(
        M._pixel_feature(M._decode_gif(blob)), rel=1e-6
    )
    with pytest.raises(Exception, match="malformed GIF|truncated GIF"):
        M.decode_media(
            df.filter(F.col("media_id") == 2), strict=True
        ).collect()


def test_multimodal_mp4_metadata_tier(spark):
    """Round 8: the video tier's width/height/n_frames are REAL
    container metadata (pure ISO-BMFF box walk — tkhd 16.16 dims,
    stsz sample count), while the pixel feature stays the digest fake
    and strict mode still raises (frame decode is codec-bound).
    detect_mime sniffs 'ftyp' at offset 4; malformed boxes fall to the
    digest stub."""
    import struct as _struct

    import pytest

    def box(btype: bytes, payload: bytes) -> bytes:
        return _struct.pack(">I", len(payload) + 8) + btype + payload

    tkhd = box(
        b"tkhd",
        b"\x00\x00\x00\x00" + b"\x00" * 72
        + _struct.pack(">II", 640 << 16, 360 << 16),
    )
    hdlr = box(b"hdlr", b"\x00\x00\x00\x00" + b"\x00" * 4 + b"vide")
    stsz = box(
        b"stsz", b"\x00\x00\x00\x00" + _struct.pack(">II", 0, 240)
    )
    trak = box(
        b"trak",
        tkhd + box(b"mdia", hdlr + box(b"minf", box(b"stbl", stsz))),
    )
    mp4 = (
        box(b"ftyp", b"isom\x00\x00\x02\x00isommp41")
        + box(b"moov", trak)
    )
    assert M._parse_mp4_meta(mp4) == (640, 360, 240)

    df = spark.createDataFrame(
        [(1, bytearray(mp4), None)],
        "media_id long, content binary, declared string",
    ).select("media_id", "content", M.detect_mime("content").alias("mime"))
    assert df.collect()[0].mime == "video/mp4"
    r = M.decode_media(df).collect()[0]
    assert (r.width, r.height, r.n_frames) == (640, 360, 240)
    # the FEATURE is still the digest fake (pixels need a codec)...
    assert r.feature == pytest.approx(M._fake_decode(bytes(mp4))[3])
    # ...and strict mode stays loud — a real frame decode would run here
    with pytest.raises(Exception):
        M.decode_media(df, strict=True).collect()

    # malformed container (box overruns the file): digest stub, no crash
    bad = mp4[:40]
    bdf = spark.createDataFrame(
        [(2, bytearray(bad), "video/mp4")], schema=M.MEDIA_SCHEMA
    )
    stub = M.decode_media(bdf).collect()[0]
    assert (stub.width, stub.height, stub.n_frames) == M._fake_decode(
        bytes(bad)
    )[:3]


def test_rrf_fuse_hand_values_and_duckdb_pin(spark):
    """rrf_fuse: integer fixed-point 1e9 div (60+rank) contributions,
    hand-computed fused order, id-ASC tie break, DuckDB re-derivation."""
    import duckdb
    import pytest

    from mapreduce_stockheadlines_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)], "query_id long, neighbor_id long, rank int"
    )
    b = spark.createDataFrame(
        [(1, 20, 1), (1, 30, 2)], "query_id long, neighbor_id long, rank int"
    )
    out = rrf_fuse([a, b]).orderBy("rrf_rank").collect()
    c1, c2 = 10**9 // 61, 10**9 // 62
    assert [(r.neighbor_id, r.rrf_fp, r.rrf_rank) for r in out] == [
        (20, c1 + c2, 1),  # in both lists
        (10, c1, 2),  # rank-1 in one list only
        (30, c2, 3),  # rank-2 in one list only
    ]

    got = duckdb.sql(
        """
        SELECT neighbor_id, rrf_fp,
               CAST(row_number() OVER (ORDER BY rrf_fp DESC, neighbor_id)
                    AS INTEGER) AS rrf_rank
        FROM (SELECT neighbor_id, CAST(sum(1000000000 // (60 + rank))
                                       AS BIGINT) AS rrf_fp
              FROM (VALUES (10, 1), (20, 2), (20, 1), (30, 2))
                   v(neighbor_id, rank)
              GROUP BY neighbor_id)
        ORDER BY rrf_rank
        """
    ).fetchall()
    assert got == [(r.neighbor_id, r.rrf_fp, r.rrf_rank) for r in out]

    with pytest.raises(ValueError):
        rrf_fuse([a])


def test_x13_audio_columns_nondegenerate(spark, sf_dir):
    """Round-10 promotion guard: every planted-tone audio column on x13
    takes >= 2 values (silent vs tone rows for the features and the
    phash-zero flag; volume-twin vs alt-tone rows for twin_same), and
    the measured features agree with the closed forms the oracle pins
    (spot-checked here so a failure points at the operator, not just a
    registry hash diff)."""
    from conftest import assert_column_nondegenerate

    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x13 = ALL_QUERIES["x13_multimodal_pipeline"].builder(
        spark, sf_dir
    ).cache()
    try:
        for c in (
            "spec_centroid_hzi",
            "spec_bandwidth_hzi",
            "spec_rolloff_hzi",
            "spec_dominant_hzi",
            "audio_phash_zero",
            "audio_twin_same",
            "audio_dur_fp",
            "audio_rms_fp4",
        ):
            assert_column_nondegenerate(x13, c, f"at {sf_dir}")
        # time-domain closed forms: duration is exactly 2^-4 s for the
        # 512-sample silence rows and 2^-5 s for the tones; silent rms 0
        bad_td = x13.filter(
            (
                (F.col("media_id") % 4 == 0)
                & (
                    (F.col("audio_dur_fp") != 62500)
                    | (F.col("audio_rms_fp4") != 0)
                )
            )
            | (
                (F.col("media_id") % 4 != 0)
                & (
                    (F.col("audio_dur_fp") != 31250)
                    | (F.col("audio_rms_fp4") <= 0)
                )
            )
        )
        assert bad_td.count() == 0
        bad = x13.filter(
            (
                (F.col("media_id") % 4 == 0)
                & (
                    (F.col("spec_centroid_hzi") != 0)
                    | ~F.col("audio_phash_zero")
                )
            )
            | (
                (F.col("media_id") % 4 != 0)
                & (
                    (
                        F.col("spec_dominant_hzi")
                        != 32 * (3 + F.col("media_id") % 5)
                    )
                    | (
                        F.col("spec_rolloff_hzi")
                        != 32 * (9 + F.col("media_id") % 7)
                    )
                    | F.col("audio_phash_zero")
                )
            )
            | (
                F.col("audio_twin_same") != (F.col("media_id") % 4 != 1)
            )
        )
        assert bad.count() == 0
        # round-11 promotion guard: the near-dup BANDING verdicts. The
        # REAL band-join + popcount verify must pair every row with its
        # phash-identical twin (audio: volume-halved tones + silence;
        # image: byte-identical even ids) and reject every discriminable
        # twin (audio: k-shifted tones, measured hamming >= 9 > 4;
        # image: odd ids' corrupted bytes, md5-independent digests).
        for c in ("audio_band_neardup", "image_band_neardup"):
            assert_column_nondegenerate(x13, c, f"at {sf_dir}")
        bad_band = x13.filter(
            (
                F.col("audio_band_neardup")
                != (F.col("media_id") % 4 != 1)
            )
            | (
                F.col("image_band_neardup")
                != (F.col("media_id") % 2 == 0)
            )
        )
        assert bad_band.count() == 0
    finally:
        x13.unpersist()


def test_x18_rrf_columns_nondegenerate(spark, sf_dir):
    """Round-8 promotion guard: the fused rank must actually reorder
    relative to the IVF rank somewhere (otherwise the fusion column
    would pin nothing beyond the rank column it rode in on)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x18 = ALL_QUERIES["x18_ivf_topk"].builder(spark, sf_dir).cache()
    try:
        assert_column_nondegenerate(x18, "rrf_fp", f"at {sf_dir}")
        assert_column_nondegenerate(x18, "rrf_rank", f"at {sf_dir}")
        # the fusion must disagree with the plain IVF rank on >= 1 row
        from pyspark.sql import functions as F

        assert x18.filter(F.col("rrf_rank") != F.col("rank")).count() > 0
    finally:
        x18.unpersist()


def test_multimodal_real_netpbm_family_decode(spark):
    """Round-8 Netpbm tier: P1-P5 decode for real (P6 delegated) —
    ASCII == binary twins pixel-for-pixel, PBM ink convention, comment
    handling, packed-bit rows at non-byte-aligned widths, and the
    end-to-end decode_media path with sniffed mimes."""
    import numpy as np
    import pytest

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    px = (np.arange(12, dtype=np.uint8).reshape(3, 4) * 20).copy()
    p2 = b"P2\n# c\n4 3\n255\n" + " ".join(
        str(v) for v in px.ravel()
    ).encode()
    p5 = b"P5\n4 3\n255\n" + px.tobytes()
    px3 = np.repeat(px[:, :, None], 3, axis=2)  # tier channel convention
    assert np.array_equal(M._decode_pnm(p2), px3)
    assert np.array_equal(M._decode_pnm(p5), px3)

    bits = (np.arange(30).reshape(3, 10) % 3 == 0).astype(np.uint8)
    p1 = b"P1\n10 3\n" + "".join(str(b) for b in bits.ravel()).encode()
    p4 = b"P4\n10 3\n" + np.packbits(bits, axis=1).tobytes()
    want = np.repeat(
        ((1 - bits) * 255).astype(np.uint8)[:, :, None], 3, axis=2
    )  # 1 = black ink
    assert np.array_equal(M._decode_pnm(p1), want)
    assert np.array_equal(M._decode_pnm(p4), want)

    rgb = np.arange(24, dtype=np.uint8).reshape(2, 4, 3).copy()
    p3 = b"P3\n4 2\n255\n" + " ".join(str(v) for v in rgb.ravel()).encode()
    assert np.array_equal(M._decode_pnm(p3), rgb)
    assert np.array_equal(
        M._decode_pnm(b"P6\n4 2\n255\n" + rgb.tobytes()), rgb
    )

    for bad in (
        b"P5\n4 3\n70000\n" + px.tobytes(),  # 16-bit
        b"P2\n4 3\n255\n1 2",  # truncated ASCII
        b"P4\n10 3\n\x00",  # truncated packed raster
        b"P7 junk",  # not in the family
    ):
        with pytest.raises(ValueError):
            M._decode_pnm(bad)

    # end-to-end: mime=None -> magic sniff routes every variant to the
    # real tier; gray twins agree on dims and feature
    rows = [
        (1, bytearray(p2), None),
        (2, bytearray(p5), None),
        (3, bytearray(p4), None),
        (4, bytearray(p3), None),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {
        r.media_id: r
        for r in M.decode_media(
            df.withColumn("mime", M.detect_mime("content")), strict=True
        ).collect()
    }
    assert (out[1].width, out[1].height) == (4, 3)
    assert out[1].feature == out[2].feature  # P2 == P5 twins
    assert (out[3].width, out[3].height) == (10, 3)
    assert (out[4].width, out[4].height) == (4, 2)


def test_topk_eval_ndcg_hand_values(spark):
    """Binary-relevance nDCG in integer fixed point: w(r) =
    round(1e6·ln2/ln(r+1)); hand-checked hit/ideal sums, perfect
    retrieval → 1.0, empty retrieval → 0.0."""
    import math

    from mapreduce_stockheadlines_spark.operators.similarity import (
        topk_eval,
    )

    def w(r):
        return round(10**6 * math.log(2) / math.log(r + 1))

    truth = spark.createDataFrame(
        [(1, 101, 1), (1, 102, 2), (1, 103, 3)],
        "query_id long, neighbor_id long, rank int",
    )
    approx = spark.createDataFrame(
        # hits: 101 at approx rank 1, 103 at approx rank 4
        [(1, 101, 1), (1, 999, 2), (1, 998, 3), (1, 103, 4)],
        "query_id long, neighbor_id long, rank int",
    )
    row = topk_eval(approx, truth).collect()[0]
    want = round((w(1) + w(4)) / (w(1) + w(2) + w(3)), 4)
    assert row.ndcg == want
    # perfect retrieval: identical lists -> 1.0
    perfect = topk_eval(truth, truth).collect()[0]
    assert perfect.ndcg == 1.0
    # nothing retrieved -> 0.0
    miss = spark.createDataFrame(
        [(1, 777, 1)], "query_id long, neighbor_id long, rank int"
    )
    assert topk_eval(miss, truth).collect()[0].ndcg == 0.0


def test_x18_ndcg_nondegenerate(spark, sf_dir):
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x18 = ALL_QUERIES["x18_ivf_topk"].builder(spark, sf_dir)
    assert_column_nondegenerate(x18, "ndcg", f"at {sf_dir}")


def _make_test_tiff(px, endian="<", photometric=None, strips=1,
                    compression=1, predictor=1):
    """Minimal in-test TIFF writer: chunky 8-bit strips, SHORT/
    LONG entries, out-of-line arrays after the IFD; Compression=5
    LZW-encodes each strip independently (optionally after horizontal
    Predictor=2 differencing) via the in-repo encoder."""
    import struct

    import numpy as np

    h, w = px.shape[:2]
    spp = 1 if px.ndim == 2 else 3
    if photometric is None:
        photometric = 1 if spp == 1 else 2
    data = px.tobytes()
    rows_per = (h + strips - 1) // strips
    row_bytes = w * spp
    chunks = [
        data[s * rows_per * row_bytes : min((s + 1) * rows_per, h) * row_bytes]
        for s in range(strips)
    ]
    if predictor == 2:
        diffed = []
        for c in chunks:
            rows = len(c) // row_bytes
            a = np.frombuffer(c, np.uint8).reshape(rows, w, spp)
            d = a.astype(np.int16).copy()
            d[:, 1:, :] = (a[:, 1:, :].astype(np.int16)
                           - a[:, :-1, :].astype(np.int16)) % 256
            diffed.append(d.astype(np.uint8).tobytes())
        chunks = diffed
    if compression == 5:
        from mapreduce_stockheadlines_spark.operators import multimodal as _M

        chunks = [_M._tiff_lzw_encode(c) for c in chunks]
    e = endian
    pos, offs, cnts = 8, [], []
    for c in chunks:
        offs.append(pos)
        cnts.append(len(c))
        pos += len(c)

    def vs(v):
        return struct.pack(e + "H", v) + b"\x00\x00"

    def vl(v):
        return struct.pack(e + "I", v)

    items = [(256, 3, 1, vs(w)), (257, 3, 1, vs(h))]
    items.append(
        (258, 3, 1, vs(8)) if spp == 1 else (258, 3, 3, None)
    )
    items += [(259, 3, 1, vs(compression)), (262, 3, 1, vs(photometric))]
    if predictor != 1:
        items += [(317, 3, 1, vs(predictor))]
    if strips == 1:
        items += [(273, 4, 1, vl(offs[0])), (279, 4, 1, vl(cnts[0]))]
    else:
        items += [(273, 4, len(offs), None), (279, 4, len(cnts), None)]
    items += [(277, 3, 1, vs(spp)), (278, 3, 1, vs(rows_per))]
    ifd_off = pos
    ext_pos = ifd_off + 2 + 12 * len(items) + 4
    body, ext = struct.pack(e + "H", len(items)), b""
    for tag, typ, cnt, val in items:
        if val is None:
            body += struct.pack(e + "HHI", tag, typ, cnt) + struct.pack(
                e + "I", ext_pos + len(ext)
            )
            ext += (
                struct.pack(e + "3H", 8, 8, 8)
                if tag == 258
                else struct.pack(
                    e + f"{len(offs)}I", *(offs if tag == 273 else cnts)
                )
            )
        else:
            body += struct.pack(e + "HHI", tag, typ, cnt) + val
    body += struct.pack(e + "I", 0)
    hdr = (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, ifd_off)
    return hdr + b"".join(chunks) + body + ext


def test_multimodal_real_tiff_decode(spark):
    """Round-8 TIFF tier: both byte orders, multi-strip layouts, RGB and
    gray (incl. WhiteIsZero inversion) decode for real; compressed/
    BigTIFF inputs fall to ValueError (stub class); mime sniffing
    routes both magics end-to-end."""
    import numpy as np
    import pytest

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    rgb = np.arange(60, dtype=np.uint8).reshape(4, 5, 3).copy()
    for e in ("<", ">"):
        for strips in (1, 3):
            t = _make_test_tiff(rgb, endian=e, strips=strips)
            assert np.array_equal(M._decode_tiff(t), rgb), (e, strips)
    gray = (np.arange(20, dtype=np.uint8).reshape(4, 5) * 12).copy()
    assert np.array_equal(
        M._decode_tiff(_make_test_tiff(gray))[..., 0], gray
    )
    assert np.array_equal(
        M._decode_tiff(_make_test_tiff(gray, photometric=0))[..., 0],
        255 - gray,
    )
    with pytest.raises(ValueError):
        M._decode_tiff(b"II+\x00\x08\x00\x00\x00")  # BigTIFF magic 43
    with pytest.raises(ValueError):
        M._decode_tiff(_make_test_tiff(rgb)[:40])  # truncated

    le = _make_test_tiff(rgb, endian="<")
    be = _make_test_tiff(rgb, endian=">")
    df = spark.createDataFrame(
        [(1, bytearray(le), None), (2, bytearray(be), None)],
        M.MEDIA_SCHEMA,
    )
    out = {
        r.media_id: r
        for r in M.decode_media(
            df.withColumn("mime", M.detect_mime("content")), strict=True
        ).collect()
    }
    assert (out[1].width, out[1].height) == (5, 4)
    assert out[1].feature == out[2].feature  # endianness twins


def test_multimodal_tiff_lzw_decode(spark):
    """Round-9 TIFF-LZW tier (Compression=5 + horizontal Predictor=2):
    round-trips vs the in-repo TIFF-flavor LZW encoder across byte
    orders, strip layouts and predictor settings; the raw codec pair
    crosses all three EarlyChange width bumps and the table-reset
    Clear; TIFF-LZW and PNG of the same pixels pHash-identically;
    other compressions stay in the stub class."""
    import numpy as np
    import pytest
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    for e in ("<", ">"):
        for strips in (1, 4):
            for pred in (1, 2):
                t = _make_test_tiff(rgb, endian=e, strips=strips,
                                    compression=5, predictor=pred)
                assert np.array_equal(M._decode_tiff(t), rgb), (
                    e, strips, pred,
                )
    gray = rng.integers(0, 256, size=(5, 11), dtype=np.uint8)
    assert np.array_equal(
        M._decode_tiff(
            _make_test_tiff(gray, compression=5, predictor=2)
        )[..., 0],
        gray,
    )
    # raw codec round-trip: 80k random bytes force ~10 table resets
    # (Clear at 4093) and every width bump; the repeated block hits the
    # KwKwK case
    blob = rng.integers(0, 256, size=80_000, dtype=np.uint8).tobytes()
    assert M._tiff_lzw_decode(M._tiff_lzw_encode(blob), len(blob)) == blob
    rep = b"abcabcabD" * 500
    assert M._tiff_lzw_decode(M._tiff_lzw_encode(rep), len(rep)) == rep
    with pytest.raises(ValueError):
        M._tiff_lzw_decode(b"\x00\x01\x02", 100)  # truncated stream

    # cross-format pixel pin: TIFF-LZW == PNG of the same image under
    # the real pHash (the GIF-vs-PNG pin pattern)
    yy, xx = np.mgrid[0:40, 0:48]
    wavy = np.clip(
        np.rint(
            np.stack(
                [
                    128 + 90 * np.sin(xx / 6.0),
                    128 + 80 * np.cos(xx / 11.0) * np.sin(yy / 5.0),
                    128 + 70 * np.sin((xx + yy) / 8.0),
                ],
                axis=2,
            )
        ),
        0,
        255,
    ).astype(np.uint8)
    hdf = spark.createDataFrame(
        [
            (
                1,
                bytearray(
                    _make_test_tiff(wavy, strips=5, compression=5,
                                    predictor=2)
                ),
                "image/tiff",
            ),
            (2, bytearray(M._encode_png(wavy)), M.MIME_PNG),
        ],
        schema=M.MEDIA_SCHEMA,
    )
    hashes = {
        r.media_id: r.phash
        for r in M.image_phash(hdf, strict=True).collect()
    }
    assert hashes[1] == hashes[2]

    # deflate-in-TIFF (Compression=8) stays codec-bound → stub class
    with pytest.raises(ValueError):
        M._decode_tiff(_make_test_tiff(rgb, compression=8))

    @settings(max_examples=25, deadline=None)
    @given(
        h=st.integers(1, 9),
        w=st.integers(1, 9),
        chans=st.sampled_from([1, 3]),
        strips=st.integers(1, 4),
        pred=st.sampled_from([1, 2]),
        endian=st.sampled_from(["<", ">"]),
        seed=st.integers(0, 2**31 - 1),
    )
    def roundtrip(h, w, chans, strips, pred, endian, seed):
        r = np.random.default_rng(seed)
        shape = (h, w) if chans == 1 else (h, w, 3)
        px = r.integers(0, 256, size=shape, dtype=np.uint8)
        t = _make_test_tiff(px, endian=endian, strips=min(strips, h),
                            compression=5, predictor=pred)
        got = M._decode_tiff(t)
        want = px if chans == 3 else np.repeat(px[:, :, None], 3, axis=2)
        assert np.array_equal(got, want)

    roundtrip()


def test_multimodal_webp_container_metadata(spark):
    """Round-8 WebP metadata tier (the MP4 contract for images): real
    width/height/n_frames from VP8X / VP8L / lossy-VP8 headers and ANMF
    counts; pixel features stay the digest fake (codec-bound);
    detect_mime refines the RIFF container by its WEBP form."""
    import struct

    import numpy as np

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    def riff(chunks):
        body = b"WEBP"
        for fourcc, payload in chunks:
            body += fourcc + struct.pack("<I", len(payload)) + payload
            if len(payload) % 2:
                body += b"\x00"
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # VP8L lossless: 0x2f then 14-bit (w-1) | 14-bit (h-1)
    w, h = 300, 200
    bits = (w - 1) | ((h - 1) << 14)
    vp8l = riff([(b"VP8L", b"\x2f" + struct.pack("<I", bits))])
    assert M._parse_webp_meta(vp8l) == (300, 200, 1)

    # lossy VP8: start code at +3, 14-bit LE dims at +6/+8
    vp8 = riff(
        [(b"VP8 ", b"\x00\x00\x00\x9d\x01\x2a"
          + struct.pack("<HH", 640, 480))]
    )
    assert M._parse_webp_meta(vp8) == (640, 480, 1)

    # VP8X extended + 3 ANMF frames
    vp8x = riff(
        [
            (b"VP8X", b"\x00\x00\x00\x00"
             + (99).to_bytes(3, "little") + (49).to_bytes(3, "little")),
            (b"ANMF", b"\x00" * 16),
            (b"ANMF", b"\x00" * 16),
            (b"ANMF", b"\x00" * 16),
        ]
    )
    assert M._parse_webp_meta(vp8x) == (100, 50, 3)

    import pytest

    with pytest.raises(ValueError):
        M._parse_webp_meta(riff([(b"ALPH", b"\x00\x00")]))  # no dims
    with pytest.raises(ValueError):
        M._parse_webp_meta(b"RIFF\x04\x00\x00\x00WAVE")

    df = spark.createDataFrame(
        [(1, bytearray(vp8l), None)], M.MEDIA_SCHEMA
    )
    out = M.decode_media(
        df.withColumn("mime", M.detect_mime("content"))
    ).collect()[0]
    assert out.mime == "image/webp"
    assert (out.width, out.height, out.n_frames) == (300, 200, 1)


# --- hard-negative mining (DPR recipe) ----------------------------------------


def test_mine_hard_negatives_hand_values(spark):
    from mapreduce_stockheadlines_spark.operators.similarity import (
        mine_hard_negatives,
    )

    cands = spark.createDataFrame(
        [
            (1, 100, 1), (1, 101, 2), (1, 102, 3), (1, 103, 4),
            (2, 200, 1), (2, 201, 2),
        ],
        "query_id long, neighbor_id long, rank int",
    )
    pos = spark.createDataFrame(
        [(1, 101), (1, 999), (2, 200), (2, 200)],  # 999 not a candidate;
        "query_id long, neighbor_id long",         # (2,200) duplicated
    )
    out = {
        (r.query_id, r.neighbor_id): r.hard_neg_rank
        for r in mine_hard_negatives(cands, pos).collect()
    }
    # q1: 101 removed; 100, 102, 103 re-rank 1, 2, 3
    assert out == {
        (1, 100): 1, (1, 102): 2, (1, 103): 3,
        (2, 201): 1,
    }
    # truncation keeps the hardest n
    top1 = {
        (r.query_id, r.neighbor_id)
        for r in mine_hard_negatives(cands, pos, n_negatives=1).collect()
    }
    assert top1 == {(1, 100), (2, 201)}

    import pytest

    with pytest.raises(ValueError, match="n_negatives"):
        mine_hard_negatives(cands, pos, n_negatives=0)


def test_x18_hard_neg_rank_nondegenerate_and_consistent(spark, sf_dir):
    """Promotion guard for the round-9 hard_neg_rank column: the x18
    candidate lists contain both positives (NULL rank) and negatives
    (1..n in candidate-rank order, contiguous per query)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x18 = ALL_QUERIES["x18_ivf_topk"].builder(spark, sf_dir).cache()
    try:
        assert_column_nondegenerate(x18, "hard_neg_rank", f"at {sf_dir}")
        rows = x18.select(
            "query_id", "rank", "hard_neg_rank"
        ).collect()
        assert any(r.hard_neg_rank is None for r in rows)  # positives exist
        by_q: dict = {}
        for r in rows:
            if r.hard_neg_rank is not None:
                by_q.setdefault(r.query_id, []).append(
                    (r.rank, r.hard_neg_rank)
                )
        for q, pairs in by_q.items():
            pairs.sort()
            # re-ranking preserves candidate order and is contiguous 1..n
            assert [hn for _, hn in pairs] == list(
                range(1, len(pairs) + 1)
            ), (q, pairs)
    finally:
        x18.unpersist()


# --- Matryoshka prefix-dim serving (MRL) --------------------------------------


def test_fixed_query_cosine_hand_values_and_zero_norm(spark):
    from mapreduce_stockheadlines_spark.operators.embeddings import (
        fixed_query_cosine,
        truncate_dims,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 5.0, 5.0]),
            (2, [0.0, 1.0, -3.0, 2.0]),
            (3, [0.0, 0.0, 9.0, 9.0]),  # zero prefix norm at d=2
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r.sim
        for r in fixed_query_cosine(
            df, "embedding", [1.0, 0.0, 7.0, 7.0], d=2
        ).collect()
    }
    assert out[1] == 1.0  # prefix [1,0] vs query prefix [1,0]
    assert out[2] == 0.0  # orthogonal prefixes
    assert out[3] is None  # zero-norm prefix: NULL, not an error
    # d=None scores the full vector
    full = {
        r.vec_id: r.sim
        for r in fixed_query_cosine(
            df, "embedding", [1.0, 0.0, 7.0, 7.0]
        ).collect()
    }
    import math

    q = [1.0, 0.0, 7.0, 7.0]
    v = [1.0, 0.0, 5.0, 5.0]
    want = round(
        sum(a * b for a, b in zip(q, v))
        / (math.sqrt(sum(a * a for a in q)) * math.sqrt(sum(b * b for b in v))),
        4,
    )
    assert full[1] == want
    # truncate_dims is the slice primitive the eval path composes with
    t = truncate_dims(df, "embedding", 2, out_col="p").collect()
    assert all(len(r.p) == 2 for r in t)

    import pytest

    with pytest.raises(ValueError, match="zero norm"):
        fixed_query_cosine(df, "embedding", [0.0, 0.0], d=2)
    with pytest.raises(ValueError, match="d must be"):
        truncate_dims(df, "embedding", 0)


def test_mrl_prefix_recall_eval_composition(spark, sf_dir):
    """The MRL measurement loop: truncate → exact top-k on prefixes →
    topk_eval vs full-dim truth. Full-dim 'truncation' must be a
    perfect self-eval; the 16-dim prefix trades some recall, never
    exceeding 1."""
    from mapreduce_stockheadlines_spark.operators.embeddings import (
        truncate_dims,
    )
    from mapreduce_stockheadlines_spark.operators.similarity import (
        cosine_topk,
        topk_eval,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    truth = cosine_topk(queries, emb, k=5)
    full = cosine_topk(
        truncate_dims(queries, "embedding", 64),
        truncate_dims(emb, "embedding", 64),
        k=5,
    )
    ev_full = topk_eval(full, truth).collect()
    assert all(r.recall == 1.0 for r in ev_full)
    pref = cosine_topk(
        truncate_dims(queries, "embedding", 16),
        truncate_dims(emb, "embedding", 16),
        k=5,
    )
    ev = topk_eval(pref, truth).collect()
    assert ev and all(0.0 <= r.recall <= 1.0 for r in ev)


def test_x27_mrl_columns_nondegenerate_and_rank_consistent(spark, sf_dir):
    """Promotion guard: mrl_sim_d16 / mrl_rank_d16 vary, the rank is a
    permutation of 1..n consistent with (sim DESC, vec_id), and the
    prefix metric genuinely reorders vs the full-dim ADC ranking
    somewhere (otherwise the column pins nothing new)."""
    from conftest import assert_column_nondegenerate

    from mapreduce_stockheadlines_spark.plans.registry import ALL_QUERIES

    x27 = ALL_QUERIES["x27_quantize_embeddings"].builder(spark, sf_dir).cache()
    try:
        assert_column_nondegenerate(x27, "mrl_sim_d16", f"at {sf_dir}")
        assert_column_nondegenerate(x27, "mrl_rank_d16", f"at {sf_dir}")
        rows = x27.select("vec_id", "mrl_sim_d16", "mrl_rank_d16").collect()
        ranks = sorted(r.mrl_rank_d16 for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        order = sorted(rows, key=lambda r: (-r.mrl_sim_d16, r.vec_id))
        assert [r.mrl_rank_d16 for r in order] == ranks
    finally:
        x27.unpersist()


def test_fixed_query_cosine_rejects_short_query(spark):
    from mapreduce_stockheadlines_spark.operators.embeddings import (
        fixed_query_cosine,
    )

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0])], "vec_id long, embedding array<double>"
    )
    import pytest

    with pytest.raises(ValueError, match="fewer than d"):
        fixed_query_cosine(df, "embedding", [1.0, 2.0], d=4)


def test_audio_spectral_features_tone_and_noise(spark):
    """A pure tone's dominant/centroid frequencies sit at the tone and
    its flatness near 0; white-ish noise has flatness near 1; a
    non-audio mime gets NULLs (typed Hz columns refuse digest fakes);
    strict mode raises."""
    import numpy as np
    import pytest

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    rate = 8000
    t = np.arange(4096) / rate
    tone = (10000 * np.sin(2 * np.pi * 1000 * t)).astype(np.int16)
    rng = np.random.RandomState(5)
    noise = (6000 * rng.uniform(-1, 1, 4096)).astype(np.int16)
    rows = [
        (1, bytearray(_mono_wav_bytes(tone)), M.MIME_WAV),
        (2, bytearray(_mono_wav_bytes(noise)), M.MIME_WAV),
        (3, bytearray(b"\x89PNG fake"), "image/png"),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, content binary, mime string"
    )
    out = {
        r.media_id: r for r in M.audio_spectral_features(df).collect()
    }
    t1 = out[1]
    assert abs(t1.dominant_hz - 1000.0) < 4.0  # rfft bin width ~1.95 Hz
    assert abs(t1.spec_centroid_hz - 1000.0) < 25.0
    assert t1.spec_flatness < 0.05
    assert abs(t1.spec_rolloff_hz - 1000.0) < 25.0
    n2 = out[2]
    assert n2.spec_flatness > 0.4
    assert n2.spec_centroid_hz > 1200.0  # noise mass spreads upward
    assert out[3].spec_centroid_hz is None
    assert out[3].dominant_hz is None

    with pytest.raises(Exception, match="codec"):
        M.audio_spectral_features(
            df.filter("media_id = 3"), strict=True
        ).collect()


def test_audio_profile_matches_three_operator_composition(spark):
    """audio_profile (round 13: one decode for the decode/spectral/
    phash families — x13's single-pass audio shape) must be column-
    for-column equal to the decode_media + audio_spectral_features +
    audio_phash composition, including the non-audio/corrupt fallbacks
    (digest-fake feature, NULL spectral, digest phash)."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    rate = 8000
    t = np.arange(2048) / rate
    tone = (9000 * np.sin(2 * np.pi * 700 * t)).astype(np.int16)
    rows = [
        (1, bytearray(_mono_wav_bytes(tone)), M.MIME_WAV),
        (2, bytearray(b"RIFFgarbage-not-a-wav"), M.MIME_WAV),  # corrupt
        (3, bytearray(b"\x89PNG fake"), "image/png"),  # non-audio mime
    ]
    df = spark.createDataFrame(
        rows, "media_id long, content binary, mime string"
    )
    prof = {r.media_id: r for r in M.audio_profile(df).collect()}
    dec = {r.media_id: r for r in M.decode_media(df).collect()}
    spec = {r.media_id: r for r in M.audio_spectral_features(df).collect()}
    ph = {r.media_id: r for r in M.audio_phash(df).collect()}
    for mid in (1, 2, 3):
        p = prof[mid]
        assert (p.n_bytes, p.width, p.height, p.n_frames) == (
            dec[mid].n_bytes,
            dec[mid].width,
            dec[mid].height,
            dec[mid].n_frames,
        ), mid
        assert p.feature == dec[mid].feature, mid
        assert (
            p.spec_centroid_hz,
            p.spec_bandwidth_hz,
            p.spec_rolloff_hz,
            p.spec_flatness,
            p.dominant_hz,
        ) == (
            spec[mid].spec_centroid_hz,
            spec[mid].spec_bandwidth_hz,
            spec[mid].spec_rolloff_hz,
            spec[mid].spec_flatness,
            spec[mid].dominant_hz,
        ), mid
        assert p.phash == ph[mid].phash, mid


def test_audio_null_content_falls_back_in_decode_and_profile(spark):
    """NULL content under a WAV mime: the audio decoder raises
    TypeError, and decode_media's audio tier and audio_profile both
    fall back to the stub (no task failure in non-strict mode) with
    the same columns; strict mode still raises."""
    from mapreduce_stockheadlines_spark.operators import multimodal as M

    df = spark.createDataFrame(
        [(1, None, M.MIME_WAV)], "media_id long, content binary, mime string"
    )
    dec = M.decode_media(df).first()
    prof = M.audio_profile(df).first()
    assert (dec.n_bytes, dec.width, dec.height, dec.n_frames) == (0, 0, 0, 0)
    assert dec.feature == []
    assert (prof.n_bytes, prof.width, prof.height, prof.n_frames) == (
        0, 0, 0, 0,
    )
    assert prof.feature == dec.feature
    assert prof.spec_centroid_hz is None and prof.phash == 0
    for op in (M.decode_media, M.audio_profile):
        with pytest.raises(Exception, match="TypeError|NoneType"):
            op(df, strict=True).collect()


def test_audio_spectral_features_degenerate_inputs(spark):
    """Silence and a truncated WAV: silence yields all-zeros (never
    NaN), an undecodable blob NULLs in non-strict mode."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    silent = np.zeros(1024, dtype=np.int16)
    good = _mono_wav_bytes(silent)
    rows = [
        (1, bytearray(good), M.MIME_WAV),
        (2, bytearray(good[:20]), M.MIME_WAV),  # truncated header
    ]
    df = spark.createDataFrame(
        rows, "media_id long, content binary, mime string"
    )
    out = {
        r.media_id: r for r in M.audio_spectral_features(df).collect()
    }
    assert out[1].spec_centroid_hz == 0.0 and out[1].spec_flatness == 0.0
    assert out[2].spec_centroid_hz is None


def _bmp8_bytes(idx, palette, rle=False):
    """Hand-build an 8-bit palette BMP (bottom-up) from (H, W) uint8
    indices + (N, 3) RGB palette; rle=True emits an RLE8 stream (naive
    per-row encoded runs + end-of-line, end-of-bitmap last)."""
    import struct as _struct

    import numpy as _np

    h, w = idx.shape
    n_pal = palette.shape[0]
    quads = b"".join(
        bytes([int(b), int(g), int(r), 0]) for r, g, b in palette
    )
    if not rle:
        row_bytes = (w + 3) // 4 * 4
        raster = b"".join(
            idx[r].tobytes().ljust(row_bytes, b"\x00")
            for r in range(h - 1, -1, -1)
        )
        comp = 0
    else:
        out = bytearray()
        for r in range(h - 1, -1, -1):
            row = idx[r]
            j = 0
            while j < w:
                k = j
                while k < w and row[k] == row[j] and k - j < 255:
                    k += 1
                out += bytes([k - j, int(row[j])])
                j = k
            out += b"\x00\x00"  # end of line
        out += b"\x00\x01"  # end of bitmap
        raster = bytes(out)
        comp = 1
    off = 14 + 40 + len(quads)
    fh = b"BM" + _struct.pack("<IHHI", off + len(raster), 0, 0, off)
    ih = _struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 8, comp, len(raster), 2835, 2835,
        n_pal, 0,
    )
    return fh + ih + quads + raster


def test_bmp_palette_and_rle8_decode(spark):
    """8-bit palette BMPs decode for real, uncompressed and RLE8 give
    IDENTICAL pixels for the same image, and both match the 24-bit
    encoding of the same pixels (cross-path pin). Malformed RLE routes
    to ValueError (the stub arm)."""
    import numpy as np
    import pytest

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    rng = np.random.RandomState(9)
    idx = rng.randint(0, 5, size=(7, 11)).astype(np.uint8)
    idx[2, :] = 3  # a long run for the RLE arm
    palette = rng.randint(0, 256, size=(5, 3)).astype(np.uint8)
    want = palette[idx]

    plain = M._decode_bmp(_bmp8_bytes(idx, palette, rle=False))
    rle = M._decode_bmp(_bmp8_bytes(idx, palette, rle=True))
    assert np.array_equal(plain, want)
    assert np.array_equal(rle, want)
    truecolor = M._decode_bmp(_bmp_bytes(want))
    assert np.array_equal(truecolor, want)

    # malformed RLE: run overflowing the row must raise, not wrap
    bad = bytearray(_bmp8_bytes(idx, palette, rle=True))
    (off,) = __import__("struct").unpack_from("<I", bytes(bad), 10)
    bad[off] = 255  # first run longer than any row
    with pytest.raises(ValueError, match="RLE8"):
        M._decode_bmp(bytes(bad))
    # out-of-range palette index must raise
    idx_bad = idx.copy()
    idx_bad[0, 0] = 9  # palette has 5 entries
    with pytest.raises(ValueError, match="palette index"):
        M._decode_bmp(_bmp8_bytes(idx_bad, palette, rle=False))


def test_netpbm_16bit_decode_all_families(spark):
    """16-bit Netpbm (round 9): binary P5/P6 read big-endian two-byte
    samples, ASCII P2/P3 plain tokens; all scale round(v·255/maxval)
    with exact endpoints, and a 16-bit raster equals the 8-bit raster
    of the pre-scaled image (cross-path pin)."""
    import numpy as np

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    rng = np.random.RandomState(4)
    maxval = 1023
    g16 = rng.randint(0, maxval + 1, size=(5, 7)).astype(">u2")
    g16[0, 0], g16[0, 1] = 0, maxval  # exact endpoints
    want_g = np.round(g16.astype(np.float64) * 255.0 / maxval).astype(
        np.uint8
    )

    p5 = b"P5\n7 5\n%d\n" % maxval + g16.tobytes()
    got5 = M._decode_pnm(p5)
    assert np.array_equal(got5[..., 0], want_g)
    assert got5[0, 0, 0] == 0 and got5[0, 1, 0] == 255

    p2 = (b"P2\n7 5\n%d\n" % maxval
          + " ".join(str(int(v)) for v in g16.ravel()).encode())
    assert np.array_equal(M._decode_pnm(p2), got5)

    c16 = rng.randint(0, maxval + 1, size=(4, 3, 3)).astype(">u2")
    want_c = np.round(c16.astype(np.float64) * 255.0 / maxval).astype(
        np.uint8
    )
    p6 = b"P6\n3 4\n%d\n" % maxval + c16.tobytes()
    assert np.array_equal(M._decode_ppm_p6(p6), want_c)
    p3 = (b"P3\n3 4\n%d\n" % maxval
          + " ".join(str(int(v)) for v in c16.ravel()).encode())
    assert np.array_equal(M._decode_pnm(p3), want_c)


def test_netpbm_16bit_rejects_out_of_range_and_allows_trailing_byte(spark):
    """Binary 16-bit rasters validate sample range like the ASCII path
    (no silent mod-256 wrap), and a trailing odd byte (writer newline)
    does not reject an otherwise complete image."""
    import numpy as np
    import pytest

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    maxval = 300
    good = np.full((2, 3), 250, dtype=">u2")
    p5 = b"P5\n3 2\n%d\n" % maxval + good.tobytes()
    assert M._decode_pnm(p5 + b"\n").shape == (2, 3, 3)  # trailing byte ok

    bad = good.copy()
    bad[0, 0] = 65535  # > maxval: corrupt / full-range writer
    p5_bad = b"P5\n3 2\n%d\n" % maxval + bad.tobytes()
    with pytest.raises(ValueError, match="out of range"):
        M._decode_pnm(p5_bad)
    rgb_bad = np.full((1, 2, 3), 400, dtype=">u2")
    rgb_bad[0, 0, 0] = 60000
    p6_bad = b"P6\n2 1\n500\n" + rgb_bad.tobytes()
    with pytest.raises(ValueError, match="out of range"):
        M._decode_ppm_p6(p6_bad)


def test_bmp_truncated_palette_raises_diagnostic(spark):
    import numpy as np
    import pytest

    from mapreduce_stockheadlines_spark.operators import multimodal as M

    idx = np.zeros((2, 2), dtype=np.uint8)
    palette = np.zeros((4, 3), dtype=np.uint8)
    blob = _bmp8_bytes(idx, palette)
    cut = blob[: 14 + 40 + 7]  # mid-palette
    with pytest.raises(ValueError, match="palette"):
        M._decode_bmp(cut)
