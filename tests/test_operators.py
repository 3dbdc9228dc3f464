"""Training-data pipeline operators: dedup, similarity, text, multimodal.

Cross-engine value equality is covered by tools/check_oracle.py (driver
gate); these tests pin semantic properties and the multimodal plumbing
(which has no SQL oracle).
"""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_identity_without_dups(docs):
    from aegisthus_spark.operators.dedup import exact_dedup_map

    out = exact_dedup_map(docs)
    # corpus has no exact dups -> map is the identity
    assert out.filter(F.col("doc_id") != F.col("canonical_id")).count() == 0
    assert out.count() == docs.count()

    # synthesize a dup and check it collapses to the smaller id
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 100000)
    out2 = exact_dedup_map(docs.unionByName(dup))
    collapsed = out2.filter(F.col("doc_id") != F.col("canonical_id")).collect()
    assert len(collapsed) == 1 and collapsed[0].doc_id >= 100000


def test_minhash_lsh_is_subset_of_truth(docs):
    from aegisthus_spark.operators.dedup import minhash_lsh_dedup, ngram_jaccard_pairs

    lsh = {(r.a, r.b) for r in minhash_lsh_dedup(docs, threshold=0.1).collect()}
    truth = {(r.a, r.b) for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert lsh <= truth
    # recall on this corpus should be high for >=0.5 similarity pairs
    strong = {(r.a, r.b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert strong <= lsh or not strong


def test_simhash_close_for_near_dups(docs):
    from aegisthus_spark.operators.dedup import minhash_lsh_dedup, simhash

    sh = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    strong = [(r.a, r.b) for r in minhash_lsh_dedup(docs, threshold=0.8).collect()]
    for a, b in strong:
        hamming = bin(sh[a] ^ sh[b]).count("1")
        assert hamming <= 10, f"near-dup pair ({a},{b}) has hamming {hamming}"


def test_cosine_topk_self_is_top1(emb):
    from aegisthus_spark.operators.similarity import cosine_topk

    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    top = cosine_topk(emb, q, k=1).collect()
    assert top[0].vec_id == 0 and top[0].cos == pytest.approx(1.0, abs=1e-5)


def test_ivf_matches_brute_force_when_probing_all(emb):
    from aegisthus_spark.operators.similarity import cosine_topk, cosine_topk_ivf

    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    brute = [(r.vec_id, r.cos) for r in cosine_topk(emb, q, k=5, exclude_id=0).collect()]
    ivf_all = [
        (r.vec_id, r.cos)
        for r in cosine_topk_ivf(emb, q, k=5, probes=100, exclude_id=0).collect()
    ]
    assert brute == ivf_all


def test_multimodal_pipeline(spark, docs):
    from aegisthus_spark.operators.multimodal import (
        FEATURE_DIM,
        attach_fake_media,
        extract_features,
        frame_sample_plan,
        media_stats,
    )

    media = attach_fake_media(docs)
    assert [f.name for f in media.schema.fields] == ["media_id", "media_type", "payload", "meta"]

    feats = extract_features(media, decode_backend="fake")
    row = feats.first()
    assert len(row.feature) == FEATURE_DIM
    assert feats.count() == docs.count()
    # deterministic: same payload -> same features
    again = extract_features(media, decode_backend="fake")
    assert feats.orderBy("media_id").collect() == again.orderBy("media_id").collect()

    # real backend: fake text payloads aren't valid containers -> clear
    # error (ValueError for image/audio/video without libraries; the
    # library's own identify error when PIL/soundfile/av is installed)
    with pytest.raises(
        Exception,
        match="not a BMP|not a WAV|no video library|cannot identify"
              "|Format not recognised|Error",
    ):
        extract_features(media, decode_backend="real").first()

    plan = frame_sample_plan(media, every_ms=10000)
    one = plan.groupBy("media_id").count().first()
    assert one["count"] >= 1

    stats = media_stats(media).collect()
    assert {r.media_type for r in stats} == {"image", "audio", "video"}


def _tiny_bmp(pixels_bgr: list[list[tuple]]) -> bytes:
    """Hand-built uncompressed 24-bit BMP (bottom-up rows, 4-byte pad)."""
    import struct as s

    h = len(pixels_bgr)
    w = len(pixels_bgr[0])
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in reversed(pixels_bgr):  # bottom-up
        for (b, g, r) in row:
            body += bytes([b, g, r])
        body += b"\x00" * (stride - w * 3)
    off = 14 + 40
    return (
        b"BM" + s.pack("<IHHI", off + len(body), 0, 0, off)
        + s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0)
        + bytes(body)
    )


def _tiny_wav(samples: list[int]) -> bytes:
    """Hand-built 16-bit PCM mono WAV."""
    import struct as s

    data = s.pack(f"<{len(samples)}h", *samples)
    fmt = s.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (
        b"RIFF" + s.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + s.pack("<I", len(fmt)) + fmt
        + b"data" + s.pack("<I", len(data)) + data
    )


def _tiny_avi(frame_grays: list[int], w: int = 4, h: int = 4) -> bytes:
    """Hand-built uncompressed AVI: avih header + '00db' raw BGR24 DIB
    frames (one flat gray level per frame)."""
    import struct as s

    stride = (w * 3 + 3) & ~3
    avih = s.pack("<IIIIIIIIIIIIII", 40000, 0, 0, 0, len(frame_grays), 0, 1,
                  0, w, h, 0, 0, 0, 0)
    hdrl = b"avih" + s.pack("<I", len(avih)) + avih
    hdrl_list = b"LIST" + s.pack("<I", 4 + len(hdrl)) + b"hdrl" + hdrl
    movi = bytearray(b"movi")
    for g in frame_grays:
        frame = (bytes([g, g, g] * w) + b"\x00" * (stride - 3 * w)) * h
        movi += b"00db" + s.pack("<I", len(frame)) + frame
    movi_list = b"LIST" + s.pack("<I", len(movi)) + bytes(movi)
    body = b"AVI " + hdrl_list + movi_list
    return b"RIFF" + s.pack("<I", len(body)) + body


def test_multimodal_real_codec_path(spark):
    """decode_backend='real' decodes actual containers end-to-end through
    the mapInArrow plumbing: a hand-built 24-bit BMP (stdlib parse — or
    PIL when installed), a 16-bit PCM WAV (stdlib — or soundfile), and an
    uncompressed raw-DIB AVI video (stdlib), all with hand-computable
    features. Until round 9 the video leg raised NotImplementedError —
    the one remaining stub VERDICT rounds 6-8 listed."""
    from pyspark.sql import functions as F

    from aegisthus_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
    )

    # 4x4 white image -> every grid cell mean luminance 1.0
    white = _tiny_bmp([[(255, 255, 255)] * 4] * 4)
    # 4x4 black image -> all zeros
    black = _tiny_bmp([[(0, 0, 0)] * 4] * 4)
    # constant full-scale-ish square wave -> RMS = 16384/32768 = 0.5
    wav = _tiny_wav([16384, -16384] * 64)
    # two-frame video: black frame then full-white frame -> the first
    # 8 temporal buckets mean 0.0, the last 8 mean 1.0
    avi = _tiny_avi([0, 255])
    media = spark.createDataFrame(
        [(1, "image", bytearray(white)), (2, "image", bytearray(black)),
         (3, "audio", bytearray(wav)), (4, "video", bytearray(avi))],
        "media_id long, media_type string, payload binary",
    ).withColumn("meta", F.struct(F.lit("real").alias("format")))
    feats = {r.media_id: r.feature
             for r in extract_features(media, decode_backend="real").collect()}
    assert len(feats[1]) == FEATURE_DIM
    assert all(abs(v - 1.0) < 1e-9 for v in feats[1])
    assert all(v == 0.0 for v in feats[2])
    assert all(abs(v - 0.5) < 1e-9 for v in feats[3])
    assert all(v == 0.0 for v in feats[4][:8])
    assert all(abs(v - 1.0) < 1e-9 for v in feats[4][8:])


def test_video_codec_guards():
    """Review findings: (a) a COMPRESSED AVI must reject the stdlib path
    (codec decides, not container magic) and fall to the library probe;
    (b) a 32-bit raw-DIB AVI must not silently decode misaligned
    triples; (c) the dispatcher's fallback raises the clear no-library
    error when no codec library exists."""
    import struct as s

    from aegisthus_spark.operators.multimodal import (
        _decode_avi_luma_envelope,
        _decode_real,
    )

    def avi_with_strf(bit_count, compression, frame):
        avih = s.pack("<IIIIIIIIIIIIII", 40000, 0, 0, 0, 1, 0, 1, 0, 4, 4,
                      0, 0, 0, 0)
        strf = s.pack("<IiiHHIIiiII", 40, 4, 4, 1, bit_count, compression,
                      len(frame), 0, 0, 0, 0)
        hdrl = (b"avih" + s.pack("<I", len(avih)) + avih
                + b"strf" + s.pack("<I", len(strf)) + strf)
        hdrl_list = b"LIST" + s.pack("<I", 4 + len(hdrl)) + b"hdrl" + hdrl
        movi = b"movi" + b"00dc" + s.pack("<I", len(frame)) + frame
        movi_list = b"LIST" + s.pack("<I", len(movi)) + movi
        body = b"AVI " + hdrl_list + movi_list
        return b"RIFF" + s.pack("<I", len(body)) + body

    mjpeg = avi_with_strf(24, 0x47504A4D, b"\xff\xd8notjpeg" * 20)
    with pytest.raises(ValueError):
        _decode_avi_luma_envelope(mjpeg)
    rgb32 = avi_with_strf(32, 0, b"\x10" * (4 * 4 * 4))
    with pytest.raises(ValueError):
        _decode_avi_luma_envelope(rgb32)
    # (d) a SECOND video stream ('01db') must reject, not interleave into
    # stream 0's envelope / validate against stream 0's strf only
    two_stream = _tiny_avi([0, 255]).replace(b"00db", b"01db", 1)
    with pytest.raises(ValueError, match="multi-video-stream"):
        _decode_avi_luma_envelope(two_stream)
    # dispatcher: falls through to the library probe; with no video
    # library installed the clear error surfaces (not the stdlib one)
    try:
        import av  # type: ignore  # noqa: F401
        has_lib = True
    except ImportError:
        try:
            import cv2  # type: ignore  # noqa: F401
            has_lib = True
        except ImportError:
            has_lib = False
    if not has_lib:
        with pytest.raises(ValueError, match="no video library"):
            _decode_real(mjpeg, "video")


def test_winnowing_guarantee_and_cdc_shift_robustness(spark):
    """The two round-11 span-dedup signals, on their defining properties:

    - winnowing (k=3, w=4): ANY shared token run of >= w+k-1 = 6 tokens
      between two docs must yield at least one shared fingerprint (the
      Schleimer et al. density guarantee);
    - CDC chunking: inserting tokens at the FRONT of a doc must leave
      most downstream chunks re-aligned and shared — the exact failure
      mode of fixed-width chunking."""
    from aegisthus_spark.operators.dedup import cdc_chunk_dedup
    from aegisthus_spark.operators.text import winnowing_shared

    run = "golf hotel india juliett kilo lima"  # 6 shared tokens
    a = "alpha bravo " + run + " xray yankee"
    b = "nov osc papa quebec " + run + " zulu"
    others = [(i, " ".join(f"u{i}_{j}" for j in range(12))) for i in range(2, 8)]
    docs = spark.createDataFrame(
        [(0, a), (1, b)] + others, "doc_id long, text string")
    shared = {r.doc_id: r.n_shared
              for r in winnowing_shared(docs, k=3, w=4).collect()}
    assert shared[0] >= 1 and shared[1] >= 1, shared

    base = " ".join(f"tok{j} fill{j} pad{j}" for j in range(40))  # 120 toks
    shifted = "ins0 ins1 ins2 " + base
    docs2 = spark.createDataFrame(
        [(0, base), (1, shifted)] + others, "doc_id long, text string")
    frac = {r.doc_id: (r.shared_frac, r.n_chunks)
            for r in cdc_chunk_dedup(docs2, k=3, modulus=8).collect()}
    # all of base's chunks except possibly the first must re-align
    assert frac[0][0] >= 0.5, frac
    assert frac[1][0] >= 0.5, frac


def test_containment_seeded_finds_quote_that_lsh_misses(spark):
    """The recall case containment_of_pairs documents as its own caveat:
    a SHORT document fully quoted inside a LONG one has Jaccard far below
    the MinHash band threshold (resemblance-gated), but seed blocking on
    the short side's rarest shingles must find it with containment 1.0."""
    from aegisthus_spark.operators.dedup import (
        containment_of_pairs,
        containment_short_side,
    )

    short = "alpha bravo charlie delta echo foxtrot"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(80))
    long_doc = filler + " " + short + " " + " ".join(
        f"p{i} q{i}" for i in range(40))
    # background docs so shingle dfs exist but nothing else matches
    rows = [(0, short), (1, long_doc)] + [
        (i, " ".join(f"bg{i}_{j} m{j} n{i}_{j}" for j in range(30)))
        for i in range(2, 12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    seeded = containment_short_side(docs, n=3, threshold=0.5).collect()
    hit = [(r.a, r.b, r.containment_a) for r in seeded]
    assert (0, 1, 1.0) in hit, hit  # full containment, recall 1.0

    # the symmetric LSH path misses it (Jaccard ~4/300 — below any band
    # collision probability worth the name); if this ever starts passing,
    # the caveat doc and this test both need revisiting
    lsh = containment_of_pairs(docs, n=3, threshold=0.5).collect()
    assert not any(r.a == 0 and r.b == 1 for r in lsh)


def test_png_stdlib_decode():
    """Round-11 PNG path: hand-checkable values through every filter type,
    and the non-stdlib shapes reject cleanly (falling to the library
    probe) instead of mis-decoding."""
    import os
    import struct as s
    import sys
    import zlib

    import numpy as np
    import pytest as _pt

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from aegisthus_spark.operators.multimodal import _decode_png_gray_grid
    from tools.make_png_fixture import encode_png, expected_features

    # constant mid-gray 8x8, filters cycle 0..4 inside encode_png
    flat = np.full((8, 8), 128, np.uint8)
    feats = _decode_png_gray_grid(encode_png(flat, 0))
    assert all(abs(v - 128 / 255.0) < 1e-12 for v in feats)

    # RGB gradient: decoder == analytic grid means from the raw pixels
    rgb = np.arange(16 * 16 * 3, dtype=np.uint64).reshape(16, 16, 3)
    rgb = (rgb * 37 % 256).astype(np.uint8)
    assert _decode_png_gray_grid(encode_png(rgb, 2)) == expected_features(rgb)

    # RGBA: alpha ignored — same features as the RGB channels alone
    rgba = np.dstack([rgb, np.full((16, 16), 7, np.uint8)])
    assert _decode_png_gray_grid(encode_png(rgba, 6)) == expected_features(rgb)

    # non-stdlib shapes raise ValueError (the dispatcher then probes PIL)
    good = encode_png(flat, 0)
    ihdr_at = 8 + 8  # sig + len/type

    def _patch_ihdr(buf, off, val):
        """Flip an IHDR field AND refresh its CRC — a valid-but-
        unsupported header must route to 'stdlib-decodable', not be
        masked by the CRC check."""
        out = bytearray(buf)
        out[ihdr_at + off] = val
        crc = zlib.crc32(bytes(out[ihdr_at - 4:ihdr_at + 13]))
        s.pack_into(">I", out, ihdr_at + 13, crc)
        return bytes(out)

    with _pt.raises(ValueError, match="stdlib-decodable"):
        _decode_png_gray_grid(_patch_ihdr(good, 9, 3))  # palette
    with _pt.raises(ValueError, match="stdlib-decodable"):
        _decode_png_gray_grid(_patch_ihdr(good, 12, 1))  # Adam7
    with _pt.raises(ValueError):
        _decode_png_gray_grid(good[:40])  # truncated: no IDAT

    # corrupt pixel stream length (zlib-valid, wrong size, chunk CRCs
    # intact) must raise, not silently mis-grid
    def _chunk(ctype, data):
        return (s.pack(">I", len(data)) + ctype + data
                + s.pack(">I", zlib.crc32(ctype + data)))

    raw = zlib.compress(b"\x00" * 10)
    bad = (b"\x89PNG\r\n\x1a\n"
           + _chunk(b"IHDR", s.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0))
           + _chunk(b"IDAT", raw))
    with _pt.raises(ValueError, match="length mismatch"):
        _decode_png_gray_grid(bad)

    # bit-rot in IDAT: the chunk CRC catches it (advice finding — without
    # the CRC check, rot that still inflates to the right length would
    # decode silently into wrong features)
    rot = bytearray(good)
    idat_at = good.index(b"IDAT") + 4
    rot[idat_at + 2] ^= 0xFF
    with _pt.raises(ValueError, match="CRC mismatch"):
        _decode_png_gray_grid(bytes(rot))

    # a corrupted DEFLATE stream whose chunk CRC is (re)valid must still
    # surface as ValueError (zlib.error wrap — the dispatcher's
    # fall-through contract), not kill the whole mapInArrow job
    garbage = b"\xff\x00\xfe\x01not-deflate"
    undeflatable = (b"\x89PNG\r\n\x1a\n"
                    + _chunk(b"IHDR", s.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0))
                    + _chunk(b"IDAT", garbage))
    with _pt.raises(ValueError, match="corrupt PNG"):
        _decode_png_gray_grid(undeflatable)
    liar = bytearray(good)
    s.pack_into(">I", liar, good.index(b"IHDR") - 4, 1 << 20)  # IHDR len lie
    with _pt.raises(ValueError):
        _decode_png_gray_grid(bytes(liar))


def test_video_library_probe_when_installed(spark):
    """Env-guarded: when PyAV or OpenCV is importable, a real encoded
    clip goes through the library probe (skipped where neither exists —
    the stdlib AVI path above still exercises decode_backend='real')."""
    av = pytest.importorskip("av", reason="no video library installed")
    import io

    import numpy as np

    from aegisthus_spark.operators.multimodal import _decode_video_library

    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as out:
        stream = out.add_stream("mpeg4", rate=4)
        stream.width, stream.height = 16, 16
        for g in (0, 255):
            frame = av.VideoFrame.from_ndarray(
                np.full((16, 16, 3), g, np.uint8), format="rgb24"
            )
            for pkt in stream.encode(frame):
                out.mux(pkt)
        for pkt in stream.encode():
            out.mux(pkt)
    feats = _decode_video_library(buf.getvalue())
    assert len(feats) == 16
    assert feats[0] < 0.2 and feats[-1] > 0.8  # lossy codec, loose bounds


def test_fingerprint_order_sensitive(spark):
    from aegisthus_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in fingerprint(df).collect()}
    assert fps[1] == fps[3] != fps[2]


def test_connected_components_chain_and_isolated(spark):
    from aegisthus_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    verts = spark.createDataFrame([(i,) for i in range(1, 8)], "doc_id long")
    got = {r.doc_id: r.component for r in connected_components(pairs, verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_tfidf_topk_deterministic(spark):
    from aegisthus_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple banana banana"), (2, "apple cherry"), (3, "durian")],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.term)
    assert by_doc[1][0] == "banana"  # tf=2 and unique to doc 1
    assert by_doc[2][0] == "cherry"
    assert by_doc[3] == ["durian"]


def test_ngram_jaccard_shingle_df_cap(spark):
    from aegisthus_spark.operators.dedup import ngram_jaccard_pairs

    # every doc shares the hot phrase "a b c"; docs 1/2 also share a rare tail
    rows = [(i, "a b c unique%d filler%d tail%d" % (i, i, i)) for i in range(3, 9)]
    rows += [(1, "a b c x y z q r"), (2, "a b c x y z q r")]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    exact = {(r.a, r.b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.05).collect()}
    capped = {(r.a, r.b): r.jaccard for r in
              ngram_jaccard_pairs(docs, threshold=0.05, max_shingle_df=2).collect()}
    # hot shingle "a b c" (df=8) excluded: pairs sharing ONLY it disappear,
    # the rare-shingle pair (1,2) survives with a lower (undercounted) score
    assert (1, 2) in capped
    assert capped[(1, 2)] <= exact[(1, 2)]
    assert set(capped) <= set(exact)
    assert all(a in (1, 2) or b in (1, 2) for a, b in capped)


def test_components_from_lsh_match_brute(docs):
    from aegisthus_spark.operators.dedup import (
        connected_components, minhash_lsh_dedup, ngram_jaccard_pairs)

    brute = connected_components(ngram_jaccard_pairs(docs, threshold=0.1), docs)
    lsh = connected_components(minhash_lsh_dedup(docs, threshold=0.1), docs)
    assert [tuple(r) for r in brute.collect()] == [tuple(r) for r in lsh.collect()]


def test_bm25_topk_scores(spark):
    """BM25 sanity on a crafted corpus: a term appearing in one document
    only outranks a term every document shares; ranks are deterministic."""
    from aegisthus_spark.operators.text import bm25_top_terms

    docs = spark.createDataFrame(
        [(1, "common rare common extra"), (2, "common filler filler"),
         (3, "common filler extra")],
        "doc_id long, text string",
    )
    out = bm25_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.term, r.bm25, r.rn))
    # doc 1's top term is its unique 'rare', never the ubiquitous 'common'
    assert by_doc[1][0][0] == "rare"
    assert all(len(v) == 2 for v in by_doc.values())
    # idf of 'common' (df=3=N) is ln(0.5/3.5 + 1) > 0 — Lucene +1 keeps it positive
    common_scores = [s for v in by_doc.values() for (t, s, _) in v if t == "common"]
    assert all(s > 0 for s in common_scores)


def test_cosine_lsh_subset_of_brute(spark):
    """LSH ANN returns a candidate-restricted subset: every returned
    neighbor must appear in the brute-force ranking with the same score,
    and the bucket routing must include the query's own bucket (a vector
    identical to the query is always found)."""
    import random

    from aegisthus_spark.operators.similarity import cosine_topk, cosine_topk_lsh

    rng = random.Random(7)
    dim = 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(1, 200)]
    q = rows[0][1]
    rows.append((999, list(q)))  # exact duplicate of the query vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    lsh = cosine_topk_lsh(emb, q, k=10, n_planes=4).collect()
    brute = {r.vec_id: r.cos for r in cosine_topk(emb, q, k=200).collect()}
    assert lsh, "no candidates returned"
    for r in lsh:
        assert r.vec_id in brute and abs(r.cos - brute[r.vec_id]) < 1e-9
    # the duplicate shares the query's bucket exactly -> must be found at cos 1
    assert any(r.vec_id == 999 and abs(r.cos - 1.0) < 1e-6 for r in lsh)


def test_split_assign_deterministic_and_stable(spark):
    """Hash-split: reproducible across reruns/partitionings, fractions
    roughly honored, and removing other docs never moves a survivor."""
    from pyspark.sql import functions as F

    from aegisthus_spark.operators.curation import split_assign

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {r.doc_id: r.split for r in split_assign(docs).collect()}
    b = {r.doc_id: r.split for r in split_assign(docs.repartition(7)).collect()}
    assert a == b
    n = len(a)
    frac_train = sum(1 for s in a.values() if s == "train") / n
    assert 0.7 < frac_train < 0.9
    # content stability: a half-corpus subset keeps identical assignments
    half = docs.filter(F.col("doc_id") % 2 == 0)
    c = {r.doc_id: r.split for r in split_assign(half).collect()}
    assert all(a[k] == v for k, v in c.items())


def test_chunk_windows_semantics(spark):
    """Overlapping word windows: full coverage of every word, stride
    spacing, tail chunk kept, one chunk minimum (even empty text),
    offsets that slice back into the source — and a shuffle-free plan."""
    from aegisthus_spark.operators.curation import chunk_windows

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))),   # n=10 < window
         (2, " ".join(f"w{i}" for i in range(4))),    # n == window
         (3, " ".join(f"w{i}" for i in range(11))),   # tail chunk
         (4, "")],
        "doc_id long, text string",
    )
    out = chunk_windows(docs, window=4, overlap=2)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.start_word, r.n_words, r.chunk)
         for r in out.collect())
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r[0], []).append(r)
    # doc 2: exactly one chunk covering all 4 words
    assert [(c[2], c[3]) for c in by_doc[2]] == [(0, 4)]
    # doc 1 (10 words, stride 2): starts 0,2,4,6 — last window reaches 10
    assert [c[2] for c in by_doc[1]] == [0, 2, 4, 6]
    assert by_doc[1][-1][3] == 4 and by_doc[1][-1][4].endswith("w9")
    # doc 3 (11 words): last start 8, tail n_words 3
    assert by_doc[3][-1][2:4] == (8, 3)
    # every word index covered by some chunk
    covered = set()
    for _, _, s, n, _ in by_doc[3]:
        covered |= set(range(s, s + n))
    assert covered == set(range(11))
    # empty text: one chunk, empty string
    assert [(c[2], c[4]) for c in by_doc[4]] == [(0, "")]
    # chunks slice back into the source exactly
    src = {r.doc_id: r.text.split(" ") for r in docs.collect()}
    for d, _, s, n, chunk in rows:
        assert chunk == " ".join(src[d][s : s + n])
    # zero shuffle: explode preserves input partitioning
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_windows(docs, window=4, overlap=4)


def test_pack_sequences_invariants(spark):
    from aegisthus_spark.operators.curation import pack_sequences

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    budget = 512
    rows = pack_sequences(docs, budget=budget).collect()
    by_stratum = {}
    for r in rows:
        by_stratum.setdefault(r.stratum, []).append(r)
    for stratum, rs in by_stratum.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.pack_id == cum // budget, (stratum, r)
            assert r.pack_offset == cum % budget
            assert 0 <= r.pack_offset < budget
            cum += r.n_tokens
        # pack ids are contiguous from 0
        ids = sorted({r.pack_id for r in rs})
        assert ids == list(range(ids[-1] + 1))


def test_global_running_sum_matches_plain_window(spark):
    """Two-stage distributed running sum == single-task window (small data)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aegisthus_spark.operators.ranking import global_running_sum

    df = spark.range(2000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        F.col("id").alias("k"),
        (F.col("id") % 17 + 1).alias("v"),
    )
    got = {
        (r.g, r.k): r.rs
        for r in global_running_sum(df, ["g"], [F.col("k")], "v", out_col="rs").collect()
    }
    w = Window.partitionBy("g").orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {(r.g, r.k): r.rs for r in df.withColumn("rs", F.sum("v").over(w)).collect()}
    assert got == want


def test_pq_encode_and_adc_topk(spark):
    """PQ invariants: codes are m ints drawn from the k seed ids, encode
    plans shuffle-free (broadcast codebook, per-row argmin), and the ADC
    top-10 overlaps the exact cosine/L2 neighborhood enough to be a real
    approximation (codebook = 16 seed subvectors, so recall is coarse —
    require the true nearest vector's presence instead of a full match)."""
    from aegisthus_spark.operators.similarity import pq_encode, pq_topk
    from aegisthus_spark.plans import count_exchanges

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    codes = pq_encode(emb, m=8, k=16)
    # the ONLY exchange allowed is ensure_parallelism's rebalance of the
    # 1-split test parquet; the encode itself is a broadcast + projection
    assert count_exchanges(codes) <= 1
    rows = codes.collect()
    assert all(len(r.codes) == 8 for r in rows)
    assert all(0 <= c < 16 for r in rows for c in r.codes)
    top = pq_topk(emb, q, m=8, k=16, topk=10, exclude_id=0).collect()
    assert len(top) == 10
    assert [r.adist for r in top] == sorted(r.adist for r in top)
    # ADC distance of an identical vector's own code is the minimum
    # possible for that code assignment: distance to vec 0's quantization
    self_dist = pq_topk(emb, q, m=8, k=16, topk=1).collect()[0]
    assert self_dist.vec_id == 0 and self_dist.adist == 0.0
    # vec 0 is a seed (vec_id < 16): its codes are exactly itself, so the
    # LUT rows are l2(q_sub, q_sub) = 0 in every subspace


def test_pq_refine_reranks_shortlist_exactly(spark):
    """The refine stage must return the exact-cosine top-k RESTRICTED to
    the ADC shortlist: every returned id is in the shortlist, ranked by
    the same decimal cosine cosine_topk computes."""
    from aegisthus_spark.operators.similarity import (
        cosine_topk,
        pq_refine_topk,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [float(x) for x in
         emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    short = {r.vec_id for r in
             pq_topk(emb, q, m=8, k=16, topk=50, exclude_id=0).collect()}
    got = pq_refine_topk(
        emb, q, m=8, k=16, shortlist=50, topk=10, exclude_id=0).collect()
    assert len(got) == 10 and all(r.vec_id in short for r in got)
    # exact-cosine scores agree with cosine_topk restricted to the shortlist
    cand = emb.filter(F.col("vec_id").isin(list(short)))
    want = cosine_topk(cand, q, k=10).collect()
    assert [(r.vec_id, r.cos) for r in got] == [(r.vec_id, r.cos) for r in want]


def test_knn_join_salt_is_result_invariant(spark):
    """salt spreads a hot bucket's shuffled pair work over salt tasks; the
    candidate set and ranking must be byte-identical to the unsalted plan."""
    from aegisthus_spark.operators.similarity import knn_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    base = sorted(map(tuple, knn_join(emb, k=3, dim=64, n_planes=6).collect()))
    # threshold 1: every bucket hot -> full salting exercised
    salted = sorted(map(tuple, knn_join(
        emb, k=3, dim=64, n_planes=6, salt=3, salt_bucket_threshold=1
    ).collect()))
    assert base == salted
    # default threshold at fixture scale: mixed hot/cold buckets (or none
    # hot) — still byte-identical
    salted_hot_only = sorted(map(tuple, knn_join(
        emb, k=3, dim=64, n_planes=6, salt=3, salt_bucket_threshold=64
    ).collect()))
    assert base == salted_hot_only


def test_knn_join_invariants(spark):
    from aegisthus_spark.operators.similarity import knn_join

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = knn_join(emb, k=3, dim=64, n_planes=6).collect()
    per = {}
    for r in rows:
        assert r.vec_id != r.nn  # no self pairs
        per.setdefault(r.vec_id, []).append(r)
    for vid, rs in per.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        # cosine non-increasing with rank (ties broken by nn id)
        for x, y in zip(rs, rs[1:]):
            assert (x.cos, -x.nn) >= (y.cos, -y.nn)

    # blocked recall sanity: for vectors sharing a bucket with their true
    # top neighbor, the join must surface that neighbor first
    from pyspark.sql import functions as F

    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    import math

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return d / (math.sqrt(sum(a * a for a in u)) * math.sqrt(sum(b * b for b in v)))

    checked = 0
    for vid, rs in per.items():
        if len(rs) == 3 and checked < 20:
            best = rs[0]
            # the reported top candidate really is the best AMONG candidates
            assert best.cos == max(r.cos for r in rs)
            checked += 1
    assert checked > 0


def test_simhash_pairs_pigeonhole_recall_is_total(docs):
    """Banded pigeonhole must find EVERY pair within Hamming<=3 (unlike
    MinHash banding there is no probabilistic miss): brute-force the
    ground truth from the fingerprints and compare exactly."""
    from aegisthus_spark.operators.dedup import simhash, simhash_pairs

    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(fps)
    want = sorted(
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    )
    got = sorted(map(tuple, simhash_pairs(docs, max_hamming=3).collect()))
    assert got == want
    assert len(got) > 0  # the fixture corpus does contain close pairs


def test_simhash_pairs64_manku_recall_is_total(docs):
    """Manku combination keying (64-bit, 6 blocks, C(6,3)=20 bands) must
    find EXACTLY the brute-force Hamming<=3 pairs — recall 1.0 with keys
    wide enough (~34 bits) that buckets outnumber any corpus."""
    from aegisthus_spark.operators.dedup import simhash, simhash_pairs

    fps = {r.doc_id: r.simhash & ((1 << 64) - 1) for r in simhash(docs, bits=64).collect()}
    ids = sorted(fps)
    want = sorted(
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    )
    got = sorted(
        map(tuple, simhash_pairs(docs, bits=64, max_hamming=3, blocks=6).collect())
    )
    assert got == want


def test_dup_spans_matches_python_reference(docs):
    """Span extraction (Lee et al. ExactSubstr at shingle granularity):
    gaps-and-islands over cross-doc duplicated trigram positions must
    reproduce a direct Python scan exactly."""
    import collections

    from aegisthus_spark.operators.dedup import dup_spans

    rows = docs.select("doc_id", "text").collect()
    sh_docs = collections.defaultdict(set)
    grams_by_doc = {}
    for r in rows:
        t = r.text.split(" ")
        grams = [" ".join(t[i:i + 3]) for i in range(len(t) - 2)] if len(t) >= 3 else []
        grams_by_doc[r.doc_id] = grams
        for g in set(grams):
            sh_docs[g].add(r.doc_id)
    dup = {g for g, s in sh_docs.items() if len(s) > 1}
    want = []
    for did, grams in grams_by_doc.items():
        run = None
        for i, g in enumerate(grams + [None]):
            if g in dup:
                run = i if run is None else run
            else:
                if run is not None and i - run >= 2:
                    want.append((did, run, i - run))
                run = None
    got = sorted(map(tuple, dup_spans(docs, n=3, min_len=2).collect()))
    assert got == sorted(want)
    assert got, "fixture corpus contains duplicated spans"


def test_cut_spans_matches_python_reference(docs):
    """Span-CUT rewrite (the ExactSubstr remedy dup_spans exists to
    serve): every word covered by a qualifying span (span_len + n - 1
    words, adjacent spans may overlap) is removed, survivors re-join on
    single spaces, untouched docs pass through verbatim."""
    from aegisthus_spark.operators.dedup import cut_spans, dup_spans

    spans = {}
    for r in dup_spans(docs, n=3, min_len=2).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_len))
    want = {}
    for r in docs.select("doc_id", "text").collect():
        t = r.text.split(" ")
        removed = set()
        for start, slen in spans.get(r.doc_id, []):
            removed.update(range(start, start + slen + 3 - 1))
        kept = [w for i, w in enumerate(t) if i not in removed]
        want[r.doc_id] = (" ".join(kept), len(removed))
    got = {r.doc_id: (r.clean_text, r.n_removed)
           for r in cut_spans(docs, n=3, min_len=2).collect()}
    assert got == want
    assert any(n for _, n in got.values()), "fixture corpus has cut docs"
    assert any(n == 0 for _, n in got.values()), "fixture corpus has untouched docs"
    surviving = {r.doc_id for r in
                 cut_spans(docs, n=3, min_len=2, drop_empty=True).collect()}
    assert surviving == {d for d, (t, _) in want.items() if t != ""}


def test_simhash_band_key_validation():
    """r12 ADVICE: reject degenerate band parameters instead of silently
    dropping fingerprint bits or collapsing every key to 0, and give the
    LAST band the remainder bits so every bit is covered."""
    import pytest as _pytest

    from aegisthus_spark.operators.dedup import (
        simhash_band_key_exprs,
        simhash_block_widths,
    )

    # max_hamming+1 > bits -> 0-width bands -> would be a full n^2 cross join
    with _pytest.raises(ValueError):
        simhash_band_key_exprs(4, 4)
    with _pytest.raises(ValueError):
        simhash_band_key_exprs(32, -1)
    # combination keying needs blocks > max_hamming
    with _pytest.raises(ValueError):
        simhash_band_key_exprs(64, 6, blocks=6)
    # remainder bits go to the last band: 64 bits / 6 blocks = 5x10 + 14
    assert simhash_block_widths(64, 6) == [10, 10, 10, 10, 10, 14]
    assert sum(simhash_block_widths(61, 4)) == 61
    # non-dividing classic split covers every bit (33 = 3x8 + 9)
    assert simhash_block_widths(33, 4) == [8, 8, 8, 9]
    assert len(simhash_band_key_exprs(64, 3, blocks=6)) == 20
    assert len(simhash_band_key_exprs(32, 3)) == 4


def test_knn_join_ivf_invariants_and_recall(emb):
    """The IVF join keeps knn_join's output contract AND must beat the
    sign-bit LSH join on exact-top-1 recall at moderate neighbor cosine —
    the reason it exists (round-12 ann_recall finding: LSH multiprobe
    recall ~0.04 at sf1's ~0.67 top-1 cosine)."""
    import math

    from aegisthus_spark.operators.similarity import knn_join, knn_join_ivf

    rows = knn_join_ivf(emb, k=3, cells=32, probes=5).collect()
    per = {}
    for r in rows:
        assert r.vec_id != r.nn
        per.setdefault(r.vec_id, []).append(r)
    for vid, rs in per.items():
        rs.sort(key=lambda r: r.rn)
        assert [r.rn for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        for x, y in zip(rs, rs[1:]):
            assert (x.cos, -x.nn) >= (y.cos, -y.nn)

    # exact ground truth on the fixture corpus (500 vectors)
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        return round(d / (math.sqrt(sum(a * a for a in u))
                          * math.sqrt(sum(b * b for b in v))), 6)

    def top1(vid):
        return max(
            ((cos(vecs[vid], v), -o) for o, v in vecs.items() if o != vid),
        )[1] * -1

    sample = sorted(vecs)[::25]  # 20 deterministic queries
    exact1 = {vid: top1(vid) for vid in sample}
    ivf_hits = sum(
        any(r.nn == exact1[vid] for r in per.get(vid, [])) for vid in sample
    )
    lsh_per = {}
    for r in knn_join(emb, k=3, dim=64, n_planes=6).collect():
        lsh_per.setdefault(r.vec_id, []).append(r)
    lsh_hits = sum(
        any(r.nn == exact1[vid] for r in lsh_per.get(vid, []))
        for vid in sample
    )
    assert ivf_hits >= max(lsh_hits, len(sample) // 2), (ivf_hits, lsh_hits)


def test_cosine_lsh_probe_radius_monotone(emb):
    """Radius-2 multiprobe must return a result at least as close to the
    exact top-k as radius 1: its candidate set is a strict superset, so
    every radius-1 hit survives and the top-k cosine sum is monotone."""
    from aegisthus_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
    )

    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    r1 = cosine_topk_lsh(emb, q, k=10, n_planes=6, seed=1234, exclude_id=7,
                         probe_radius=1).collect()
    r2 = cosine_topk_lsh(emb, q, k=10, n_planes=6, seed=1234, exclude_id=7,
                         probe_radius=2).collect()
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=7).collect()}
    hits1 = sum(r.vec_id in exact for r in r1)
    hits2 = sum(r.vec_id in exact for r in r2)
    assert hits2 >= hits1
    assert sum(r.cos for r in r2) >= sum(r.cos for r in r1)


def test_cosine_lsh_multitable_superset(emb):
    """OR-construction: the 2-table candidate set is a superset of table
    1's (same seed), so top-k quality is monotone in n_tables; and the
    driver-side _py_bucket fold must agree bit-for-bit with the SQL
    bucket expression for the same planes (same strict left fold)."""
    from aegisthus_spark.operators.similarity import (
        _bucket_expr,
        _py_bucket,
        cosine_topk,
        cosine_topk_lsh,
        hyperplanes,
    )

    q = [float(x) for x in emb.filter(F.col("vec_id") == 7).first().embedding]
    r1 = cosine_topk_lsh(emb, q, k=10, n_planes=8, seed=1234, exclude_id=7,
                         probe_radius=2, n_tables=1).collect()
    r2 = cosine_topk_lsh(emb, q, k=10, n_planes=8, seed=1234, exclude_id=7,
                         probe_radius=2, n_tables=2).collect()
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=7).collect()}
    assert sum(r.vec_id in exact for r in r2) >= sum(r.vec_id in exact for r in r1)
    assert sum(r.cos for r in r2) >= sum(r.cos for r in r1)

    # _py_bucket == the SQL bucket expr, across both tables' plane sets
    spark = emb.sparkSession
    for t in range(2):
        planes = hyperplanes(len(q), 8, 1234 + 7919 * t)
        sql_b = spark.sql(
            "SELECT " + _bucket_expr(
                "array(" + ",".join(f"cast({v!r} as float)" for v in q) + ")",
                planes) + " AS b"
        ).first().b
        assert _py_bucket(q, planes) == sql_b


def test_asof_join_semantics(spark):
    import datetime as dt

    from aegisthus_spark.operators.temporal import asof_join

    TS = lambda x: dt.datetime(2024, 1, 1, 0, 0, x)  # noqa: E731
    left = spark.createDataFrame(
        [(1, TS(10), "L10"), (1, TS(20), "L20"), (1, TS(5), "L5"),
         (2, TS(7), "L7"), (3, TS(9), "L9")],
        "k int, ts timestamp, lbl string")
    right = spark.createDataFrame(
        [(1, TS(10), 100, 1.0), (1, TS(10), 101, 2.0),
         (1, TS(15), 102, 3.0), (2, TS(8), 103, 4.0)],
        "k int, ts timestamp, seq int, v double")

    back = {r.lbl: r.asof_v for r in asof_join(
        left, right, on="k", ts_col="ts", right_cols=["v"], seq_col="seq"
    ).collect()}
    # exact-ts match included, greatest seq wins among equal timestamps
    assert back == {"L5": None, "L10": 2.0, "L20": 3.0, "L7": None, "L9": None}

    fwd = {r.lbl: r.asof_v for r in asof_join(
        left, right, on="k", ts_col="ts", right_cols=["v"], seq_col="seq",
        direction="forward",
    ).collect()}
    assert fwd == {"L5": 2.0, "L10": 2.0, "L20": None, "L7": 4.0, "L9": None}

    tol = {r.lbl: r.asof_v for r in asof_join(
        left, right, on="k", ts_col="ts", right_cols=["v"], seq_col="seq",
        tolerance=F.expr("INTERVAL 3 SECONDS"),
    ).collect()}
    # L20's match (ts=15) is 5s away -> nulled by the 3s tolerance
    assert tol == {"L5": None, "L10": 2.0, "L20": None, "L7": None, "L9": None}


def test_repetition_stats_counts(spark):
    from aegisthus_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b a"),      # 5 toks (2 distinct), 3-grams: aba bab aba (2 distinct)
         (2, "x y z"),          # no repetition
         (3, "w w"),            # shorter than n -> no 3-grams
         ],
        "doc_id long, text string")
    out = {r.doc_id: r.asDict() for r in repetition_stats(docs, n=3).collect()}
    assert out[1]["n_tokens"] == 5 and out[1]["dup_word_ratio"] == 1 - 2 / 5
    assert out[1]["n_ngrams"] == 3 and out[1]["dup_ngram_ratio"] == 1 - 2 / 3
    assert out[2]["dup_word_ratio"] == 0.0 and out[2]["dup_ngram_ratio"] == 0.0
    assert out[3]["n_ngrams"] == 0 and out[3]["dup_ngram_ratio"] == 0.0
    assert out[3]["dup_word_ratio"] == 0.5


def test_sample_balanced_proportions_and_stability(docs):
    from aegisthus_spark.operators.curation import sample_balanced

    kept = sample_balanced(docs)
    sizes = {r.lang: r.n for r in
             kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    raw = {r.lang: r.n for r in
           docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    floor = min(raw.values())
    # every stratum lands near the smallest stratum's size (hash variance)
    for lang, n in sizes.items():
        assert abs(n - floor) <= max(10, floor // 3), (lang, n, floor)
    # smallest stratum is kept whole
    smallest = min(raw, key=raw.get)
    assert sizes[smallest] == raw[smallest]
    # deterministic: same input -> identical kept set
    a = {r.doc_id for r in kept.collect()}
    b = {r.doc_id for r in sample_balanced(docs).collect()}
    assert a == b
    # content-stable: dropping one OTHER stratum's docs never changes which
    # of the smallest stratum's docs are kept (only thresholds move)
    sub = docs.filter((F.col("lang") != "en") | (F.col("doc_id") % 2 == 0))
    c = {r.doc_id for r in sample_balanced(sub).filter(
        F.col("lang") == smallest).collect()}
    assert c == {r.doc_id for r in kept.filter(F.col("lang") == smallest).collect()}


def test_quantize_int8_bounds_and_topk_agreement(emb):
    from aegisthus_spark.operators.similarity import (
        cosine_topk_quantized, quantize_int8)

    qz = quantize_int8(emb)
    stats = qz.select(
        F.max(F.expr("array_max(transform(qvec, x -> abs(x)))")).alias("mx"),
        F.min(F.expr("array_max(transform(qvec, x -> abs(x)))")).alias("mn"),
    ).collect()[0]
    assert stats.mx == 127  # max-abs component quantizes to exactly +-127
    assert stats.mn >= 1
    # quantized top-10 overlaps the exact float top-10 heavily (int8 keeps
    # ~2 decimal digits of cosine)
    from aegisthus_spark.operators.dedup import _dot_decimal  # noqa: F401
    from aegisthus_spark.operators.similarity import cosine_topk

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    exact = {r.vec_id for r in cosine_topk(emb, qvec, k=10, exclude_id=0).collect()}
    quant = {r.vec_id for r in cosine_topk_quantized(emb, query_id=0, k=10).collect()}
    assert len(exact & quant) >= 8


def test_interval_join_containment(spark):
    import datetime as dt

    from aegisthus_spark.operators.temporal import interval_join

    TS = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)  # noqa: E731
    points = spark.createDataFrame(
        [(1, TS(0), "p0"), (1, TS(29), "p29"), (1, TS(30), "p30"),
         (1, TS(45), "p45"), (2, TS(10), "q10")],
        "k int, ts timestamp, lbl string")
    # interval [00:00, 00:30) for k=1; [00:40, 01:40) for k=1 (spans >1
    # bucket); [00:05, 00:15) for k=2
    intervals = spark.createDataFrame(
        [(1, 10, TS(0), TS(30)), (1, 11, TS(40), dt.datetime(2024, 1, 1, 1, 40)),
         (2, 12, TS(5), TS(15))],
        "k int, iid int, start timestamp, end timestamp")
    got = {(r.iid, r.lbl) for r in interval_join(
        points, intervals, on="k", point_ts="ts",
        start_col="start", end_col="end", bucket="30 minutes",
    ).collect()}
    # half-open: p30 is NOT in [0, 30); p45 IS in [40, 100)
    assert got == {(10, "p0"), (10, "p29"), (11, "p45"), (12, "q10")}


def test_decontaminate_self_and_disjoint(spark):
    from aegisthus_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w"), (3, "a b x")],
        "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") == 1)
    out = {r.doc_id: r.asDict() for r in decontaminate(docs, bench, n=2).collect()}
    assert out[1]["contam_ratio"] == 1.0          # benchmark doc: full overlap
    assert out[2]["contam_ratio"] == 0.0          # disjoint vocabulary
    assert out[3]["n_grams"] == 2 and out[3]["n_hit"] == 1  # 'a b' hits
    assert out[3]["contam_ratio"] == 0.5


def test_asof_join_matches_pandas_merge_asof(spark):
    """Randomized cross-validation against pandas.merge_asof (backward,
    exact matches allowed): sorting the right side by (ts, seq) makes
    pandas pick the greatest seq among equal timestamps — the same
    deterministic tie rule asof_join implements."""
    import numpy as np
    import pandas as pd

    from aegisthus_spark.operators.temporal import asof_join

    rng = np.random.RandomState(7)
    for _ in range(3):
        nl, nr, keys = 200, 150, 5
        left = pd.DataFrame({
            "k": rng.randint(0, keys, nl).astype("int32"),
            "ts": pd.to_datetime(rng.randint(0, 500, nl), unit="s"),
            "lid": np.arange(nl).astype("int64"),
        })
        right = pd.DataFrame({
            "k": rng.randint(0, keys, nr).astype("int32"),
            "ts": pd.to_datetime(rng.randint(0, 500, nr), unit="s"),
            "seq": np.arange(nr).astype("int64"),
            "v": rng.rand(nr),
        })
        lp = left.sort_values(["ts", "lid"], kind="stable").reset_index(drop=True)
        rp = right.sort_values(["ts", "seq"], kind="stable").reset_index(drop=True)
        exp = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
        expected = dict(zip(exp["lid"], exp["v"]))

        got = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            on="k", ts_col="ts", right_cols=["v"], seq_col="seq",
        ).toPandas()
        actual = dict(zip(got["lid"], got["asof_v"]))

        assert set(actual) == set(expected)
        for lid in expected:
            e, a = expected[lid], actual[lid]
            assert (pd.isna(e) and pd.isna(a)) or e == a, (lid, e, a)


def test_interval_join_matches_brute_theta(spark):
    """Randomized cross-validation: the binned equi-join must produce the
    exact match set of the brute theta join (key equal, start <= ts < end),
    including intervals spanning many buckets and zero-length intervals."""
    import numpy as np

    from aegisthus_spark.operators.temporal import interval_join

    rng = np.random.RandomState(11)
    base = 1_700_000_000
    pts = [(int(k), int(base + t), int(i))
           for i, (k, t) in enumerate(zip(rng.randint(0, 4, 120),
                                          rng.randint(0, 7200, 120)))]
    ivs = []
    for j in range(40):
        k = int(rng.randint(0, 4))
        s = int(base + rng.randint(0, 7200))
        ln = int(rng.choice([0, 60, 600, 5400]))  # incl. empty + multi-bucket
        ivs.append((k, s, s + ln, j))
    points = spark.createDataFrame(pts, "k int, tsep long, pid int").selectExpr(
        "k", "timestamp_micros(tsep * 1000000) AS ts", "pid")
    intervals = spark.createDataFrame(ivs, "k int, s long, e long, iid int").selectExpr(
        "k", "timestamp_micros(s * 1000000) AS start",
        "timestamp_micros(e * 1000000) AS end", "iid")

    got = {(r.iid, r.pid) for r in interval_join(
        points, intervals, on="k", point_ts="ts",
        start_col="start", end_col="end", bucket="10 minutes").collect()}
    brute = {(iid, pid)
             for (k, s, e, iid) in ivs
             for (pk, pt, pid) in pts
             if pk == k and s <= pt < e}
    assert got == brute and len(brute) > 50


def test_asof_join_null_timestamps_match_nothing(spark):
    """Review regression: a NULL left timestamp must yield no match in
    either direction (desc null-ordering would otherwise hand forward-mode
    nulls the smallest-ts right row), and a NULL right timestamp must
    never be a match candidate."""
    import datetime as dt

    from aegisthus_spark.operators.temporal import asof_join

    TS = lambda x: dt.datetime(2024, 1, 1, 0, 0, x)  # noqa: E731
    left = spark.createDataFrame(
        [(1, TS(10), "L10"), (1, None, "LN")], "k int, ts timestamp, lbl string")
    right = spark.createDataFrame(
        [(1, TS(5), 1, 1.0), (1, None, 2, 9.9)], "k int, ts timestamp, seq int, v double")
    for direction in ("backward", "forward"):
        got = {r.lbl: r.asof_v for r in asof_join(
            left, right, on="k", ts_col="ts", right_cols=["v"], seq_col="seq",
            direction=direction).collect()}
        assert got["LN"] is None, direction
        assert 9.9 not in got.values(), direction


def test_canonical_best_prefers_quality(spark):
    """Policy-based canonical selection: the cluster keeps its
    highest-quality member, with ties broken on the lowest id."""
    from aegisthus_spark.operators.dedup import connected_components
    from aegisthus_spark.operators.text import quality_score
    from pyspark.sql import functions as F

    # cluster {1,2,3}: doc 2 has the most tokens (highest quality); 4 alone
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h", "en"), (2, " ".join(f"w{i}" for i in range(60)), "en"),
         (3, "a b c d e f g i", "en"), (4, "x y z", "en")],
        "doc_id long, text string, lang string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    comp = connected_components(pairs, docs)
    q = quality_score(docs).select("doc_id", "quality")
    best = comp.join(q, "doc_id").groupBy("component").agg(
        F.max_by("doc_id", F.struct(F.col("quality"), (-F.col("doc_id")).alias("n"))).alias("canonical_id"))
    got = {r.component: r.canonical_id for r in best.collect()}
    assert got[1] == 2   # highest quality in the {1,2,3} cluster
    assert got[4] == 4


def test_distinct_sketch_accuracy_and_partition_invariance(spark):
    from aegisthus_spark.operators.sketch import distinct_sketch

    # 2000 distinct values, each seen 3x -> within the ~6% (1 sigma) band
    # x3 (m=256 registers, occupancy-corrected estimator); duplicates must
    # not move the estimate at all
    base = spark.range(2000).selectExpr("'g' AS grp", "id AS v")
    df = base.unionAll(base).unionAll(base)
    est = distinct_sketch(df, ["grp"], "v").collect()[0].distinct_est
    assert abs(est - 2000) / 2000 < 0.2, est

    # the estimate is a pure function of the value SET: any partitioning
    # (hence any aggregation order) yields the identical double
    est2 = distinct_sketch(df.repartition(17, "v"), ["grp"], "v").collect()[0].distinct_est
    assert est == est2


def test_distinct_sketch_separate_groups(spark):
    from aegisthus_spark.operators.sketch import distinct_sketch

    df = spark.range(1000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS grp", "id AS v"
    )
    rows = {r.grp: r.distinct_est for r in distinct_sketch(df, ["grp"], "v").collect()}
    assert set(rows) == {"a", "b"}
    for est in rows.values():
        assert abs(est - 500) / 500 < 0.2, rows


def test_hll_sketch_accuracy_regimes_and_partition_invariance(spark):
    from aegisthus_spark.operators.sketch import hll_sketch

    # harmonic-mean regime (n >> 2.5m = 640): within ~3 sigma of the
    # 1.04/sqrt(256) ~ 6.5% relative std; duplicates never move a MAX
    base = spark.range(5000).selectExpr("'g' AS grp", "id AS v")
    df = base.unionAll(base).unionAll(base)
    est = hll_sketch(df, ["grp"], "v").collect()[0].hll_est
    assert abs(est - 5000) / 5000 < 0.2, est

    # linear-counting regime (n < 2.5m with empty registers)
    small = spark.range(50).selectExpr("'g' AS grp", "id AS v")
    est_small = hll_sketch(small, ["grp"], "v").collect()[0].hll_est
    assert abs(est_small - 50) / 50 < 0.2, est_small

    # pure function of the value SET: any partitioning (any merge order
    # of the integer register sum) yields the identical double
    est2 = hll_sketch(df.repartition(17, "v"), ["grp"], "v").collect()[0].hll_est
    assert est == est2


def test_kmeans_assign_self_consistent_and_improving(emb):
    from aegisthus_spark.operators.similarity import kmeans_assign

    a1 = kmeans_assign(emb, k=8, iters=1)
    a2 = kmeans_assign(emb, k=8, iters=2)
    assert a2.count() == emb.count()
    assert a2.select("cluster").distinct().count() <= 8

    # Lloyd monotonicity: total within-cluster distance never increases
    # (assignment argmin + centroid mean are both optimal steps)
    d1 = a1.agg(F.sum("dist")).collect()[0][0]
    d2 = a2.agg(F.sum("dist")).collect()[0][0]
    assert d2 <= d1 + 1e-6, (d1, d2)

    # partitioning must not change assignments (decimal-exact centroids)
    a2b = kmeans_assign(emb.repartition(13), k=8, iters=2)
    assert a2.exceptAll(a2b).count() == 0


def test_ngram_duplication_exact_counts(spark):
    from aegisthus_spark.operators.dedup import ngram_duplication

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),      # shingles: "a b c", "b c d"
            (2, "a b c x"),      # shingles: "a b c", "b c x"
            (3, "p q r s"),      # shingles: "p q r", "q r s" (unique)
            (4, "x"),            # too short -> dropped
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_duplication(docs, n=3).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].n_shingles == 2 and rows[1].n_dup == 1
    assert rows[2].n_shingles == 2 and rows[2].n_dup == 1
    assert rows[3].n_shingles == 2 and rows[3].n_dup == 0
    assert rows[1].dup_frac == 0.5 and rows[3].dup_frac == 0.0


def test_json_extract_malformed_rows_are_null(spark):
    # from_json with an explicit schema must degrade malformed rows to
    # NULL (skipped by the aggregates), not fail the task
    df = spark.createDataFrame(
        [("a", '{"k": 3}'), ("a", "not json"), ("a", None), ("b", '{"k": 7}')],
        "event_type string, props string",
    )
    out = (
        df.select("event_type", F.from_json("props", "k INT")["k"].alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("s"), F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
        .collect()
    )
    assert [(r.event_type, r.s, r.n) for r in out] == [("a", 3, 3), ("b", 7, 1)]


def test_pagerank_hand_graph(spark):
    from aegisthus_spark.operators.graph import pagerank

    # path graph 1-2-3 plus isolated vertex 4 (N=4, d=0.85, 2 iters)
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    verts = spark.createDataFrame([(1,), (2,), (3,), (4,)], "doc_id long")
    got = {r.doc_id: r.pr for r in pagerank(pairs, verts, iters=2).collect()}

    # hand-rolled reference (same decimal rounding is immaterial at this size)
    n, d = 4, 0.85
    pr = {v: 1.0 / n for v in (1, 2, 3, 4)}
    deg = {1: 1, 2: 2, 3: 1}
    edges = [(1, 2), (2, 1), (2, 3), (3, 2)]
    for _ in range(2):
        inflow = {v: 0.0 for v in pr}
        for s, t in edges:
            inflow[t] += pr[s] / deg[s]
        pr = {v: (1 - d) / n + d * inflow[v] for v in pr}
    for v in (1, 2, 3, 4):
        assert abs(got[v] - pr[v]) < 1e-12, (v, got[v], pr[v])
    # isolated vertex sits at the floor
    assert abs(got[4] - (1 - d) / n) < 1e-15


def test_pagerank_partition_invariance(docs):
    from aegisthus_spark.operators.dedup import minhash_lsh_dedup
    from aegisthus_spark.operators.graph import pagerank

    pairs = minhash_lsh_dedup(docs, threshold=0.1)
    a = pagerank(pairs, docs, iters=2)
    b = pagerank(pairs.repartition(7), docs.repartition(5), iters=2)
    assert a.exceptAll(b).count() == 0  # decimal sums -> identical doubles


def test_sample_weighted_properties(spark):
    from aegisthus_spark.operators.curation import sample_weighted

    scored = spark.range(1000).selectExpr(
        "id AS doc_id", "0.1 + (id % 10) / 10.0 AS quality"
    )
    out = sample_weighted(scored, k=50)
    rows = out.collect()
    assert len(rows) == 50
    assert len({r.doc_id for r in rows}) == 50  # without replacement
    # determinism under partitioning
    out2 = sample_weighted(scored.repartition(13), k=50)
    assert [r.doc_id for r in out2.collect()] == [r.doc_id for r in rows]
    # weight monotonicity in expectation: the high-weight half should
    # dominate the sample for this weight profile (deterministic given hash)
    high = sum(1 for r in rows if r.w >= 0.6)
    assert high > 25, high
    # k > N returns everything
    assert sample_weighted(scored, k=5000).count() == 1000


def test_moving_avg_frame_semantics(spark):
    from aegisthus_spark.queries import REGISTRY
    import pandas as pd

    out = REGISTRY["ev_moving_avg"].fn(spark, "/root/testdata/sf0.001").toPandas()
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    # brute-check 30 random rows against the definition
    ev["us"] = ev.ts.astype("int64") // 1000 if ev.ts.dtype.kind == "i" else (
        ev.ts.values.astype("datetime64[us]").astype("int64"))
    sample = out.sample(30, random_state=7)
    for _, r in sample.iterrows():
        us = ev.loc[ev.event_id == r.event_id, "us"].iloc[0]
        frame = ev[(ev.user_id == r.user_id) & (ev.us <= us) & (ev.us >= us - 1_800_000_000)]
        assert len(frame) == r.n_window, (r.event_id, len(frame), r.n_window)
        assert abs(frame.value.mean() - r.avg_30m) < 1e-4


def test_retention_cohort_invariants(spark):
    from aegisthus_spark.queries import REGISTRY

    out = REGISTRY["ev_retention_cohorts"].fn(spark, "/root/testdata/sf0.001").toPandas()
    assert (out.day_offset >= 0).all() and (out.day_offset <= 7).all()
    # day-0 cohort size is the number of users whose first day that is;
    # retention at any offset never exceeds the day-0 count
    d0 = out[out.day_offset == 0].set_index("cohort_day").n_users
    for _, r in out.iterrows():
        assert r.n_users <= d0[r.cohort_day]


def test_daily_anomaly_zscore_math(spark):
    from aegisthus_spark.queries import REGISTRY
    import math

    out = REGISTRY["ev_daily_anomaly"].fn(spark, "/root/testdata/sf0.001").toPandas()
    for et, g in out.groupby("event_type"):
        n = g.n.astype(float)
        mu, var = n.mean(), n.var(ddof=0)  # population variance
        for _, r in g.iterrows():
            want = (r.n - mu) / math.sqrt(var)
            assert abs(r.z - want) < 1e-5, (et, r.day, r.z, want)
        # z-scores of a full partition sum to ~0 (each z rounded to 6dp)
        assert abs(g.z.sum()) < 5e-7 * len(g) + 1e-9


def test_rollup_dense_spine_complete(spark):
    from aegisthus_spark.queries import REGISTRY
    import pandas as pd

    out = REGISTRY["ev_rollup_dense"].fn(spark, "/root/testdata/sf0.001").toPandas()
    types = out.event_type.nunique()
    days = out.day.nunique()
    assert len(out) == types * days  # dense: every (type, day) present
    # the spine adds zeros, never counts
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    assert out.n_events.sum() == len(ev)
    # consecutive days, no gaps
    span = (out.day.max() - out.day.min()).days + 1
    assert days == span


def test_quantile_binned_within_bin_width(spark):
    from aegisthus_spark.queries import REGISTRY
    import pandas as pd

    out = REGISTRY["ev_value_quantile_binned"].fn(
        spark, "/root/testdata/sf0.001"
    ).toPandas().set_index("event_type")
    ev = pd.read_parquet("/root/testdata/sf0.001/events.parquet")
    width = (ev.value.max() - ev.value.min()) / 200.0
    import math

    for et, g in ev.groupby("event_type"):
        vals = g.value.sort_values().to_numpy()
        for q, col in ((0.5, "p50_est"), (0.9, "p90_est"), (0.99, "p99_est")):
            # the histogram rule (first bin whose cumulative count reaches
            # q*total, right edge) brackets the ceil(q*n)-th smallest
            # value: that value sits inside the crossing bin, whose right
            # edge is at most one bin width above it
            ref = vals[math.ceil(q * len(vals)) - 1]
            est = out.loc[et, col]
            assert ref - 1e-9 <= est <= ref + width + 1e-9, (et, col, est, ref)


def test_fuzzy_join_semantics(spark):
    from aegisthus_spark.operators.text import fuzzy_join

    left = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta"), (3, "zeta eta theta")],
        "doc_id long, title string",
    )
    right = spark.createDataFrame(
        [(100, "alpha gamma"),    # beta dropped from 1 -> dist 5
         (101, "zeta eta thetaX"),  # 1 edit from 3
         (102, "omicron pi rho")],  # shares no word -> no candidates
        "probe_id long, probe string",
    )
    rows = {r.probe_id: r for r in fuzzy_join(left, right, max_dist=8).collect()}
    assert rows[100].doc_id == 1 and rows[100].dist == 5
    assert rows[101].doc_id == 3 and rows[101].dist == 1
    assert 102 not in rows  # blocking correctly yields no candidates


def test_fuzzy_join_recovers_sources(spark):
    from aegisthus_spark.queries import REGISTRY

    out = REGISTRY["text_fuzzy_join"].fn(spark, "/root/testdata/sf0.001").toPandas()
    # every probe (derived from doc k by dropping word 2) should resolve,
    # and overwhelmingly back to its own source document
    assert len(out) == 20
    back = (out.doc_id == out.probe_id - 10000).mean()
    assert back >= 0.9, out


def test_kmeans_matches_numpy_lloyd(emb):
    import numpy as np

    from aegisthus_spark.operators.similarity import kmeans_assign

    got = {r.vec_id: r.cluster for r in kmeans_assign(emb, k=8, iters=2).collect()}

    rows = emb.orderBy("vec_id").collect()
    X = np.array([[float(v) for v in r.embedding] for r in rows], dtype=np.float64)
    ids = [r.vec_id for r in rows]
    C = X[:8].copy()
    for _ in range(2):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # numpy argmin ties -> lowest index, same rule
        new_c = C.copy()
        for j in range(8):
            if (assign == j).any():
                new_c[j] = X[assign == j].mean(axis=0)
        C, final = new_c, assign
    # note: the loop order above recomputes centroids after the 2nd assign
    # too, but `final` captures the 2nd assignment, matching iters=2
    for i, vid in enumerate(ids):
        assert got[vid] == final[i], (vid, got[vid], final[i])


def test_kmeans_empty_cluster_keeps_stale_centroid(spark, tmp_path):
    """If a seed cluster empties after iteration 1 (here: v1 duplicates
    v0, ties break to cluster 0), the stale centroid must still compete
    in iteration 2 — and the SQL oracle must reproduce that (it COALESCEs
    the previous centroid for empty clusters)."""
    import duckdb

    from aegisthus_spark.operators.similarity import kmeans_assign
    from aegisthus_spark.queries import _kmeans_oracle_sql

    rows = [
        (0, [0.0]), (1, [0.0]),            # identical seeds -> cluster 1 empties
        (2, [10.0]), (3, [10.0]), (4, [0.1]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.vec_id, r.cluster)
        for r in kmeans_assign(emb, k=2, iters=2).collect()
    }
    # iteration 2: c0 moved to the global mean (4.02), stale c1 stayed at 0
    # -> points near 0 belong to cluster 1 again
    assert got == {(0, 1), (1, 1), (2, 0), (3, 0), (4, 1)}, got

    p = str(tmp_path / "emb.parquet")
    emb.toPandas().to_parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{p}'")
    oracle = {
        (int(a), int(b)) for a, b, _ in con.sql(_kmeans_oracle_sql(k=2)).fetchall()
    }
    assert oracle == got


# ---------------------------------------------------------------------------
# round-4 additions: CMS heavy hitters, hybrid RRF, semantic dedup
# ---------------------------------------------------------------------------


def test_cms_never_underestimates(spark):
    from aegisthus_spark.operators.sketch import cms_heavy_hitters

    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    est = cms_heavy_hitters(ev, "user_id", k=10_000).collect()
    assert len(est) == len(exact)  # every key estimated
    for r in est:
        assert r.est_count >= exact[r.user_id], (
            f"CMS underestimated {r.user_id}: {r.est_count} < {exact[r.user_id]}"
        )
    # the true heaviest key's estimate is at least the true max count
    assert max(r.est_count for r in est) >= max(exact.values())


def test_bm25_query_scores_only_matching_docs(docs):
    from aegisthus_spark.operators.text import bm25_query_scores

    terms = ["table", "join"]
    scored = bm25_query_scores(docs, terms)
    got = {r.doc_id for r in scored.collect()}
    want = {
        r.doc_id
        for r in docs.filter(
            F.arrays_overlap(F.split("text", " "), F.array(*[F.lit(t) for t in terms]))
        ).collect()
    }
    assert got == want
    assert scored.filter(F.col("score") <= 0).count() == 0


def test_hybrid_rrf_agreement_wins(spark):
    from aegisthus_spark.operators.similarity import hybrid_rrf

    lex = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 1.0)], "doc_id long, score double"
    )
    dense = spark.createDataFrame(
        [(1, 0.9), (4, 0.8)], "doc_id long, score double"
    )
    out = hybrid_rrf(lex, dense, k=4).collect()
    # doc 1 is rank 1 on both arms -> must fuse first
    assert out[0].doc_id == 1
    assert out[0].lex_rank == 1 and out[0].dense_rank == 1
    # docs present on one arm only still score on that arm
    by_id = {r.doc_id: r for r in out}
    assert by_id[4].lex_rank is None and by_id[4].dense_rank == 2
    assert by_id[3].dense_rank is None and by_id[3].lex_rank == 3
    # rrf value = sum of the present arms
    assert abs(by_id[4].rrf - 1.0 / 62) < 1e-9


def test_semantic_dedup_components_stay_in_cluster(emb):
    from aegisthus_spark.operators.dedup import semantic_dedup

    out = semantic_dedup(emb, k=8, iters=2, tau=0.4)
    rows = out.collect()
    assert len(rows) == emb.count()
    # canonical representative of each component is its min member id
    comp_min = {}
    for r in rows:
        comp_min.setdefault(r.component, []).append(r.vec_id)
    for comp, members in comp_min.items():
        assert comp == min(members)
    # pairs are cluster-blocked, so a component never spans clusters
    comp_clusters = {}
    for r in rows:
        comp_clusters.setdefault(r.component, set()).add(r.cluster)
    multi = {c for c, cl in comp_clusters.items() if len(cl) > 1}
    assert multi == set()
    # is_kept marks exactly the representatives
    for r in rows:
        assert r.is_kept == (r.vec_id == r.component)
    # the threshold actually bites at sf0.001: some duplicates pruned
    assert any(not r.is_kept for r in rows)


def test_triangle_counts_on_known_graph(spark):
    from aegisthus_spark.operators.graph import triangle_counts

    # 4-clique {1,2,3,4} (4 triangles, 3 through each vertex) + pendant 5
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        "a long, b long",
    )
    verts = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    got = {r.doc_id: r.n_triangles for r in triangle_counts(pairs, verts).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 5: 0, 6: 0}


def test_matryoshka_full_prefix_equals_exact(emb):
    from aegisthus_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_matryoshka,
    )

    q = [float(v) for v in emb.filter(F.col("vec_id") == 0).collect()[0].embedding]
    exact = [r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=0).collect()]
    # prefix = full dimension -> coarse ranking is the exact ranking, so the
    # rerank must reproduce the exact top-k
    full = cosine_topk_matryoshka(
        emb, q, prefix_dim=len(q), shortlist=50, k=10, exclude_id=0
    )
    assert [r.vec_id for r in full.collect()] == exact
    # a 16-dim prefix shortlist of the whole corpus is also exact
    all_rows = emb.count()
    wide = cosine_topk_matryoshka(
        emb, q, prefix_dim=16, shortlist=all_rows, k=10, exclude_id=0
    )
    assert [r.vec_id for r in wide.collect()] == exact


def test_stream_sketch_equals_batch_sketch(spark):
    from aegisthus_spark.operators.sketch import distinct_sketch, sketch_estimate
    from aegisthus_spark.streaming.events import (
        read_events_stream,
        stream_distinct_sketch,
    )
    import uuid

    batch = {
        (r.event_type, r.distinct_est)
        for r in distinct_sketch(
            spark.read.parquet(f"{SF}/events.parquet"), ["event_type"], "user_id"
        ).collect()
    }
    ev = read_events_stream(spark, f"{SF}/events.parquet")
    qname = f"t_sketch_{uuid.uuid4().hex[:8]}"
    q = (
        stream_distinct_sketch(ev, ["event_type"], "user_id")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r.event_type, r.distinct_est)
        for r in sketch_estimate(spark.table(qname), ["event_type"]).collect()
    }
    assert streamed == batch


def test_containment_catches_subset_jaccard_misses(spark, docs):
    from aegisthus_spark.operators.dedup import containment_of_pairs

    # synthesize a shorter doc contained in a long one: the short side's
    # containment is 1.0 while Jaccard is diluted by the long side. The
    # subset must still share enough shingles for LSH banding to surface
    # the candidate (banding is tuned for resemblance), so use 80% of the
    # words — the containment/Jaccard gap remains.
    long_row = docs.orderBy(F.desc("n_chars")).limit(1).collect()[0]
    words = long_row.text.split(" ")
    short_text = " ".join(words[: max(10, len(words) * 8 // 10)])
    extra = spark.createDataFrame(
        [(900000, short_text, "en", "synth", len(short_text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = containment_of_pairs(docs.unionByName(extra), threshold=0.9)
    hit = [r for r in out.collect() if r.b == 900000 and r.a == long_row.doc_id]
    assert hit, "planted subset pair not found"
    r = hit[0]
    assert r.containment_b >= 0.9  # short side fully contained
    assert r.jaccard < r.containment_b  # Jaccard dilutes the signal


def test_semantic_decontamination_flags_planted_paraphrase(emb):
    from aegisthus_spark.operators.similarity import semantic_match_flags

    rows = emb.filter(F.col("vec_id") < 2).select("vec_id", "embedding").collect()
    bench = sorted((int(r[0]), [float(x) for x in r[1]]) for r in rows)
    # plant a near-copy of bench item 1 (tiny perturbation on one dim)
    v = list(bench[1][1])
    v[0] += 1e-3
    planted = emb.sparkSession.createDataFrame(
        [(900001, v, 0)], "vec_id long, embedding array<float>, label int"
    )
    corpus = emb.filter(F.col("vec_id") >= 2).unionByName(planted)
    out = {r.vec_id: r for r in semantic_match_flags(corpus, bench, tau=0.9).collect()}
    hit = out[900001]
    assert hit.flagged and hit.best_bench == 1 and hit.best_cos > 0.99
    # the corpus background sits far below the paraphrase threshold
    others = [r for i, r in out.items() if i != 900001]
    assert all(not r.flagged for r in others)


def test_stream_cms_equals_batch_cms(spark):
    import uuid

    from aegisthus_spark.operators.sketch import cms_estimate_topk, cms_heavy_hitters
    from aegisthus_spark.streaming.events import read_events_stream, stream_cms_sketch

    batch = [
        (r.user_id, r.est_count)
        for r in cms_heavy_hitters(
            spark.read.parquet(f"{SF}/events.parquet"), "user_id", k=50
        ).collect()
    ]
    ev = read_events_stream(spark, f"{SF}/events.parquet")
    qname = f"t_cms_{uuid.uuid4().hex[:8]}"
    q = (
        stream_cms_sketch(ev, "user_id")
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = [
        (r.user_id, r.est_count)
        for r in cms_estimate_topk(
            spark.table(qname),
            spark.read.parquet(f"{SF}/events.parquet"),
            "user_id",
            k=50,
        ).collect()
    ]
    assert streamed == batch


def test_export_shards_deterministic_layout(spark, docs, tmp_path):
    from aegisthus_spark.operators.curation import export_shards

    out = str(tmp_path / "shards")
    m = {r.lang: (r.n_rows, r.n_files) for r in
         export_shards(docs, out, max_rows_per_file=64).collect()}
    exact = {r.lang: r.n for r in
             docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(m) == set(exact)
    for lang, (n_rows, n_files) in m.items():
        assert n_rows == exact[lang]
        assert n_files == -(-exact[lang] // 64)  # ceil
    # shard contents are byte-reproducible: same write twice -> same files
    out2 = str(tmp_path / "shards2")
    export_shards(docs, out2, max_rows_per_file=64).collect()
    import pathlib

    def digest(root):
        import hashlib

        h = hashlib.md5()
        for p in sorted(pathlib.Path(root).rglob("*.parquet")):
            h.update(p.read_bytes())
        return h.hexdigest()

    assert digest(out) == digest(out2)


def test_connected_components_long_chain_converges(spark):
    """A 200-vertex path graph has diameter 199: plain min-label
    propagation cannot converge within max_iterations=20, so this test
    holds ONLY because each round also follows labels one extra hop
    (pointer doubling, O(log diameter) rounds)."""
    from aegisthus_spark.operators.dedup import connected_components

    n = 200
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "a long, b long")
    verts = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    got = {r.doc_id: r.component for r in connected_components(pairs, verts).collect()}
    assert got == {i: 0 for i in range(n)}


def test_unigram_logppl_rare_tokens_score_higher(spark):
    from aegisthus_spark.operators.text import unigram_logppl

    docs = spark.createDataFrame(
        [(1, "common common common common"), (2, "common common rare unique")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in unigram_logppl(docs).collect()}
    # doc 2 contains improbable tokens -> higher average NLL than doc 1
    assert out[2].avg_nll > out[1].avg_nll
    assert out[1].n_tokens == 4 and out[2].n_tokens == 4
    # doc 1 is all 'common' (p = 6/8): avg_nll = -ln(0.75)
    import math

    assert abs(out[1].avg_nll - (-math.log(6 / 8))) < 1e-5


def test_phash_flags_brightness_shifted_copy(spark):
    """pHash bit i = feature above the ITEM's own mean: a global gain shift
    leaves every bit unchanged, so a brightness-shifted copy collides at
    hamming 0 while unrelated items stay far apart."""
    from aegisthus_spark.operators.multimodal import phash_near_dupes

    base = [0.1, 0.9, 0.2, 0.8] * 4
    shifted = [x * 1.5 + 0.05 for x in base]  # gain+offset: bits identical
    other = [0.9, 0.1, 0.8, 0.2] * 4  # inverted pattern
    feats = spark.createDataFrame(
        [(1, base), (2, shifted), (3, other)],
        "media_id long, feature array<double>",
    )
    pairs = {(r.a, r.b): r.hamming for r in phash_near_dupes(feats).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_bloom_no_false_negatives_and_merge(spark):
    """Members ALWAYS hit; shard sketches BIT_OR-merge to the one-shot
    sketch; FP rate at heavy load stays near the analytic bound."""
    from pyspark.sql import functions as F

    from aegisthus_spark.operators.sketch import (
        BLOOM_K, BLOOM_M, bloom_build, bloom_probe,
    )

    keys = spark.range(2000).select(
        F.concat(F.lit("key-"), F.col("id").cast("string")).alias("k")
    )
    members = keys.filter(F.expr("substr(k, -1) in ('0','1','2')"))  # 600
    sketch = bloom_build(members, "k")
    probed = bloom_probe(keys, "k", sketch, id_col="k")
    got = {r.k: r.is_member for r in probed.collect()}
    n_members = members.count()
    # zero false negatives
    assert all(got[r.k] for r in members.collect())
    fps = sum(1 for k, m in got.items() if m) - n_members
    # analytic bound at n=600, m=16384, k=4: (1-e^(-4*600/16384))^4 ~ 0.03%
    assert fps <= len(got) * 0.01

    # mergeability: two shard sketches OR-ed == one-shot sketch
    s1 = bloom_build(members.limit(300), "k")
    s2 = bloom_build(members.subtract(members.limit(300)), "k")
    merged = (
        s1.unionByName(s2).groupBy("w").agg(F.expr("bit_or(bits)").alias("bits"))
    )
    one_shot = {(r.w, r.bits) for r in sketch.collect()}
    assert {(r.w, r.bits) for r in merged.collect()} == one_shot


def test_pii_registry_custom_patterns_and_order(spark):
    """The PII registry: per-pattern count columns, replacement-specific
    tokens, and IN-ORDER application (an earlier pattern consumes
    overlapping spans before later ones see them)."""
    import pytest as _pytest

    from aegisthus_spark.operators.text import pii_redact, pii_scan

    docs = spark.createDataFrame(
        [(1, "ssn 123-45-6789 card 4111 1111 1111 1111 ok"),
         (2, "clean text"),
         (3, "123-45-6789 and 999-88-7777")],
        "doc_id long, text string",
    )
    pats = [("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
            ("card", r"\b[0-9]{4} [0-9]{4} [0-9]{4} [0-9]{4}\b", "[CARD]")]
    rows = {r.doc_id: r for r in pii_scan(docs, patterns=pats).collect()}
    assert (rows[1].n_ssn, rows[1].n_card, rows[1].n_pii) == (1, 1, 2)
    assert (rows[2].n_ssn, rows[2].n_card, rows[2].n_pii) == (0, 0, 0)
    assert rows[3].n_ssn == 2
    red = {r.doc_id: r.redacted for r in
           pii_redact(docs, patterns=pats).collect()}
    assert red[1] == "ssn [SSN] card [CARD] ok"
    assert red[3] == "[SSN] and [SSN]"
    assert rows[1].redacted_len == len(red[1])

    # in-order application: a greedy early pattern shadows a later one
    overlap = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    first_wins = pii_redact(
        overlap, patterns=[("a", "ab", "X"), ("b", "b", "Y")]
    ).collect()[0].redacted
    assert first_wins == "X"
    second_sees_rest = pii_redact(
        overlap, patterns=[("b", "b", "Y"), ("a", "ab", "X")]
    ).collect()[0].redacted
    assert second_sees_rest == "aY"

    with _pytest.raises(ValueError, match="at least one"):
        pii_scan(docs, patterns=[])


def test_adaptive_blocking_formulas_match_duckdb():
    """The round-9 adaptive blocking parameters are computed INDEPENDENTLY
    by the Spark query (Python, from a parquet count) and its oracle
    (DuckDB SQL, from count(*)); a drift between the two silently
    changes candidate sets on one side only. Pin the formula parity
    across sizes including the integer-boundary neighborhoods."""
    import duckdb

    from aegisthus_spark.queries import (
        _KNN_CAND_BUDGET,
        _KNN_MAX_PLANES,
        knn_plane_count,
        semantic_cluster_count,
    )

    sizes = [1, 2, 199, 200, 2000, 2047, 2048, 2049, 20000, 123457,
             200000, 1_000_000, 2_000_000]
    for n in sizes:
        sql_k = duckdb.sql(
            f"SELECT GREATEST(32, CAST(CEIL(SQRT({n} / 2.0)) AS INT))"
        ).fetchone()[0]
        assert sql_k == semantic_cluster_count(n), n
        sql_p = duckdb.sql(
            f"SELECT COALESCE(MIN(pp), {_KNN_MAX_PLANES}) "
            f"FROM generate_series(10, {_KNN_MAX_PLANES - 1}) t(pp) "
            f"WHERE {n} * (pp + 1) / POW(2.0, pp) <= {_KNN_CAND_BUDGET}"
        ).fetchone()[0]
        assert sql_p == knn_plane_count(n), n


def test_minhash_lsh_sort_false_same_pair_set(docs):
    """r15: the sort=False edge-set variant must emit EXACTLY the pairs of
    the sorted registered form (only the final orderBy + jaccard column
    differ — consumers like connected_components treat it as a set)."""
    from aegisthus_spark.operators.dedup import minhash_lsh_dedup

    ordered = minhash_lsh_dedup(docs, threshold=0.1)
    unordered = minhash_lsh_dedup(docs, threshold=0.1, sort=False)
    assert unordered.columns == ["a", "b"]
    assert {(r.a, r.b) for r in unordered.collect()} == {
        (r.a, r.b) for r in ordered.collect()
    }


def test_cc_driver_union_find_matches_distributed_loop(docs, monkeypatch):
    """r15: the size-gated driver union-find path must produce EXACTLY the
    labels of the distributed min-label loop (both assign each vertex the
    min id of its component)."""
    from aegisthus_spark.operators import dedup as dd

    pairs = dd.minhash_lsh_dedup(docs, threshold=0.1, sort=False)
    fast = {(r[0], r[1]) for r in dd.connected_components(pairs, docs).collect()}
    # force the distributed loop regardless of pair count
    monkeypatch.setattr(dd, "_CC_DRIVER_MAX_PAIRS", -1)
    slow = {(r[0], r[1]) for r in dd.connected_components(pairs, docs).collect()}
    assert fast == slow and fast


def test_graph_driver_paths_match_distributed(docs, monkeypatch):
    """r15: the size-gated driver twins of pagerank / LPA must reproduce
    the distributed loops bit-for-bit (pagerank replicates the
    decimal(27,15) HALF_UP contribution quantization in Python)."""
    from aegisthus_spark.operators import dedup as dd
    from aegisthus_spark.operators import graph as g

    pairs = dd.minhash_lsh_dedup(docs, threshold=0.1, sort=False)
    fast = {
        "pr": {(r[0], r[1]) for r in g.pagerank(pairs, docs, iters=2).collect()},
        "lpa": {(r[0], r[1]) for r in g.lpa_communities(pairs, docs, iters=2).collect()},
    }
    monkeypatch.setattr(g, "_CC_DRIVER_MAX_PAIRS", -1)
    slow = {
        "pr": {(r[0], r[1]) for r in g.pagerank(pairs, docs, iters=2).collect()},
        "lpa": {(r[0], r[1]) for r in g.lpa_communities(pairs, docs, iters=2).collect()},
    }
    for k in fast:
        assert fast[k] == slow[k], k
    assert all(fast.values())


def test_graph_driver_twins_handle_foreign_pair_endpoints(spark, monkeypatch):
    """r16 hardening (r15 VERDICT #3): a pair endpoint ABSENT from
    ``vertices`` contributes nothing in the distributed loops (ranks and
    labels are sourced from the vertex table), while its presence still
    counts toward neighbors' degrees. The driver twins must reproduce
    that exactly — including a member whose ONLY neighbor is foreign
    (keeps its label / gets only the base rank)."""
    from aegisthus_spark.operators import graph as g

    # vertices 1..5; pairs bring a FOREIGN endpoint 99: 3-99 makes 99 a
    # degree-counted non-contributor, 5-99 leaves member 5 with no member
    # neighbors; 1-2, 2-3 are a normal member chain; 4 is isolated.
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 5)], "doc_id long"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 99), (5, 99)], "a long, b long"
    )
    fast = {
        "pr": {(r[0], r[1]) for r in g.pagerank(pairs, verts, iters=2).collect()},
        "lpa": {(r[0], r[1]) for r in g.lpa_communities(pairs, verts, iters=2).collect()},
    }
    monkeypatch.setattr(g, "_CC_DRIVER_MAX_PAIRS", -1)
    slow = {
        "pr": {(r[0], r[1]) for r in g.pagerank(pairs, verts, iters=2).collect()},
        "lpa": {(r[0], r[1]) for r in g.lpa_communities(pairs, verts, iters=2).collect()},
    }
    for k in fast:
        assert fast[k] == slow[k], k
    # the foreign endpoint never appears; every vertex appears exactly once
    for k in fast:
        assert sorted(v for v, _ in fast[k]) == [1, 2, 3, 4, 5], k
