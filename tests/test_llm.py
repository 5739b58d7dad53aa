"""LLM-pipeline extension operators over the documents/embeddings tables."""

import math

import pyspark.sql.functions as F
import pytest

from kolang_spark.llm import (
    brute_force_topk,
    doc_fingerprint,
    exact_dedup,
    embedding_near_dup_pairs,
    jaccard_near_dup_pairs,
    containment_pairs,
    lang_id,
    lsh_topk,
    minhash_candidate_pairs,
    quality_metrics,
    simhash,
    simhash_near_dup_pairs,
    token_count,
    word_ngrams,
    tokenize,
)
from kolang_spark.llm.multimodal import (
    blob_metadata,
    decode_image,
    pack_blob,
    sample_frames,
    synth_ppm_blobs,
)
from kolang_spark.sources.io import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings").cache()


def test_token_count_matches_n_chars_structure(spark, docs):
    out = docs.select("doc_id", token_count("text").alias("n_tok")).collect()
    assert all(r.n_tok > 0 for r in out)


def test_word_ngrams(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], ["t"])
    out = df.select(word_ngrams(tokenize(F.col("t")), 3).alias("g")).collect()
    assert out[0].g == ["a b c", "b c d"]
    assert out[1].g == []
    assert out[2].g == []


def test_quality_metrics(spark):
    df = spark.createDataFrame(
        [("The cat sat on the mat and it was good for all of us here today.",),
         ("!!!! ???? ....",)],
        ["t"],
    )
    m = quality_metrics(F.col("t"))
    out = df.select(
        m["quality_score"].alias("q"), m["punct_ratio"].alias("p"),
        m["stop_ratio"].alias("s"),
    ).collect()
    assert out[0].q > out[1].q
    assert out[1].p > 0.5
    assert out[0].s > 0.2


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the cat and the dog was in the house for a while",),
            ("der hund ist nicht mit der katze und das haus",),
            ("le chat est dans la maison et les chiens pour une nuit",),
            ("这 是 中文 文本",),
            ("متن فارسی است",),
            ("zzz qqq xxx",),
        ],
        ["t"],
    )
    got = [r.l for r in df.select(lang_id("t").alias("l")).collect()]
    assert got == ["en", "de", "fr", "zh", "fa", "und"]


def test_fingerprint_canonicalizes(spark):
    df = spark.createDataFrame([("Hello  World",), ("hello world ",)], ["t"])
    out = [r.f for r in df.select(doc_fingerprint("t").alias("f")).collect()]
    assert out[0] == out[1]


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT"), (3, "different")], ["doc_id", "text"]
    )
    out = exact_dedup(df).collect()
    by_keep = {r.keep_id: r.n_dups for r in out}
    assert by_keep == {1: 2, 3: 1}


def test_simhash_near_dups_collide(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "totally different words entirely unrelated content here now"),
        ],
        ["doc_id", "text"],
    )
    sigs = {r.doc_id: r.s for r in df.select("doc_id", simhash("text").alias("s")).collect()}
    assert sigs[1] == sigs[2]
    pairs = {(r.id_a, r.id_b) for r in simhash_near_dup_pairs(df).collect()}
    assert (1, 2) in pairs


def test_jaccard_near_dup_pairs_on_documents(spark, docs):
    pairs = jaccard_near_dup_pairs(docs, threshold=0.5).collect()
    # sf0.001 documents: generator plants near-duplicates
    assert len(pairs) > 0
    assert all(r.id_a < r.id_b and r.jaccard >= 0.5 for r in pairs)


def test_minhash_recovers_jaccard_pairs(spark, docs):
    true_pairs = {
        (r.id_a, r.id_b)
        for r in jaccard_near_dup_pairs(docs, threshold=0.8).collect()
    }
    cand = {(r.id_a, r.id_b) for r in minhash_candidate_pairs(docs).collect()}
    # banding with r=2,b=3 catches essentially all j>=0.8 pairs
    assert true_pairs, "fixture should contain planted near-dups"
    recall = len(true_pairs & cand) / len(true_pairs)
    assert recall >= 0.9, f"minhash recall too low: {recall}"


def test_containment_catches_wrapped_subset(spark):
    # doc 1 is quoted verbatim inside doc 2 (boilerplate-padded mirror):
    # Jaccard collapses toward |A|/|B| but containment is exactly 1.0
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    padding = " ".join(f"pad{i} filler{i}" for i in range(30))
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " " + padding),
            (3, "entirely different unrelated words with no overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    rows = containment_pairs(df, threshold=0.95).collect()
    assert [(r.id_a, r.id_b, r.containment, r.contained_id) for r in rows] == [
        (1, 2, 1.0, 1)
    ]
    # the same pair is invisible to symmetric Jaccard at any usable cut
    jac = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_near_dup_pairs(df, threshold=0.0).collect()
    }
    assert jac[(1, 2)] < 0.25


def test_containment_tie_prefers_id_a(spark):
    t = "one two three four five six seven eight"
    df = spark.createDataFrame([(7, t), (9, t)], ["doc_id", "text"])
    rows = containment_pairs(df, threshold=0.5).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.id_a, r.id_b, r.containment, r.contained_id) == (7, 9, 1.0, 7)


def test_containment_threshold_and_max_df(spark, docs):
    full = containment_pairs(docs, threshold=0.9).count()
    loose = containment_pairs(docs, threshold=0.5).count()
    capped = containment_pairs(docs, threshold=0.9, max_df=50).count()
    assert loose >= full >= capped >= 0


def test_ngram_novelty_counts(spark):
    from kolang_spark.llm import ngram_novelty

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),   # shingles: "a b c d e", "b c d e f"
            (2, "a b c d e x"),   # shares "a b c d e" with doc 1
            (3, "too short"),     # < 5 words -> no shingles
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in ngram_novelty(df).collect()}
    assert (rows[1].n_shingles, rows[1].n_novel, rows[1].novelty) == (2, 1, 0.5)
    assert (rows[2].n_shingles, rows[2].n_novel, rows[2].novelty) == (2, 1, 0.5)
    assert (rows[3].n_shingles, rows[3].n_novel, rows[3].novelty) == (0, 0, None)


def test_ngram_novelty_bounds_on_documents(spark, docs):
    from kolang_spark.llm import ngram_novelty

    rows = ngram_novelty(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 0 <= r.n_novel <= r.n_shingles
        if r.n_shingles:
            assert abs(r.novelty - r.n_novel / r.n_shingles) < 1e-12


def test_max_df_stop_shingles(spark, docs):
    full = jaccard_near_dup_pairs(docs, threshold=0.9).count()
    capped = jaccard_near_dup_pairs(docs, threshold=0.9, max_df=50).count()
    assert capped >= 0 and full >= capped  # hot-shingle cut only removes counts


def test_brute_force_topk(spark, emb):
    queries = emb.where(F.col("vec_id") % 100 == 0)
    out = brute_force_topk(emb, queries, k=5)
    rows = out.collect()
    n_queries = queries.count()
    assert len(rows) == 5 * n_queries
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r.rank)
        # rank 1 is the query itself (cos=1)
        assert rs[0].vec_id == q
        assert rs[0].cos == pytest.approx(1.0, abs=1e-9)
        assert all(rs[i].cos >= rs[i + 1].cos - 1e-12 for i in range(4))


def test_lsh_topk_recall(spark, emb):
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, k=1).collect()
    approx = lsh_topk(emb, queries, k=1, n_planes=3).collect()
    exact_top = {r.query_id: r.vec_id for r in exact}
    approx_top = {r.query_id: r.vec_id for r in approx}
    # self-match (cos=1) always lands in the query's own bucket
    assert approx_top == exact_top


def test_embedding_near_dup_pairs(spark, emb):
    out = embedding_near_dup_pairs(emb, threshold=0.45).collect()
    assert all(r.id_a < r.id_b and r.cos >= 0.45 for r in out)


def test_embedding_near_dup_pairs_guard_modes(spark, emb):
    """The O(n²) guard: raise by default, warn-and-proceed on request,
    probe skipped entirely with max_rows=None."""
    import warnings

    with pytest.raises(ValueError, match="O\\(n"):
        embedding_near_dup_pairs(emb, max_rows=10)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        df = embedding_near_dup_pairs(emb, max_rows=10, on_exceed="warn")
        assert any("O(n" in str(x.message) for x in w)
    assert df.count() >= 0  # plan still usable after warn
    with pytest.raises(ValueError):
        embedding_near_dup_pairs(emb, on_exceed="explode")


def test_multimodal_pack_and_metadata(spark, docs):
    packed = pack_blob(docs.select("doc_id", "text"), "text", format="txt")
    assert dict(packed.dtypes)["content"] == "binary"
    meta = blob_metadata(packed.select("doc_id", "content"))
    r = meta.first()
    assert r.n_bytes > 0 and len(r.header_hex) == 8


def test_decode_image_synth_ppm_pipeline(spark):
    packed = synth_ppm_blobs(spark.range(0, 20).selectExpr("id AS doc_id"))
    out = decode_image(packed).collect()
    assert len(out) == 20
    # real dims: synth_ppm_blobs lays out width 4 + id % 8, height 4 + id % 5
    assert all(
        r.format == "ppm"
        and r.width == 4 + r.doc_id % 8
        and r.height == 4 + r.doc_id % 5
        and r.n_channels == 3
        for r in out
    )
    # deterministic: same input → same decoded rows
    out2 = decode_image(packed).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def _golden_bmp(logical_rows):
    """Build a 24bpp bottom-up BI_RGB BMP from logical top-down RGB
    pixel rows ([[(r,g,b),...],...]) — stride-padded, BGR on disk."""
    h = len(logical_rows)
    w = len(logical_rows[0])
    stride = (w * 3 + 3) & ~3
    pix = b""
    for r in range(h - 1, -1, -1):  # bottom-up
        row = b"".join(bytes([b, g, rr]) for (rr, g, b) in logical_rows[r])
        pix += row + b"\x00" * (stride - len(row))

    def le(x, n):
        return int(x).to_bytes(n, "little")

    return (
        b"BM" + le(54 + len(pix), 4) + le(0, 4) + le(54, 4)
        + le(40, 4) + le(w, 4) + le(h, 4) + le(1, 2) + le(24, 2)
        + le(0, 4) + le(len(pix), 4) + le(2835, 4) * 2 + le(0, 4) * 2
    ) + pix


def test_decode_image_real_ppm_and_bmp_golden(spark):
    """Real decode on golden bytes: a hand-built P6 PPM (with a header
    comment) and a hand-built bottom-up BGR stride-padded BMP must both
    come back as logical top-down RGB statistics; non-image bytes must
    degrade to format='unknown', not an executor exception."""
    ppm = b"P6\n# comment\n2 2\n255\n" + bytes(range(12))
    bmp = _golden_bmp([[(10, 11, 12), (13, 14, 15)], [(16, 17, 18), (19, 20, 21)]])
    rows = [(1, bytearray(ppm)), (2, bytearray(bmp)), (3, bytearray(b"not an image"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r.doc_id: r for r in decode_image(df).collect()}

    p = out[1]
    assert (p.format, p.width, p.height, p.n_channels) == ("ppm", 2, 2, 3)
    assert p.sum_pixel == sum(range(12)) and p.first_pixel == 0
    assert p.mean_pixel == pytest.approx(sum(range(12)) / 12)

    b = out[2]
    assert (b.format, b.width, b.height, b.n_channels) == ("bmp", 2, 2, 3)
    assert b.sum_pixel == sum(range(10, 22))
    # decoded top-left RED byte proves the bottom-up flip AND the
    # BGR->RGB reorder happened (raw file byte order would give 18)
    assert b.first_pixel == 10

    u = out[3]
    assert u.format == "unknown" and u.width is None and u.sum_pixel is None
    assert u.n_bytes == len(b"not an image")


def test_synth_ppm_blobs_decode_roundtrip(spark):
    """Column-native PPM synthesis -> real numpy decode round-trip:
    every decoded statistic must equal the closed-form prediction from
    the id (the same formulas the DuckDB oracle uses)."""
    from kolang_spark.llm.multimodal import synth_ppm_blobs

    df = spark.range(0, 40).selectExpr("id AS doc_id")
    out = decode_image(synth_ppm_blobs(df)).collect()
    assert len(out) == 40
    for r in out:
        i = r.doc_id
        w, h = 4 + i % 8, 4 + i % 5
        npx = w * h * 3
        s = sum((i * 7 + j * 13) % 256 for j in range(npx))
        assert (r.format, r.width, r.height, r.n_channels) == ("ppm", w, h, 3)
        assert r.n_bytes == len(f"P6\n{w} {h}\n255\n") + npx
        assert r.sum_pixel == s and r.first_pixel == (i * 7) % 256
        assert r.mean_pixel == pytest.approx(s / npx)


def _golden_png(w, h, ch, pixels, filters):
    """zlib-compressed PNG with chosen per-row filter types — built with
    an independent encoder (numpy forward-filter + struct), so the test
    exercises the real inflate + unfilter path, not the synth path."""
    import struct
    import zlib

    import numpy as np

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data))
        )

    ct = 2 if ch == 3 else 6
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ct, 0, 0, 0)
    stride = w * ch
    px = np.asarray(pixels, dtype=np.uint8).reshape(h, stride)
    raw = b""
    prev = np.zeros(stride, dtype=np.int32)
    for r in range(h):
        f = filters[r % len(filters)]
        cur = px[r].astype(np.int32)
        if f == 0:
            filt = cur
        elif f == 1:
            filt = cur.copy()
            filt[ch:] = (cur[ch:] - cur[:-ch]) % 256
        elif f == 2:
            filt = (cur - prev) % 256
        elif f == 3:
            left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
            filt = (cur - ((left + prev) >> 1)) % 256
        else:  # Paeth
            filt = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b_ = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                p = a + b_ - c
                pa, pb, pc = abs(p - a), abs(p - b_), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b_ if pb <= pc else c)
                filt[x] = (cur[x] - pred) % 256
        raw += bytes([f]) + bytes(filt.astype(np.uint8))
        prev = cur
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_decode_image_real_png_golden(spark):
    """Real PNG decode: zlib-compressed goldens covering every filter
    type (None/Sub/Up/Average/Paeth) and both RGB and RGBA; an
    unsupported variant (16-bit depth) degrades to format='unknown'."""
    import struct

    import numpy as np

    rng = np.random.default_rng(11)
    rgb = rng.integers(0, 256, size=5 * 4 * 3, dtype=np.uint8)
    rgba = rng.integers(0, 256, size=3 * 3 * 4, dtype=np.uint8)
    png_rgb = _golden_png(5, 4, 3, rgb, [0, 1, 2, 3])
    png_rgba = _golden_png(3, 3, 4, rgba, [4, 4, 4])
    # 16-bit depth is out of scope -> unknown, not an exception
    bad = bytearray(_golden_png(2, 2, 3, np.zeros(12, np.uint8), [0]))
    bad[24] = 16  # IHDR bit-depth byte
    rows = [(1, bytearray(png_rgb)), (2, bytearray(png_rgba)), (3, bad)]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r.doc_id: r for r in decode_image(df).collect()}

    p = out[1]
    assert (p.format, p.width, p.height, p.n_channels) == ("png", 5, 4, 3)
    assert p.sum_pixel == int(rgb.sum()) and p.first_pixel == int(rgb[0])

    a = out[2]
    assert (a.format, a.width, a.height, a.n_channels) == ("png", 3, 3, 4)
    assert a.sum_pixel == int(rgba.sum()) and a.first_pixel == int(rgba[0])

    assert out[3].format == "unknown" and out[3].width is None


def test_synth_png_blobs_decode_roundtrip(spark):
    """Column-native PNG synthesis -> real inflate+unfilter decode
    round-trip: every decoded statistic must equal the closed-form
    prediction from the id (the formulas the DuckDB oracle uses), and
    the bytes must be spec-strict (chunk CRCs + adler32 verified)."""
    import zlib

    from kolang_spark.llm.multimodal import synth_png_blobs

    df = spark.range(0, 40).selectExpr("id AS doc_id")
    blobs = synth_png_blobs(df)
    out = decode_image(blobs).collect()
    assert len(out) == 40
    for r in out:
        i = r.doc_id
        w, h = 4 + i % 8, 4 + i % 5
        npx = w * h * 3
        s = sum((i * 7 + j * 13) % 256 for j in range(npx))
        assert (r.format, r.width, r.height, r.n_channels) == ("png", w, h, 3)
        assert r.n_bytes == 68 + h * (1 + 3 * w)
        assert r.sum_pixel == s and r.first_pixel == (i * 7) % 256
        assert r.mean_pixel == pytest.approx(s / npx)
    # spec-strictness: independent chunk walk validates every CRC, and
    # zlib.decompress validates the closed-form adler32
    for row in blobs.limit(5).collect():
        b = bytes(row["content"])
        pos = 8
        while pos + 8 <= len(b):
            ln = int.from_bytes(b[pos : pos + 4], "big")
            typ = b[pos + 4 : pos + 8]
            data = b[pos + 8 : pos + 8 + ln]
            crc = int.from_bytes(b[pos + 8 + ln : pos + 12 + ln], "big")
            assert crc == zlib.crc32(typ + data)
            if typ == b"IDAT":
                zlib.decompress(data)
            pos += 12 + ln


def test_jpeg_codec_roundtrip_and_rejects():
    """Baseline JPEG encode->decode round trip, exercised off-Spark:
    exact on constant even-valued blocks (the fixture/oracle layout),
    bounded error on gradients/noise (real lossy path: ZRL, AC runs,
    byte stuffing), exact crop on non-multiple-of-8 dims, and clean
    rejection of truncated/progressive-looking streams."""
    import numpy as np

    from kolang_spark.llm.multimodal import _encode_jpeg_gray, _parse_jpeg

    img = np.zeros((16, 24), dtype=np.uint8)
    for b in range(6):
        v = 2 * ((7 * 17 + b * 29) % 128)
        by, bx = divmod(b, 3)
        img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = v
    fmt, w, h, ch, px = _parse_jpeg(_encode_jpeg_gray(img))
    assert (fmt, w, h, ch) == ("jpeg", 24, 16, 1)
    assert np.array_equal(px.reshape(16, 24), img)

    g = (np.arange(32 * 40).reshape(32, 40) * 3 % 256).astype(np.uint8)
    _, _, _, _, px2 = _parse_jpeg(_encode_jpeg_gray(g, q=4))
    assert np.abs(px2.reshape(32, 40).astype(int) - g.astype(int)).max() <= 8

    rng = np.random.RandomState(0)
    noise = rng.randint(0, 256, (24, 24)).astype(np.uint8)
    _, _, _, _, px3 = _parse_jpeg(_encode_jpeg_gray(noise, q=2))
    assert np.abs(px3.reshape(24, 24).astype(int) - noise.astype(int)).max() <= 4

    odd = (np.arange(13 * 19).reshape(13, 19) % 256).astype(np.uint8)
    fmt4, w4, h4, _, px4 = _parse_jpeg(_encode_jpeg_gray(odd, q=1))
    assert (w4, h4) == (19, 13)
    assert np.array_equal(px4.reshape(13, 19), odd)

    assert _parse_jpeg(b"\xff\xd8garbage") is None
    assert _parse_jpeg(b"not a jpeg") is None
    good = _encode_jpeg_gray(img)
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert _parse_jpeg(progressive) is None
    assert _parse_jpeg(good[: len(good) // 2]) is None


def test_synth_jpeg_blobs_decode_roundtrip(spark):
    """Distributed JPEG synthesis -> generic decoder round trip: every
    decoded statistic equals the closed-form prediction the DuckDB
    oracle uses (constant blocks + even values + flat quant 16 = exact
    lossy round trip)."""
    from kolang_spark.llm.multimodal import synth_jpeg_blobs

    df = spark.range(0, 30).selectExpr("id AS doc_id")
    out = decode_image(synth_jpeg_blobs(df)).collect()
    assert len(out) == 30
    for r in out:
        i = r.doc_id
        w, h = 8 * (1 + i % 3), 8 * (1 + i % 2)
        nb = (w // 8) * (h // 8)
        s = 64 * sum(2 * ((i * 17 + b * 29) % 128) for b in range(nb))
        assert (r.format, r.width, r.height, r.n_channels) == ("jpeg", w, h, 1)
        assert r.sum_pixel == s
        assert r.first_pixel == 2 * ((i * 17) % 128)
        assert r.mean_pixel == pytest.approx(s / (w * h))


def test_decode_audio_real_wav_golden(spark):
    """Real WAV decode against stdlib-`wave`-written golden bytes
    (stereo, 44.1 kHz) plus the poison-blob degrade contract."""
    import io as _io
    import wave

    import numpy as np

    buf = _io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(2)
    w.setsampwidth(2)
    w.setframerate(44100)
    samples = np.array([100, -200, 32767, -32768, 5, 6], dtype="<i2")
    w.writeframes(samples.tobytes())
    w.close()

    from kolang_spark.llm.multimodal import decode_audio

    rows = [(1, bytearray(buf.getvalue())), (2, bytearray(b"not audio"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r.doc_id: r for r in decode_audio(df).collect()}
    a = out[1]
    assert (a.format, a.sample_rate, a.n_channels, a.n_samples) == ("wav", 44100, 2, 3)
    assert a.sum_sample == int(samples.sum()) and a.first_sample == 100
    assert a.peak_abs == 32768
    assert out[2].format == "unknown" and out[2].sample_rate is None


def test_decoders_degrade_on_truncated_blobs(spark):
    """Truncation anywhere in a valid PNG/WAV must degrade to
    format='unknown' (poison-blob contract), never raise in the Arrow
    stage."""
    import numpy as np

    from kolang_spark.llm.multimodal import decode_audio, decode_image

    png = _golden_png(4, 3, 3, np.arange(36, dtype=np.uint8), [0, 2])
    # cuts: inside the signature, inside IHDR, mid-IDAT. (Clipping only
    # the trailing IEND bytes still decodes — every pixel is present;
    # leniency about a missing end-marker matches real decoders.)
    rows = [(i, bytearray(png[:cut])) for i, cut in enumerate([10, 30, 45])]
    out = decode_image(
        spark.createDataFrame(rows, "doc_id long, content binary")
    ).collect()
    assert all(r.format == "unknown" for r in out)

    import io as _io
    import wave

    buf = _io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1)
    w.setsampwidth(2)
    w.setframerate(8000)
    w.writeframes(np.arange(10, dtype="<i2").tobytes())
    w.close()
    wav = buf.getvalue()
    rows = [(i, bytearray(wav[:cut])) for i, cut in enumerate([8, 20, len(wav) - 3])]
    out = decode_audio(
        spark.createDataFrame(rows, "doc_id long, content binary")
    ).collect()
    assert all(r.format == "unknown" for r in out)


def test_synth_wav_blobs_decode_roundtrip(spark):
    """Column-native WAV synthesis -> real RIFF/PCM decode round-trip:
    every decoded statistic equals the closed-form prediction, and
    stdlib `wave` re-reads the bytes (spec-strict)."""
    import io as _io
    import wave

    from kolang_spark.llm.multimodal import decode_audio, synth_wav_blobs

    df = spark.range(0, 30).selectExpr("id AS doc_id")
    blobs = synth_wav_blobs(df)
    out = decode_audio(blobs).collect()
    assert len(out) == 30
    for r in out:
        i = r.doc_id
        n = 64 + i % 64
        vals = [
            (w - 65536 if w >= 32768 else w)
            for w in (((i * 31 + k * 17) % 65536) for k in range(n))
        ]
        assert (r.format, r.sample_rate, r.n_channels) == ("wav", 8000, 1)
        assert r.n_samples == n and r.n_bytes == 44 + 2 * n
        assert r.sum_sample == sum(vals) and r.first_sample == vals[0]
        assert r.peak_abs == max(abs(v) for v in vals)
        assert r.duration_s == pytest.approx(n / 8000)
    for row in blobs.limit(3).collect():
        wv = wave.open(_io.BytesIO(bytes(row["content"])))
        assert (wv.getnchannels(), wv.getsampwidth(), wv.getframerate()) == (1, 2, 8000)


def test_sample_frames(spark, docs):
    packed = pack_blob(docs.select("doc_id", "text").limit(5), "text")
    out = sample_frames(packed, fps=2)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r.frame_idx >= 0 for r in rows)


def test_connected_components_merges_chains(spark):
    from kolang_spark.llm import connected_components

    # two chains (1-2-3, via transitive pairs) and an isolated pair
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "id_a long, id_b long",
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def _run_graph_op(op, edges):
    """Call an iterative graph operator on ``(id_a, id_b)`` edges."""
    from kolang_spark.llm import connected_components
    from kolang_spark.operators.graph import label_propagation, pagerank

    calls = {
        "connected_components": connected_components,
        "pagerank": lambda e: pagerank(e, "id_a", "id_b", iterations=5),
        "pagerank_broadcast": lambda e: pagerank(
            e, "id_a", "id_b", iterations=5, broadcast_ranks=True
        ),
        "label_propagation": lambda e: label_propagation(
            e, "id_a", "id_b", iterations=3
        ),
    }
    return calls[op](edges)


@pytest.mark.parametrize(
    "op,pairs",
    [
        ("connected_components", [(1, 2), (2, 3), (3, 4), (10, 11)]),
        ("connected_components", []),
        ("pagerank", [(1, 2), (2, 3), (3, 1), (3, 4), (10, 11)]),
        ("pagerank", []),
    ],
    ids=["cc", "cc-empty", "pagerank", "pagerank-empty"],
)
def test_iterative_operator_uses_fused_observation(spark, monkeypatch, op, pairs):
    """Every convergence / setup metric must ride its checkpoint job via
    ``iter_checkpoint(observe=...)`` on classic Spark — also on an empty
    graph, whose metrics arrive as NULL rather than missing. The
    primitive's one fallback is an aggregate over the pinned frame
    (``DataFrame.agg``), and the operators have no count of their own,
    so any ``agg``/``count`` call while building the result means a fused
    path silently degraded."""
    # pyspark.sql.DataFrame is a facade; instances are the classic
    # subclass, so patch the class the instances actually use
    from pyspark.sql.classic.dataframe import DataFrame

    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    calls = []
    for name in ("agg", "count"):
        real = getattr(DataFrame, name)

        def spy(self, *a, _real=real, _name=name, **k):
            calls.append(_name)
            return _real(self, *a, **k)

        monkeypatch.setattr(DataFrame, name, spy)
    out = _run_graph_op(op, edges)
    monkeypatch.undo()
    assert calls == [], f"fallback ran: {calls}"
    rows = out.collect()
    if not pairs:
        assert rows == []
    elif op == "connected_components":
        comp = {r["id"]: r["component"] for r in rows}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    else:
        assert len(rows) == 6


def test_connected_components_cycle(spark):
    from kolang_spark.llm import connected_components

    edges = spark.createDataFrame([(5, 6), (6, 7), (7, 5)], "id_a long, id_b long")
    comp = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {5: 5, 6: 5, 7: 5}


def test_dedup_keep_list_singletons_and_clusters(spark):
    from kolang_spark.llm import dedup_keep_list

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(0, 3), (3, 5)], "id_a long, id_b long")
    out = {r["doc_id"]: (r["component"], r["keep"]) for r in
           dedup_keep_list(docs, pairs).collect()}
    assert out == {
        0: (0, True), 1: (1, True), 2: (2, True),
        3: (0, False), 4: (4, True), 5: (0, False),
    }


def test_embedding_lsh_subset_of_exact_with_recall(spark, emb):
    from kolang_spark.llm import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, threshold=0.45, dims=64).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.45, dims=64, n_planes=4
        ).collect()
    }
    assert lsh <= exact  # bucketing can only drop pairs, never invent
    # at cos~0.45 (theta~63deg) per-plane collision is ~0.65 -> expected
    # recall 0.65^4 ~ 0.18; fewer planes must monotonically raise recall
    lsh2 = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.45, dims=64, n_planes=2
        ).collect()
    }
    assert lsh <= lsh2 <= exact
    if exact:
        assert len(lsh2) >= len(lsh)


def test_extract_features_deterministic_and_chains_to_ann(spark, docs):
    from kolang_spark.llm import brute_force_topk
    from kolang_spark.llm.multimodal import extract_features, pack_blob

    # text blobs take the raw-byte fold (no image header)
    packed = pack_blob(docs.select("doc_id", "text").limit(50), "text")
    f1 = {r["doc_id"]: r["features"] for r in
          extract_features(packed, dims=8).collect()}
    f2 = {r["doc_id"]: r["features"] for r in
          extract_features(packed.repartition(5), dims=8).collect()}
    assert f1 == f2  # same content → same vector, any partitioning
    assert all(len(v) == 8 for v in f1.values())

    feats = extract_features(packed, dims=8)
    out = brute_force_topk(
        feats, feats.limit(2), k=2,
        id_col="doc_id", vec_col="features",
        query_id_col="doc_id", query_vec_col="features", dims=8,
    )
    rows = out.collect()
    assert len(rows) == 4  # 2 queries × top-2
    top = {r["query_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    assert all(q == v for q, v in top.items())  # self is its own top-1


def test_extract_features_real_path(spark):
    """Default (real) feature path: image blobs are featurized from
    decoded pixel bytes, other blobs from raw bytes, via the strided
    positional mean fold — hand-checkable and partition-independent."""
    from kolang_spark.llm.multimodal import extract_features

    ppm = b"P6\n2 2\n255\n" + bytes(range(12))
    rows = [(1, bytearray(ppm)), (2, bytearray(b"\x00\xff\x00\xff"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r.doc_id: r.features for r in extract_features(df, dims=4).collect()}
    # image: pixel bytes 0..11 folded into 4 dims -> col means of
    # [[0,1,2,3],[4,5,6,7],[8,9,10,11]] / 255
    assert out[1] == pytest.approx([v / 255.0 for v in (4.0, 5.0, 6.0, 7.0)])
    # raw bytes path: one row [0,255,0,255] / 255
    assert out[2] == pytest.approx([0.0, 1.0, 0.0, 1.0])
    # partition-independence
    out2 = {
        r.doc_id: r.features
        for r in extract_features(df.repartition(3), dims=4).collect()
    }
    assert out == pytest.approx(out2)


def test_ivf_topk_self_hit_and_recall_monotone_in_nprobe(spark, emb):
    from kolang_spark.llm import ivf_topk

    anchors = emb.where(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, anchors, k=5, dims=64).collect()
    }

    def hits(nprobe):
        out = ivf_topk(
            emb, anchors, k=5, nprobe=nprobe, centroid_stride=25, dims=64
        ).collect()
        # a query in the corpus lands in a probed cell: self is rank 1
        top1 = {r["query_id"]: r["vec_id"] for r in out if r["rank"] == 1}
        assert all(q == v for q, v in top1.items())
        return {(r["query_id"], r["vec_id"]) for r in out}

    h1, h4 = hits(1), hits(4)
    # more probed cells → recall against the exact answer can only grow
    assert len(h1 & exact) <= len(h4 & exact)
    assert len(h4 & exact) > 0


def test_kmeans_centroids_deterministic_and_plan_size_independent_of_k(spark, emb):
    from kolang_spark.llm import kmeans_centroids

    a = kmeans_centroids(emb, k=4, dims=64, iters=2).orderBy("cent_id").collect()
    b = kmeans_centroids(emb, k=4, dims=64, iters=2).orderBy("cent_id").collect()
    # deterministic end to end: same input → bit-identical centroids
    assert [(r.cent_id, r.g_v) for r in a] == [(r.cent_id, r.g_v) for r in b]
    assert [r.cent_id for r in a] == [0, 1, 2, 3]
    assert all(len(r.g_v) == 64 for r in a)
    # centroids moved off their seeds (the k smallest vec_ids)
    seeds = emb.orderBy("vec_id").limit(4).collect()
    assert [list(map(float, s.embedding)) for s in seeds] != [r.g_v for r in a]

    # the assignment expression must not inline centroids as literals:
    # plan text size stays flat as k grows (O(dims), not O(k*dims)).
    # Explain the per-iteration *assignment* frame itself — the final
    # centroid table is a trivial LocalTableScan and would pass for any
    # implementation.
    import io as _io
    from contextlib import redirect_stdout

    from kolang_spark.llm.similarity import _as_double, _kmeans_assign

    def plan_len(k):
        pts = emb.select(
            F.col("vec_id").alias("p_id"), _as_double(F.col("embedding")).alias("p_v")
        )
        cent_rows = [(i, [float(i)] * 64) for i in range(k)]
        cent_df = spark.createDataFrame(cent_rows, "cent_id int, g_v array<double>")
        buf = _io.StringIO()
        with redirect_stdout(buf):
            _kmeans_assign(pts, cent_df, dims=64).explain("formatted")
        return len(buf.getvalue())

    small, large = plan_len(2), plan_len(32)
    # 16x the centroids, ~same plan text (allow slack for row-count
    # annotations); an O(k*dims) literal-inlined distance would blow
    # this up ~16x
    assert large < small * 1.5


def test_ivf_default_coarse_quantizer_is_fixed_k_kmeans(spark, emb):
    """r10 default flip (r9 scale review): with neither centroids= nor
    centroid_stride= given, ivf_topk trains a FIXED-k kmeans coarse
    quantizer (k = min(4096, isqrt(N))) — C no longer grows ∝ N — and
    the result equals the explicit kmeans_centroids path bit-for-bit.
    Explicit centroid_stride still selects the lazy stride subset."""
    from kolang_spark.llm import ivf_topk, kmeans_centroids

    anchors = emb.where(F.col("vec_id") % 100 == 0)
    n = emb.count()
    k = min(4096, math.isqrt(n))
    cents = kmeans_centroids(emb, k=k, dims=64, iters=3)
    want = {
        tuple(r)
        for r in ivf_topk(
            emb, anchors, k=5, nprobe=2, dims=64, centroids=cents
        ).collect()
    }
    got = {
        tuple(r)
        for r in ivf_topk(emb, anchors, k=5, nprobe=2, dims=64).collect()
    }
    assert got == want
    stride = {
        tuple(r)
        for r in ivf_topk(
            emb, anchors, k=5, nprobe=2, dims=64, centroid_stride=25
        ).collect()
    }
    # different quantizer, same contract; on this corpus the cells
    # genuinely differ so the result sets must not be identical
    assert stride != got


def test_kmeans_centroids_empty_cell_keeps_seed(spark):
    from kolang_spark.llm import kmeans_centroids

    # two far clusters, k=3: one seed never wins a cell and must
    # survive unchanged (deterministic empty-cell fallback)
    rows = [(i, [0.0, 0.0]) for i in range(3)] + [(10 + i, [9.0, 9.0]) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    out = {r.cent_id: r.g_v for r in kmeans_centroids(df, k=3, dims=2, iters=2).collect()}
    assert out[2] == [0.0, 0.0]  # empty cell kept its seed vector
    # the two live centroids converge to the two cluster centers, in
    # either assignment order
    assert (out[0], out[1]) in (
        ([0.0, 0.0], [9.0, 9.0]),
        ([9.0, 9.0], [0.0, 0.0]),
    )


def test_connected_components_deep_chain_logarithmic_rounds(spark):
    """A 64-deep path resolves within max_iter=8 — only possible with
    pointer jumping (plain min-propagation needs ~64 rounds)."""
    from kolang_spark.llm import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(edges, max_iter=8).collect()}
    assert len(comp) == 65
    assert set(comp.values()) == {0}


def test_ann_recall_floor_vs_brute_force(spark):
    """Round-3 verdict item 4: recall@10 of the ANN operators vs the
    exact brute-force baseline, with asserted floors a bucketing change
    would break. Measured on planted near-duplicate clusters (40
    clusters × 10 members, cosine ≈ 0.9 within-cluster) — the workload
    ANN exists for; the near-random fixture numbers are recorded in
    BASELINE.md §ANN recall. Deterministic: fixed numpy seed, md5
    planes, stride centroids."""
    import numpy as np

    from kolang_spark.llm.similarity import ivf_topk

    rng = np.random.default_rng(7)
    rows = []
    for c in range(40):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for m in range(10):
            v = base + 0.06 * rng.normal(size=64)
            rows.append((c * 10 + m, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    qs = emb.where(F.col("vec_id") % 10 == 0)

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.query_id, set()).add(r.vec_id)
        return out

    K = 10
    exact = sets(brute_force_topk(emb, qs, k=K, dims=64))

    def recall(approx):
        return sum(
            len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
        ) / len(exact)

    lsh_r0 = recall(sets(lsh_topk(emb, qs, k=K, n_planes=4, dims=64)))
    lsh_r1 = recall(sets(lsh_topk(emb, qs, k=K, n_planes=4, dims=64, multi_probe=1)))
    lsh_r2 = recall(sets(lsh_topk(emb, qs, k=K, n_planes=4, dims=64, multi_probe=2)))
    ivf_np4 = recall(sets(ivf_topk(emb, qs, k=K, nprobe=4, dims=64)))

    # multi-probe is the recall lever: strictly monotone in radius here
    assert lsh_r0 < lsh_r1 < lsh_r2
    # floors (measured 0.44 / 0.78 / 0.94 / 0.93): a regression in
    # bucketing, probing, or scoring trips these
    assert lsh_r1 >= 0.70
    assert lsh_r2 >= 0.90
    assert ivf_np4 >= 0.90

    with pytest.raises(ValueError):
        lsh_topk(emb, qs, n_planes=4, multi_probe=5)


def test_hash_fn_xxhash64_same_candidate_semantics(spark):
    """The production hash knob must preserve candidate-pair *semantics*:
    planted exact duplicates always collide (identical shingle sets ⇒
    identical minhash signature / simhash signature under ANY hash), and
    a clearly-unrelated doc pairs with nobody under either hash. The
    signatures themselves differ across hash_fns by construction."""
    from kolang_spark.llm import minhash_candidate_pairs, simhash_hamming_pairs

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "on a bright morning while birds sing in the old oak trees"
    )
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, "zzz qqq vvv kkk www yyy xxx jjj hhh ggg fff ddd sss aaa bbb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for hash_fn in ("md5", "xxhash64"):
        mh = {
            (r.id_a, r.id_b)
            for r in minhash_candidate_pairs(df, hash_fn=hash_fn).collect()
        }
        assert (1, 2) in mh, hash_fn
        assert not any(3 in p for p in mh), hash_fn
        sh = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_hamming_pairs(df, hash_fn=hash_fn).collect()
        }
        assert sh.get((1, 2)) == 0, hash_fn
        assert not any(3 in p for p in sh), hash_fn

    with pytest.raises(ValueError):
        minhash_candidate_pairs(df, hash_fn="sha1")


def test_connected_components_adaptive_jump_reengages_on_stall(spark):
    """jump_frac=1.0 makes every round *eligible* to skip the jump; the
    halving guard must still re-engage pointer jumping on a crawling
    frontier (a chain's changed-count decays by ~1/round, not 2x), so a
    64-deep path must still resolve in logarithmic rounds — a
    propagation-only walk would need ~64."""
    from kolang_spark.llm import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id_a long, id_b long"
    )
    comp = {
        r["id"]: r["component"]
        for r in connected_components(edges, max_iter=10, jump_frac=1.0).collect()
    }
    assert len(comp) == 65
    assert set(comp.values()) == {0}


@pytest.mark.parametrize(
    "op",
    ["pagerank", "pagerank_broadcast", "label_propagation", "connected_components"],
)
def test_iterative_operator_releases_checkpoint_blocks(spark, op):
    """Superseded per-round localCheckpoints — and the setup pins the
    returned frame no longer reads — must be unpersisted
    deterministically; only the final round's checkpoint (backing the
    returned frame) may stay pinned. Without release, every round's
    block set accumulates until JVM GC (memory pressure at scale)."""
    from kolang_spark.utils import _persistent_rdd_ids

    jspark = spark._jsparkSession
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    # compare id SETS: GC-driven cleanup of an earlier test's pins must
    # not mask this call's leak
    before = _persistent_rdd_ids(jspark)
    rows = _run_graph_op(op, edges).collect()
    assert len(rows) == 41
    if op == "connected_components":
        assert {r.component for r in rows} == {0}
    # ≥3 rounds ran (≥5 checkpoints created); all but the final round's
    # must be gone
    assert len(_persistent_rdd_ids(jspark) - before) <= 2


def test_simhash_hamming_pairs_matches_brute_force(spark, docs):
    """Banded candidate generation + first-agreeing-band dedup must
    equal the O(n^2) definition: every unordered pair with
    bit_count(xor(sig)) <= d, exactly once."""
    from kolang_spark.llm import simhash_hamming_pairs

    sub = docs.limit(200)
    sigs = {
        r.doc_id: r.s
        for r in sub.select("doc_id", simhash("text", 16).alias("s")).collect()
    }
    ids = sorted(sigs)
    expect = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 2
    }
    got = [
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_hamming_pairs(sub, bits=16, max_distance=2).collect()
    ]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == expect


def test_repetition_metrics_hand_checked(spark):
    from kolang_spark.llm import repetition_metrics

    df = spark.createDataFrame(
        [(1, "a a a b c"), (2, "x y z w"), (3, "p q p q p q"), (4, "")],
        "doc_id int, text string",
    )
    m = repetition_metrics("text")
    out = {
        r.doc_id: r
        for r in df.select("doc_id", *[v.alias(k) for k, v in m.items()]).collect()
    }
    assert (out[1].n_words, out[1].dup_word_ratio, out[1].top_word_ratio) == (5, 0.4, 0.6)
    assert out[1].dup_ngram_ratio == 0.25  # grams: aa,aa,ab,bc -> 1 dup of 4
    assert out[2].dup_word_ratio == 0.0 and out[2].top_word_ratio == 0.25
    assert out[3].dup_word_ratio == pytest.approx(4 / 6)
    assert out[3].top_word_ratio == 0.5
    assert out[3].dup_ngram_ratio == pytest.approx(3 / 5)  # pq,qp,pq,qp,pq
    assert (out[4].n_words, out[4].dup_word_ratio) == (0, 0.0)


def test_repetition_metrics_null_text_is_zero(spark):
    """NULL text must behave like the empty string (n_words=0, ratios
    0.0) — matching the DuckDB oracle's COALESCE, not propagate NULL."""
    from kolang_spark.llm import repetition_metrics

    df = spark.createDataFrame([(1, None)], "doc_id int, text string")
    m = repetition_metrics("text")
    r = df.select(*[v.alias(k) for k, v in m.items()]).collect()[0]
    assert (r.n_words, r.dup_word_ratio, r.top_word_ratio, r.dup_ngram_ratio) == (
        0,
        0.0,
        0.0,
        0.0,
    )


def test_unigram_lm_scores_ranks_gibberish_higher(spark):
    """Self-scored unigram LM: a document of corpus-typical tokens
    scores lower (less surprising) than one of hapax gibberish; empty
    docs get NULL score; external lm_df path smooths unseen tokens."""
    import math

    from kolang_spark.llm import unigram_lm_scores

    rows = [(i, "the cat sat on the mat") for i in range(8)] + [
        (100, "zq9x kvw7 pp3j qqrr"),
        (101, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in unigram_lm_scores(df).collect()}
    assert len(out) == 10
    assert out[101].n_tokens == 0 and out[101].avg_neg_logprob is None
    assert out[100].avg_neg_logprob > out[0].avg_neg_logprob
    # closed-form check for the typical doc: tokens' counts are
    # the=16, cat/sat/on/mat=8 each; total=52, vocab=9, alpha=1
    total, vocab = 8 * 6 + 4, 9
    contribs = [math.log(16 + 1)] * 2 + [math.log(8 + 1)] * 4
    micro = sum(round(c * 1e6) for c in contribs)
    expect = math.log(total + vocab) - micro / (6 * 1e6)
    assert abs(out[0].avg_neg_logprob - expect) < 1e-9

    # external reference LM: unseen tokens hit the alpha floor
    ref = spark.createDataFrame([(0, "a a a b")], "doc_id long, text string")
    scored = {
        r.doc_id: r
        for r in unigram_lm_scores(
            spark.createDataFrame([(1, "a b"), (2, "zzz zzz")], "doc_id long, text string"),
            lm_df=ref,
        ).collect()
    }
    # total=4, vocab=2: seen doc mixes ln(4)/ln(2); unseen doc floors at ln(alpha)=0
    assert scored[2].avg_neg_logprob > scored[1].avg_neg_logprob
    e1 = math.log(4 + 2) - (round(math.log(4) * 1e6) + round(math.log(2) * 1e6)) / (2 * 1e6)
    assert abs(scored[1].avg_neg_logprob - e1) < 1e-9
    assert abs(scored[2].avg_neg_logprob - math.log(6)) < 1e-9

    with pytest.raises(ValueError):
        unigram_lm_scores(df, alpha=0)


def test_jpeg_color_decode_roundtrip():
    """The decoder's 3-component 4:4:4 path (separate DC predictors per
    component, Rec.601 YCbCr->RGB): encoded color images round-trip
    within the chroma-rounding bound; grayscale stays exact."""
    import numpy as np

    from kolang_spark.llm.multimodal import (
        _encode_jpeg_gray,
        _encode_jpeg_rgb,
        _parse_jpeg,
    )

    rng = np.random.RandomState(1)
    rgb = rng.randint(0, 256, (24, 32, 3)).astype(np.uint8)
    fmt, w, h, ch, px = _parse_jpeg(_encode_jpeg_rgb(rgb, q=1))
    assert (fmt, w, h, ch) == ("jpeg", 32, 24, 3)
    assert np.abs(px.reshape(24, 32, 3).astype(int) - rgb.astype(int)).max() <= 4

    solid = np.zeros((8, 8, 3), np.uint8)
    solid[:, :, 0], solid[:, :, 1], solid[:, :, 2] = 200, 64, 32
    _, _, _, _, px2 = _parse_jpeg(_encode_jpeg_rgb(solid, q=1))
    assert np.abs(px2.reshape(8, 8, 3).astype(int) - solid.astype(int)).max() <= 1

    img = np.full((16, 16), 100, dtype=np.uint8)
    _, _, _, chg, pxg = _parse_jpeg(_encode_jpeg_gray(img))
    assert chg == 1 and np.array_equal(pxg.reshape(16, 16), img)


def test_pca_matches_numpy_and_projects(spark, emb):
    """Distributed moment-aggregation PCA must match numpy PCA on the
    collected data: same eigenvalues, same (sign-normalized) top
    components, projections equal within float tolerance, variance
    explained in descending order."""
    import numpy as np

    from kolang_spark.llm import pca_fit, pca_project

    model = pca_fit(emb, dims=64, k=4)
    X = np.array([r.embedding for r in emb.select("embedding").collect()])
    mu = X.mean(axis=0)
    cov = (X - mu).T @ (X - mu) / len(X)
    w, vecs = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:4]
    assert model.n_rows == len(X)
    assert np.allclose(model.mean, mu, atol=1e-9)
    assert model.explained_variance[0] >= model.explained_variance[-1] > 0
    for ci, idx in enumerate(order):
        assert model.explained_variance[ci] == pytest.approx(w[idx], rel=1e-6)
        ref = vecs[:, idx]
        pivot = int(np.argmax(np.abs(ref)))
        if ref[pivot] < 0:
            ref = -ref
        assert np.allclose(model.components[ci], ref, atol=1e-6)

    out = pca_project(emb, model).select("vec_id", "pca").collect()
    by_id = {r.vec_id: np.array(r.pca) for r in out}
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    P = np.array(model.components)
    for vid, x in zip(ids, X):
        assert np.allclose(by_id[vid], P @ (x - mu), atol=1e-8)

    with pytest.raises(ValueError):
        pca_fit(emb, dims=64, k=0)
    with pytest.raises(ValueError):
        pca_fit(emb.where("vec_id < 0"), dims=64, k=2)


def test_pca_arr_lit_roundtrips_exactly(spark):
    """The SQL-text literal builder must reproduce every double
    bit-exactly (repr is the shortest round-tripping form and the SQL
    parser applies Double.parseDouble), including negatives, subnormal
    magnitudes, and values with no short decimal form; non-finite
    values raise instead of emitting unparseable SQL."""
    import math
    import struct

    import pytest as _pytest

    from kolang_spark.llm.pca import _arr_lit

    vals = [
        0.0,
        -0.0,
        1.0,
        -1.5,
        1e-300,
        -1e300,
        5e-324,  # smallest subnormal
        math.pi,
        1 / 3,
        struct.unpack("<d", struct.pack("<q", 0x3FF123456789ABCD))[0],
    ]
    flat = spark.range(1).select(_arr_lit(vals).alias("a")).first().a
    assert [struct.pack("<d", x) for x in flat] == [
        struct.pack("<d", v) for v in vals
    ]
    nested = (
        spark.range(1)
        .select(_arr_lit([vals[:5], vals[5:]]).alias("m"))
        .first()
        .m
    )
    assert [x for row in nested for x in row] == [float(v) for v in vals]
    for bad in (float("nan"), float("inf"), float("-inf")):
        with _pytest.raises(ValueError):
            _arr_lit([1.0, bad])


def test_incremental_exact_dedup_across_batches(spark, tmp_path):
    """Ingest-time dedup against persisted fingerprint state: batch 1
    establishes state, batch 2 is checked against it (plus its own
    first-seen rule); whitespace/case variants collapse; the state
    table holds one fingerprint per distinct accepted document."""
    from kolang_spark.llm import incremental_exact_dedup

    state = str(tmp_path / "fps")
    b1 = spark.createDataFrame(
        [(1, "same text"), (2, "same  TEXT"), (3, "other")],
        "doc_id long, text string",
    )
    out1 = {r.doc_id: r.is_duplicate for r in
            incremental_exact_dedup(spark, b1, state).collect()}
    # in-batch: 1 keeps (first id), 2 is its duplicate, 3 novel
    assert out1 == {1: False, 2: True, 3: False}
    assert spark.read.parquet(state).count() == 2

    b2 = spark.createDataFrame(
        [(10, "Same Text"), (11, "brand new"), (12, "brand  NEW")],
        "doc_id long, text string",
    )
    out2 = {r.doc_id: r.is_duplicate for r in
            incremental_exact_dedup(spark, b2, state).collect()}
    # 10 duplicates batch-1 state; 11 novel; 12 duplicates 11 in-batch
    assert out2 == {10: True, 11: False, 12: True}
    assert spark.read.parquet(state).count() == 3

    # idempotent-ish replay: re-running batch 2 flags everything dup
    out3 = {r.doc_id: r.is_duplicate for r in
            incremental_exact_dedup(spark, b2, state).collect()}
    assert out3 == {10: True, 11: True, 12: True}
    assert spark.read.parquet(state).count() == 3


def test_incremental_minhash_dedup_across_batches(spark, tmp_path):
    """Cross-batch near-dup replay: batch 2 is flagged against batch
    1's persisted band keys without rescanning batch 1's text; flagged
    docs never enter the state; short docs always pass."""
    from kolang_spark.llm import incremental_minhash_dedup

    state = str(tmp_path / "mh_state")
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different content about spark execution plans here"
    b1 = spark.createDataFrame(
        [(1, text_a), (2, text_b), (3, text_a + " tail")], ["doc_id", "text"]
    )
    m1 = {
        r.doc_id: r.is_near_duplicate
        for r in incremental_minhash_dedup(spark, b1, state).collect()
    }
    # doc 3 shares most shingles with doc 1 -> within-batch candidate
    assert m1[1] is False and m1[2] is False
    assert m1[3] is True

    b2 = spark.createDataFrame(
        [
            (10, text_a),            # near-dups batch 1's accepted doc 1
            (11, "short doc"),       # < n tokens: no signature, accepted
            (12, "fresh novel words never seen in any earlier batch at all"),
        ],
        ["doc_id", "text"],
    )
    m2 = {
        r.doc_id: r.is_near_duplicate
        for r in incremental_minhash_dedup(spark, b2, state).collect()
    }
    assert m2[10] is True
    assert m2[11] is False and m2[12] is False

    # flagged docs (3, 10) never entered the state: replaying doc 3's
    # exact text in a fresh batch still collides only via doc 1's keys,
    # and state rows stay (bands x accepted-with-signature docs) distinct
    st = spark.read.parquet(state)
    assert st.count() == st.distinct().count()
    b3 = spark.createDataFrame([(20, text_b)], ["doc_id", "text"])
    m3 = {
        r.doc_id: r.is_near_duplicate
        for r in incremental_minhash_dedup(spark, b3, state).collect()
    }
    assert m3[20] is True  # doc 2's keys persisted in batch 1


def test_semantic_dedup_flags_planted_within_cluster_only(spark):
    """Two tight planted clusters far apart plus one planted duplicate
    per cluster: the duplicate (larger id) is flagged against its
    smaller-id source, sources/kept docs are not, and cross-cluster
    high-cos pairs can never fire (the pairwise stage is an equi-join
    on cent_id)."""
    import math

    from pyspark.sql import Row

    from kolang_spark.llm.dedup import semantic_dedup

    dims = 8

    def unit(seed, flip):
        v = [math.cos(seed + 0.1 * d) for d in range(dims)]
        if flip:
            v = [-x for x in v]
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    # cluster A around unit(0.3): ids 0..4; B around -unit(0.3): 10..14.
    # 0.2-seed spread keeps organic in-cluster cos <= 0.9965 (below the
    # 0.999 threshold) while cross-cluster cos stays negative.
    for i in range(5):
        rows.append(Row(vec_id=i, embedding=unit(0.3 + 0.2 * i, False)))
        rows.append(Row(vec_id=10 + i, embedding=unit(0.3 + 0.2 * i, True)))
    # planted duplicates: exact copies with larger ids
    rows.append(Row(vec_id=100, embedding=unit(0.3, False)))
    rows.append(Row(vec_id=110, embedding=unit(0.3, True)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = semantic_dedup(df, k=2, dims=dims, iters=3, threshold=0.999)
    got = {r.vec_id: r for r in out.collect()}
    assert len(got) == 12
    assert got[100].is_semantic_dup and got[110].is_semantic_dup
    assert all(not got[i].is_semantic_dup for i in list(range(5)) + list(range(10, 15)))
    # the duplicate shares its source's cluster; dup_cos == 1 (exact copy)
    assert got[100].cent_id == got[0].cent_id
    assert got[110].cent_id == got[10].cent_id
    assert abs(got[100].dup_cos - 1.0) < 1e-9
    assert got[0].dup_cos is None
    # opposite clusters actually separate
    assert got[0].cent_id != got[10].cent_id

    # pair_salts only re-partitions the pair space: results bit-identical
    salted = semantic_dedup(
        df, k=2, dims=dims, iters=3, threshold=0.999, pair_salts=4
    )
    got_s = {
        r.vec_id: (r.cent_id, r.is_semantic_dup, r.dup_cos)
        for r in salted.collect()
    }
    assert got_s == {
        r.vec_id: (r.cent_id, r.is_semantic_dup, r.dup_cos)
        for r in got.values()
    }
    with pytest.raises(ValueError):
        semantic_dedup(df, k=2, dims=dims, pair_salts=0)

    # determinism: bit-identical on re-run (fixed-point Lloyd means)
    again = {r.vec_id: r for r in semantic_dedup(
        df, k=2, dims=dims, iters=3, threshold=0.999).collect()}
    assert {k: (v.cent_id, v.is_semantic_dup, v.dup_cos) for k, v in got.items()} == \
        {k: (v.cent_id, v.is_semantic_dup, v.dup_cos) for k, v in again.items()}


def test_bigram_lm_scores_semantics_and_determinism(spark):
    """Repeated-pattern docs score lower than gibberish; BOS handles
    single-token docs; the micro-nat fixed point is repartition-exact;
    zero-token docs get NULL."""
    from kolang_spark.llm.lmscore import bigram_lm_scores

    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the cat sat"),
            (2, "qz zx vq jx wk"),  # unseen-elsewhere gibberish
            (3, "the"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_lm_scores(df).collect()}
    assert got[4].n_tokens == 0 and got[4].avg_neg_logprob is None
    assert got[3].n_tokens == 1
    # the common bigrams ("the cat", "cat sat") make docs 0/1 more
    # typical than the gibberish doc under the self-estimated LM
    assert got[1].avg_neg_logprob < got[2].avg_neg_logprob
    assert got[0].avg_neg_logprob < got[2].avg_neg_logprob

    again = {r.doc_id: (r.n_tokens, r.avg_neg_logprob)
             for r in bigram_lm_scores(df.repartition(7)).collect()}
    assert again == {k: (v.n_tokens, v.avg_neg_logprob) for k, v in got.items()}


def test_bigram_lm_scores_external_reference_corpus(spark):
    """With lm_df, the counts come from the reference corpus only —
    a doc matching the reference's bigrams scores lower than one that
    shares no vocabulary."""
    from kolang_spark.llm.lmscore import bigram_lm_scores

    ref = spark.createDataFrame(
        [(100, "good clean text here"), (101, "good clean text again")],
        "doc_id long, text string",
    )
    df = spark.createDataFrame(
        [(0, "good clean text"), (1, "xx yy zz")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_lm_scores(df, lm_df=ref).collect()}
    assert got[0].avg_neg_logprob < got[1].avg_neg_logprob


def test_bigram_lm_scores_validation(spark):
    from kolang_spark.llm.lmscore import bigram_lm_scores

    df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    import pytest as _pt

    with _pt.raises(ValueError):
        bigram_lm_scores(df, alpha=0.0)
    with _pt.raises(ValueError):
        bigram_lm_scores(df, lam=1.0)


def _lev(a: str, b: str) -> int:
    # reference DP, test-local
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_edit_distance_pairs_basic(spark):
    from kolang_spark.llm import edit_distance_pairs

    df = spark.createDataFrame(
        [
            (1, "spark engine"),
            (2, "spark enginz"),   # 1 substitution from doc 1
            (3, "spark enginee"),  # 1 insertion from doc 1
            (4, "entirely other"),
            (5, "spark enGinz"),   # 2 edits from doc 1, 1 from doc 2
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, max_dist=1).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 1, (2, 5): 1}
    got2 = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, max_dist=2).collect()
    }
    assert got2[(1, 5)] == 2 and got2[(2, 3)] == 2 and (1, 4) not in got2


def test_edit_distance_pairs_min_len_guard(spark):
    from kolang_spark.llm import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "ab"), (4, "ab")], ["doc_id", "text"]
    )
    # default min_len = d+1 = 2 drops the single-char rows
    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, max_dist=1).collect()
    }
    assert got == {(3, 4): 0}
    with pytest.raises(ValueError):
        edit_distance_pairs(df, max_dist=1, min_len=1)
    with pytest.raises(ValueError):
        edit_distance_pairs(df, max_dist=0)


@pytest.mark.parametrize("d", [1, 2])
def test_edit_distance_pairs_matches_brute_force(spark, d):
    """PassJoin recall is 100% by the pigeonhole argument — prove the
    implementation against a reference DP over an adversarial corpus
    (tiny alphabet => dense near-collisions, mixed lengths)."""
    import itertools
    import random

    rng = random.Random(42 + d)
    texts = [
        "".join(rng.choice("ab") for _ in range(rng.randint(d + 1, 9)))
        for _ in range(40)
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from kolang_spark.llm import edit_distance_pairs

    got = {
        (r.id_a, r.id_b): r.dist
        for r in edit_distance_pairs(df, max_dist=d).collect()
    }
    want = {}
    for (ia, ta), (ib, tb) in itertools.combinations(rows, 2):
        dist = _lev(ta, tb)
        if dist <= d:
            want[(ia, ib)] = dist
    assert got == want


def test_cdc_chunks_partition_and_shift_resistance(spark):
    from kolang_spark.llm import cdc_chunks

    import hashlib
    import random

    rng = random.Random(11)
    body = "".join(rng.choice("abcdefgh ") for _ in range(800))
    df = spark.createDataFrame(
        [
            (1, body),
            (2, "PREFIX-INSERTED-" + body),  # shifted copy
            (3, ""),                          # empty -> no rows
            (4, "tiny"),                      # shorter than the window
        ],
        ["doc_id", "text"],
    )
    rows = cdc_chunks(df, window=8, mask_bits=4).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc
    # sub-window doc = one whole-doc chunk
    assert [(c.start_byte, c.n_bytes) for c in by_doc[4]] == [(0, 4)]

    # chunks tile each document exactly: contiguous, full coverage
    for doc_id, text in [(1, body), (2, "PREFIX-INSERTED-" + body)]:
        cs = sorted(by_doc[doc_id], key=lambda c: c.chunk_idx)
        pos = 0
        for c in cs:
            assert c.start_byte == pos
            pos += c.n_bytes
        assert pos == len(text.encode())
        # chunk hashes really are md5 of the hex-encoded slice
        hx = text.encode().hex().upper()
        for c in cs[:3]:
            seg = hx[2 * c.start_byte : 2 * (c.start_byte + c.n_bytes)]
            assert c.chunk_hash == hashlib.md5(seg.encode()).hexdigest()

    # SHIFT RESISTANCE: the prefixed copy shares almost all chunk hashes
    h1 = {c.chunk_hash for c in by_doc[1]}
    h2 = {c.chunk_hash for c in by_doc[2]}
    assert len(by_doc[1]) >= 10  # mask_bits=4 => ~16-byte chunks on 800 bytes
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.8, f"CDC lost shift resistance: {shared}"

    with pytest.raises(ValueError):
        cdc_chunks(df, window=0)
    with pytest.raises(ValueError):
        cdc_chunks(df, mask_bits=0)


def test_pmi_collocations_ranks_true_pairs(spark):
    from kolang_spark.llm import pmi_collocations

    import math

    # "new york" always co-occurs; "the cat"/"the dog" share the hot
    # token "the", diluting their PMI
    rows = []
    for i in range(10):
        rows.append((i, "new york is where the cat saw the dog"))
    rows.append((10, "the end"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = pmi_collocations(df, top_k=5, min_count=5).collect()
    # every non-"the" bigram ties on PMI (identical counts); ties break
    # on (term_a, term_b) asc, and "the *" pairs rank strictly lower
    assert ("new", "york") in {(r.term_a, r.term_b) for r in out}
    assert out[0].pmi_micro >= out[-1].pmi_micro
    the_pairs = [r for r in out if r.term_a == "the"]
    non_the = [r for r in out if r.term_a != "the"]
    assert all(
        t.pmi_micro < n.pmi_micro for t in the_pairs for n in non_the
    )
    r = next(x for x in out if (x.term_a, x.term_b) == ("new", "york"))
    n_total = 10 * 9 + 2  # total token occurrences
    want = round(math.log((r.c_ab * n_total) / (r.c_a * r.c_b)) * 1e6)
    assert r.pmi_micro == want
    # min_count guard drops the once-seen "the end" bigram
    assert not [x for x in out if (x.term_a, x.term_b) == ("the", "end")]
    with pytest.raises(ValueError):
        pmi_collocations(df, top_k=0)


def test_oov_stats_counts(spark):
    from kolang_spark.llm import oov_stats

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the MAT"),
            (2, "zebras quixotic"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("mat",), ("on",)], ["term"]
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate)
        for r in oov_stats(df, vocab).collect()
    }
    assert got[1] == (6, 1, 1 / 6)  # "sat" is the only OOV token
    assert got[2] == (2, 2, 1.0)
    assert got[3] == (0, 0, None)


def test_incremental_cdc_ingest_two_batches(spark, tmp_path):
    from kolang_spark.llm import cdc_chunks, incremental_cdc_ingest

    import random

    rng = random.Random(5)
    body = "".join(rng.choice("abcdefg ") for _ in range(600))
    other = "".join(rng.choice("hijklmn ") for _ in range(600))
    state = str(tmp_path / "cdc_state")

    # batch 1: two distinct docs -> everything novel
    b1 = spark.createDataFrame([(1, body), (2, other)], ["doc_id", "text"])
    r1 = {r.doc_id: r for r in incremental_cdc_ingest(spark, b1, state).collect()}
    assert r1[1].dup_bytes == 0 and r1[2].dup_bytes == 0
    assert r1[1].novel_bytes == len(body.encode())
    assert r1[1].n_chunks == r1[1].n_novel_chunks

    # batch 2: an exact re-send (all dup), a prefixed copy (mostly dup),
    # and fresh content (all novel)
    fresh = "".join(rng.choice("opqrstu ") for _ in range(600))
    b2 = spark.createDataFrame(
        [(3, body), (4, "NEW-PREFIX-" + body), (5, fresh)],
        ["doc_id", "text"],
    )
    r2 = {r.doc_id: r for r in incremental_cdc_ingest(spark, b2, state).collect()}
    assert r2[3].novel_bytes == 0
    assert r2[3].dup_bytes == len(body.encode())
    # shift resistance: the prefixed copy shares most chunk bytes
    assert r2[4].dup_bytes > 0.7 * r2[4].total_bytes
    # fresh content is (almost) all novel — tiny 1-byte chunks can
    # legitimately collide with identical 1-byte chunks already stored
    assert r2[5].dup_bytes <= 3

    # totals always reconcile with the raw chunking
    raw = cdc_chunks(b2).groupBy("doc_id").agg(
        F.sum("n_bytes").alias("tb")).collect()
    for row in raw:
        assert r2[row.doc_id].total_bytes == row.tb

    # state holds one row per distinct stored chunk, no content
    st = spark.read.parquet(state)
    assert set(st.columns) == {"chunk_key", "n_bytes"}
    assert st.count() == st.select("chunk_key").distinct().count()


def test_incremental_cdc_survives_empty_state_dir(spark, tmp_path):
    """Crash window: the very first state append can die after creating
    the directory but before committing any parquet file. The explicit-
    schema state read must treat that as empty state (everything novel),
    not throw schema-inference errors forever."""
    import os

    from kolang_spark.llm import incremental_cdc_ingest

    state = str(tmp_path / "wedged_state")
    os.makedirs(state)  # exists, but holds no parquet files
    df = spark.createDataFrame(
        [(1, "some chunkable text that is long enough to chunk")],
        ["doc_id", "text"],
    )
    rows = incremental_cdc_ingest(spark, df, state).collect()
    assert rows[0].dup_bytes == 0 and rows[0].novel_bytes > 0


def test_duplication_mass_report(spark):
    """Planted multiplicities land in the right buckets and token
    shares sum to 1 (`llm/dedup.py::duplication_mass_report`)."""
    from kolang_spark.llm.dedup import duplication_mass_report

    docs = [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "z"), (5, "z"), (6, "z")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.n_copies: r for r in duplication_mass_report(df).collect()}
    assert rows[1].n_groups == 1 and rows[1].n_docs == 1  # "x y"
    assert rows[1].total_tokens == 2
    assert rows[2].n_groups == 1 and rows[2].n_docs == 2  # "a b c" x2
    assert rows[2].total_tokens == 6
    assert rows[3].n_groups == 1 and rows[3].n_docs == 3  # "z" x3
    assert rows[3].total_tokens == 3
    assert abs(sum(r.token_share for r in rows.values()) - 1.0) < 1e-9


def test_incremental_minhash_state_hash_fn_guard(spark, tmp_path):
    """r11: the minhash state is stamped with its hash_fn and probing
    with a DIFFERENT hash_fn raises — md5-era state probed under the
    new xxhash64 default would otherwise silently accept every
    duplicate (band keys from different hashes never collide). A
    pre-stamp state (no hash_fn column) counts as md5."""
    import pytest

    from kolang_spark.llm import incremental_minhash_dedup

    text = "the quick brown fox jumps over the lazy dog again and again"
    b = spark.createDataFrame([(1, text)], ["doc_id", "text"])

    # state written under md5, probed under the xxhash64 default
    state = str(tmp_path / "mh_state_md5")
    incremental_minhash_dedup(spark, b, state, hash_fn="md5")
    with pytest.raises(ValueError, match="hash_fn"):
        incremental_minhash_dedup(spark, b, state)
    # same hash_fn keeps working, and the dup is caught
    again = incremental_minhash_dedup(spark, b, state, hash_fn="md5")
    assert again.collect()[0].is_near_duplicate is True

    # pre-stamp legacy state (hash_fn column absent) counts as md5
    legacy = str(tmp_path / "mh_state_legacy")
    incremental_minhash_dedup(spark, b, legacy, hash_fn="md5")
    spark.read.parquet(legacy).drop("hash_fn").write.mode(
        "overwrite"
    ).parquet(legacy + "2")
    with pytest.raises(ValueError, match="hash_fn"):
        incremental_minhash_dedup(spark, b, legacy + "2")
    ok = incremental_minhash_dedup(spark, b, legacy + "2", hash_fn="md5")
    assert ok.collect()[0].is_near_duplicate is True
    # the md5 probe above appended STAMPED rows next to the unstamped
    # legacy files (mixed parquet schemas; legacy rows read as NULL
    # hash_fn) — a further md5 probe must still pass, and a default
    # probe must still raise
    ok2 = incremental_minhash_dedup(spark, b, legacy + "2", hash_fn="md5")
    assert ok2.collect()[0].is_near_duplicate is True
    with pytest.raises(ValueError, match="hash_fn"):
        incremental_minhash_dedup(spark, b, legacy + "2")

    # the default-path state round-trips under the default
    state_x = str(tmp_path / "mh_state_xx")
    incremental_minhash_dedup(spark, b, state_x)
    dup = incremental_minhash_dedup(spark, b, state_x)
    assert dup.collect()[0].is_near_duplicate is True


def test_incremental_minhash_empty_state_never_poisons(spark, tmp_path):
    """Review r11 finding (reproduced live there): a first batch whose
    docs are all shorter than n tokens writes a 0-row state; the guard
    used to collect an empty hash_fn set and raise forever after. An
    empty state has no keys — any hash is safe, and the path must keep
    working."""
    from kolang_spark.llm import incremental_minhash_dedup

    state = str(tmp_path / "mh_state_empty")
    short = spark.createDataFrame([(1, "too short text")], ["doc_id", "text"])
    m1 = incremental_minhash_dedup(spark, short, state)
    assert m1.collect()[0].is_near_duplicate is False
    # second batch against the empty state: must NOT raise
    text = "the quick brown fox jumps over the lazy dog again and again"
    b2 = spark.createDataFrame([(2, text)], ["doc_id", "text"])
    m2 = incremental_minhash_dedup(spark, b2, state)
    assert m2.collect()[0].is_near_duplicate is False
    # and the state now has real keys that catch a dup
    b3 = spark.createDataFrame([(3, text)], ["doc_id", "text"])
    assert incremental_minhash_dedup(spark, b3, state).collect()[0].is_near_duplicate is True


def test_incremental_minhash_legacy_state_requires_explicit_hash_fn(
    spark, tmp_path
):
    """Review r11 finding: a pre-stamp legacy state could have been
    built with EITHER documented knob (md5 was the old default,
    xxhash64 the advertised production setting) — assuming md5 would
    tell a legacy-xxhash64 user to switch to md5, which passes the
    guard and silently accepts every duplicate. The guard must refuse
    to guess: a default probe raises, an EXPLICIT assertion (either
    value) is accepted and pinned."""
    import pytest

    from kolang_spark.llm import incremental_minhash_dedup

    text = "the quick brown fox jumps over the lazy dog again and again"
    b = spark.createDataFrame([(1, text)], ["doc_id", "text"])

    # fabricate a legacy state: built under xxhash64, then stripped of
    # both the stamp column and the sidecar
    src = str(tmp_path / "src_state")
    incremental_minhash_dedup(spark, b, src, hash_fn="xxhash64")
    legacy = str(tmp_path / "legacy_state")
    spark.read.parquet(src).drop("hash_fn").write.parquet(legacy)

    with pytest.raises(ValueError, match="EXPLICITLY"):
        incremental_minhash_dedup(spark, b, legacy)
    # the explicit (correct) assertion works and catches the dup...
    m = incremental_minhash_dedup(spark, b, legacy, hash_fn="xxhash64")
    assert m.collect()[0].is_near_duplicate is True
    # ...and is pinned: the default (xxhash64) probe now passes O(1)
    m2 = incremental_minhash_dedup(spark, b, legacy)
    assert m2.collect()[0].is_near_duplicate is True
