"""Round-6 late additions: duplicate-span detection (ExactSubstr rule),
weighted sampling without replacement (Efraimidis–Spirakis A-Res), and
short-time audio frame features."""

import io
import wave

import numpy as np

import pytest
from pyspark.sql import functions as F

from kolang_spark.llm.dedup import duplicate_spans
from kolang_spark.llm.multimodal import audio_frame_features, synth_wav_blobs
from kolang_spark.operators.sampling import weighted_sample


# ------------------------------------------------------ duplicate_spans


def test_duplicate_spans_cross_doc_and_self_repeat(spark):
    rows = [
        (1, "a b c d e f g h i j k l m"),  # shares a..j with doc 2
        (2, "z z a b c d e f g h i j q r"),
        (3, "unique tokens only here nothing shared at all wow"),
        (4, "p p p p p p p p p p"),  # self-repeat: 'p'*8 occurs 3x
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r.doc_id, r.span_start): r
        for r in duplicate_spans(df, n=8).collect()
    }
    # doc 1: tokens 0..9 are the shared 10-token run (grams at 0,1,2)
    assert out[(1, 0)].span_end == 9 and out[(1, 0)].n_tokens == 10
    # doc 2: same run shifted to positions 2..11
    assert out[(2, 2)].span_end == 11
    # doc 4: three overlapping occurrences merge into one maximal span
    assert out[(4, 0)].span_end == 9
    # doc 3 shares nothing
    assert not any(k[0] == 3 for k in out)
    assert len(out) == 3


def test_duplicate_spans_gap_boundary(spark):
    """Duplicated grams merge iff their start gap is <= n: gap n is
    adjacency (spans touch), gap n+1 leaves a 1-token hole -> two
    spans."""
    n = 3
    run = "x1 x2 x3"  # one 3-gram, duplicated across both docs
    # doc 1: run at pos 0 and pos 3 (gap 3 = n -> merge, covers 0..5)
    # doc 2: run at pos 0 and pos 4 (gap 4 = n+1 -> two spans)
    rows = [
        (1, f"{run} {run}"),
        (2, f"{run} gap {run}"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    spans = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicate_spans(df, n=n).collect()
    )
    assert spans == [(1, 0, 5), (2, 0, 2), (2, 4, 6)]


def test_duplicate_spans_min_count_and_validation(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "a b c d")], ["doc_id", "text"]
    )
    # the 4-gram occurs 3x: min_count=4 excludes it, 3 keeps it
    assert duplicate_spans(df, n=4, min_count=4).count() == 0
    assert duplicate_spans(df, n=4, min_count=3).count() == 3
    with pytest.raises(ValueError):
        duplicate_spans(df, n=0)
    with pytest.raises(ValueError):
        duplicate_spans(df, min_count=1)


def test_duplicate_spans_short_and_empty_docs(spark):
    """Docs shorter than n tokens (and empty text) yield no grams and
    never crash."""
    rows = [(1, "a b"), (2, ""), (3, "   "), (4, "a b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert duplicate_spans(df, n=8).count() == 0


# ------------------------------------------------------ weighted_sample


def _toy(spark, n=200):
    return spark.range(n).withColumn(
        "w", (F.col("id") % 10 + 1).cast("double")
    )


def test_weighted_sample_size_subset_determinism(spark):
    df = _toy(spark)
    s1 = sorted(r.id for r in weighted_sample(df, "id", "w", 25).collect())
    assert len(s1) == 25 and len(set(s1)) == 25
    # deterministic across calls AND partitionings
    s2 = sorted(
        r.id
        for r in weighted_sample(df.repartition(13), "id", "w", 25).collect()
    )
    assert s1 == s2
    # a different salt draws a different (independent) sample
    s3 = sorted(
        r.id for r in weighted_sample(df, "id", "w", 25, salt="v2").collect()
    )
    assert s1 != s3


def test_weighted_sample_weight_guardrails(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None), (5, 2.0)],
        "id long, w double",
    )
    got = sorted(r.id for r in weighted_sample(df, "id", "w", 10).collect())
    assert got == [1, 5]  # zero/negative/NULL weights are unselectable
    with pytest.raises(ValueError):
        weighted_sample(df, "id", "w", 0)


def test_weighted_sample_huge_weight_always_wins(spark):
    """A-Res property: key ln(u)/w -> 0- as w -> inf, so a dominant
    weight is effectively always in the sample."""
    df = spark.range(100).withColumn(
        "w", F.when(F.col("id") == 42, 1e12).otherwise(1e-9)
    )
    assert 42 in {r.id for r in weighted_sample(df, "id", "w", 5).collect()}


def test_weighted_sample_per_stratum(spark):
    df = _toy(spark, 90).withColumn("g", F.col("id") % 3)
    out = weighted_sample(df, "id", "w", 7, strata="g").collect()
    assert len(out) == 21
    per = {}
    for r in out:
        per[r.g] = per.get(r.g, 0) + 1
    assert per == {0: 7, 1: 7, 2: 7}
    # strata smaller than k return whole stratum
    tiny = spark.createDataFrame(
        [(1, 1.0, "a"), (2, 1.0, "a"), (3, 1.0, "b")], "id long, w double, g string"
    )
    assert weighted_sample(tiny, "id", "w", 10, strata="g").count() == 3


def test_weighted_sample_distribution_tracks_weights(spark):
    """Across many independent salts, selection frequency must rise
    with weight (coarse sanity band, not an exact law)."""
    df = spark.range(40).withColumn(
        "w", F.when(F.col("id") < 20, 1.0).otherwise(20.0)
    )
    heavy = 0
    rounds = 20
    for s in range(rounds):
        sel = {r.id for r in weighted_sample(df, "id", "w", 8, salt=str(s)).collect()}
        heavy += sum(1 for i in sel if i >= 20)
    frac = heavy / (8 * rounds)
    assert frac > 0.75  # 20x weight -> heavy ids dominate every draw


# -------------------------------------------------- audio_frame_features


def _wav_bytes(samples, channels=1, rate=8000):
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(channels)
    w.setsampwidth(2)
    w.setframerate(rate)
    w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    w.close()
    return bytearray(buf.getvalue())


def test_audio_frames_alternating_golden(spark):
    """+A/-A alternating signal: per frame energy = 32*A^2, 31 strict
    sign flips, peak A, and the DFT concentrates at Nyquist (bin 16)."""
    a = 1000
    samples = [a if i % 2 == 0 else -a for i in range(64)]
    df = spark.createDataFrame(
        [(7, _wav_bytes(samples))], "doc_id long, content binary"
    )
    rows = sorted(
        audio_frame_features(df).collect(), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in rows] == [0, 1, 2]
    for r in rows:
        assert r.energy == 32 * a * a
        assert r.zero_crossings == 31
        assert r.peak_abs == a
        assert r.dominant_bin == 16


def test_audio_frames_framing_contract(spark):
    """Full frames only (trailing partial dropped), zeros break sign
    runs, undecodable blobs contribute no rows, channel 0 of
    multi-channel audio is used."""
    rows = [
        (1, _wav_bytes(range(47))),  # 47 samples -> exactly 1 frame
        (2, bytearray(b"junk")),
        # stereo: ch0 alternates +-500 (31 flips), ch1 is silence
        (3, _wav_bytes(sum(([500 if i % 2 == 0 else -500, 0] for i in range(32)), []), channels=2)),
        # zeros between sign changes: +1 0 -1 0 ... -> product never < 0
        (4, _wav_bytes([1, 0, -1, 0] * 8)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {}
    for r in audio_frame_features(df).collect():
        out.setdefault(r.doc_id, []).append(r)
    assert len(out[1]) == 1 and out[1][0].frame_idx == 0
    assert 2 not in out
    assert out[3][0].zero_crossings == 31 and out[3][0].peak_abs == 500
    assert out[4][0].zero_crossings == 0
    with pytest.raises(ValueError):
        audio_frame_features(df, frame_len=1)
    with pytest.raises(ValueError):
        audio_frame_features(df, hop=0)


def test_audio_frames_dominant_bin_matches_naive_dft(spark):
    """The one float-path column, pinned against an O(n^2) pure-Python
    DFT over the synth corpus (argmax magnitude, DC excluded, ties ->
    lowest bin — numpy argmax semantics)."""
    df = spark.range(0, 12).selectExpr("id AS doc_id")
    got = {
        (r.doc_id, r.frame_idx): r.dominant_bin
        for r in audio_frame_features(synth_wav_blobs(df)).collect()
    }
    import cmath

    for i in range(12):
        n = 64 + i % 64
        vals = [
            ((i * 31 + k * 17) % 65536) - (65536 if (i * 31 + k * 17) % 65536 >= 32768 else 0)
            for k in range(n)
        ]
        f = 0
        while f * 16 + 32 <= n:
            fr = vals[f * 16 : f * 16 + 32]
            mags = []
            for m in range(1, 17):
                z = sum(
                    x * cmath.exp(-2j * cmath.pi * m * k / 32)
                    for k, x in enumerate(fr)
                )
                mags.append(abs(z))
            expect = int(np.argmax(mags)) + 1
            assert got[(i, f)] == expect, (i, f)
            f += 1


def test_duplicate_spans_hash_knob_agrees(spark):
    """The xxhash64 production path returns the same spans as the exact
    string path on real data (collisions are measure-zero here)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = sorted(map(tuple, duplicate_spans(docs, n=8).collect()))
    hashed = sorted(
        map(tuple, duplicate_spans(docs, n=8, hash_fn="xxhash64").collect())
    )
    assert exact == hashed and len(exact) > 0
    with pytest.raises(ValueError):
        duplicate_spans(docs, hash_fn="md5")


# ------------------------------------- strip_duplicate_spans / ahash


def test_strip_duplicate_spans_rewrite(spark):
    from kolang_spark.llm.dedup import strip_duplicate_spans

    rows = [
        (1, "a b c d e f g h i j k l m"),
        (2, "z z a b c d e f g h i j q r"),
        (3, "untouched  doc   with   odd   spacing"),
        (4, "p p p p p p p p p p"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.clean_text for r in strip_duplicate_spans(df, n=8).collect()}
    assert out[1] == "k l m"
    assert out[2] == "z z q r"
    # span-free docs pass through byte-identical (whitespace preserved)
    assert out[3] == "untouched  doc   with   odd   spacing"
    assert out[4] == ""  # fully duplicated -> fully stripped
    # custom keep policy via a pre-filtered spans frame
    from kolang_spark.llm.dedup import duplicate_spans

    spans = duplicate_spans(df, n=8).where(F.col("doc_id") != 1)
    kept = {
        r.doc_id: r.clean_text
        for r in strip_duplicate_spans(df, n=8, spans=spans).collect()
    }
    assert kept[1] == "a b c d e f g h i j k l m"  # doc 1 exempted
    assert kept[2] == "z z q r"


def test_image_ahash_golden_and_poison(spark):
    """aHash bits against a hand-computed 2x2-grid case, plus the
    poison-blob contract."""
    import numpy as np

    from kolang_spark.llm.multimodal import image_ahash

    # 2x2 grayscale-ish PPM, grid=2: pixels chosen so exactly one cell
    # exceeds the mean. w=h=2 -> cell centers sample every pixel.
    # gray cells = [3, 6, 9, 300]; sum=318; 4*v > 318 iff v > 79.5
    px = bytes([1, 1, 1, 2, 2, 2, 3, 3, 3, 100, 100, 100])
    blob = b"P6\n2 2\n255\n" + px
    rows = [(1, bytearray(blob)), (2, bytearray(b"nope"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r.doc_id: r for r in image_ahash(df, grid=2).collect()}
    assert out[1].format == "ppm" and (out[1].width, out[1].height) == (2, 2)
    assert out[1].ahash == 0b1000  # only cell (1,1) -> bit 3
    assert out[2].format == "unknown" and out[2].ahash is None
    with pytest.raises(ValueError):
        image_ahash(df, grid=9)


def test_image_ahash_matches_numpy_reference(spark):
    """Full 8x8 hash over the synth PPM corpus vs an independent pure-
    numpy reimplementation (incl. two's-complement bit-63 packing) —
    alone, and sharing one Arrow batch with NULL and non-image blobs,
    so the poison rows' NULL hashes sit in the same output column as
    bit-63 hashes (a float64 detour would round those)."""
    import numpy as np

    from kolang_spark.llm.multimodal import image_ahash, synth_ppm_blobs

    df = spark.range(0, 40).selectExpr("id AS doc_id")
    got = {r.doc_id: r.ahash for r in image_ahash(synth_ppm_blobs(df)).collect()}
    poison = spark.createDataFrame(
        [(100, None), (101, bytearray(b"not an image")), (102, bytearray())],
        "doc_id long, content binary",
    )
    mixed = {
        r.doc_id: r
        for r in image_ahash(
            synth_ppm_blobs(df).unionByName(poison).coalesce(1)
        ).collect()
    }
    assert len(mixed) == 43
    for i in (100, 101, 102):
        r = mixed[i]
        assert (r.format, r.width, r.height, r.ahash) == ("unknown", None, None, None)
    assert any(got[i] < 0 for i in range(40))  # bit 63 is in the batch
    for i in range(40):
        w, h = 4 + i % 8, 4 + i % 5
        px = np.array(
            [(i * 7 + j * 13) % 256 for j in range(w * h * 3)], dtype=np.int64
        ).reshape(h, w, 3)
        gray = px.sum(axis=2)
        ys = (2 * np.arange(8) + 1) * h // 16
        xs = (2 * np.arange(8) + 1) * w // 16
        v = gray[np.ix_(ys, xs)].flatten()
        code = 0
        for b in range(64):
            if 64 * v[b] > v.sum():
                code |= 1 << b
        expect = code - (1 << 64) if code >= (1 << 63) else code
        assert got[i] == expect, i
        assert mixed[i].ahash == expect, i


def test_hamming_pairs_banded_equals_brute(spark):
    """The generic banded join finds EXACTLY the brute-force pair set
    at 64 bits (pigeonhole completeness + exact verify), each pair
    once; NULL signatures are excluded."""
    from kolang_spark.llm.dedup import hamming_pairs

    import random

    rng = random.Random(7)
    sigs = [rng.getrandbits(64) for _ in range(60)]
    # plant close pairs: ids 100/101 at distance 2, 102/103 identical
    base = rng.getrandbits(64)
    rows = [(i, s - (1 << 64) if s >= (1 << 63) else s) for i, s in enumerate(sigs)]
    b2 = base ^ 0b101
    rows += [
        (100, base - (1 << 64) if base >= (1 << 63) else base),
        (101, b2 - (1 << 64) if b2 >= (1 << 63) else b2),
        (102, 12345),
        (103, 12345),
        (104, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(df, "doc_id", "sig", 64, 3).collect()
    }
    vals = {i: s for i, s in rows if s is not None}
    brute = {}
    ids = sorted(vals)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            d = bin((vals[a] ^ vals[b]) & ((1 << 64) - 1)).count("1")
            if d <= 3:
                brute[(a, b)] = d
    assert got == brute
    assert got[(100, 101)] == 2 and got[(102, 103)] == 0


def test_hamming_pairs_full_width_band(spark):
    """max_distance=0 at bits=64 builds ONE band spanning all 64 bits;
    the all-ones mask must not overflow LongType (advisory fix: -1
    literal instead of 2^64-1). Exact-duplicate pairs only."""
    from kolang_spark.llm.dedup import hamming_pairs

    neg = (1 << 63) - 1  # high-bit-adjacent value
    rows = [
        (1, 12345),
        (2, 12345),
        (3, -neg - 1),  # LONG_MIN: exercises the sign bit in the band
        (4, -neg - 1),
        (5, 777),
    ]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hamming_pairs(df, "doc_id", "sig", 64, 0).collect()
    }
    assert got == {(1, 2): 0, (3, 4): 0}


# ----------------------------------------------- invariant properties


def test_duplicate_spans_invariants_on_corpus(spark):
    """Structural invariants on real data: spans are per-doc disjoint
    with gaps > n between them (maximality), each spans >= n tokens,
    and every span fits inside its document."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = 8
    spans = {}
    for r in duplicate_spans(docs, n=n).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end, r.n_tokens))
    tok_counts = {
        r.doc_id: r.nt
        for r in docs.select(
            "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("nt")
        ).collect()
    }
    assert spans, "fixture corpus is known to contain duplicated runs"
    for doc, sp in spans.items():
        sp.sort()
        for s, e, nt in sp:
            assert nt == e - s + 1 >= n
            assert 0 <= s <= e < tok_counts[doc]
        for (s1, e1, _), (s2, e2, _) in zip(sp, sp[1:]):
            # maximality: the merge rule closed every gap <= n, so
            # consecutive surviving spans must START more than n apart
            assert s2 - (e1 - n + 1) > n


def test_strip_then_detect_leaves_no_spans(spark):
    """Fixed point: stripping all duplicated spans then re-running
    detection at the same n finds (almost) nothing — re-joined
    fragments can only create NEW grams, never resurrect removed
    ones, so any residue must come from fragment concatenation."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from kolang_spark.llm.dedup import strip_duplicate_spans

    clean = strip_duplicate_spans(docs, n=8).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    residue = duplicate_spans(clean, n=8).count()
    before = duplicate_spans(docs, n=8).count()
    assert before > 0
    # concatenation artifacts are possible in principle; anything near
    # the original span count would mean removal is broken
    assert residue <= before * 0.2


def test_weighted_sample_equals_python_reference(spark):
    """Bit-exact parity with a pure-Python A-Res implementation using
    the same md5-derived uniforms."""
    import hashlib
    import math

    df = _toy(spark, 120)
    got = sorted(r.id for r in weighted_sample(df, "id", "w", 15, salt="x").collect())

    def u(key):
        h = hashlib.md5(f"{key}x".encode()).hexdigest()
        return (int(h[17:32], 16) + 0.5) / (1 << 60)

    keys = {i: math.log(u(i)) / ((i % 10) + 1) for i in range(120)}
    expect = sorted(sorted(keys, key=lambda i: -keys[i])[:15])
    assert got == expect


def test_resize_image_exact_nn_and_identity(spark):
    """Nearest-neighbor resize against hand-computed cell-center
    samples; identity at source dims; upscale defined; poison-blob
    contract; channel order preserved."""
    from kolang_spark.llm.multimodal import resize_image

    # 4x2 RGB PPM: pixel (y,x) has r=10*y+x, g=100+10*y+x, b=200+10*y+x
    px = bytes(
        v
        for y in range(2)
        for x in range(4)
        for v in (10 * y + x, 100 + 10 * y + x, 200 + 10 * y + x)
    )
    blob = b"P6\n4 2\n255\n" + px
    rows = [(1, bytearray(blob)), (2, bytearray(b"junk"))]
    df = spark.createDataFrame(rows, "doc_id long, content binary")

    # downscale to 2x1: ys = [(2*0+1)*2//2] = [1]; xs = [(2c+1)*4//4] = [1, 3]
    out = {r.doc_id: r for r in resize_image(df, width=2, height=1).collect()}
    r1 = out[1]
    assert (r1.format, r1.src_width, r1.src_height) == ("ppm", 4, 2)
    assert (r1.width, r1.height, r1.n_channels) == (2, 1, 3)
    assert r1.pixels == [11, 111, 211, 13, 113, 213]  # (y=1,x=1), (y=1,x=3)
    assert out[2].format == "unknown" and out[2].pixels is None

    # identity: resize to source dims returns the original byte stream
    ident = resize_image(df.where("doc_id = 1"), width=4, height=2).first()
    assert ident.pixels == list(px)

    # upscale height 2->3 at width 1: xs = [(2*0+1)*4//2] = [2];
    # ys = [(2r+1)*2//6 for r in 0..2] = [0, 1, 1] -> center column,
    # middle row repeated
    up = resize_image(df.where("doc_id = 1"), width=1, height=3).first()
    p = lambda y, x: list(px[(y * 4 + x) * 3 : (y * 4 + x) * 3 + 3])  # noqa: E731
    assert up.pixels == p(0, 2) + p(1, 2) + p(1, 2)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        resize_image(df, width=0, height=2)
