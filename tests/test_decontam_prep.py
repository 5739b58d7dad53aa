"""Unit tests for the round-5 pipeline operators: n-gram contamination
screening, token-window chunking, robust MAD outliers, TF-IDF top
terms."""

import re

import pyspark.sql.functions as F
import pytest

from kolang_spark.llm import chunk_documents, ngram_contamination, tfidf_top_terms
from kolang_spark.operators import mad_outliers


def test_ngram_contamination_flags_shared_grams(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different set of words here today"),
            (3, "too short"),  # < n tokens -> 0 grams, never contaminated
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "watch the quick brown fox jumps away")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_contamination(corpus, eval_df, n=4).collect()
    }
    assert len(out) == 3
    # doc 1 shares 'the quick brown fox' and 'quick brown fox jumps'
    assert out[1].n_ngrams == 6 and out[1].n_hits == 2 and out[1].contaminated
    assert out[2].n_hits == 0 and not out[2].contaminated
    assert out[3].n_ngrams == 0 and out[3].n_hits == 0 and not out[3].contaminated


def test_ngram_contamination_fingerprint_matches_exact(spark):
    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon token{i} zeta") for i in range(20)],
        "doc_id long, text string",
    )
    eval_df = corpus.where("doc_id % 5 = 0")
    a = ngram_contamination(corpus, eval_df, n=3, fingerprint=True)
    b = ngram_contamination(corpus, eval_df, n=3, fingerprint=False)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    with pytest.raises(ValueError):
        ngram_contamination(corpus, eval_df, n=0)


def test_chunk_documents_windows(spark):
    text10 = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text10), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_id): r
        for r in chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    }
    # doc 1: stride 3, 10 tokens -> chunks at offsets 0,3,6 cover t0..t9
    assert {c for d, c in rows if d == 1} == {0, 1, 2}
    assert rows[(1, 0)].chunk_text == "t0 t1 t2 t3"
    assert rows[(1, 1)].chunk_text == "t3 t4 t5 t6"
    assert rows[(1, 2)].chunk_text == "t6 t7 t8 t9"
    assert all(rows[(1, c)].n_tokens == 4 for c in range(3))
    # short doc: one partial chunk; empty doc: no rows
    assert rows[(2, 0)].chunk_text == "a b" and rows[(2, 0)].n_tokens == 2
    assert not any(d == 3 for d, _ in rows)
    # ragged tail: 11 tokens -> 4th chunk holds the 2-token remainder
    df11 = spark.createDataFrame(
        [(9, " ".join(f"t{i}" for i in range(11)))], "doc_id long, text string"
    )
    tail = {
        r.chunk_id: r for r in chunk_documents(df11, chunk_tokens=4, overlap=1).collect()
    }
    assert set(tail) == {0, 1, 2, 3}
    assert tail[3].chunk_text == "t9 t10" and tail[3].n_tokens == 2
    with pytest.raises(ValueError):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_mad_outliers_per_group(spark):
    rows = [("a", float(v)) for v in [10, 11, 12, 13, 14, 100]] + [
        ("b", 5.0),
        ("b", 5.0),
        ("b", 5.0),
        ("b", 99.0),  # MAD = 0 in group b -> nothing flagged
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = mad_outliers(df, "v", by=["g"])
    got = [(r.g, r.v, r.is_outlier) for r in out.collect()]
    assert ("a", 100.0, True) in got
    assert all(not o for g, v, o in got if g == "a" and v != 100.0)
    assert all(not o for g, _, o in got if g == "b")  # degenerate group
    assert ("c", None, False) in got


def test_stratified_fixed_sample_quota(spark):
    from kolang_spark.operators import stratified_fixed_sample

    df = spark.createDataFrame(
        [(i, "en" if i < 50 else ("zh" if i < 60 else "de")) for i in range(63)],
        "doc_id long, lang string",
    )
    out = stratified_fixed_sample(df, "lang", 5, "doc_id")
    counts = {
        r.lang: r.n
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    # full quota from big strata; the 3-row stratum keeps all 3
    assert counts == {"en": 5, "zh": 5, "de": 3}
    # deterministic: same selection on re-run; different salt -> usually different
    a = {r.doc_id for r in out.collect()}
    b = {r.doc_id for r in stratified_fixed_sample(df, "lang", 5, "doc_id").collect()}
    assert a == b
    c = {
        r.doc_id
        for r in stratified_fixed_sample(df, "lang", 5, "doc_id", salt="x").collect()
    }
    assert c != a  # 2^-60-ish chance of collision across 13 slots
    with pytest.raises(ValueError):
        stratified_fixed_sample(df, "lang", 0, "doc_id")


def test_equi_depth_bin_quartiles(spark):
    from kolang_spark.operators import equi_depth_bin

    df = spark.createDataFrame(
        [("a", float(v)) for v in range(1, 9)] + [("a", None)],
        "g string, v double",
    )
    out = {
        (r.g, r.v): r.bin for r in equi_depth_bin(df, "v", n_bins=4).collect()
    }
    # 8 values 1..8 -> quartile boundaries 2.75/4.5/6.25: 2 per bucket
    assert [out[("a", float(v))] for v in range(1, 9)] == [1, 1, 2, 2, 3, 3, 4, 4]
    assert out[("a", None)] is None
    # group-wise: each group gets its own boundaries
    df2 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 100.0), ("b", 200.0)],
        "g string, v double",
    )
    out2 = {
        (r.g, r.v): r.bin
        for r in equi_depth_bin(df2, "v", n_bins=2, by=["g"]).collect()
    }
    assert out2[("a", 1.0)] == 1 and out2[("a", 2.0)] == 2
    assert out2[("b", 100.0)] == 1 and out2[("b", 200.0)] == 2

    with pytest.raises(ValueError):
        equi_depth_bin(df, "v", n_bins=1)


def test_tfidf_top_terms_integer_ranking(spark):
    df = spark.createDataFrame(
        [
            (1, "apple apple banana cherry"),
            (2, "banana cherry cherry durian"),
            (3, "apple banana cherry"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(df, k=2)
    got = {
        (r.doc_id, r.rank): (r.term, r.tf, r.df_term) for r in out.collect()
    }
    # doc 1: apple tf=2 wins; then banana vs cherry both tf=1 df=3 -> term asc
    assert got[(1, 1)] == ("apple", 2, 2)
    assert got[(1, 2)] == ("banana", 1, 3)
    # doc 2: cherry tf=2; then durian (df=1) beats banana (df=3)
    assert got[(2, 1)] == ("cherry", 2, 3)
    assert got[(2, 2)] == ("durian", 1, 1)
    # doc 3: all tf=1 -> apple (df=2) beats banana/cherry (df=3)
    assert got[(3, 1)] == ("apple", 1, 2)
    assert len([k for k in got if k[0] == 3]) == 2
    with pytest.raises(ValueError):
        tfidf_top_terms(df, k=0)


def test_resample_fill_forward(spark):
    import datetime as dt

    from kolang_spark.operators import resample_fill

    t0 = dt.datetime(2024, 1, 1, 0, 30)
    rows = [
        ("a", t0, 1.0),
        ("a", t0 + dt.timedelta(hours=0, minutes=10), 2.0),  # same hour bucket
        ("a", t0 + dt.timedelta(hours=3), 5.0),  # 2-hour gap
        ("b", t0, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        (r.k, r.bucket_ts.hour): (r.value, r.is_filled)
        for r in resample_fill(df, "ts", "v", "1 hour", by=["k"]).collect()
    }
    # key a: hours 0..3 dense; 0 aggregates 1+2, 1-2 forward-filled, 3 observed
    assert out[("a", 0)] == (3.0, False)
    assert out[("a", 1)] == (3.0, True)
    assert out[("a", 2)] == (3.0, True)
    assert out[("a", 3)] == (5.0, False)
    # key b: single bucket, no spine beyond it
    assert out[("b", 0)] == (7.0, False)
    assert len(out) == 5

    # zero fill + avg agg
    out2 = {
        (r.k, r.bucket_ts.hour): r.value
        for r in resample_fill(
            df, "ts", "v", "1 hour", by=["k"], agg="avg", fill="zero"
        ).collect()
    }
    assert out2[("a", 0)] == 1.5 and out2[("a", 1)] == 0 and out2[("a", 3)] == 5.0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        resample_fill(df, "ts", "v", "1 month", by=["k"])
    with _pytest.raises(ValueError):
        resample_fill(df, "ts", "v", "1 hour", by=["k"], fill="interpolate")


def test_morton_code_matches_reference(spark):
    from kolang_spark.operators import morton_code

    df = spark.createDataFrame(
        [(a, b) for a in range(8) for b in range(8)], "a long, b long"
    )
    got = {
        (r.a, r.b): r.m
        for r in df.withColumn(
            "m", morton_code([F.col("a"), F.col("b")], 3)
        ).collect()
    }

    def py_morton(a, b, bits=3):
        m = 0
        for i in range(bits):
            m |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return m

    assert all(got[(a, b)] == py_morton(a, b) for a in range(8) for b in range(8))


def test_zorder_by_tightens_file_statistics(spark, tmp_path):
    """The point of Z-ordering: per-file min/max spans shrink on BOTH
    participating columns vs a random layout, so parquet stats prune
    filters on either column. The range partitioning takes
    ``num_partitions``, else the context's default parallelism."""
    import glob
    import os
    import random

    import pyarrow.parquet as pq

    from kolang_spark.operators import zorder_by

    rnd = random.Random(7)
    rows = [(rnd.randrange(10**6), rnd.randrange(10**6)) for _ in range(20000)]
    big = spark.createDataFrame(rows, "x long, y long")

    def avg_spans(path):
        spans = {"x": [], "y": []}
        for f in glob.glob(os.path.join(path, "*.parquet")):
            md = pq.ParquetFile(f).metadata
            lo, hi = {}, {}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    c = row.column(ci)
                    st = c.statistics
                    if st is None:
                        continue
                    name = c.path_in_schema
                    lo[name] = min(lo.get(name, st.min), st.min)
                    hi[name] = max(hi.get(name, st.max), st.max)
            for name in spans:
                if name in lo:
                    spans[name].append(hi[name] - lo[name])
        return {k: sum(v) / len(v) for k, v in spans.items()}

    p_rand, p_z = str(tmp_path / "rand"), str(tmp_path / "zord")
    big.repartition(8).write.parquet(p_rand)
    zorder_by(big, ["x", "y"], bits=4, num_partitions=8).write.parquet(p_z)
    r, z = avg_spans(p_rand), avg_spans(p_z)
    assert z["x"] < r["x"] * 0.7 and z["y"] < r["y"] * 0.7

    with pytest.raises(ValueError):
        zorder_by(big, [], bits=4)
    with pytest.raises(ValueError):
        zorder_by(big, ["x"], bits=0)
    with pytest.raises(ValueError):
        zorder_by(big, ["nope"])

    def parts(out):
        plan = out._jdf.queryExecution().analyzed().toString()
        return int(re.search(r"RepartitionByExpression \[[^\]]*\], (\d+)", plan).group(1))

    assert parts(zorder_by(big, ["x", "y"], bits=4, num_partitions=3)) == 3
    assert parts(zorder_by(big, ["x", "y"], bits=4)) == spark.sparkContext.defaultParallelism


def test_pack_examples_offsets_and_spans(spark):
    """Concat-and-chunk packing: offsets are the exclusive prefix sum in
    id order, example spans follow integer division, empty docs occupy
    no stream positions — bucketed two-pass prefix sum (bucket_size
    forces multiple buckets) must equal the sequential computation."""
    from kolang_spark.llm import pack_examples

    rows = [
        (0, "a b c"),          # 3 tokens, offset 0
        (1, ""),               # empty -> no examples
        (2, "d e f g h"),      # 5 tokens, offset 3, straddles cut at 4
        (3, "i j k l"),        # 4 tokens, offset 8
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in pack_examples(
            df, example_tokens=4, bucket_size=2
        ).collect()
    }
    assert out[0].token_offset == 0 and (out[0].first_example, out[0].last_example, out[0].n_examples) == (0, 0, 1)
    assert out[1].n_tokens == 0 and out[1].first_example is None
    assert out[1].last_example is None and out[1].n_examples == 0
    # doc 1 is empty, so doc 2 starts right after doc 0
    assert out[2].token_offset == 3
    assert (out[2].first_example, out[2].last_example, out[2].n_examples) == (0, 1, 2)
    assert out[3].token_offset == 8
    assert (out[3].first_example, out[3].last_example, out[3].n_examples) == (2, 2, 1)
    # total examples = ceil(total_tokens / example_tokens)
    assert max(r.last_example for r in out.values() if r.last_example is not None) == (3 + 5 + 4 - 1) // 4

    # tokens_col variant bypasses the whitespace tokenizer
    df2 = spark.createDataFrame(
        [(10, 7), (11, 1)], "doc_id long, tok long"
    )
    got = {
        r.doc_id: r
        for r in pack_examples(
            df2, tokens_col="tok", example_tokens=4, bucket_size=1000
        ).collect()
    }
    assert got[10].token_offset == 0 and got[10].n_examples == 2
    assert got[11].token_offset == 7 and got[11].first_example == 1

    with pytest.raises(ValueError):
        pack_examples(df, example_tokens=0)


def test_jl_project_preserves_pairwise_distances(spark):
    """JL guarantee, empirically: distances between random 64-d vectors
    survive projection to 24 dims within a loose (1±0.7) band, and the
    projection is deterministic (numpy replay of the same md5 matrix)."""
    import math
    import random

    import numpy as np

    from kolang_spark.llm import jl_components, jl_project

    rng = random.Random(3)
    dims, out_dims = 64, 24
    vecs = [[rng.gauss(0, 1) for _ in range(dims)] for _ in range(12)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.vec_id: np.array(r.jl)
        for r in jl_project(df, out_dims, dims).collect()
    }
    # numpy replay of the identical md5-derived matrix
    R = np.array(jl_components(out_dims, dims))
    for i, v in enumerate(vecs):
        assert np.allclose(got[i], R @ np.array(v), atol=1e-9)
    # pairwise distortion stays in a loose band (tiny n => loose ε)
    for a in range(0, 12, 3):
        for b in range(a + 1, 12, 3):
            d0 = math.dist(vecs[a], vecs[b])
            d1 = float(np.linalg.norm(got[a] - got[b]))
            assert 0.3 * d0 <= d1 <= 1.7 * d0, (a, b, d0, d1)
    with pytest.raises(ValueError):
        jl_project(df, 0, dims)


# ---------- pack_balanced ----------


def test_pack_balanced_matches_snake_replica(spark):
    """Exact contract: global (tokens desc, id asc) order, snake deal,
    near-equal bin totals — checked against a pure-Python replica."""
    from kolang_spark.llm import pack_balanced

    rows = [(i, "w " * ((i * 37) % 50 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.pack_rank, r.bin_id)
        for r in pack_balanced(df, n_bins=5).collect()
    }
    toks = {i: (i * 37) % 50 + 1 for i in range(200)}
    order = sorted(toks, key=lambda i: (-toks[i], i))
    want, bins = {}, {}
    for pos, i in enumerate(order):
        rnd, within = divmod(pos, 5)
        b = within if rnd % 2 == 0 else 4 - within
        want[i] = (pos, b)
        bins[b] = bins.get(b, 0) + toks[i]
    assert got == want
    assert max(bins.values()) - min(bins.values()) <= max(toks.values())


def test_pack_balanced_capacity_mode_and_edges(spark):
    from kolang_spark.llm import pack_balanced

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c"), (4, "a b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pack_balanced(df, capacity=3).collect()}
    # total = 5 tokens -> ceil(5/3) = 2 bins; NULL/empty count 0 tokens
    assert {r.bin_id for r in out.values()} <= {0, 1}
    assert out[1].n_tokens == 0 and out[2].n_tokens == 0
    # order: doc3 (3 toks) rank 0, doc4 (2) rank 1, then 1, 2 by id
    assert [out[i].pack_rank for i in (3, 4, 1, 2)] == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="exactly one"):
        pack_balanced(df, n_bins=2, capacity=3)
    with pytest.raises(ValueError, match="exactly one"):
        pack_balanced(df)


def test_pack_balanced_bucketing_matches_equi_depth_bin(spark):
    """pack_balanced's inline range bucketing deliberately mirrors
    operators/binning.py::equi_depth_bin (boundaries + strict-below
    ties); this parity test keeps the two from silently diverging
    (r10 review finding)."""
    from kolang_spark.operators import equi_depth_bin

    rows = [(i, ((i * 7) % 23) + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    rb = 8
    probs = [i / rb for i in range(1, rb)]
    bounds = df.agg(
        F.percentile(F.col("n_tokens"), F.array(*[F.lit(p) for p in probs]))
        .alias("b")
    ).head()["b"]
    inline = {
        r.doc_id: sum(1 for b in bounds if r.n_tokens > b)
        for r in df.collect()
    }
    via_op = {
        r.doc_id: r.bin - 1  # equi_depth_bin is 1-based
        for r in equi_depth_bin(df, "n_tokens", n_bins=rb).collect()
    }
    assert inline == via_op


def test_pack_balanced_oracle_handles_empty_and_null_text(spark):
    """The driver oracle must agree with Spark on empty/whitespace/NULL
    documents (DuckDB's len(string_split_regex(trim(''), ...)) is 1,
    not 0 — the guard added after the r10 review). Replays the real
    oracle SQL against an in-memory documents view containing all
    three degenerate shapes."""
    import duckdb

    import __spark_entry__ as entry_mod
    from kolang_spark.llm import pack_balanced

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "a b c d"),
        (5, "e f"),
        (6, "g"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.n_tokens, r.pack_rank, r.bin_id)
        for r in pack_balanced(df, capacity=3000).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, NULL), (2, ''), (3, '   '), (4, 'a b c d'), (5, 'e f'), "
        "(6, 'g')) AS t(doc_id, text)"
    )
    res = con.execute(entry_mod.oracle_sql()["pack_balanced_documents"])
    want = sorted(tuple(r) for r in res.fetchall())
    con.close()
    assert got == want
