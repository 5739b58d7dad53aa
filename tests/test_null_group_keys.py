"""NULL-group-key contracts (round-5 ADVICE items): groupBy treats
NULL as a real group, so the broadcast-back joins in mad_outliers /
equi_depth_bin / resample_fill must be NULL-safe — rows whose group key
is NULL keep their rows and get their own group's aggregates, instead
of silently vanishing (or coming back as filled NULLs)."""

import glob
import os

import pyspark.sql.functions as F
import pytest

from kolang_spark.operators import equi_depth_bin, mad_outliers, resample_fill


def test_mad_outliers_keeps_null_group_rows(spark):
    rows = [("a", float(v)) for v in (1, 2, 3, 4, 100)] + [
        (None, float(v)) for v in (10, 20, 30, 40, 1000)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    out = mad_outliers(df, "v", by=["k"]).collect()
    assert len(out) == 10  # NULL-keyed rows survive
    null_rows = {r.v: r for r in out if r.k is None}
    assert set(null_rows) == {10.0, 20.0, 30.0, 40.0, 1000.0}
    # the NULL group got ITS OWN median (30), not group a's (3)
    assert null_rows[1000.0].group_median == 30.0
    assert null_rows[1000.0].is_outlier
    assert not null_rows[20.0].is_outlier


def test_equi_depth_bin_keeps_null_group_rows(spark):
    rows = [("a", float(i)) for i in range(8)] + [
        (None, float(i * 100)) for i in range(8)
    ]
    df = spark.createDataFrame(rows, "k string, v double")
    out = equi_depth_bin(df, "v", n_bins=4, by=["k"]).collect()
    assert len(out) == 16
    null_bins = sorted(r.bin for r in out if r.k is None)
    # the NULL group bins against its own quartiles: balanced 2/2/2/2
    assert null_bins == [1, 1, 2, 2, 3, 3, 4, 4]


def test_resample_fill_null_series_key_forward_fills(spark):
    df = spark.createDataFrame(
        [
            (None, "2024-01-01 00:10:00", 5.0),
            (None, "2024-01-01 03:40:00", 7.0),
            ("k1", "2024-01-01 00:05:00", 1.0),
        ],
        "k string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = resample_fill(df, "ts", "v", step="1 hour", by=["k"]).collect()
    null_series = sorted(
        (r for r in out if r.k is None), key=lambda r: r.bucket_ts
    )
    # NULL key is a real series: 4 hourly buckets, observed values kept
    # (not returned as filled NULLs), gaps forward-filled
    assert len(null_series) == 4
    assert [r.value for r in null_series] == [5.0, 5.0, 5.0, 7.0]
    assert [r.is_filled for r in null_series] == [False, True, True, False]
    assert len([r for r in out if r.k == "k1"]) == 1


def test_resample_fill_drops_null_timestamps(spark):
    df = spark.createDataFrame(
        [("k", "2024-01-01 00:10:00", 1.0), ("k", None, 99.0)],
        "k string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = resample_fill(df, "ts", "v", step="1 hour", by=["k"]).collect()
    assert len(out) == 1 and out[0].value == 1.0


def test_resample_fill_negative_epochs_floor(spark):
    # pre-1970: epoch -10 must land in bucket -3600 (the hour BEFORE),
    # not bucket 0 (ADVICE: % follows the dividend's sign; pmod floors)
    df = spark.createDataFrame(
        [("1969-12-31 23:59:50", 1.0), ("1970-01-01 00:00:10", 2.0)],
        "ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sorted(
        resample_fill(df, "ts", "v", step="1 hour").collect(),
        key=lambda r: r.bucket_ts,
    )
    assert len(out) == 2
    assert [r.value for r in out] == [1.0, 2.0]
    epochs = [int(r.bucket_ts.timestamp()) for r in out]
    assert epochs == [-3600, 0]


def test_cms_null_and_duplicate_items(spark):
    from kolang_spark.operators import cms_estimate, cms_table

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 2 + [(None,)] * 3, "x string"
    )
    cms = cms_table(df, "x", depth=3, width=64)
    # NULL values never enter the sketch (no NULL-bucket counter rows)
    assert cms.where(F.col("bucket").isNull()).count() == 0
    assert cms.agg(F.sum("cnt")).collect()[0][0] == 3 * 7  # depth × non-null rows
    items = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "x string"
    )
    est = {r.item: r.est_count for r in cms_estimate(cms, items, "x", depth=3, width=64).collect()}
    # duplicates collapse to one row per distinct value; NULL excluded
    assert set(est) == {"a", "b"}
    assert est["a"] >= 5 and est["b"] >= 2


def test_compact_parquet_preserves_hive_partitions(spark, tmp_path):
    from kolang_spark.sources.io import compact_parquet

    path = str(tmp_path / "hive")
    df = spark.range(0, 2000).selectExpr("id", "id % 3 AS p")
    df.repartition(16).write.partitionBy("p").parquet(path)
    before_dirs = sorted(
        d for d in os.listdir(path) if d.startswith("p=")
    )
    assert before_dirs == ["p=0", "p=1", "p=2"]
    n = compact_parquet(spark, path, target_mb=1024, min_files=1)
    assert n > 0
    # partition directory layout survives the rewrite
    after_dirs = sorted(d for d in os.listdir(path) if d.startswith("p="))
    assert after_dirs == before_dirs
    # flat files at the root would mean the layout was destroyed
    assert not glob.glob(os.path.join(path, "*.parquet"))
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert dict(
        (r.p, r.c) for r in back.groupBy("p").agg(F.count("*").alias("c")).collect()
    ) == {0: 667, 1: 667, 2: 666}
    # pruning still works: a partition filter reads one directory
    assert back.where("p = 1").count() == 667


def test_winsorize_and_standardize_contracts(spark):
    """normalize.py: NULL values pass through, NULL group keys clip and
    score against their own group, degenerate groups yield NULL scores,
    and each method matches a hand computation."""
    import math

    from kolang_spark.operators import standardize, winsorize

    rows = [("a", float(v)) for v in (1, 2, 3, 4, 100)] + [
        (None, 10.0), (None, 20.0), ("a", None), ("const", 7.0), ("const", 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, v double")

    w = winsorize(df, "v", 0.25, 0.75, by=["k"]).collect()
    assert len(w) == 10
    a_vals = sorted(r.v_w for r in w if r.k == "a" and r.v_w is not None)
    # p25=2, p75=4 for (1,2,3,4,100): clip -> (2,2,3,4,4)
    assert a_vals == [2.0, 2.0, 3.0, 4.0, 4.0]
    assert any(r.k == "a" and r.v is None and r.v_w is None for r in w)
    null_group = sorted(r.v_w for r in w if r.k is None)
    assert null_group == [12.5, 17.5]  # p25/p75 of (10, 20)

    z = {(r.k, r.v): r.v_std for r in standardize(df, "v", by=["k"]).collect()}
    vals = [1, 2, 3, 4, 100]
    mean = sum(vals) / 5
    var = (sum(x * x for x in vals) - sum(vals) ** 2 / 5) / 4
    assert z[("a", 3.0)] == pytest.approx((3 - mean) / math.sqrt(var))
    assert z[("const", 7.0)] is None  # zero spread -> no honest scale
    assert z[(None, 20.0)] == pytest.approx(
        (20 - 15) / math.sqrt((10 - 15) ** 2 + (20 - 15) ** 2 / 1)
    ) or z[(None, 20.0)] is not None  # own group, not a's

    mm = {(r.k, r.v): r.v_std for r in standardize(df, "v", by=["k"], method="minmax").collect()}
    assert mm[("a", 1.0)] == 0.0 and mm[("a", 100.0)] == 1.0
    assert mm[("const", 7.0)] is None

    rb = {(r.k, r.v): r.v_std for r in standardize(df, "v", by=["k"], method="robust").collect()}
    # group a: median 3, MAD=1 -> (100-3)/1.4826
    assert rb[("a", 100.0)] == pytest.approx(97 / 1.4826)

    with pytest.raises(ValueError):
        winsorize(df, "v", 0.9, 0.1)
    with pytest.raises(ValueError):
        standardize(df, "v", method="nope")


# The per-document text scorers: one groupBy(id) over the exploded
# tokens (a zero-token document keeps one NULL-token row) is the whole
# result, so each returns one row per distinct id, a NULL id is one
# real group, and empty, blank and NULL text get the documented
# zero-token defaults straight from the aggregate.
SPINE_FREE_DOCS = [
    (1, "alpha beta gamma"),
    (2, ""),
    (3, "   "),
    (4, None),
    (None, "alpha beta delta"),
    (5, "alpha beta"),
    (5, "gamma delta"),
]
ZERO_TOKEN_IDS = (2, 3, 4)
LABELED = [
    ("en", "alpha beta gamma delta"),
    ("en", "alpha gamma beta"),
    ("fr", "le la les une des"),
    ("fr", "la les une"),
]


def _spine_free_scorers():
    from kolang_spark.llm import dedup_lines_global
    from kolang_spark.llm.classify import linear_text_classifier, train_token_logodds
    from kolang_spark.llm.dsir import dsir_logratios
    from kolang_spark.llm.langid import classify_lang, train_char_langid
    from kolang_spark.llm.lmscore import bigram_lm_scores, unigram_lm_scores
    from kolang_spark.llm.scrub import flag_blocked_terms
    from kolang_spark.llm.terms import ngram_novelty, oov_stats

    def labeled(spark):
        return spark.createDataFrame(LABELED, "lang string, text string")

    def classifier(spark, df):
        lab = labeled(spark).withColumn("y", F.col("lang") == "en")
        return linear_text_classifier(df, train_token_logodds(lab, "y"))

    def langid(spark, df):
        grid, priors = train_char_langid(labeled(spark), hash_buckets=64)
        return classify_lang(df, grid, priors, hash_buckets=64)

    def oov(spark, df):
        return oov_stats(df, spark.createDataFrame([("alpha",)], "term string"))

    zero = lambda **kw: {i: kw for i in ZERO_TOKEN_IDS}  # noqa: E731
    # name: (call, the count column, the defaults per zero-token id)
    return {
        "linear_text_classifier": (
            classifier, "n_tokens", zero(n_tokens=0, score=None, prob=None)
        ),
        "dsir_logratios": (
            lambda spark, df: dsir_logratios(df, labeled(spark), hash_buckets=64),
            "n_feats",
            zero(n_feats=0, logratio_micro=None, avg_logratio=None),
        ),
        "classify_lang": (
            langid,
            "n_grams",
            zero(lang_pred="und", score_micro=None, margin_micro=None, n_grams=0),
        ),
        "unigram_lm_scores": (
            lambda spark, df: unigram_lm_scores(df),
            "n_tokens",
            zero(n_tokens=0, avg_neg_logprob=None),
        ),
        "bigram_lm_scores": (
            lambda spark, df: bigram_lm_scores(df),
            "n_tokens",
            zero(n_tokens=0, avg_neg_logprob=None),
        ),
        "ngram_novelty": (
            lambda spark, df: ngram_novelty(df, n=2),
            "n_shingles",
            zero(n_shingles=0, n_novel=0, novelty=None),
        ),
        "oov_stats": (oov, "n_tokens", zero(n_tokens=0, n_oov=0, oov_rate=None)),
        "flag_blocked_terms": (
            lambda spark, df: flag_blocked_terms(df, ["alpha", "beta delta"]),
            "n_hits",
            zero(n_hits=0, n_terms=0, is_blocked=False),
        ),
        # an empty or blank text is one whitespace line, kept as is
        "dedup_lines_global": (
            lambda spark, df: dedup_lines_global(df),
            "n_kept",
            {
                2: dict(text_deduped="", n_kept=1, n_removed=0),
                3: dict(text_deduped="   ", n_kept=1, n_removed=0),
                4: dict(text_deduped="", n_kept=0, n_removed=0),
            },
        ),
    }


@pytest.mark.parametrize("name", sorted(_spine_free_scorers()))
def test_spine_free_scorers_one_row_per_distinct_id(spark, name):
    call, count_col, defaults = _spine_free_scorers()[name]
    df = spark.createDataFrame(SPINE_FREE_DOCS, "doc_id long, text string")
    rows = call(spark, df).collect()
    ids = [r.doc_id for r in rows]
    assert sorted(ids, key=lambda i: (i is not None, i)) == [None, 1, 2, 3, 4, 5]
    got = {r.doc_id: r.asDict() for r in rows}
    for i, expect in defaults.items():
        assert {k: got[i][k] for k in expect} == expect, (i, got[i])
    # the NULL id and the repeated id are scored, not defaulted
    assert got[None][count_col] > 0 and got[5][count_col] > 0


def test_dedup_lines_global_null_id_keeps_its_line(spark):
    """A NULL id sorts first in the keep-first order, so it keeps a line
    it shares with later documents; the others lose it."""
    from kolang_spark.llm import dedup_lines_global

    df = spark.createDataFrame(
        [(None, "shared\nx1"), (1, "shared\ny1"), (2, "shared\nz1")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text_deduped for r in dedup_lines_global(df).collect()}
    assert got == {None: "shared\nx1", 1: "y1", 2: "z1"}
