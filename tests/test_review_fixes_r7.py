"""Regression tests for the round-7 deep-review fixes: NULL handling in
the hash samplers and the bucketed cumulative sum, pre-epoch Jalali
arithmetic, Column-valued event-time watermarks, and outer interval
joins."""

import pytest
from pyspark.sql import functions as F


def test_deterministic_sample_keeps_null_keys_at_full_fraction(spark):
    from kolang_spark.operators.sampling import deterministic_sample

    df = spark.createDataFrame(
        [(1,), (2,), (None,)], "k int"
    )
    assert deterministic_sample(df, "k", 1.0).count() == 3  # was 2
    assert deterministic_sample(df, "k", 0.0).count() == 0
    # NULL keys share one deterministic fate (the empty-string hash)
    a = {r.k for r in deterministic_sample(df, "k", 0.5).collect()}
    b = {r.k for r in deterministic_sample(df, "k", 0.5).collect()}
    assert a == b


def test_split_dataset_assigns_null_keys_by_hash(spark):
    from kolang_spark.operators.sampling import split_dataset

    df = spark.createDataFrame([(None,)] * 4 + [(1,)], "k int")
    out = split_dataset(df, "k", {"train": 0.8, "val": 0.1, "test": 0.1})
    splits = {r.split for r in out.where(F.col("k").isNull()).collect()}
    # all NULLs share the ''-hash bucket -> ONE split, chosen by hash
    # (h60('') = 0x... -> train at these fractions), never dumped into
    # the last split by NULL fallthrough
    assert len(splits) == 1
    import hashlib

    h = int(hashlib.md5(b"").hexdigest()[17:32], 16)
    want = (
        "train" if h < int(0.8 * (1 << 60))
        else "val" if h < int((0.8 + 0.1) * (1 << 60))
        else "test"
    )
    assert splits == {want}


def test_with_cumulative_sum_keeps_null_order_and_partition_rows(spark):
    from kolang_spark.operators.scale import with_cumulative_sum

    rows = [(None, 5, "a"), (1, 1, "a"), (2, 2, "a"), (3, 3, None)]
    df = spark.createDataFrame(rows, "o int, v long, p string")
    out = with_cumulative_sum(
        df, "v", "o", bucket=F.col("o"), partition_by="p", out="c"
    )
    got = {(r.p, r.o): r.c for r in out.collect()}
    assert len(got) == 4  # NULL bucket/partition rows survive the join
    # NULLS FIRST: the NULL-order row leads partition 'a'
    assert got[("a", None)] == 5
    assert got[("a", 1)] == 6 and got[("a", 2)] == 8
    assert got[(None, 3)] == 3  # NULL partition is its own series


def test_jalali_pre_epoch_dates_roundtrip(spark):
    """Dates before the 1600-03-20 algorithm epoch: floored modulo
    (pmod) keeps the cycle decomposition correct, and the inverse
    reconstructs the exact Gregorian date."""
    from kolang_spark.functions.jalali import gregorian_date, jalali_parts

    dates = ["1600-02-01", "1599-12-31", "1500-06-15", "1601-01-01",
             "1600-03-19", "1600-03-20"]
    df = spark.createDataFrame([(d,) for d in dates], "s string").select(
        F.to_date("s").alias("d")
    )
    jy, jm, jd = jalali_parts("d")
    out = df.select(
        "d", jy.alias("jy"), jm.alias("jm"), jd.alias("jd")
    ).withColumn("back", gregorian_date("jy", "jm", "jd"))
    rows = {str(r.d): r for r in out.collect()}
    for d in dates:
        assert str(rows[d].back) == d, (d, rows[d])
    # pinned value: 1600-02-01 = Jalali 978-11-12 (Bahman 12)
    r = rows["1600-02-01"]
    assert (r.jy, r.jm, r.jd) == (978, 11, 12)
    # epoch day itself = Farvardin 1, 979
    r = rows["1600-03-20"]
    assert (r.jy, r.jm, r.jd) == (979, 1, 1)


def test_sessionize_and_windows_accept_column_ts_with_watermark(spark):
    """A Column-valued ts + watermark must watermark THAT column (the
    old fallback watermarked a hard-coded 'ts' name). Batch frames
    accept withWatermark as a no-op, so semantics are checkable here."""
    from kolang_spark.streaming.sessions import sessionize
    from kolang_spark.streaming.windows import tumbling

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00")],
        "user_id int, event_time string",
    ).select("user_id", F.to_timestamp("event_time").alias("event_time"))
    s = sessionize(
        df, key="user_id", ts=F.col("event_time"), gap="30 minutes",
        watermark="1 hour",
    )
    assert s.count() == 1  # one merged session; no AnalysisException
    t = tumbling(
        df, ts=F.col("event_time"), duration="1 hour",
        keys=["user_id"], watermark="1 hour",
    )
    assert t.count() == 1


def test_interval_join_outer_keeps_right_only_keys(spark):
    from kolang_spark.streaming.joins import interval_join

    L = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "k int, ts string"
    ).select("k", F.to_timestamp("ts").alias("ts"))
    R = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", 10), (2, "2024-01-01 00:01:00", 20)],
        "k int, ts string, v int",
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    out = interval_join(
        L, R, keys=["k"], lower="0 seconds", upper="5 minutes",
        how="full_outer",
    )
    got = {r.v: r.k for r in out.where(F.col("v").isNotNull()).collect()}
    assert got[10] == 1
    assert got[20] == 2  # right-only row keeps its key (was NULL)


def test_warc_negative_content_length_terminates():
    """A corrupt/adversarial negative Content-Length must end the walk
    (it used to move the cursor backwards and loop forever)."""
    from kolang_spark.sources.warc import parse_warc_bytes

    evil = b"WARC/1.0\r\nWARC-Type: x\r\nContent-Length: -33\r\n\r\n"
    assert parse_warc_bytes(evil) == []
    good = (b"WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 2"
            b"\r\n\r\nok\r\n\r\n")
    # a good record before the corrupt one survives
    assert [r[6] for r in parse_warc_bytes(good + evil)] == [b"ok"]


def test_sample_frames_zero_duration_yields_no_rows(spark):
    from kolang_spark.llm.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, 0), (2, 3), (3, -5)], "doc_id long, dur int"
    )
    out = sample_frames(df, id_col="doc_id", fps=1, duration_s_col="dur")
    got = sorted((r.doc_id, r.frame_idx) for r in out.collect())
    assert got == [(2, 0), (2, 1), (2, 2)]  # no bogus 0/-1 frames


def test_write_table_csv_header_false_respected(spark, tmp_path):
    from kolang_spark.sources.io import write_table

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    p = str(tmp_path / "noheader")
    write_table(df, p, format="csv", mode="overwrite", header=False)
    lines = [
        line
        for f in __import__("os").listdir(p)
        if f.endswith(".csv")
        for line in open(f"{p}/{f}").read().splitlines()
    ]
    assert lines == ["1,a"]  # no header row


def test_extract_features_handles_null_blob(spark):
    from kolang_spark.llm.multimodal import extract_features

    df = spark.createDataFrame(
        [(1, bytearray(b"x")), (2, None)], "doc_id long, content binary"
    )
    out = {r.doc_id: r.features
           for r in extract_features(df, dims=4).collect()}
    assert len(out[1]) == 4 and len(out[2]) == 4  # no TypeError
    assert out[2] == [0.0] * 4  # a NULL blob folds as empty bytes


def test_assert_no_shuffle_join_allows_broadcast_exchange(spark):
    from kolang_spark.sources.bucketing import assert_no_shuffle_join

    big = spark.range(100).withColumnRenamed("id", "k")
    small = spark.createDataFrame([(1, "x")], "k long, v string")
    joined = big.join(F.broadcast(small), "k")
    assert_no_shuffle_join(joined)  # BroadcastExchange is not a shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with pytest.raises(AssertionError):
            assert_no_shuffle_join(big.join(small, "k"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
