"""Golden tests for DataFrame operators (fixtures: reference docstrings)."""

import pyspark.sql.functions as F
import pytest

import kolang_spark as ks
from kolang_spark.operators.scale import with_cumulative_sum, with_percent


def test_unpivot_roundtrip(spark):
    data = [
        ("Banana", 1000, "USA"), ("Beans", 1600, "USA"), ("Orange", 2000, "USA"),
        ("Orange", 2000, "USA"), ("Banana", 400, "China"), ("Beans", 1500, "China"),
        ("Orange", 4000, "China"), ("Banana", 2000, "Canada"), ("Beans", 2000, "Mexico"),
    ]
    df = spark.createDataFrame(data, ["Product", "Amount", "Country"])
    pivoted = df.groupBy("Product").pivot("Country").sum("Amount")
    out = ks.unpivot(
        pivoted, on_columns=["USA", "China", "Canada", "Mexico"],
        in_column="Country", value_column="Amount",
    )
    assert out.columns == ["Product", "Country", "Amount"]  # deterministic order
    got = {(r.Product, r.Country): r.Amount for r in out.collect()}
    assert got == {
        ("Orange", "USA"): 4000, ("Orange", "China"): 4000,
        ("Beans", "USA"): 1600, ("Beans", "China"): 1500, ("Beans", "Mexico"): 2000,
        ("Banana", "USA"): 1000, ("Banana", "China"): 400, ("Banana", "Canada"): 2000,
    }


def test_unpivot_keep_nulls(spark):
    df = spark.createDataFrame([(1, 10, None)], "id int, a int, b int")
    out = ks.unpivot(df, ["a", "b"], "k", "v", ignore_null=False)
    assert out.count() == 2


def test_transpose(spark):
    df = spark.createDataFrame([("a", 1, 2), ("b", 3, 4)], ["k", "x", "y"])
    out = ks.transpose(df, "k")
    assert out.columns == ["index", "a", "b"]
    got = {r["index"]: (r.a, r.b) for r in out.collect()}
    assert got == {"x": (1, 3), "y": (2, 4)}


def test_transpose_guard(spark):
    df = spark.range(0, 50).toDF("k")
    with pytest.raises(ValueError):
        ks.transpose(df, "k", max_rows=10)


def test_transpose_native(spark):
    """Spark 4 built-in path: same shape (index column + one column per
    former row), JVM-side; values arrive type-coerced (int→double when
    the built-in unifies value types)."""
    df = spark.createDataFrame([("a", 1, 2), ("b", 3, 4)], ["k", "x", "y"])
    out = ks.transpose(df, "k", native=True)
    assert out.columns == ["index", "a", "b"]
    got = {r["index"]: (r.a, r.b) for r in out.collect()}
    assert got == {"x": (1, 3), "y": (2, 4)}
    with pytest.raises(ValueError):
        ks.transpose(spark.range(0, 50).toDF("k"), "k", max_rows=10, native=True)


def test_union_all_docstring(spark):
    df1 = spark.createDataFrame([(1, "foo", 4), (2, "bar", 4)], ["col1", "col2", "col4"])
    df2 = spark.createDataFrame([(3, "foo", "6"), (4, "bar", "4")], ["col1", "col3", "col4"])
    out = ks.union_all(df1, df2)
    # deterministic first-seen order
    assert out.columns == ["col1", "col2", "col4", "col3"]
    types = dict(out.dtypes)
    assert types["col4"] == "string"  # long vs string → string
    got = sorted((r.col1, r.col2, r.col4, r.col3) for r in out.collect())
    assert got == [
        (1, "foo", "4", None), (2, "bar", "4", None),
        (3, None, "6", "foo"), (4, None, "4", "bar"),
    ]


def test_union_all_numeric_widening(spark):
    df1 = spark.createDataFrame([(1,)], "x int")
    df2 = spark.createDataFrame([(2.5,)], "x double")
    out = ks.union_all(df1, df2)
    assert dict(out.dtypes)["x"] == "double"
    assert sorted(r.x for r in out.collect()) == [1.0, 2.5]


def test_safe_union_bool_string(spark):
    df1 = spark.createDataFrame([(True,)], "c boolean")
    df2 = spark.createDataFrame([("yes",)], "c string")
    out = ks.safe_union(df1, df2)
    assert dict(out.dtypes)["c"] == "string"
    assert sorted(r.c for r in out.collect()) == ["true", "yes"]


def test_union_all_list_and_nary(spark):
    dfs = [spark.createDataFrame([(i,)], "x int") for i in range(4)]
    out = ks.union_all(dfs)
    assert sorted(r.x for r in out.collect()) == [0, 1, 2, 3]


def test_pandas_to_spark_float64_is_double(spark):
    import numpy as np
    import pandas as pd

    pdf = pd.DataFrame({"a": np.array([0.1, 0.2], dtype="float64")})
    out = ks.pandas_to_spark(pdf, spark)
    assert dict(out.dtypes)["a"] == "double"


def test_pandas_to_spark_uninferable_column_falls_back_to_string(spark):
    """With Arrow off, Spark cannot type an all-``None`` object column
    (``CANNOT_DETERMINE_TYPE``, a ``ValueError``): the dtype map applies
    and the column becomes ``string``."""
    import pandas as pd

    pdf = pd.DataFrame({"a": [1, 2], "b": [None, None]})
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        out = ks.pandas_to_spark(pdf, spark)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert dict(out.dtypes) == {"a": "bigint", "b": "string"}
    assert [tuple(r) for r in out.collect()] == [(1, None), (2, None)]


def test_pandas_to_spark_propagates_other_errors(spark, monkeypatch):
    """Only a type/value rejection takes the dtype-map route; any other
    error from ``createDataFrame`` reaches the caller with no retry."""
    import pandas as pd

    calls = []

    def refuse(*args, **kwargs):
        calls.append(args)
        raise RuntimeError("gateway down")

    monkeypatch.setattr(spark, "createDataFrame", refuse)
    with pytest.raises(RuntimeError, match="gateway down"):
        ks.pandas_to_spark(pd.DataFrame({"a": [1]}), spark)
    assert len(calls) == 1


def test_load_or_calculate_parquet(spark, tmp_path):
    calls = []

    def fn(ds, kind):
        calls.append((ds, kind))
        return spark.createDataFrame([(ds, kind, 1)], ["d", "k", "v"]).drop("d", "k")

    path = str(tmp_path / "memo")
    out = ks.load_or_calculate_parquet(
        fn, path,
        range_params={"ds": ["2022-09-03", "2022-09-05"], "kind": [True, False]},
        log=False,
    )
    assert len(calls) == 4
    # partition columns restored on read-back
    assert set(out.columns) == {"v", "ds", "kind"}
    assert out.count() == 4
    # second run: all cached, no new calls
    out2 = ks.load_or_calculate_parquet(
        fn, path,
        range_params={"ds": ["2022-09-03", "2022-09-05"], "kind": [True, False]},
        log=False,
    )
    assert len(calls) == 4
    assert out2.count() == 4
    # filters on partition columns prune (partition discovery)
    assert out2.filter(F.col("ds") == "2022-09-03").count() == 2


def test_load_or_calculate_parquet_concurrent(spark, tmp_path):
    """concurrency>1 submits independent combo jobs from a thread pool:
    all partitions written, read-back semantics identical to the
    sequential path, and wall-clock beats sequential when per-combo
    latency dominates (simulated with a driver-side sleep)."""
    import threading
    import time

    lock = threading.Lock()
    calls = []

    def fn(ds):
        time.sleep(0.8)  # simulated per-combo latency (driver-side tail)
        with lock:
            calls.append(ds)
        return spark.createDataFrame([(ds, 1)], ["d", "v"]).drop("d")

    params = {"ds": ["a", "b", "c", "d"]}

    t0 = time.perf_counter()
    ks.load_or_calculate_parquet(
        fn, str(tmp_path / "seq"), range_params=params, log=False
    )
    t_seq = time.perf_counter() - t0

    t0 = time.perf_counter()
    out = ks.load_or_calculate_parquet(
        fn, str(tmp_path / "conc"), range_params=params, log=False,
        concurrency=4,
    )
    t_conc = time.perf_counter() - t0

    assert sorted(calls) == ["a", "a", "b", "b", "c", "c", "d", "d"]
    assert set(out.columns) == {"v", "ds"}
    assert out.count() == 4
    assert out.filter(F.col("ds") == "c").count() == 1
    assert t_conc < t_seq, f"concurrent {t_conc:.2f}s not faster than {t_seq:.2f}s"
    # memoization still holds under concurrency: second run adds no calls
    n = len(calls)
    ks.load_or_calculate_parquet(
        fn, str(tmp_path / "conc"), range_params=params, log=False,
        concurrency=4,
    )
    assert len(calls) == n

    with pytest.raises(ValueError):
        ks.load_or_calculate_parquet(
            fn, str(tmp_path / "bad"), range_params=params, concurrency=0
        )


def test_add_trend_line_linear(spark):
    import datetime

    rows = [(datetime.date(2024, 1, 1) + datetime.timedelta(days=i), float(2 * i + 1))
            for i in range(10)]
    df = spark.createDataFrame(rows, ["date", "sales"])
    out = ks.add_trend_line(df, "sales", prediction_day=2)
    assert out.count() == 12
    assert set(out.columns) == {"date", "sales_trendline", "sales"}
    got = {r.date: (r.sales_trendline, r.sales) for r in out.collect()}
    # perfect linear data → trendline == data; forecast extrapolates
    for i in range(10):
        d = datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        assert got[d][0] == pytest.approx(2 * i + 1, abs=1e-6)
        assert got[d][1] == pytest.approx(2 * i + 1)
    d11 = datetime.date(2024, 1, 11)
    assert got[d11][0] == pytest.approx(21.0, abs=1e-6)
    assert got[d11][1] is None


def test_add_trend_line_quadratic(spark):
    import datetime

    rows = [(datetime.date(2024, 1, 1) + datetime.timedelta(days=i), float(i * i))
            for i in range(8)]
    df = spark.createDataFrame(rows, ["date", "y"])
    out = ks.add_trend_line(df, "y", degree=2)
    got = {r.date: r.y_trendline for r in out.collect()}
    for i in range(8):
        d = datetime.date(2024, 1, 1) + datetime.timedelta(days=i)
        assert got[d] == pytest.approx(i * i, abs=1e-5)


def test_with_percent_matches_window_variant(spark):
    df = spark.range(1, 5).toDF("count")
    a = sorted(r.p for r in df.withColumn("p", ks.percent("count", r=4)).collect())
    b = sorted(r.p for r in with_percent(df, "count", out="p", r=4).collect())
    assert a == b
    from kolang_spark.plans import find_global_windows

    assert find_global_windows(with_percent(df, "count")) == []


def test_with_cumulative_sum_matches_window_variant(spark):
    df = (
        spark.range(0, 1000)
        .toDF("id")
        .withColumn("v", (F.col("id") * 7) % 13)
    )
    expected = {r.id: r.cs for r in df.withColumn("cs", ks.cumulative_sum("v", "id")).collect()}
    got = {
        r.id: r.cs
        for r in with_cumulative_sum(
            df, "v", "id", bucket=(F.col("id") / 100).cast("int"), out="cs"
        ).collect()
    }
    assert got == expected


def test_profile_table(spark):
    from kolang_spark.operators import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "b", 5.0), (2, None, 7.5)],
        "id long, s string, v double",
    )
    out = {r.column: r for r in profile_table(df, exact_distinct=True).collect()}
    assert set(out) == {"id", "s", "v"}
    assert all(r.n_rows == 3 for r in out.values())
    assert (out["id"].n_null, out["id"].n_distinct) == (0, 2)
    assert (out["s"].n_null, out["s"].n_distinct) == (1, 2)
    assert (out["v"].min_value, out["v"].max_value) == ("5.0", "7.5")
    assert (out["id"].min_value, out["id"].max_value) == ("1", "2")
    # subset + unknown column guard
    sub = profile_table(df, columns=["id"]).collect()
    assert len(sub) == 1
    with pytest.raises(ValueError):
        profile_table(df, columns=["nope"])
