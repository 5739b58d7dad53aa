"""Funnel + retention (`kolang_spark/operators/funnel.py`): exact-model
equivalence against a pure-Python replica of the documented chained-min
spec, tie/horizon edge cases, and Hypothesis sweeps."""

from hypothesis import given, settings, strategies as st

from tests.conftest import examples
from pyspark.sql import functions as F

from kolang_spark.operators.funnel import (
    funnel_counts,
    funnel_steps,
    retention_cohorts,
)


def _replica(events, steps, horizon_ms=None):
    """Chained-minimum spec, verbatim: t[k] = min ts of step-k events
    with ts >= t[k-1]; horizon clips steps 2.. to t[0]+horizon."""
    out = {}
    users = {u for u, _, _ in events}
    for u in sorted(users):
        evs = [(ts, ty) for uu, ts, ty in events if uu == u]
        t = [None] * len(steps)
        for k, s in enumerate(steps):
            lo = 0 if k == 0 else t[k - 1]
            if k > 0 and lo is None:
                break
            cand = [ts for ts, ty in evs if ty == s and ts >= lo]
            t[k] = min(cand) if cand else None
            if t[k] is None:
                break
        if horizon_ms is not None and t[0] is not None:
            for k in range(1, len(steps)):
                if t[k] is not None and (
                    t[k] > t[0] + horizon_ms or t[k - 1] is None
                ):
                    t[k] = None
        if t[0] is not None:
            out[u] = t
    return out


def _run(spark, events, steps, horizon_ms=None):
    df = spark.createDataFrame(
        events, "user_id long, ts_ms long, event_type string"
    )
    got = funnel_steps(df, steps, horizon_ms=horizon_ms).collect()
    return {
        r["user_id"]: [r[f"step_{k + 1}_ms"] for k in range(len(steps))]
        for r in got
    }


def test_basic_three_step(spark):
    events = [
        (1, 10, "view"), (1, 20, "click"), (1, 30, "buy"),
        (2, 10, "view"), (2, 5, "click"), (2, 40, "click"),
        (3, 50, "click"), (3, 60, "buy"),  # never viewed → excluded
    ]
    steps = ["view", "click", "buy"]
    assert _run(spark, events, steps) == _replica(events, steps)
    got = _run(spark, events, steps)
    assert got[1] == [10, 20, 30]
    assert got[2] == [10, 40, None]  # the ts=5 click precedes the view
    assert 3 not in got


def test_same_timestamp_completes_adjacent_steps(spark):
    events = [(7, 100, "view"), (7, 100, "click")]
    got = _run(spark, events, ["view", "click"])
    assert got[7] == [100, 100]


def test_horizon_clips_and_voids_downstream(spark):
    events = [
        (1, 0, "a"), (1, 10, "b"), (1, 20, "c"),
        (2, 0, "a"), (2, 50, "b"), (2, 60, "c"),
    ]
    steps = ["a", "b", "c"]
    got = _run(spark, events, steps, horizon_ms=15)
    assert got[1] == [0, 10, None]  # c at 20 > 15
    assert got[2] == [0, None, None]  # b clipped → c voided too
    assert got == _replica(events, steps, horizon_ms=15)


def test_repeated_type_in_steps(spark):
    # view → view funnel: needs two views (>= allows the same event's
    # ts, so the SECOND position picks the first view at ts >= first —
    # which is the first view itself; chained-min spec keeps this
    # well-defined and the replica agrees)
    events = [(1, 10, "view"), (1, 30, "view"), (2, 5, "view")]
    steps = ["view", "view"]
    assert _run(spark, events, steps) == _replica(events, steps)


def test_funnel_counts_summary(spark):
    events = [
        (1, 10, "view"), (1, 20, "click"), (1, 30, "buy"),
        (2, 10, "view"), (2, 40, "click"),
        (3, 10, "view"),
        (4, 99, "click"),
    ]
    df = spark.createDataFrame(
        events, "user_id long, ts_ms long, event_type string"
    )
    rows = {
        r["step"]: r
        for r in funnel_counts(df, ["view", "click", "buy"]).collect()
    }
    assert rows[1]["n_users"] == 3 and rows[1]["conv_bp"] == 10000
    assert rows[2]["n_users"] == 2 and rows[2]["conv_bp"] == 6666
    assert rows[3]["n_users"] == 1 and rows[3]["conv_bp"] == 3333


@settings(max_examples=examples(25), deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 4),
            st.integers(0, 50),
            st.sampled_from(["a", "b", "c", "x"]),
        ),
        max_size=30,
    ),
    st.one_of(st.none(), st.integers(0, 40)),
)
def test_funnel_matches_replica(sparkless_events, horizon):
    # session-scoped spark fixture can't feed @given directly; build on
    # demand from the module-level session
    from tests.conftest import build_spark

    spark = build_spark()
    steps = ["a", "b", "c"]
    assert (
        _run(spark, sparkless_events, steps, horizon_ms=horizon)
        == _replica(sparkless_events, steps, horizon_ms=horizon)
    )


def test_retention_cohorts_integer_spec(spark):
    # period_days=7; epoch days chosen so cohorts land in periods 0,1
    rows = [
        (1, "1970-01-01"),  # period 0
        (1, "1970-01-09"),  # period 1 → offset 1
        (1, "1970-01-20"),  # period 2 → offset 2
        (2, "1970-01-02"),  # period 0 only
        (3, "1970-01-10"),  # period 1 cohort
        (3, "1970-01-12"),  # same period — dedup to one
    ]
    df = spark.createDataFrame(rows, "user_id long, d string").select(
        "user_id", F.col("d").cast("timestamp").alias("ts")
    )
    got = {
        (r["cohort_period"], r["period_offset"]): r["n_users"]
        for r in retention_cohorts(df, period_days=7).collect()
    }
    assert got == {
        (0, 0): 2,
        (0, 1): 1,
        (0, 2): 1,
        (1, 0): 1,
    }


def test_retention_pre_epoch_floor(spark):
    # epoch day -3 // 7 must floor to period -1, not truncate to 0
    df = spark.createDataFrame(
        [(1, "1969-12-29"), (1, "1970-01-02")], "user_id long, d string"
    ).select("user_id", F.col("d").cast("timestamp").alias("ts"))
    got = {
        (r["cohort_period"], r["period_offset"]): r["n_users"]
        for r in retention_cohorts(df, period_days=7).collect()
    }
    assert got == {(-1, 0): 1, (-1, 1): 1}


def test_funnel_counts_rejects_quoted_step_names(spark):
    from kolang_spark.operators.funnel import funnel_counts

    df = spark.createDataFrame([(1, 0, "a")], "user_id long, ts_ms long, event_type string")
    import pytest as _pt
    with _pt.raises(ValueError, match="quotes"):
        funnel_counts(df, ["a'b"])


def test_funnel_in_list_sorted(spark):
    """The step filter's IN-list is in sorted order, so a funnel's plan
    is the same on every run whatever the process's string-hash seed."""
    import re

    steps = ["view", "click", "cart", "pay", "ship", "buy", "view"]
    df = spark.createDataFrame(
        [(1, 10, "view")], "user_id long, ts_ms long, event_type string"
    )
    plan = funnel_steps(df, steps)._jdf.queryExecution().analyzed().toString()
    (listed,) = re.findall(r"event_type#\d+ IN \(([^)]*)\)", plan)
    assert listed.split(",") == sorted(set(steps))
