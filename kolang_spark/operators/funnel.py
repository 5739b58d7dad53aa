"""Event-funnel and retention-cohort analytics over an event stream.

Product/behavioral analytics on the `events` fact table: which users
progress through an ordered sequence of event types (view → click →
purchase), and how cohorts of users stay active over time. No
counterpart exists in the reference (`/root/reference/kolang` has no
event-sequence surface) — extension surface for the analytics mandate.

Determinism contract (what an SQL oracle replays):

- ``funnel_steps``: step k's timestamp is the MINIMUM event time of
  step k's type that is >= step k-1's timestamp (ties inclusive).
  That chained-minimum spec is exactly what a greedy in-time-order
  scan computes when same-timestamp events are processed in step
  order — proven in the fold's tie-break below — so both the Spark
  fold and a chained-CTE SQL oracle land on identical integers.
- ``retention_cohorts``: pure integer epoch-day arithmetic.

Scale shape:

- ``funnel_steps`` is ONE shuffle: events are filtered map-side to the
  funnel's own types (usually a tiny fraction of the stream — the
  filter reaches the parquet scan), shuffled once on the user key, and
  folded per user with a Column-side ``aggregate`` over the sorted
  (ts, step) list. Per-user state is the user's own funnel events —
  bounded by user activity, never by table size. No join, no window,
  no second pass. The naive formulation (one groupBy + join per step)
  costs m shuffles and m joins; this costs one of each (zero joins).
- ``retention_cohorts`` is TWO shuffles: one groupBy user collapsing
  each user to (first_period, distinct active periods) — the per-user
  array is bounded by the calendar span, not the event count — then
  explode + groupBy (cohort, offset), whose output is at most
  span² rows. Both aggregations combine map-side.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = ["funnel_steps", "funnel_counts", "retention_cohorts"]


def funnel_steps(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    type_col: str = "event_type",
    horizon_ms: Optional[int] = None,
) -> DataFrame:
    """Per-user funnel progression through ``steps`` (ordered event
    types) → one row per user who performed step 1, with columns
    ``(user_col, step_reached, step_1_ms .. step_m_ms)``.

    ``step_k_ms`` is the first time the user performed step k's type at
    or after their step k-1 time (step 1: their first step-1 event);
    NULL once the chain breaks. ``step_reached`` counts the non-NULL
    steps (1..m). With ``horizon_ms``, steps 2..m must additionally
    fall within ``step_1_ms + horizon_ms`` (inclusive) — the standard
    "converted within N days" funnel window.

    ``ts_col`` must be an integral epoch column (milliseconds by
    convention); cast timestamps up front (``epoch_ms``-style) so the
    chained-minimum arithmetic is integer-exact.

    Tie semantics: two events at the SAME timestamp complete adjacent
    steps (>= chaining), and the fold's sort key (ts, step_idx) orders
    the earlier step first so the chain observes it. Events of a type
    appearing at multiple positions in ``steps`` feed every matching
    position independently.
    """
    m = len(steps)
    if m == 0:
        raise ValueError("steps must be non-empty")
    if horizon_ms is not None and horizon_ms < 0:
        raise ValueError("horizon_ms must be >= 0")

    # map each event to every step position its type occupies (types
    # may repeat across positions); everything else is dropped BEFORE
    # the shuffle — this filter reaches the scan
    pos_map = F.map_from_arrays(
        F.array(*[F.lit(s) for s in sorted(set(steps))]),
        F.array(
            *[
                F.array(
                    *[F.lit(i) for i, t in enumerate(steps) if t == s]
                ).cast("array<int>")
                for s in sorted(set(steps))
            ]
        ),
    )
    ev = (
        df.where(F.col(type_col).isin(sorted(set(steps))))
        .select(
            F.col(user_col),
            F.col(ts_col).cast("long").alias("__ts__"),
            F.explode(pos_map[F.col(type_col)]).alias("__step__"),
        )
        .where(F.col("__ts__").isNotNull())
    )

    # one shuffle: per-user sorted (ts, step) list, then a pure-Column
    # greedy fold. state[k] = step k's chained-min timestamp (NULL
    # sentinel = long null in the array). sort_array orders structs
    # lexicographically → (ts, step) gives the tie-break the
    # chained-min spec needs.
    folded = (
        ev.groupBy(user_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__ts__"), F.col("__step__")))
            ).alias("__evs__")
        )
        .select(
            user_col,
            F.aggregate(
                "__evs__",
                F.array(*[F.lit(None).cast("long") for _ in range(m)]),
                lambda acc, e: F.array(
                    *[
                        F.when(acc[k].isNotNull(), acc[k]).otherwise(
                            F.when(
                                (e["__step__"] == F.lit(k))
                                & (
                                    F.lit(True)
                                    if k == 0
                                    else (
                                        acc[k - 1].isNotNull()
                                        & (e["__ts__"] >= acc[k - 1])
                                    )
                                ),
                                e["__ts__"],
                            )
                        )
                        for k in range(m)
                    ]
                ),
            ).alias("__t__"),
        )
    )

    t = [F.col("__t__")[k] for k in range(m)]
    if horizon_ms is not None:
        # clip steps 2..m to the horizon measured from step 1; a
        # clipped step voids everything after it
        clipped = [t[0]]
        for k in range(1, m):
            ok = clipped[k - 1].isNotNull() & (
                t[k] <= t[0] + F.lit(int(horizon_ms))
            )
            clipped.append(F.when(ok, t[k]))
        t = clipped

    out_cols = [F.col(user_col)]
    reached = F.lit(0)
    for k in range(m):
        out_cols.append(t[k].alias(f"step_{k + 1}_ms"))
        reached = reached + F.when(t[k].isNotNull(), 1).otherwise(0)
    out_cols.insert(1, reached.alias("step_reached"))
    return folded.select(*out_cols).where(F.col("step_1_ms").isNotNull())


def funnel_counts(
    df: DataFrame,
    steps: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts_ms",
    type_col: str = "event_type",
    horizon_ms: Optional[int] = None,
) -> DataFrame:
    """Funnel summary → one row per step: ``(step, step_name, n_users,
    pct_of_first)`` where ``n_users`` counts users whose chain reached
    that step (see ``funnel_steps``) and ``pct_of_first`` is the
    conversion vs step 1 in integer basis points (bp, exact — no float
    division drift).

    Scale shape: ``funnel_steps``'s single shuffle, then an m-expression
    global aggregate (one row) unpacked with ``stack`` — the summary
    adds no data-sized pass.
    """
    # step names flow into the stack() SQL string below — quotes would
    # misparse there (same guard as profile_table)
    bad = [s for s in steps if "'" in s or "`" in s or "\n" in s]
    if bad:
        raise ValueError(f"step names with quotes are not supported: {bad!r}")
    per_user = funnel_steps(
        df, steps, user_col=user_col, ts_col=ts_col,
        type_col=type_col, horizon_ms=horizon_ms,
    )
    m = len(steps)
    aggs = [
        F.count(F.when(F.col("step_reached") >= k + 1, 1)).alias(f"__n_{k}__")
        for k in range(m)
    ]
    one = per_user.agg(*aggs)
    stack_args = []
    for k, name in enumerate(steps):
        stack_args += [str(k + 1), f"'{name}'", f"`__n_{k}__`"]
    return one.select(
        F.expr(
            f"stack({m}, {', '.join(stack_args)}) AS (step, step_name, n_users)"
        ),
        F.col("__n_0__").alias("__first__"),
    ).select(
        "step",
        "step_name",
        "n_users",
        F.when(
            F.col("__first__") > 0,
            # integer floor division — exact, no float drift in the bp
            F.expr("n_users * 10000L DIV `__first__`"),
        ).alias("conv_bp"),
    )


def retention_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention triangle → ``(cohort_period, period_offset,
    n_users)``: users grouped by the period (epoch-day //
    ``period_days``) of their FIRST event, counted in every later
    period they were active. ``cohort_period`` is the integer period
    index (multiply by ``period_days`` for the epoch day);
    ``period_offset`` 0 is the cohort's own period, so offset 0 counts
    the cohort's size.

    ``ts_col`` may be a timestamp (cast to date internally) or a date.
    All arithmetic is integer epoch-day — oracle-exact.

    Scale shape: one groupBy user collapses each user to (first period,
    distinct periods) — per-user array bounded by the calendar span —
    then explode + groupBy (cohort, offset). Two map-side-combinable
    shuffles, no join, no window.
    """
    if period_days <= 0:
        raise ValueError("period_days must be positive")
    # floor, not cast-truncation: pre-epoch dates have negative day
    # numbers and must round DOWN to match the documented // spec
    period = F.floor(
        F.datediff(F.col(ts_col).cast("date"), F.lit("1970-01-01").cast("date"))
        / period_days
    ).cast("long")
    per_user = (
        df.select(F.col(user_col), period.alias("__p__"))
        .where(F.col("__p__").isNotNull())
        .groupBy(user_col)
        .agg(
            F.min("__p__").alias("__first__"),
            F.array_distinct(F.collect_list("__p__")).alias("__ps__"),
        )
    )
    return (
        per_user.select(
            F.col("__first__").alias("cohort_period"),
            F.explode("__ps__").alias("__p__"),
        )
        .groupBy(
            "cohort_period",
            (F.col("__p__") - F.col("cohort_period")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
