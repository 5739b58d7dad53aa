"""One-pass table profiling: per-column count / nulls / distinct /
min / max — the data-quality sweep run before pointing a training
pipeline at a new source.

Scale shape: both paths end in ONE keyless aggregate (the fold) whose
single wide row is reshaped to one row per column with ``stack`` —
driver-side metadata work, no second pass over data. With
``exact_distinct=False`` — the 100 TB default posture — the fold runs
over the input itself: count and min/max combine map-side and distinct
uses HyperLogLog++ sketches, also map-side mergeable, so the shuffle
carries one partial-agg row per partition regardless of table width.

``exact_distinct=True`` (engine-exact, DuckDB-oracle-comparable) first
deduplicates: one ``stack`` turns each input row into one row per
profiled column ``i`` (``__g__ = i``, slot ``i`` holds the value, every
other slot a typed NULL) and one ``groupBy(__g__, slots)`` counts them.
That keyed aggregate's buffers are fixed-width (the count; min/max of
float slots), so Spark plans a codegen ``HashAggregate`` with map-side
combine, and strings, dates and structs travel as keys, never as
buffers. The fold
then reads each column's count, nulls, distinct values and min/max off
the deduplicated rows. A keyless aggregate needs no sort whatever its
buffer types, so the plan has no ``Expand`` and no ``Sort`` — Spark's
own rewrite of one ``count(DISTINCT)`` per column expands every row
once per column plus once, and string min/max turn each keyed aggregate
above that ``Expand`` into ``Sort → SortAggregate``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    DoubleType,
    FloatType,
    StructType,
)

__all__ = ["profile_table", "join_key_profile", "psi_drift"]


def profile_table(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """Profile ``columns`` (default: all) of ``df`` in one aggregation
    pass.

    Returns one row per column: ``(column, n_rows, n_null, n_distinct,
    min_value, max_value)`` with min/max rendered as strings (profiles
    mix types; casting to a common surface keeps the output one frame).
    NULLs don't count toward ``n_distinct`` (Spark and ANSI semantics);
    ``-0.0`` and ``0.0`` are one distinct value, and so are all NaNs.
    A column listed twice raises ``ValueError``.
    """
    cols = list(columns) if columns is not None else list(df.columns)
    missing = set(cols) - set(df.columns)
    if missing:
        raise ValueError(f"unknown columns: {sorted(missing)}")
    if not cols:
        raise ValueError("no columns to profile")
    if len(set(cols)) < len(cols):
        raise ValueError(f"columns listed twice: {cols!r}")
    # names flow into the SQL text below — a quote/backtick would
    # silently misparse there, so fail loudly instead
    bad = [c for c in cols if "`" in c or "'" in c or "\n" in c]
    if bad:
        raise ValueError(
            f"column names with quotes/backticks are not supported: {bad!r}"
        )
    if exact_distinct:
        src, n_rows, stats = _deduplicated(df, cols)
    else:
        src, n_rows = df, "count(1)"
        stats = [
            (
                f"count(CASE WHEN `{c}` IS NULL THEN 1 END)",
                f"approx_count_distinct(`{c}`)",
                f"min(`{c}`)",
                f"max(`{c}`)",
            )
            for c in cols
        ]
    return _fold(src, cols, n_rows, stats)


def _has_float(dt: DataType) -> bool:
    """Whether grouping on ``dt`` normalizes a float (``-0.0`` → ``0.0``)."""
    if isinstance(dt, (FloatType, DoubleType)):
        return True
    if isinstance(dt, ArrayType):
        return _has_float(dt.elementType)
    if isinstance(dt, StructType):
        return any(_has_float(f.dataType) for f in dt.fields)
    return False


def _deduplicated(df: DataFrame, cols: list[str]):
    """The exact path's fold source — one row per distinct ``(column,
    value)`` with its row count ``__cnt__`` — and the fold's aggregates
    over it. Slot ``__v{i}__`` is NULL on every other column's rows
    (``stack`` types each NULL after its column), so plain
    ``count``/``min``/``max`` of a slot read only its column. Grouping
    normalizes ``-0.0`` to ``0.0``, so a float slot's min/max come from
    raw-value buffers (``__lo{i}__``/``__hi{i}__``) kept beside the
    count, which renders ``-0.0`` as the plain aggregate does; only a
    float nested in an array or struct makes such a buffer variable-width
    (and that keyed aggregate sort-based). The slots and the fold's
    aggregates are SQL text: one plan-building call each instead of one
    per Column node."""
    types = {f.name: f.dataType for f in df.schema.fields}
    slots = [f"__v{i}__" for i in range(len(cols))]
    rows = [
        ", ".join(
            [str(i)] + [f"`{c}`" if j == i else "NULL" for j, c in enumerate(cols)]
        )
        for i in range(len(cols))
    ]
    per_column = f"stack({len(cols)}, {', '.join(rows)}) AS (__g__, {', '.join(slots)})"
    raw = [i for i, c in enumerate(cols) if _has_float(types[c])]
    keyed = (
        df.selectExpr(per_column)
        .groupBy("__g__", *slots)
        .agg(
            F.count(F.lit(1)).alias("__cnt__"),
            *[F.min(slots[i]).alias(f"__lo{i}__") for i in raw],
            *[F.max(slots[i]).alias(f"__hi{i}__") for i in raw],
        )
    )
    stats = []
    for i, v in enumerate(slots):
        lo, hi = (f"__lo{i}__", f"__hi{i}__") if i in raw else (v, v)
        stats.append(
            (
                f"coalesce(sum(CASE WHEN __g__ = {i} AND {v} IS NULL"
                " THEN __cnt__ END), 0)",
                f"count({v})",
                f"min({lo})",
                f"max({hi})",
            )
        )
    n_rows = "coalesce(sum(CASE WHEN __g__ = 0 THEN __cnt__ END), 0)"
    return keyed, n_rows, stats


def _fold(
    src: DataFrame,
    cols: list[str],
    n_rows: str,
    stats: list[tuple[str, str, str, str]],
) -> DataFrame:
    """One keyless aggregate of ``n_rows`` and each column's ``(n_null,
    n_distinct, min, max)`` aggregates (SQL text) over ``src``, reshaped
    to one row per column."""
    aggs = [f"{n_rows} AS __n__"]
    for i, (n_null, n_distinct, lo, hi) in enumerate(stats):
        aggs += [
            f"{n_null} AS __null{i}__",
            f"{n_distinct} AS __dist{i}__",
            f"CAST({lo} AS STRING) AS __min{i}__",
            f"CAST({hi} AS STRING) AS __max{i}__",
        ]
    one = src.selectExpr(*aggs)

    # wide single row → long: stack is a per-row expression over the
    # 1-row aggregate result (metadata-scale work)
    stack_args = []
    for i, c in enumerate(cols):
        stack_args.append(f"'{c}'")
        stack_args += [f"__null{i}__", f"__dist{i}__", f"__min{i}__", f"__max{i}__"]
    stacked = one.select(
        F.col("__n__").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {', '.join(stack_args)}) AS "
            "(column, n_null, n_distinct, min_value, max_value)"
        ),
    )
    return stacked.select(
        "column", "n_rows", "n_null", "n_distinct", "min_value", "max_value"
    )


def join_key_profile(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: Optional[str] = None,
) -> DataFrame:
    """Pre-join diagnostics for an equi-join → ONE summary row:

    ``n_left/n_right`` (rows), ``null_left/null_right`` (NULL join
    keys — dropped by an equi-join), ``distinct_left/distinct_right``
    (exact), ``keys_both/keys_left_only/keys_right_only`` (key-set
    overlap), ``join_rows`` (the EXACT inner-join output cardinality,
    Σ count_l(k)·count_r(k)) and ``max_key_fanout`` (the worst single
    key's output — the skew hot spot a salted join would target).

    Run this before a big join: it answers "is the key actually
    unique", "how much of each side survives", and "will the output
    explode" in one cheap pass per side. All counts are exact integers
    — an SQL oracle reproduces them verbatim.

    Scale shape: each side collapses to its per-key count first (one
    map-side-combinable groupBy per side — the frames never meet
    row-to-row), then the two KEY tables (distinct keys, not rows)
    full-outer join on the key they're already partitioned by, and a
    final global aggregate folds everything to one row. Peak shuffle =
    distinct keys, never input rows; the n²-ish ``join_rows`` number is
    computed WITHOUT materializing the join.
    """
    rk = right_key or left_key
    lc = (
        left.select(F.col(left_key).alias("__k__"))
        .groupBy("__k__")
        .agg(F.count(F.lit(1)).alias("__cl__"))
    )
    rc = (
        right.select(F.col(rk).alias("__k__"))
        .groupBy("__k__")
        .agg(F.count(F.lit(1)).alias("__cr__"))
    )
    j = lc.withColumnRenamed("__k__", "__kl__").join(
        rc.withColumnRenamed("__k__", "__kr__"),
        F.col("__kl__").eqNullSafe(F.col("__kr__")),
        "full_outer",
    )
    kl, kr = F.col("__kl__"), F.col("__kr__")
    cl = F.coalesce(F.col("__cl__"), F.lit(0))
    cr = F.coalesce(F.col("__cr__"), F.lit(0))
    in_l = F.col("__cl__").isNotNull()
    in_r = F.col("__cr__").isNotNull()
    key_null = F.coalesce(kl, kr).isNull() & (kl.isNull() & kr.isNull())
    # the all-NULL key row (if any) merged via eqNullSafe: count its
    # rows as null-keyed, exclude it from the key-set/overlap numbers
    return j.agg(
        F.sum(cl).alias("n_left"),
        F.sum(cr).alias("n_right"),
        F.sum(F.when(key_null, cl).otherwise(0)).alias("null_left"),
        F.sum(F.when(key_null, cr).otherwise(0)).alias("null_right"),
        F.sum(F.when(in_l & ~key_null, 1).otherwise(0)).alias("distinct_left"),
        F.sum(F.when(in_r & ~key_null, 1).otherwise(0)).alias("distinct_right"),
        F.sum(F.when(in_l & in_r & ~key_null, 1).otherwise(0)).alias("keys_both"),
        F.sum(F.when(in_l & ~in_r & ~key_null, 1).otherwise(0)).alias(
            "keys_left_only"
        ),
        F.sum(F.when(~in_l & in_r & ~key_null, 1).otherwise(0)).alias(
            "keys_right_only"
        ),
        F.sum(F.when(~key_null, cl * cr).otherwise(0)).alias("join_rows"),
        F.coalesce(
            F.max(F.when(~key_null, cl * cr)), F.lit(0)
        ).alias("max_key_fanout"),
    )


def psi_drift(
    reference: DataFrame,
    current: DataFrame,
    value_col: str,
    edges: Sequence[float],
) -> DataFrame:
    """Population Stability Index between two samples of ``value_col``
    over EXPLICIT bin edges → one row per bin: ``bin`` (0-based),
    ``lo``/``hi`` (its edge values; the first/last bins are open-ended),
    ``n_ref``/``n_cur`` (exact counts) and ``psi_term`` — sum the terms
    for the headline PSI (industry rule of thumb: < 0.1 stable, > 0.25
    action). NULL values are excluded from both populations.

    Bins: value < edges[0] → bin 0; edges[i-1] <= value < edges[i] →
    bin i; value >= edges[-1] → bin len(edges). Explicit edges (take
    them from a profiled reference week, or domain knowledge) keep the
    whole computation integer-count-exact and engine-replayable —
    quantile-interpolated edges differ across engines and would poison
    cross-checks. psi_term = (p_cur - p_ref)·ln(p_cur/p_ref) with the
    standard 1e-6 floor on empty shares.

    Scale shape: one map-side-combinable groupBy per side on the bin
    index (output ≤ |edges|+1 rows each), a tiny outer join of the two
    histograms, and a broadcast of the two total counts — no pass ever
    shuffles data rows.
    """
    es = [float(e) for e in edges]
    if len(es) < 1 or sorted(es) != es or len(set(es)) != len(es):
        raise ValueError("edges must be non-empty and strictly increasing")

    def hist(df: DataFrame, name: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        b = F.lit(len(es))
        for i in range(len(es) - 1, -1, -1):
            b = F.when(v < F.lit(es[i]), F.lit(i)).otherwise(b)
        return (
            df.where(v.isNotNull())
            .groupBy(b.alias("bin"))
            .agg(F.count(F.lit(1)).alias(name))
        )
    # a literal spine of every bin keeps empty bins present (PSI's
    # floor term needs them) without depending on either sample
    spark = reference.sparkSession
    spine = spark.range(len(es) + 1).select(F.col("id").cast("int").alias("bin"))
    h = (
        spine.join(hist(reference, "n_ref"), "bin", "left")
        .join(hist(current, "n_cur"), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = h.agg(
        F.sum("n_ref").alias("__tr__"), F.sum("n_cur").alias("__tc__")
    )
    lo = F.when(F.col("bin") > 0, F.element_at(F.lit(es), F.col("bin")))
    hi = F.when(
        F.col("bin") < len(es), F.element_at(F.lit(es), F.col("bin") + 1)
    )
    p_ref = F.greatest(
        F.col("n_ref") / F.greatest(F.col("__tr__"), F.lit(1)), F.lit(1e-6)
    )
    p_cur = F.greatest(
        F.col("n_cur") / F.greatest(F.col("__tc__"), F.lit(1)), F.lit(1e-6)
    )
    return (
        h.join(F.broadcast(tot))
        .select(
            "bin",
            lo.alias("lo"),
            hi.alias("hi"),
            "n_ref",
            "n_cur",
            ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
        )
    )
