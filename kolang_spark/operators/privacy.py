"""k-anonymity / l-diversity auditing and suppression.

Privacy posture checks run before releasing or training on user-linked
data: group rows by their quasi-identifier combination and measure how
identifying each combination is (Sweeney's k-anonymity; Machanavajjhala
et al.'s distinct-l-diversity — both public literature). Complements
the PII scrubbers in `llm/scrub.py`: scrubbing removes direct
identifiers, this audits the indirect ones. No counterpart exists in
the reference.

Scale shape: the report is ONE map-side-combinable aggregation over the
quasi-identifier key (count + count_distinct of one sensitive column);
output is one row per equivalence class — bounded by the
quasi-identifier domain, not the table. ``k_anonymize`` (suppression)
is the same aggregate joined back onto the table — an equi-join on the
same key the aggregate shuffled on, so the join co-locates, and AQE
broadcasts the class table when the domain is small (the common case).
No window function: a window over the full table would sort every
partition; the aggregate+join shape only shuffles each row once.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, functions as F

from kolang_spark.utils import _md5_60

__all__ = [
    "k_anonymity_report",
    "k_anonymize",
    "detect_pii_columns",
    "dp_noisy_counts",
]


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: Optional[str] = None,
) -> DataFrame:
    """Per-equivalence-class privacy report → one row per distinct
    quasi-identifier combination: the quasi columns, ``k`` (class
    size — the anonymity set a row in this class hides in) and, when
    ``sensitive_col`` is given, ``l`` (distinct non-NULL sensitive
    values — distinct l-diversity).

    A release is k-anonymous at level K iff ``min(k) >= K``; classes
    with small ``k`` are the re-identifiable ones. NULL quasi values
    form their own class (NULL-safe grouping, Spark and ANSI GROUP BY
    semantics agree).
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("k")]
    if sensitive_col is not None:
        aggs.append(F.count_distinct(F.col(sensitive_col)).alias("l"))
    return df.groupBy(*quasi_cols).agg(*aggs)


def k_anonymize(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int,
    mode: str = "suppress",
) -> DataFrame:
    """Enforce k-anonymity over ``quasi_cols`` at threshold ``k``.

    - ``mode='suppress'``: drop every row whose equivalence class has
      fewer than ``k`` members (the classic suppression step).
    - ``mode='null_out'``: keep all rows but NULL the quasi columns of
      under-k rows, collapsing them into the all-NULL class (useful
      when row counts must be preserved downstream). The merged NULL
      pool (newly-nulled rows plus any surviving all-NULL class) must
      ITSELF reach ``k`` — otherwise the output would still contain a
      re-identifiable class — so when 0 < pool < k those rows are
      suppressed instead (the guarantee beats the row-count
      preservation; the fallback is checked with one extra aggregate
      over the tiny class table).

    Scale shape: one aggregate on the quasi key + one equi-join back on
    the same key (AQE-broadcast when the class table is small).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if mode not in ("suppress", "null_out"):
        raise ValueError("mode must be 'suppress' or 'null_out'")
    classes = (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("__k__"))
        .select(
            *[F.col(c).alias(f"__q_{c}__") for c in quasi_cols], "__k__"
        )
    )
    cond = None
    for c in quasi_cols:
        e = F.col(c).eqNullSafe(F.col(f"__q_{c}__"))
        cond = e if cond is None else (cond & e)
    joined = df.join(classes, cond, "left")
    if mode == "suppress":
        return joined.where(F.col("__k__") >= k).select(*df.columns)
    # null_out residual check: size of the class every nulled row will
    # land in = Σ under-k class sizes + the all-NULL class (which stays
    # NULL either way). Bounded aggregate over the class table (one
    # row out), collected to choose the safe plan.
    allnull = None
    for c in quasi_cols:
        e = F.col(f"__q_{c}__").isNull()
        allnull = e if allnull is None else (allnull & e)
    pool = classes.agg(
        F.sum(
            F.when((F.col("__k__") < k) | allnull, F.col("__k__")).otherwise(
                0
            )
        ).alias("p")
    ).collect()[0]["p"] or 0
    if 0 < pool < k:
        # even merged, the NULL pool stays re-identifiable — suppress
        # those rows instead of emitting an under-k class
        return joined.where((F.col("__k__") >= k) & ~allnull).select(
            *df.columns
        )
    out = [
        (
            F.when(F.col("__k__") >= k, F.col(c)).alias(c)
            if c in set(quasi_cols)
            else F.col(c)
        )
        for c in df.columns
    ]
    return joined.select(*out)


def detect_pii_columns(
    df: DataFrame,
    columns: Optional[Sequence[str]] = None,
    kinds: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Column-level PII detection report → one row per (column, kind):
    ``(column, kind, n_rows, n_nonnull, n_hit, hit_ppm)`` where
    ``n_hit`` counts non-NULL values containing at least one match of
    the kind's pattern and ``hit_ppm`` is the exact integer
    parts-per-million rate over non-NULL values (``n_hit·1e6 DIV
    n_nonnull``; NULL when the column is all-NULL).

    The governance sweep run before publishing a table: "which columns
    leak emails/phones/IPs" — the column-level complement to the
    row-level redaction in ``llm/scrub.py`` (whose public
    ``PII_PATTERNS`` are reused verbatim, so detection and scrubbing
    agree on what counts as PII). ``columns`` defaults to every
    string-typed column; non-string columns are rejected (cast
    upstream if you mean it).

    Scale shape: ONE aggregation pass — |columns|·|kinds| conditional
    counts as accumulators — and a driver-side ``stack`` reshape, the
    ``profile_table`` idiom. Patterns evaluate JVM-side (rlike, no
    UDF).
    """
    from kolang_spark.llm.scrub import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    if kinds is not None:
        unknown = set(kinds) - set(pats)
        if unknown:
            raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
        pats = {k: pats[k] for k in pats if k in set(kinds)}
    if columns is None:
        cols = [
            f.name for f in df.schema.fields if f.dataType.typeName() == "string"
        ]
    else:
        cols = list(columns)
        non_str = [
            c
            for c in cols
            if df.schema[c].dataType.typeName() != "string"
        ]
        if non_str:
            raise ValueError(f"non-string columns: {non_str}")
    if not cols:
        raise ValueError("no string columns to scan")
    bad = [c for c in cols if "`" in c or "'" in c]
    if bad:
        raise ValueError(f"unsupported characters in column names: {bad!r}")

    aggs = [F.count(F.lit(1)).alias("__n__")]
    for c in cols:
        col = F.col(c)
        aggs.append(F.count(col).alias(f"__nn_{c}__"))
        for k, pat in pats.items():
            aggs.append(
                F.count(F.when(col.rlike(pat), 1)).alias(f"__hit_{c}_{k}__")
            )
    one = df.agg(*aggs)
    stack_args = []
    for c in cols:
        for k in pats:
            stack_args += [f"'{c}'", f"'{k}'", f"`__nn_{c}__`",
                           f"`__hit_{c}_{k}__`"]
    n_pairs = len(cols) * len(pats)
    return one.select(
        F.col("__n__").alias("n_rows"),
        F.expr(
            f"stack({n_pairs}, {', '.join(stack_args)}) AS "
            "(column, kind, n_nonnull, n_hit)"
        ),
    ).select(
        "column",
        "kind",
        "n_rows",
        "n_nonnull",
        "n_hit",
        F.when(
            F.col("n_nonnull") > 0,
            F.expr("n_hit * 1000000L DIV n_nonnull"),
        ).alias("hit_ppm"),
    )


def dp_noisy_counts(
    df: DataFrame,
    keys: Sequence[str],
    epsilon: float = 1.0,
    seed: str = "",
) -> DataFrame:
    """Laplace-mechanism noisy group counts (Dwork et al.'s calibrated
    noise, the standard ε-DP release for counting queries with
    sensitivity 1) → one row per group: the keys, ``n`` (true count —
    kept for validation; a production release would drop it),
    ``noise`` (the Laplace draw) and ``n_noisy`` (max(0, round(n +
    noise))).

    The noise is derived by inverse-CDF from an md5-uniform over
    (seed, group key): u = (h60 + 0.5) / 2^60,
    noise = −(1/ε)·sign(u − ½)·ln(1 − 2·|u − ½|) — a fixed formula an
    SQL oracle replays bit-for-bit. HONEST CAVEAT the caller owns:
    deterministic per-key noise makes runs reproducible and testable,
    but ε-DP's guarantee assumes the adversary cannot predict the
    draw — deploy with a SECRET ``seed`` (it is the mechanism's key),
    and never release two runs with different seeds over the same
    data (each release spends ε).

    Scale shape: ONE map-side-combinable groupBy; the noise is a
    per-row expression on the aggregate output (|groups| rows).
    """
    if not keys:
        raise ValueError("keys must be non-empty")
    if epsilon <= 0:
        raise ValueError("epsilon must be positive")
    per = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    # injection-proof key encoding: each component is length-prefixed
    # ('|<len>:<value>', NULL → '|-'), so ('a|b', NULL) ≠ ('a', 'b')
    # and NULL keys get their own independent draw — concat_ws would
    # SKIP NULLs and collide distinct groups onto one noise value,
    # correlating draws across groups (which breaks the ε-DP
    # independence assumption)
    def _tok(k: str):
        cs = F.col(k).cast("string")
        return F.when(cs.isNull(), F.lit("|-")).otherwise(
            F.concat(F.lit("|"), F.length(cs).cast("string"), F.lit(":"), cs)
        )

    h = _md5_60(F.concat(F.lit(str(seed)), *[_tok(k) for k in keys]))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 60))
    centered = u - F.lit(0.5)
    noise = (
        F.lit(-1.0 / float(epsilon))
        * F.signum(centered)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    )
    return per.select(
        *keys,
        "n",
        noise.alias("noise"),
        F.greatest(
            F.lit(0).cast("long"),
            F.round(F.col("n") + noise).cast("long"),
        ).alias("n_noisy"),
    )
