"""Top-k per group and deterministic sampling.

Sorts/limits are otherwise delegated to Spark (SURVEY §2.3); these two
are the composite shapes a data pipeline keeps rebuilding, written so
the physical plan is the good one.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kolang_spark.utils import ColumnOrName, _md5_60, to_col, to_col_list

__all__ = [
    "top_k_per_group",
    "deterministic_sample",
    "stratified_sample",
    "stratified_fixed_sample",
    "weighted_sample",
    "split_dataset",
    "mix_datasets",
    "mix_datasets_temperature",
]


def top_k_per_group(
    df: DataFrame,
    partition_by: Union[ColumnOrName, Sequence[ColumnOrName]],
    order_by: Union[ColumnOrName, Sequence[ColumnOrName]],
    k: int,
    ascending: bool = False,
    rank_col: Optional[str] = "rank",
) -> DataFrame:
    """First ``k`` rows per group by ``order_by`` (default: largest
    first). Ties break deterministically by the full ``order_by`` list —
    append a unique id as the last order column for total determinism.

    Plan note: ``row_number() ≤ k`` is recognized by Spark ≥3.5's
    ``WindowGroupLimit`` rule — each shuffle partition keeps only its
    local top-k before the final per-group pass, so the operator ships
    k·groups rows, not the whole table, through the last stage.
    """
    if rank_col and rank_col in df.columns:
        # a silent rename would produce two identically-named columns
        # (AMBIGUOUS_REFERENCE downstream, duplicate parquet schema)
        raise ValueError(
            f"rank_col {rank_col!r} already exists in the input; pass a "
            "different rank_col (or rank_col=None to omit the rank)"
        )
    orders = [
        c.asc() if ascending else c.desc() for c in to_col_list(order_by)
    ]
    w = Window.partitionBy(*to_col_list(partition_by)).orderBy(*orders)
    ranked = df.withColumn("__ks_rank__", F.row_number().over(w)).where(
        F.col("__ks_rank__") <= k
    )
    if rank_col:
        return ranked.withColumnRenamed("__ks_rank__", rank_col)
    return ranked.drop("__ks_rank__")


def deterministic_sample(
    df: DataFrame,
    key: ColumnOrName,
    fraction: float,
    salt: str = "",
) -> DataFrame:
    """Stable ``fraction``-sample keyed on ``key``: the same key is
    always in or always out — across runs, partitionings, and engines
    (md5-based bucket; DuckDB computes the identical value).

    ``df.sample()`` re-draws every run and shifts with partitioning;
    hash-gating is the reproducible-pipeline alternative, and it
    composes: the same (key, salt) subset is selected from any table
    sharing the key, so sampled joins stay consistent. ``salt`` yields
    independent samples from the same key space.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    threshold = int(fraction * (1 << 60))
    return df.where(_hash60(key, salt) < F.lit(threshold))


def _hash60(key: ColumnOrName, salt: str) -> Column:
    """60-bit md5 bucket of ``key`` + ``salt`` (:func:`utils._md5_60`).

    NULL keys hash like the empty string (one shared, deterministic
    fate) rather than propagating NULL — a NULL hash made every
    comparison downstream NULL, so ``deterministic_sample`` dropped
    NULL-key rows even at fraction=1.0 and ``split_dataset`` piled
    them all into its last split. Non-NULL keys are unaffected (and so
    are every existing oracle/sample membership)."""
    c = F.coalesce(to_col(key).cast("string"), F.lit(""))
    return _md5_60(F.encode(F.concat(c, F.lit(salt)), "UTF-8"))


def stratified_sample(
    df: DataFrame,
    strata: ColumnOrName,
    fractions: dict,
    key: ColumnOrName,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mixture control
    knob: keep e.g. 100% of one language and 10% of another, stably.

    Same md5 hash-gate as :func:`deterministic_sample`, but the
    threshold is chosen per row by the ``strata`` value (a driver-side
    ``CASE WHEN`` chain over the ``fractions`` dict — no join, no
    shuffle, one Project over the scan; strata counts in the handfuls
    are the normal case). Unlisted/NULL strata fall back to
    ``default_fraction``. Deterministic across runs, partitionings, and
    engines, and composable: the same ``(key, salt)`` subset is
    selected from any table sharing the key.
    """
    for v, f in fractions.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"fraction for stratum {v!r} must be in [0, 1]")
    if not 0.0 <= default_fraction <= 1.0:
        raise ValueError("default_fraction must be in [0, 1]")
    s = to_col(strata)
    threshold = F.lit(int(default_fraction * (1 << 60)))
    for v, f in fractions.items():
        threshold = F.when(s == F.lit(v), F.lit(int(f * (1 << 60)))).otherwise(
            threshold
        )
    return df.where(_hash60(key, salt) < threshold)


def stratified_fixed_sample(
    df: DataFrame,
    strata: ColumnOrName,
    n_per_stratum: int,
    key: ColumnOrName,
    salt: str = "",
) -> DataFrame:
    """Exactly ``n_per_stratum`` rows per stratum (fewer if the stratum
    is smaller) — the fixed-budget companion to the fraction-based
    :func:`stratified_sample` (eval-set carving, per-source quota
    sampling).

    Selection = the ``n`` smallest md5 hashes of ``key`` within each
    stratum: deterministic across runs/partitionings/engines, and a
    different ``salt`` draws an independent quota from the same keys.
    Ties cannot occur for distinct keys (the hash includes the key);
    equal keys tie-break on the key itself.

    Plan: one partitioned window (``row_number`` ≤ n) — recognized by
    Spark ≥3.5's ``WindowGroupLimit`` rule, so each shuffle partition
    keeps only its local top-n before the final per-stratum pass. No
    global window, no driver collect.
    """
    if n_per_stratum < 1:
        raise ValueError("n_per_stratum must be >= 1")
    order = [_hash60(key, salt), to_col(key).cast("string")]
    return top_k_per_group(
        df, strata, order, n_per_stratum, ascending=True, rank_col=None
    )


def weighted_sample(
    df: DataFrame,
    key: ColumnOrName,
    weight: ColumnOrName,
    k: int,
    strata: Optional[ColumnOrName] = None,
    salt: str = "",
) -> DataFrame:
    """Weighted sampling **without replacement** — Efraimidis–Spirakis
    A-Res: each row draws ``u`` uniform in (0,1) and the ``k`` largest
    ``u^(1/w)`` win, which yields exactly the sequential
    weighted-without-replacement distribution (Efraimidis & Spirakis
    2006). The pipeline use: pick a fixed-size training subset where
    selection probability tracks document weight (length, quality
    score, upstream mixture coefficient) instead of being uniform.

    The uniform is md5-derived from ``(key, salt)`` — the same
    engine-portable hash-gate as :func:`deterministic_sample` — so the
    sample is stable across runs, partitionings, and engines, and
    independent samples come from distinct ``salt`` values. Ranking
    uses the equivalent monotone key ``ln(u)/w`` (no overflow for tiny
    ``u`` or large ``w``).

    With ``strata`` the top-``k`` is per stratum (one stratum-
    partitioned window — the WindowGroupLimit plan, same shape as
    :func:`stratified_fixed_sample`); without, a global
    ``orderBy().limit(k)`` compiles to TakeOrderedAndProject —
    per-partition top-``k`` then a k-row merge on the driver, no global
    shuffle or single-partition window at any scale.

    Rows with NULL or non-positive weight are excluded (they have zero
    selection probability in the model). Returns the sampled rows with
    all input columns.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    w_col = to_col(weight).cast("double")
    # u in (0,1): (hash60 + 0.5) / 2^60 — never exactly 0 or 1, so
    # ln(u) is finite and the key is total-ordered
    u = (_hash60(key, salt) + F.lit(0.5)) / F.lit(float(1 << 60))
    ekey = F.log(u) / w_col
    src = df.where(w_col.isNotNull() & (w_col > 0)).withColumn("__ks_ekey", ekey)
    # secondary tie-break on the key: rows sharing (key, weight) share
    # the rank key, and without a total order the cut at position k
    # would pick arbitrarily per run/partitioning. With unique keys
    # (the documented expectation) the order is total; among rows with
    # EQUAL keys the pick remains arbitrary — those rows are
    # indistinguishable to the sampler by construction.
    tiebreak = to_col(key).cast("string")
    if strata is not None:
        win = Window.partitionBy(to_col(strata)).orderBy(
            F.col("__ks_ekey").desc(), tiebreak
        )
        return (
            src.withColumn("__ks_rn", F.row_number().over(win))
            .where(F.col("__ks_rn") <= k)
            .drop("__ks_rn", "__ks_ekey")
        )
    return (
        src.orderBy(F.col("__ks_ekey").desc(), tiebreak)
        .limit(k)
        .drop("__ks_ekey")
    )


def split_dataset(
    df: DataFrame,
    key: ColumnOrName,
    splits: "dict[str, float]",
    salt: str = "",
    out: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment — the reproducible
    alternative to ``randomSplit`` (which re-draws every run and
    shifts with partitioning): each key hashes into one split, stably
    across runs, partitionings, and engines, and consistently across
    any table sharing the key (a document and its embeddings land in
    the same split).

    ``splits`` maps name → fraction (must sum to 1 within 1e-9;
    insertion order fixes the hash-range layout, so changing only a
    later split's fraction never reassigns rows between earlier ones —
    growing val from 0.1 to 0.2 moves rows from test only). The last
    split absorbs the rounding remainder of the hash range, so every
    row is assigned — no NULLs, no lost float-edge rows.

    Plan: one Project over the scan (an md5 + CASE chain). No shuffle,
    no sampling state.
    """
    fracs = list(splits.items())
    if len(fracs) < 2:
        raise ValueError("need at least two splits")
    for name, f in fracs:
        if not 0.0 < f <= 1.0:
            raise ValueError(f"split {name!r} fraction must be in (0, 1]")
    total = sum(f for _, f in fracs)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1 (got {total})")
    h = _hash60(key, salt)
    expr = F.lit(fracs[-1][0])
    cum = 0.0
    bounds = []
    for name, f in fracs[:-1]:
        cum += f
        bounds.append((name, int(cum * (1 << 60))))
    for name, bound in reversed(bounds):
        expr = F.when(h < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(out, expr)


def mix_datasets(
    df: DataFrame,
    domain: ColumnOrName,
    weights: "dict[str, float]",
    key: ColumnOrName,
    salt: str = "",
    weight: "Optional[ColumnOrName]" = None,
) -> DataFrame:
    """Domain-reweighted mixture at maximum volume — the training-mix
    knob: given target proportions per domain (language, source,
    quality bucket), keep the largest deterministic subset whose
    composition matches the target.

    The limiting domain is the one with the smallest ``n_d / p_d``
    (it is kept whole); every other domain is hash-downsampled to
    ``T·p_d / n_d`` where ``T = min_d(n_d / p_d)`` is the achievable
    total. Domains absent from ``weights`` (or weighted 0) are
    dropped. Selection uses the same md5 hash-gate as
    :func:`stratified_sample` — stable across runs, partitionings,
    and engines, and composable across tables sharing the key.

    ``weight``: optional per-row size column — pass token counts to
    specify the mixture in TOKENS instead of documents (training mixes
    are budgeted in tokens; long-document domains would otherwise be
    over-represented). Domain capacities become weight sums, the
    hash-gate still selects whole documents, and the realized token
    composition matches the target in expectation (hash sampling is
    unbiased in any per-row quantity). NULL weights count as 0.

    Plan: one map-side-combinable groupBy(domain).count() whose
    driver payload is bounded by the domain count (the same
    bounded-collect pattern as the k-means centroid sync), then one
    Project (md5 + CASE) over the scan. The fractions are plain
    double arithmetic on the counts, so an external oracle can
    re-derive the exact thresholds.
    """
    for name, p in weights.items():
        if p < 0:
            raise ValueError(f"weight for domain {name!r} must be >= 0")
    if sum(weights.values()) <= 0:
        raise ValueError("weights must sum to > 0")
    size = (
        F.count(F.lit(1)).cast("double")
        if weight is None
        else F.sum(F.coalesce(to_col(weight).cast("double"), F.lit(0.0)))
    )
    d = to_col(domain)
    counts = _domain_sizes(df, d, d.isin(*weights.keys()), size)
    return _mix_by_sizes(df, domain, weights, counts, key, salt)


def _domain_sizes(df: DataFrame, d: Column, where: Column, size: Column) -> dict:
    """``{domain: size}`` over the rows ``where`` selects: one
    map-side-combinable ``groupBy(domain)`` whose driver payload is one
    row per domain."""
    return {
        r["__ks_dom__"]: r["n"]
        for r in df.where(where)
        .groupBy(d.alias("__ks_dom__"))
        .agg(size.alias("n"))
        .collect()  # bounded: one row per domain
    }


def _mix_by_sizes(
    df: DataFrame,
    domain: ColumnOrName,
    weights: "dict[str, float]",
    counts: dict,
    key: ColumnOrName,
    salt: str,
) -> DataFrame:
    """The tail of :func:`mix_datasets` once the domain sizes are read:
    validate them against ``weights``, derive the per-domain fractions
    and hash-gate the rows."""
    missing = [
        name for name, p in weights.items() if p > 0 and counts.get(name) is None
    ]
    if missing:
        # a positively-weighted domain with zero rows makes the target
        # composition unachievable at ANY volume — silently returning a
        # different mixture would betray the documented contract
        raise ValueError(
            f"weighted domains absent from the data: {sorted(missing)}"
        )
    degenerate = [
        name
        for name, p in weights.items()
        if p > 0 and counts.get(name) is not None and counts[name] <= 0
    ]
    if degenerate:
        # reachable only with a weight column: the domain has rows but
        # zero (all-NULL/0) or negative total weight — a data bug, not
        # a missing domain; name it as such instead of misdiagnosing
        raise ValueError(
            "weighted domains present but with non-positive total "
            f"weight (NULL/0/negative weight column?): {sorted(degenerate)}"
        )
    capacity = [counts[name] / p for name, p in weights.items() if p > 0]
    if not capacity:
        raise ValueError("no listed domain present in the data")
    t = min(capacity)
    fractions = {
        name: min(1.0, t * p / counts[name])
        for name, p in weights.items()
        if p > 0
    }
    return stratified_sample(
        df, domain, fractions, key, default_fraction=0.0, salt=salt
    )


def mix_datasets_temperature(
    df: DataFrame,
    domain: ColumnOrName,
    temperature: float,
    key: ColumnOrName,
    domains: "Optional[list[str]]" = None,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled mixture — the multilingual-pretraining
    upsampling rule (XLM-R's α-smoothing with α = 1/T): target share
    per domain ∝ ``n_d^(1/temperature)``. ``T = 1`` reproduces the
    natural distribution (every row kept); larger ``T`` flattens the
    mixture toward uniform (at ``T → ∞`` every domain contributes the
    size of the smallest), boosting low-resource domains relative to
    their raw counts.

    Implementation detail with cross-engine consequences: the weights
    are fed to :func:`mix_datasets` UNNORMALIZED (``n^(1/T)``, no
    division by their sum). The cap formula ``t = min(n_d/p_d)``,
    ``frac_d = t·p_d/n_d`` is invariant to any common scaling of the
    weights, so skipping normalization removes the only cross-domain
    floating-point SUM from the pipeline — every threshold is a chain
    of per-domain IEEE-exact operations (pow, divide, multiply, min),
    which an external SQL oracle reproduces bit-for-bit (``T = 2`` is
    plain ``sqrt``).

    ``domains`` limits the mixture (rows outside are dropped, matching
    :func:`mix_datasets`); ``None`` mixes all non-NULL domains. Either
    way the domain sizes are one bounded aggregate collect (one row per
    domain — domains are languages/sources, not data-scale), shared
    with :func:`mix_datasets`' thresholds, so the call runs one Spark
    job before it returns. Selection is the same md5 hash-gate:
    deterministic across runs, partitionings, and engines.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    d = to_col(domain)
    where = d.isNotNull() if domains is None else d.isin(*domains)
    counts = _domain_sizes(df, d, where, F.count(F.lit(1)).cast("double"))
    if domains is None:
        domains = sorted(counts)
    missing = sorted(set(domains) - set(counts))
    if missing:
        raise ValueError(f"listed domains absent from the data: {missing}")
    weights = {
        name: counts[name] ** (1.0 / temperature) for name in domains
    }
    return _mix_by_sizes(df, domain, weights, counts, key, salt)
