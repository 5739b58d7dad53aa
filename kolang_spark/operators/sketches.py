"""Mergeable sketches — the 100-TB substitute for exact re-scans.

Exact distinct counts and quantiles need a shuffle of every raw value;
at warehouse scale the winning pattern is *pre-aggregate a mergeable
sketch per partition/day, merge sketches later*. Merging is cheap
(bytes, not raw rows), loss-free for same-precision sketches, and
algebraic — a day's sketch is computed once, then any rollup (week,
month, ad-hoc cohort) merges without touching the raw table again.

Built on Spark's Apache DataSketches integration (``hll_sketch_agg`` /
``hll_union_agg``, Spark ≥3.5) and ``percentile_approx`` — all
JVM-side, codegen-friendly, no UDFs.

The reference's closest surface is ``count_distinct_with_nulls``
(``/root/reference/kolang/column_functions.py:649-664``, exact); the
engine's ``approx`` knob there uses HLL *estimates* — this module adds
the re-usable sketch objects themselves.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kolang_spark.utils import ColumnOrName, _md5_60, to_col

__all__ = [
    "hll_sketch",
    "hll_merge",
    "hll_estimate",
    "approx_quantiles",
    "sketch_rollup",
    "cms_table",
    "cms_estimate",
    "bloom_table",
    "bloom_might_contain",
    "bloom_semi_join",
]


def hll_sketch(col: ColumnOrName, lg_k: int = 12) -> Column:
    """Aggregate: an HLL sketch (binary) of ``col``'s distinct values.
    ``lg_k`` trades size (2^lg_k registers) for accuracy (~1.04/√2^lg_k
    relative error; 12 → ~1.6%)."""
    return F.hll_sketch_agg(to_col(col), lg_k)


def hll_merge(sketch_col: ColumnOrName) -> Column:
    """Aggregate: merge previously-built sketches (union of the
    underlying distinct sets — associative, loss-free when every input
    sketch shares one lg_k; mixed-precision inputs are REJECTED by the
    underlying ``hll_union_agg(allowDifferentLgConfigK=False)`` rather
    than silently downgraded, which is why this takes no lg_k knob:
    precision is fixed at sketch-build time and the merge has no say)."""
    return F.hll_union_agg(to_col(sketch_col), False)


def hll_estimate(sketch_col: ColumnOrName) -> Column:
    """Scalar: the distinct-count estimate of a sketch column."""
    return F.hll_sketch_estimate(to_col(sketch_col))


def approx_quantiles(
    col: ColumnOrName,
    probabilities: Sequence[float] = (0.25, 0.5, 0.75),
    accuracy: int = 10000,
) -> Column:
    """Aggregate: approximate quantiles (one array column), suitable
    where exact ``median``'s per-group sort is too expensive."""
    return F.percentile_approx(
        to_col(col),
        F.array(*[F.lit(float(p)) for p in probabilities]),
        F.lit(accuracy),
    )


def _cms_bucket(col: ColumnOrName, row: int, width: int, salt: str) -> Column:
    """Deterministic md5 bucket for CMS row ``row`` — the 60-bit gate of
    :func:`utils._md5_60`, so a DuckDB oracle rebuilds the identical
    sketch."""
    c = to_col(col).cast("string")
    return _md5_60(F.concat(F.lit(f"{row}:{salt}:"), c)) % width


def cms_table(
    df: DataFrame,
    col: ColumnOrName,
    depth: int = 4,
    width: int = 1024,
    weight: Optional[ColumnOrName] = None,
    salt: str = "",
) -> DataFrame:
    """Count-min sketch of ``col``'s frequencies as a ``(row, bucket,
    cnt)`` table — ``depth × width`` counters total.

    The classic mergeable frequency sketch (Cormode–Muthukrishnan):
    estimates are biased high only (collisions add, never subtract),
    error ≤ N·e/width with probability 1 − e^-depth. Merging two
    sketches of the same shape/salt = summing counters — a plain
    ``groupBy(row, bucket).sum`` over unioned tables, so per-day
    sketches roll up without re-scanning raw data (same algebra as
    :func:`sketch_rollup`).

    Plan: one explode (``depth`` rows per input row, each an 8-byte
    pair) into one map-side-combinable aggregate; the result is at most
    ``depth × width`` rows regardless of input size. Hashes are
    md5-derived and deterministic, so any engine rebuilds the identical
    sketch (DuckDB-oracle-checkable, unlike binary sketch blobs).

    ``weight``: optional per-row count column (e.g. pre-aggregated
    duplicates); default 1 per row. NULL values are excluded from the
    sketch (a frequency sketch counts values; NULL is absence of one) —
    mirrored by :func:`cms_estimate`, which excludes NULL items.
    """
    if depth < 1 or width < 2:
        raise ValueError("depth must be >= 1 and width >= 2")
    df = df.where(to_col(col).isNotNull())
    w = to_col(weight).cast("long") if weight is not None else F.lit(1).cast("long")
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                _cms_bucket(col, j, width, salt).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"), w.alias("__w__"))
        .groupBy(
            F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket")
        )
        .agg(F.sum("__w__").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    items: DataFrame,
    col: ColumnOrName,
    depth: int = 4,
    width: int = 1024,
    salt: str = "",
) -> DataFrame:
    """Estimated frequency of each row of ``items``: the MIN over the
    sketch's ``depth`` counters at the item's buckets (missing counter =
    0). Over-estimates only; exact for items whose every bucket is
    collision-free.

    ``depth``/``width``/``salt`` must match the :func:`cms_table` call.
    Plan: the item side carries its ``depth`` (row, bucket) pairs
    through one explode, joins the ≤ depth×width-row sketch
    (broadcast), and takes ``min`` per item — the raw table is never
    touched.

    Output has one row per DISTINCT item value (duplicate rows in
    ``items`` collapse — an estimate is a property of the value, not
    the row). NULL items are excluded: NULL never enters the sketch on
    the :func:`cms_table` side (its bucket hash is NULL, so it drops
    out of the counters), so no estimate exists for it.
    """
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("row"),
                _cms_bucket(col, j, width, salt).alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    c = to_col(col)
    items = items.where(c.isNotNull())
    ex = items.select(c.alias("item"), F.explode(pairs).alias("p")).select(
        "item", F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket")
    )
    joined = ex.join(F.broadcast(cms), ["row", "bucket"], "left")
    return (
        joined.groupBy("item")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
    )


def sketch_rollup(
    df: DataFrame,
    value: ColumnOrName,
    fine_keys: Sequence[str],
    coarse_keys: Sequence[str],
    lg_k: int = 12,
) -> DataFrame:
    """The two-level pattern in one call: sketch per ``fine_keys`` group
    (e.g. day), merge up to ``coarse_keys`` (e.g. month) **without
    re-scanning raw data** — the second aggregation shuffles only
    sketch bytes. Returns coarse rows with ``n_distinct_est``.

    ``coarse_keys`` must be derivable from ``fine_keys`` rows (i.e.
    present in the fine projection)."""
    missing = [k for k in coarse_keys if k not in fine_keys]
    if missing:
        raise ValueError(f"coarse keys {missing} not in fine_keys {fine_keys}")
    fine = df.groupBy(*fine_keys).agg(hll_sketch(value, lg_k).alias("__ks_sketch__"))
    return (
        fine.groupBy(*coarse_keys)
        .agg(hll_merge("__ks_sketch__").alias("__ks_merged__"))
        .select(
            *coarse_keys,
            hll_estimate("__ks_merged__").alias("n_distinct_est"),
        )
    )


def bloom_table(
    df: DataFrame,
    col: ColumnOrName,
    n_bits: int = 8192,
    k: int = 3,
    salt: str = "",
) -> DataFrame:
    """Bloom filter of ``col``'s values as a table of SET BIT positions
    (``(bit)`` rows, ≤ ``n_bits``) — the membership sketch completing
    the family (HLL = distinct count, CMS = frequency, Bloom = set
    membership). No false negatives; false-positive rate ≈
    ``(1 - e^(-k·n/m))^k``.

    Merging two filters of the same shape/salt = ``union.distinct()``
    of their bit tables — per-day filters roll up without re-scanning
    raw data, same algebra as the other sketches. Bit positions use
    the same md5 idiom as :func:`cms_table`, so any engine (and the
    DuckDB oracle) rebuilds the identical filter. NULL values are
    excluded (membership of NULL is not a meaningful question here).

    Plan: one explode (``k`` longs per row) into a distinct — bounded
    at ``n_bits`` rows regardless of input size.
    """
    if n_bits < 2 or k < 1:
        raise ValueError("need n_bits >= 2 and k >= 1")
    df = df.where(to_col(col).isNotNull())
    bits = F.array(*[_cms_bucket(col, j, n_bits, salt) for j in range(k)])
    return df.select(F.explode(bits).alias("bit")).distinct()


def bloom_might_contain(
    bloom: DataFrame,
    items: DataFrame,
    col: ColumnOrName,
    n_bits: int = 8192,
    k: int = 3,
    salt: str = "",
) -> DataFrame:
    """Probe a :func:`bloom_table`: one row per DISTINCT non-NULL item
    with ``might_contain`` = all ``k`` of its bit positions set.
    Guaranteed true for every inserted value (no false negatives);
    occasionally true for absent ones. ``n_bits``/``k``/``salt`` must
    match the build. Plan: items explode to ``k`` probes, equi-join the
    ≤ ``n_bits``-row filter (broadcast), count matches per item."""
    c = to_col(col)
    items = items.where(c.isNotNull())
    bits = F.array(*[_cms_bucket(col, j, n_bits, salt) for j in range(k)])
    ex = items.select(c.alias("item"), F.explode(bits).alias("bit"))
    hit = bloom.withColumn("__hit__", F.lit(1))
    return (
        ex.join(F.broadcast(hit), "bit", "left")
        .groupBy("item")
        .agg((F.count("__hit__") == k).alias("might_contain"))
    )


def bloom_semi_join(
    large: DataFrame,
    small: DataFrame,
    key: str,
    right_key: Optional[str] = None,
    n_bits: int = 1 << 17,
    k: int = 5,
    salt: str = "",
    exact: bool = True,
    anti: bool = False,
) -> DataFrame:
    """Semi/anti join with a Bloom prefilter: keep ``large``'s rows
    whose ``key`` is (semi) / is not (anti) present in ``small``'s
    ``right_key`` — the result of ``LEFT SEMI / LEFT ANTI JOIN``, but
    with the big side reduced MAP-SIDE before any join runs.

    Why it matters at 100 TB: a plain semi join shuffles (or at best
    probes a broadcast of) every large-side row. Here ``small``'s key
    set is folded into a packed in-plan bitmask (``n_bits`` bits ≈
    16 KiB at the default — the collect is bounded at n_bits rows,
    stated per the engine's collect policy), so non-matching rows die
    inside the scan stage at ~5 hash probes each; only the survivors
    reach the verification join. With a 1%-selectivity filter that is
    a ~100× cut in join input. This is the classic Bloom-join /
    runtime-filter technique (public: Spark's own
    InjectRuntimeFilter does it row-group-granular; this operator
    makes it explicit, tunable, and engine-replayable).

    - ``exact=True`` (default): survivors are verified with a real
      left-semi (or the definite-rejects bypass + left-anti) — the
      result is EXACTLY the semi/anti join, independent of the
      false-positive rate, so the oracle is the plain SQL join.
    - ``exact=False`` (semi only): skip verification and accept the
      documented FP rate ≈ (1 − e^(−k·n/m))^k — the probabilistic
      prefilter as a standalone operator. Refused for ``anti``:
      a false positive would silently DROP a legitimate row.

    NULL keys follow SQL join semantics: never match — excluded from
    semi, kept by anti.
    """
    if anti and not exact:
        raise ValueError(
            "anti join requires exact=True — a Bloom false positive "
            "would silently drop a legitimate row"
        )
    rk = right_key or key
    # the hash is over cast-to-string values, so 5 (int) and 5.0
    # (double) — which a plain equi-join would coerce and match —
    # hash to DIFFERENT bits: a Bloom FALSE NEGATIVE the verify join
    # can never recover. Refuse mismatched key types instead of
    # silently dropping rows; cast one side upstream.
    lt, rt = dict(large.dtypes).get(key), dict(small.dtypes).get(rk)
    if lt is None or rt is None:
        raise ValueError(f"missing key column: {key!r}/{rk!r}")
    if lt != rt:
        raise ValueError(
            f"key type mismatch ({key}: {lt} vs {rk}: {rt}) — string-hash "
            "Bloom probes cannot honor numeric coercion; cast one side first"
        )
    if n_bits > (1 << 22):
        raise ValueError(
            "n_bits > 2^22 would inline a >64k-literal bitmask into the "
            "plan; shard the small side or use bloom_might_contain"
        )
    # bounded collect: bloom_table caps at n_bits rows by construction
    words = [0] * ((n_bits + 63) // 64)
    for r in bloom_table(small, rk, n_bits=n_bits, k=k, salt=salt).collect():
        b = int(r["bit"])
        words[b // 64] |= 1 << (b % 64)
    mask = F.array(
        *[
            F.lit(w - (1 << 64) if w >= (1 << 63) else w).cast("long")
            for w in words
        ]
    )
    kc = F.col(key)
    might = kc.isNotNull()
    for j in range(k):
        bit = _cms_bucket(key, j, n_bits, salt)
        word = F.element_at(mask, F.floor(bit / 64).cast("int") + 1)
        might = might & (F.getbit(word, bit % 64) == 1)

    keys_only = small.select(F.col(rk).alias(key))
    if anti:
        # definite rejects (bloom has no false negatives) bypass the
        # join entirely; only might-matches pay for verification
        definite = large.where(kc.isNull() | ~might)
        candidates = large.where(might).join(keys_only, key, "left_anti")
        return definite.unionByName(candidates)
    candidates = large.where(might)
    if not exact:
        return candidates
    return candidates.join(keys_only, key, "left_semi")
