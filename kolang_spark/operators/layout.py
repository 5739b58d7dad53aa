"""Data-layout control: Z-order (Morton) clustering for
multi-dimensional scan pruning.

Sorting a table by one column makes parquet min/max statistics prune
scans on that column only; interleaving the bits of several binned
columns (the Z-order curve — the technique behind Delta/Iceberg
``OPTIMIZE ZORDER BY``) keeps every participating column's values
locally clustered, so row-group and file statistics prune filters on
ANY of them.

Scale shape: rank-binning boundaries for ALL participating columns come
from ONE percentile aggregate (a single job over one scan — not one per
column), whose one-row result re-attaches via broadcast (no driver
``collect``); bin assignment is an array boundary count
(``size(filter(bounds, b -> v > b))``, one small lambda per column —
not 2^bits-1 chained WHEN additions); the Morton code is pure integer
bit algebra in one Project; the physical clustering is
``repartitionByRange`` + ``sortWithinPartitions`` on the code — the
standard total-ordering shuffle, AQE-compatible.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["morton_code", "with_zorder_key", "zorder_by"]


def _bin_of(col: str, bounds_col: str) -> Column:
    """Equi-depth bin id (0..2^bits-1): count of boundaries strictly
    below the value. NULL values (and an all-NULL column, whose
    boundary array is NULL) sort first (bin 0)."""
    v = F.col(col).cast("double")
    b = F.col(bounds_col)
    return F.when(v.isNull() | b.isNull(), F.lit(0)).otherwise(
        F.size(F.filter(b, lambda x: v > x))
    )


def morton_code(bin_cols: Sequence[Column], bits: int) -> Column:
    """Interleave ``bits`` bits of each bin id (first column = least
    significant position of each group) into one Z-order key — pure
    integer Column algebra."""
    cols: List[Column] = [c.cast("long") for c in bin_cols]
    code: Column = F.lit(0).cast("long")
    k = len(cols)
    for bit in range(bits):
        for j, c in enumerate(cols):
            src = F.shiftright(c, bit).bitwiseAND(F.lit(1))
            code = code + F.shiftleft(src, bit * k + j)
    return code


def zorder_by(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """Cluster ``df`` along the Z-order curve of ``cols`` so a
    subsequent parquet write yields files/row-groups whose min/max
    statistics prune filters on *any* of the participating columns.

    ``bits`` bins each column into ``2^bits`` exact-percentile ranks
    (rank-binning makes the curve robust to skewed value
    distributions — raw-value bit interleaving degenerates when one
    column's range dwarfs another's). All columns' boundaries come from
    a single percentile aggregate (one extra job over one scan) whose
    one-row ``cols × (2^bits - 1)`` result broadcasts back — nothing is
    collected to the driver; everything row-wise is Column algebra.

    Returns the reordered frame (an internal ``__ks_zorder__`` column is
    dropped); write it with any sink. Typical: ``zorder_by(df, ["a",
    "b"]).write.parquet(...)``.
    """
    if not cols:
        raise ValueError("cols must name at least one column")
    if not 1 <= bits <= 16:
        raise ValueError("bits must be in [1, 16]")
    if len(cols) * bits > 63:
        raise ValueError("len(cols) * bits must fit in a signed long (<= 63)")
    missing = set(cols) - set(df.columns)
    if missing:
        raise ValueError(f"unknown columns: {sorted(missing)}")
    coded = with_zorder_key(df, cols, bits, key_col="__ks_zorder__")
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    return (
        coded.repartitionByRange(parts, F.col("__ks_zorder__"))
        .sortWithinPartitions("__ks_zorder__")
        .drop("__ks_zorder__")
    )


def with_zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 8,
    key_col: str = "zorder_key",
) -> DataFrame:
    """Attach the Z-order key itself as a column (the exact key
    :func:`zorder_by` clusters on) — usable directly as a sort/bucket
    key by external writers, and fully deterministic Column algebra, so
    an external oracle can re-derive every key (rank-bin via exact
    interpolated percentiles, then bit interleave)."""
    n_bins = 1 << bits
    prob_arr = F.array(*[F.lit(i / n_bins) for i in range(1, n_bins)])
    bound_names = [f"__ks_zb_{c}__" for c in cols]
    bounds = df.agg(
        *[
            F.percentile(F.col(c).cast("double"), prob_arr).alias(bn)
            for c, bn in zip(cols, bound_names)
        ]
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(
            key_col,
            morton_code([_bin_of(c, bn) for c, bn in zip(cols, bound_names)], bits),
        )
        .drop(*bound_names)
    )
