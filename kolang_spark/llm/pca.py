"""Distributed PCA over embedding columns — the dimensionality-reduction
step before clustering/visualization/cheap-ANN, done the scale-correct
way: the data pass computes only *sufficient statistics* (count, per-dim
sums, and the upper triangle of the second-moment matrix) via one
map-side-combinable aggregation whose output size is ``d(d+3)/2 + 1``
rows REGARDLESS of corpus size; the eigendecomposition runs driver-side
on the tiny ``d×d`` covariance (d=64 → a 4096-double problem, the same
bounded-driver-payload pattern as the k-means centroid sync); projection
back onto the corpus is pure Column algebra against broadcast literal
component vectors.

No mapInPandas, no RDDs, no driver pass over rows — the only collected
object is the moment table (``O(d²)``), explicitly bounded and
documented, never row data.
"""

from __future__ import annotations

from typing import List, NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kolang_spark.llm.similarity import _fold
from kolang_spark.utils import ensure_min_parallelism

__all__ = ["PcaModel", "pca_fit", "pca_project", "jl_project", "jl_components"]


def _arr_lit(values) -> Column:
    """Constant ``array<double>`` / ``array<array<double>>`` literal
    built as ONE SQL expression string parsed JVM-side. ``F.lit`` on a
    Python list converts element-wise over py4j — ~2 s for 4096
    doubles, dominating the whole projection at d=64 — while a single
    ``F.expr`` call parses in <10 ms. ``repr`` emits the shortest
    string that round-trips to the identical double, and the ``D``
    suffix pins the SQL type to DOUBLE (a bare decimal would parse as
    DECIMAL)."""

    def one(v: float) -> str:
        f = float(v)
        if f != f or f in (float("inf"), float("-inf")):
            # repr emits 'nan'/'inf', which the SQL parser rejects; a
            # model containing them is broken upstream anyway
            raise ValueError("non-finite value in literal array")
        return f"{f!r}D"

    if values and isinstance(values[0], (list, tuple)):
        body = ",".join(
            "array(" + ",".join(one(c) for c in row) + ")" for row in values
        )
    else:
        body = ",".join(one(c) for c in values)
    return F.expr(f"array({body})")


class PcaModel(NamedTuple):
    mean: List[float]  # d
    components: List[List[float]]  # k × d, rows orthonormal
    explained_variance: List[float]  # k, descending
    n_rows: int


def pca_fit(
    df: DataFrame,
    dims: int,
    k: int = 8,
    vec_col: str = "embedding",
) -> PcaModel:
    """Fit PCA on ``vec_col`` (``array`` of ``dims`` numbers).

    One aggregation job produces ``n``, ``Σv_i`` and ``Σ v_i·v_j``
    (upper triangle) — the map-side combine collapses every partition
    to ``d(d+1)/2 + d`` partial sums, so the shuffle and the driver
    payload are independent of row count. Covariance assembles as
    ``S_ij/n − μ_i·μ_j`` and ``numpy.linalg.eigh`` (symmetric,
    deterministic for identical input) yields the top-``k`` components,
    sign-normalized (largest-|coefficient| entry positive) so results
    are reproducible across runs and platforms.

    Rows with NULL vectors are ignored. Raises on ``k > dims`` or an
    empty input.
    """
    if not 1 <= k <= dims:
        raise ValueError("need 1 <= k <= dims")
    v = F.col(vec_col)
    # the moment explode is d(d+3)/2 structs per row — compute-heavy
    # per input row, so a single-split input (one small parquet file)
    # must not serialize it onto one core; no-op on real multi-split
    # inputs
    src = ensure_min_parallelism(df.where(v.isNotNull())).select(
        F.transform(v, lambda x: x.cast("double")).alias("__v__")
    )
    # (i, j, v_i*v_j) for the upper triangle plus (i, -1, v_i) for the
    # first moments — one explode, one hash aggregate on (i, j)
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(dims - 1)),
            lambda i: F.concat(
                F.array(
                    F.struct(
                        i.alias("i"),
                        F.lit(-1).alias("j"),
                        F.element_at("__v__", i + 1).alias("p"),
                    )
                ),
                F.transform(
                    F.sequence(i, F.lit(dims - 1)),
                    lambda j: F.struct(
                        i.alias("i"),
                        j.alias("j"),
                        (
                            F.element_at("__v__", i + 1)
                            * F.element_at("__v__", j + 1)
                        ).alias("p"),
                    ),
                ),
            ),
        )
    )
    moments = (
        src.select(F.explode(pairs).alias("m"))
        .groupBy(F.col("m.i").alias("i"), F.col("m.j").alias("j"))
        .agg(F.sum("m.p").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()  # bounded: d(d+3)/2 rows of (i, j, sum, count)
    )
    if not moments:
        raise ValueError("pca_fit: no non-NULL vectors")
    n = max(r.c for r in moments)
    s1 = np.zeros(dims)
    s2 = np.zeros((dims, dims))
    for r in moments:
        if r.j == -1:
            s1[r.i] = r.s
        else:
            s2[r.i, r.j] = r.s
            s2[r.j, r.i] = r.s
    mu = s1 / n
    cov = s2 / n - np.outer(mu, mu)
    w, vecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1][:k]
    comps = []
    evs = []
    for idx in order:
        c = vecs[:, idx]
        # deterministic sign: the largest-|entry| coefficient positive
        pivot = int(np.argmax(np.abs(c)))
        if c[pivot] < 0:
            c = -c
        comps.append([float(x) for x in c])
        evs.append(float(max(w[idx], 0.0)))
    return PcaModel(
        mean=[float(x) for x in mu],
        components=comps,
        explained_variance=evs,
        n_rows=int(n),
    )


def pca_project(
    df: DataFrame,
    model: PcaModel,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project each vector onto the model's components:
    ``out_col[k] = (v − μ) · c_k`` — pure Column algebra against
    broadcast literal arrays (the model is ``k·d + d`` doubles inlined
    as literals; no join, no shuffle, rides the scan).

    Plan shape: the components are ONE ``array<array<double>>``
    literal iterated by a single ``transform``, and the centered
    vector is hoisted into a temp column so it evaluates once per row
    — the naive per-component formulation (k independent aggregates,
    each re-inlining the d-element mean) builds an O(k·d²)-node
    expression tree whose Catalyst analysis alone dominates runtime at
    k=d=64 (~270k nodes, measured ~5 s per action at sf0.1); this form
    is O(k·d + d) nodes with identical per-element arithmetic order,
    so results are bit-identical."""
    tmp = f"__ks_pca_cen_{out_col}__"
    while tmp in df.columns:  # never clobber a real column of that name
        tmp += "_"
    mean_arr = _arr_lit(model.mean)
    comp_lit = _arr_lit(model.components)
    cen = F.zip_with(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        mean_arr,
        lambda a, b: a - b,
    )
    return (
        df.withColumn(tmp, cen)
        .withColumn(
            out_col,
            F.transform(comp_lit, lambda c: _fold(F.col(tmp), c)),
        )
        .drop(tmp)
    )


def jl_components(out_dims: int, dims: int, seed: str = "") -> list:
    """Deterministic Achlioptas (2003) sparse random-projection matrix:
    entry ``r[k][j] ∈ {+1, 0, −1}`` with probabilities {1/6, 2/3, 1/6},
    derived from ``md5(f"jl:{seed}:{k}:{j}")`` — reproducible on any
    cluster/engine with no RNG state (the LSH-plane idiom). Scaled by
    ``sqrt(3/out_dims)`` so pairwise distances are preserved in
    expectation (Johnson–Lindenstrauss)."""
    import hashlib
    import math

    scale = math.sqrt(3.0 / out_dims)
    comps = []
    for k in range(out_dims):
        row = []
        for j in range(dims):
            h = int(
                hashlib.md5(f"jl:{seed}:{k}:{j}".encode()).hexdigest()[:12], 16
            ) % 6
            row.append(scale if h == 0 else (-scale if h == 1 else 0.0))
        comps.append(row)
    return comps


def jl_project(
    df: DataFrame,
    out_dims: int,
    dims: int,
    vec_col: str = "embedding",
    out_col: str = "jl",
    seed: str = "",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dims``
    dimensions — the zero-training cousin of :func:`pca_fit`/
    :func:`pca_project`: pairwise distances survive within (1±ε) with
    high probability (ε ≈ sqrt(8·ln n / out_dims)), with NO pass over
    the data to fit anything. The right tool when PCA's
    sufficient-statistic pass is not worth it (one-shot ANN
    prefiltering, sketching very wide embeddings, streaming ingest
    where the model can't be refit).

    Same plan shape as :func:`pca_project`: the projection matrix is
    one inlined ``array<array<double>>`` literal (O(out_dims·dims)
    expression nodes) iterated by a single ``transform`` — no join, no
    shuffle, rides the scan. The Achlioptas matrix is 2/3 zeros, and
    its md5 derivation makes the whole projection engine-reproducible
    (DuckDB-oracle-checkable).

    Returns ``df`` plus ``out_col`` (``array<double>``,
    length ``out_dims``).
    """
    if out_dims < 1 or dims < 1:
        raise ValueError("out_dims and dims must be >= 1")
    comp_lit = _arr_lit(jl_components(out_dims, dims, seed))
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    tmp = f"__ks_jl_v_{out_col}__"
    while tmp in df.columns:
        tmp += "_"
    return (
        df.withColumn(tmp, v)
        .withColumn(
            out_col,
            F.transform(comp_lit, lambda c: _fold(F.col(tmp), c)),
        )
        .drop(tmp)
    )
