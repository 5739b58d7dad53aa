"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k (exact, oracle-checkable). Scale
path: LSH-bucketed ANN via deterministic random-hyperplane signatures —
the join only touches same-bucket vectors, turning O(N·Q) into
O(N·Q/2^planes) at a recall cost controlled by the plane count.

Hot-path arithmetic is generated as **single SQL strings** (``F.expr``)
when the embedding width is known — one py4j call, versus ~200 driver
round trips for the equivalent Column-by-Column chain. Every dot
product, norm, squared distance and plane signature is one fold
builder, :func:`_fold`, whose FORM is width-dispatched in that one
place (:data:`UNROLL_DIMS_LIMIT`, r13): narrow vectors get
an unrolled product chain (static arithmetic inside a JIT-compilable
whole-stage-codegen method), wider ones an ``aggregate(zip_with(...))``
fold. ``ArrayAggregate``/``ZipWith``/``ArrayTransform`` are
``CodegenFallback`` expressions, so the fold is evaluated INTERPRETED
inside the compiled stage — and is still the faster form past 16
dims: the unrolled chain passes the JVM JIT's 8 KB method limit long
before janino's 64 KB hard limit, and an un-JITted chain measured
3-14x slower than the fold. All forms accumulate left-to-right from
0.0, so values are bit-identical across the implementations (and
against a DuckDB oracle evaluating in list order); no pandas UDF
anywhere.

Every search and pair operator is built from the same three frame
helpers: :func:`_vectors` (the operand projection: id, double vector,
norm), :func:`_cos` (the zero-safe pair cosine over two such sides)
and :func:`_rank_topk` (the one ranking rule: score desc NULL last,
ties to the smaller id, rank 1..k per query).
"""

from __future__ import annotations

import functools
import hashlib
import math
import operator
import weakref
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kolang_spark.utils import ensure_min_parallelism

__all__ = [
    "cosine",
    "brute_force_topk",
    "lsh_signature",
    "lsh_topk",
    "ivf_topk",
    "kmeans_centroids",
    "pq_codebooks",
    "pq_encode",
    "ivf_pq_topk",
    "hard_negative_topk",
    "build_contrastive_rows",
]

# SQL fragment (a column reference like "v" or "a.v") or a Column
_Ref = Union[Column, str]

#: Widest embedding for which the unrolled product-chain form is used.
#: MEASURED boundary (r13 width sweep — `scripts/perf.py width` + a
#: fresh-JVM-per-config A/B at dims 16/64/128, BASELINE.md r13). TWO
#: cliffs stack against the unrolled form in the fused
#: BroadcastNestedLoopJoin+Sort subtrees every scoring path compiles
#: into (codegen cannot split an expression whose inputs are deferred
#: join-side variables there):
#:
#: * janino hard-fails ('Code grows beyond 64 KB') at >= 192 dims —
#:   the subtree then runs INTERPRETED plus a wasted ~2 s failed
#:   compile per action;
#: * long before that, the generated method passes the JVM JIT's
#:   8 KB HugeMethodLimit (24-46 KB bytecode at 64 dims measured), so
#:   the 'compiled' chain executes in the BYTECODE INTERPRETER — the
#:   fresh-JVM A/B reads unrolled 2.6-11.1 s vs HOF 0.75-0.92 s at
#:   dims 64-128 (2.8-13.8x) on identical data.
#:
#: The HOF form (aggregate over zip_with, coefficients as array
#: literals) is a tiny expression tree that never bloats the generated
#: method; it is a CodegenFallback (evaluated interpreted inside the
#: compiled stage), yet measured faster than the un-JITted chain, with
#: bit-equal values (identical left-to-right accumulation from 0.0).
#: Unrolled only wins while the whole fused method stays
#: JIT-compilable — measured true at 16 dims (lsh 8-plane signature
#: 0.89 vs 1.62 s), gone by 64. Hence 16.
UNROLL_DIMS_LIMIT = 16


# Element terms of a fold: the SQL template over two element refs, and
# its Column-API twin (for lambda-variable operands).
_TERMS = {
    "dot": ("{x}*{y}", lambda x, y: x * y),
    "d2": ("({x}-{y})*({x}-{y})", lambda x, y: (x - y) * (x - y)),
}


def _fold(
    a: _Ref,
    b: Union[_Ref, Sequence[float], None] = None,
    dims: Optional[int] = None,
    term: str = "dot",
    prefix: bool = True,
) -> Column:
    """``Σ term(a[i], b[i])`` accumulated left to right from 0.0 — the
    one kernel behind every dot product, squared norm (``b`` omitted:
    a self-fold) and squared distance (``term="d2"``) in this package.

    Form by width, the single :data:`UNROLL_DIMS_LIMIT` dispatch: up to
    the limit an unrolled chain ``0.0 + t(a[0], b[0]) + ...``, past it
    (or with unknown ``dims``) an ``aggregate(zip_with(...))`` fold.
    Both accumulate in the same order, so values are bit-equal across
    forms and against DuckDB replays evaluating in list order.

    ``prefix`` folds the first ``dims`` elements: zip_with pads the
    SHORTER side with nulls, so an over-length vector would null the
    whole fold (and in the signature path collapse every such vector
    onto one bucket); ``prefix=False`` folds whole arrays (PQ
    subvectors, exactly ``dims`` long by construction). ``b`` may be a
    literal coefficient list (inlined as double literals, never
    sliced).

    SQL-name operands with known ``dims`` build ONE ``F.expr`` string;
    a Column operand (a HOF lambda variable) or unknown ``dims`` builds
    through the Column API."""
    sql_t, col_t = _TERMS[term]
    rhs = a if b is None else b
    unrolled = dims is not None and dims <= UNROLL_DIMS_LIMIT
    if dims is not None and not any(isinstance(o, Column) for o in (a, rhs)):

        def elem(o, i: int) -> str:
            return f"{o}[{i}]" if isinstance(o, str) else f"{o[i]!r}D"

        def whole(o) -> str:
            if not isinstance(o, str):
                return f"array({', '.join(f'{c!r}D' for c in o)})"
            return f"slice({o}, 1, {dims})" if prefix else o

        if unrolled:
            terms = " + ".join(
                sql_t.format(x=elem(a, i), y=elem(rhs, i)) for i in range(dims)
            )
            return F.expr(f"0.0D + {terms}")
        if b is None:
            x2 = sql_t.format(x="x", y="x")
            return F.expr(f"aggregate({whole(a)}, 0.0D, (acc, x) -> acc + {x2})")
        xy = sql_t.format(x="x", y="y")
        return F.expr(
            f"aggregate(zip_with({whole(a)}, {whole(b)}, (x, y) -> {xy}), "
            "0.0D, (acc, x) -> acc + x)"
        )
    a, rhs = _as_col(a), _as_col(rhs)
    if unrolled:
        out = F.lit(0.0)
        for i in range(dims):
            out = out + col_t(a[i], rhs[i])
        return out
    if prefix and dims is not None:
        a, rhs = F.slice(a, 1, dims), F.slice(rhs, 1, dims)
    if b is None:
        return F.aggregate(a, F.lit(0.0), lambda acc, x: acc + col_t(x, x))
    return F.aggregate(
        F.zip_with(a, rhs, col_t), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: _Ref, dims: Optional[int] = None) -> Column:
    """L2 norm: the square root of :func:`_fold`'s self-fold."""
    return F.sqrt(_fold(a, dims=dims))


def _as_col(c: _Ref) -> Column:
    return F.col(c) if isinstance(c, str) else c


def cosine(a: _Ref, b: _Ref, dims: Optional[int] = None) -> Column:
    """Cosine similarity of two double-array columns.

    Pass ``dims`` (and plain column names) when the embedding width is
    fixed and known — the normal case: the expression is built as one
    SQL string, width-dispatched by :data:`UNROLL_DIMS_LIMIT` (static
    codegen arithmetic up to the limit, the interpreted HOF fold past
    it). Norms here are recomputed per call — pairwise operators below
    precompute them once per vector instead (:func:`_vectors`).
    """
    return _safe_div_cos(_fold(a, b, dims), _norm(a, dims), _norm(b, dims))


def _safe_div_cos(dot: Column, na: Column, nb: Column) -> Column:
    """dot/(na*nb) guarded against zero norms: all-zero vectors have
    undefined cosine — emit NULL (ranks last under desc ordering, never
    crosses a similarity threshold) instead of a division that ABORTS
    the job under Spark's default ANSI mode (review r8)."""
    denom = na * nb
    return F.when(denom > 0, dot / denom)


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _vectors(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: Optional[int],
    side: str,
    id_as: str,
) -> DataFrame:
    """The operand projection of every dense-vector operator:
    ``(id_as, {side}_v, {side}_n)`` — the id, the vector as
    ``array<double>`` and its L2 norm, computed once per vector (not
    once per pair). :func:`_cos` scores two such sides."""
    v = f"{side}_v"
    return df.select(
        F.col(id_col).alias(id_as), _as_double(F.col(vec_col)).alias(v)
    ).withColumn(f"{side}_n", _norm(v, dims))


def _cos(a: str, b: str, dims: Optional[int]) -> Column:
    """Cosine of two :func:`_vectors` sides named by prefix — ``"q"``,
    or alias-qualified ``"a.p"`` in a self-join. A zero vector scores
    NULL (see :func:`_safe_div_cos`)."""
    return _safe_div_cos(
        _fold(f"{a}_v", f"{b}_v", dims), F.col(f"{a}_n"), F.col(f"{b}_n")
    )


def _scored(pairs: DataFrame, dims: Optional[int]) -> DataFrame:
    """``(query_id, vec_id, cos)`` of a frame joining a ``q`` query
    side to a ``c`` corpus side (``c_id`` the corpus id)."""
    return pairs.select(
        "query_id", F.col("c_id").alias("vec_id"), _cos("q", "c", dims).alias("cos")
    )


def _rank_topk(
    scored: DataFrame,
    k: int,
    score: str = "cos",
    item: str = "vec_id",
    rank: str = "rank",
) -> DataFrame:
    """The family's one ranking rule: per ``query_id``, ``score``
    descending (NULL last — Spark's ``desc`` default), ties to the
    smaller ``item``; keeps the rows ranked 1..k, the rank in column
    ``rank``."""
    w = Window.partitionBy("query_id").orderBy(F.col(score).desc(), F.col(item))
    return scored.withColumn(rank, F.row_number().over(w)).where(F.col(rank) <= k)


def brute_force_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    dims: Optional[int] = None,
) -> DataFrame:
    """Exact cosine top-k: every query vector against every corpus row.

    Plan: ``broadcast(queries)`` nested-loop join (queries are the small
    side by construction) → per-query window top-k. The corpus is never
    shuffled; ranking ties break deterministically by corpus id. Norms
    are computed once per vector (attribute-bound), not once per pair;
    with ``dims`` the dot product is one width-dispatched SQL
    expression (:data:`UNROLL_DIMS_LIMIT`).

    Returns ``(query_id, vec_id, cos, rank)``, rank 1..k.
    """
    corpus = _vectors(ensure_min_parallelism(df), id_col, vec_col, dims, "c", "c_id")
    qs = _vectors(queries, query_id_col, query_vec_col, dims, "q", "query_id")
    return _rank_topk(_scored(corpus.crossJoin(F.broadcast(qs)), dims), k)


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5(plane:dim) — reproducible on any cluster / engine,
    no RNG state, no broadcast of plane matrices. Computed driver-side
    (a handful of md5s) and emitted as double literals."""
    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:12], 16)
    return (h % 20011) / 10005.5 - 1.0



# Parsed-signature cache, keyed by the ACTIVE SESSION then the argument
# tuple: F.expr pays a ~0.7 s JVM parse for the unrolled 8x64-term
# chains and callers rebuild identical signatures every batch/rep, but
# a bare lru_cache would pin Column objects across sessions (a Column
# wraps a py4j handle; handing it to a later session whose gateway is
# gone fails). WeakKeyDictionary drops each session's entries when the
# session is collected; with no active session the build is uncached.
_SIG_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _sig_cached(build, key):
    from pyspark.sql import SparkSession

    sess = SparkSession.getActiveSession()
    if sess is None:
        return build()
    per = _SIG_CACHE.setdefault(sess, {})
    if key not in per:
        per[key] = build()
    return per[key]


def lsh_signature(
    vec: str, n_planes: int, dims: int, plane_offset: int = 0
) -> Column:
    """Random-hyperplane sign signature (int bucket id, ``n_planes``
    bits) over the array column named ``vec``: bit ``p`` is set when
    the :func:`_fold` dot product of the ``dims``-prefix with plane
    ``p``'s coefficients (inlined as double literals) is >= 0.
    ``plane_offset`` selects an independent plane family (plane ids
    ``offset..offset+n_planes-1``) — the multi-table LSH lever used by
    banded variants (each band = its own plane family).

    The per-plane fold is width-dispatched like every other kernel:
    past :data:`UNROLL_DIMS_LIMIT` the tiny ``aggregate(zip_with(...))``
    tree keeps many-plane banded projections (8+ planes × several
    bands) under whole-stage codegen's 64 KB method limit and the
    JIT's 8 KB one; values are bit-equal either way.

    Memoized per active session (see ``_SIG_CACHE``): an unresolved
    Column is immutable and attachable to any DataFrame OF THE SAME
    backend, so the cache drops the repeat parse cost to zero without
    leaking Columns across session/backend boundaries."""

    def build() -> Column:
        bits = []
        for p in range(n_planes):
            coefs = [_plane_component(plane_offset + p, d) for d in range(dims)]
            bits.append(F.when(_fold(vec, coefs, dims) >= 0, 1 << p).otherwise(0))
        return functools.reduce(operator.add, bits)

    # the limit is part of the key: the form is fixed at build time
    key = (UNROLL_DIMS_LIMIT, vec, n_planes, dims, plane_offset)
    return _sig_cached(build, key)


def lsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: exact cosine ranking *within* matching LSH buckets.

    With ``n_planes`` hyperplanes the corpus splits into ``2^n_planes``
    buckets; each query only scores its own bucket (~N/2^p candidates).
    Recall < 1 by design. ``multi_probe=r`` probes every bucket within
    Hamming distance ≤ r of the query's signature (the standard
    multi-probe LSH recall lever: a true neighbor disagreeing on ≤ r
    planes is still found). Cost: the *query* side — the small,
    broadcast side — fans out ×Σ C(n_planes, 0..r); the corpus is
    bucketed exactly once, each corpus row matches a given query in at
    most one probed bucket (buckets are disjoint), so no candidate
    dedup pass is needed. recall@10 arc on planted near-dup clusters:
    0.25 (r=0) → ≥0.95 (r=1) at n_planes=4 (see BASELINE.md §recall).
    The bucket join is a plain equi-join: hash-partitioned,
    AQE-skew-splittable, no cross product.
    """
    if not 0 <= multi_probe <= n_planes:
        raise ValueError("multi_probe must be in [0, n_planes]")
    corpus = _vectors(
        ensure_min_parallelism(df), id_col, vec_col, dims, "c", "c_id"
    ).withColumn("bucket", lsh_signature("c_v", n_planes, dims))
    qs = _vectors(
        queries, query_id_col, query_vec_col, dims, "q", "query_id"
    ).withColumn("sig", lsh_signature("q_v", n_planes, dims))
    if multi_probe:
        masks = [
            m
            for m in range(1 << n_planes)
            if bin(m).count("1") <= multi_probe
        ]
        qs = qs.withColumn(
            "bucket",
            F.explode(
                F.array(*[F.col("sig").bitwiseXOR(F.lit(m)) for m in masks])
            ),
        )
    else:
        qs = qs.withColumn("bucket", F.col("sig"))
    qs = qs.drop("sig")
    return _rank_topk(_scored(corpus.join(F.broadcast(qs), "bucket"), dims), k)


def _kmeans_assign(pts: DataFrame, cent_df: DataFrame, dims: int) -> DataFrame:
    """One Lloyd's assignment step: each ``(p_id, p_v)`` point gets the
    ``cent_id`` of its nearest centroid in ``cent_df``.

    r13 zero-shuffle form (guide §2.4): the centroid table is collapsed
    to a one-row broadcast ARRAY and the argmin is a per-row
    ``array_min(transform(...))`` expression — the points are never
    fanned out ×k and never re-collapsed through a groupBy, so the
    assignment is a pure map with NO exchange at all (the old form
    shuffled one (p_id, cent_id, p_v) row per point every iteration —
    a full shuffle of the Lloyd sample per round at scale). The
    squared distance is the same left-to-right O(dims) expression
    (:func:`_fold` — unrolled at narrow widths, HOF fold past
    :data:`UNROLL_DIMS_LIMIT`); plan size stays independent of k (the
    centroids ride as DATA in the broadcast row, not literals; tests
    explain() this frame and assert flatness in k).
    ``array_min`` over ``struct(d2, cent_id)`` uses the same struct
    ordering as the old ``min(struct(...))`` aggregate — argmin with
    the identical deterministic cent_id tie-break.
    """
    cents1 = _cents_one_row(cent_df.select("cent_id", "g_v"))
    best = F.array_min(
        F.transform(
            F.col("__cents__"),
            lambda c: F.struct(
                _fold(
                    F.col("p_v"), c["g_v"], dims, term="d2", prefix=False
                ).alias("d2"),
                c["cent_id"].alias("cent_id"),
            ),
        )
    )
    return pts.crossJoin(F.broadcast(cents1)).select(
        "p_id", best["cent_id"].alias("cent_id"), "p_v"
    )


_FP_SCALE = 1 << 20  # fixed-point mean quantum: 2^-20 (dyadic -> exact doubles)


def kmeans_centroids(
    df: DataFrame,
    k: int,
    dims: int,
    iters: int = 5,
    sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sampled Lloyd's k-means → a ``(cent_id, g_v)`` centroid table for
    :func:`ivf_topk`'s ``centroids`` knob (the production-quality coarse
    quantizer the stride subset approximates).

    Deterministic end to end — INCLUDING the float means: seeds are
    the stride subset ``id % (N/k-ish stride) == 0``-style pick (here:
    the ``k`` smallest ids of the ``id % sample_mod == 0`` sample),
    assignment ties break on centroid id, empty cells keep their
    previous centroid, and each mean is computed in FIXED POINT —
    per-element micro-units ``round(x · 2^20)`` summed as longs
    (integer addition is order-exact, unlike float sums across
    shuffles), then one double division + half-up rounding on the
    driver, so the centroid is the dyadic rational
    ``floor(Σxi/n + 0.5) / 2^20``. Same inputs → bit-identical
    centroids on any cluster, any partitioning, any shuffle order —
    which also makes the whole Lloyd loop SQL-replayable (the
    ``ann_ivf_kmeans_topk`` DuckDB oracle replays every iteration).
    The 2^-20 mean quantization (~1e-6) is orders of magnitude below
    coarse-quantizer noise.

    Scale shape: each iteration assigns points with
    :func:`_kmeans_assign` — the centroid table rides as ONE broadcast
    row holding a centroid array, and each point's argmin is a per-row
    ``array_min`` over ``struct(d2, cent_id)``: no fan-out ×k and no
    shuffle. The squared distance is :func:`_fold`'s O(dims)
    expression (unrolled up to :data:`UNROLL_DIMS_LIMIT`, the HOF fold
    past it) over the broadcast ``g_v`` — **plan size is independent of
    k** (an earlier revision inlined the k×dims centroid components as
    literals, which recompiled an O(k·dims)-term expression every
    iteration and stopped planning at production centroid counts). The
    only shuffle per iteration is the per-cell mean aggregate.
    Centroids come back to the driver between
    iterations (k·dims doubles — tiny; the same sync MLlib's KMeans
    does): a fully lazy chain was tried and rejected because the
    empty-cell fallback references the previous centroid table twice,
    doubling the plan tree per iteration. Set ``sample_mod`` so the
    sample stays a few million rows; ``iters`` is fixed (no convergence
    probe) so the job count is known up front — 3–5 iterations is
    standard for a coarse quantizer.
    """
    sample = df
    if sample_mod > 1:
        sample = sample.where(F.col(id_col) % sample_mod == 0)
    pts = sample.select(
        F.col(id_col).alias("p_id"), _as_double(F.col(vec_col)).alias("p_v")
    ).cache()

    # deterministic seeds: the k smallest sampled ids
    cent_rows = [
        (i, [float(x) for x in r.p_v])
        for i, r in enumerate(pts.orderBy("p_id").limit(k).collect())
    ]

    spark = df.sparkSession
    for _ in range(max(0, iters)):
        cent_df = spark.createDataFrame(cent_rows, "cent_id int, g_v array<double>")
        assigned = _kmeans_assign(pts, cent_df, dims)
        # per-cell means via posexplode + (cent_id, pos) groupBy rather
        # than dims separate avg() columns: same shuffle volume (map-side
        # partial agg reduces either form to ≤ k·dims rows per
        # partition) but a 3-column plan whose codegen compiles ~3×
        # faster than a 64-aggregate projection — that compile happened
        # once per Lloyd iteration and dominated local wall-clock
        means = (
            assigned.select("cent_id", F.posexplode("p_v").alias("pos", "x"))
            .groupBy("cent_id", "pos")
            .agg(
                # fixed-point mean: integer micro-unit sums are
                # shuffle-order-exact where F.avg over doubles is not
                F.sum(
                    F.round(F.col("x") * F.lit(float(_FP_SCALE))).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        got: dict = {}
        for r in means.collect():  # ≤ k·dims rows — same driver payload
            m = math.floor(int(r.s) / int(r.n) + 0.5) / _FP_SCALE
            got.setdefault(int(r.cent_id), [0.0] * dims)[int(r.pos)] = m
        # empty cells keep their previous centroid (deterministic; an
        # assigned cell always yields all `dims` positions)
        cent_rows = [(cid, got.get(cid, v)) for cid, v in cent_rows]
    pts.unpersist()
    return spark.createDataFrame(
        cent_rows, "cent_id int, g_v array<double>"
    ).withColumn("g_n", _norm("g_v", dims))


def _coarse_centroids(
    df: DataFrame,
    dims: int,
    id_col: str,
    vec_col: str,
    centroid_stride: Optional[int] = None,
    centroid_k: Optional[int] = None,
    kmeans_iters: int = 3,
    kmeans_sample_mod: Optional[int] = None,
    centroids: Optional[DataFrame] = None,
) -> DataFrame:
    """Resolve the coarse-quantizer table ``(cent_id, g_v, g_n)`` for
    :func:`ivf_topk` / :func:`ivf_pq_topk`.

    * explicit ``centroids`` → that ``(cent_id, g_v[, g_n])`` table,
      with ``g_n`` filled in when absent.
    * explicit ``centroid_stride`` → the deterministic stride subset
      ``id % stride == 0``. Fully lazy and SQL-oracle-replayable, but
      C grows ∝ N with the corpus (index build N·C turns superlinear —
      the r9 sweep measured 2.2× time at 4× data). Replay/benchmark
      use.
    * otherwise (the DEFAULT since r10, per the r9 scale review) →
      fixed-k sampled k-means via :func:`kmeans_centroids`:
      ``k = centroid_k or min(4096, isqrt(N))`` and the Lloyd sample
      capped near 4M rows, so index build stays ~linear in N and the
      probe fan-out constant as the corpus grows — the FAISS
      ``IndexIVFFlat`` posture. This path runs Spark jobs at call time
      (one count + ``kmeans_iters`` Lloyd iterations): it is an index
      TRAIN step, not a lazy transform. Still deterministic
      (fixed-point means, stride seeds), so same inputs → identical
      index on any cluster.
    """
    if centroids is not None:
        if "g_n" in centroids.columns:
            return centroids
        return centroids.withColumn("g_n", _norm("g_v", dims))
    if centroid_stride is not None:
        subset = df.where(F.col(id_col) % centroid_stride == 0)
        return _vectors(subset, id_col, vec_col, dims, "g", "cent_id")
    k, sample_mod = centroid_k, kmeans_sample_mod
    if k is None or sample_mod is None:
        n = df.count()
        if k is None:
            k = max(1, min(4096, math.isqrt(max(1, n))))
        if sample_mod is None:
            # ceil, not floor: floor admits up to just-under-8M rows
            # right below each 4M multiple (r10 review finding)
            sample_mod = max(1, -(-n // 4_000_000))
    return kmeans_centroids(
        df,
        k=k,
        dims=dims,
        iters=kmeans_iters,
        sample_mod=sample_mod,
        id_col=id_col,
        vec_col=vec_col,
    )


def _sub_slice(vec: str, j: int, dsub: int) -> Column:
    """Subvector j (0-based) of an array column: elements
    ``[j·dsub, (j+1)·dsub)``. ``F.slice`` is 1-based."""
    return F.slice(F.col(vec), j * dsub + 1, dsub)


def _cents_one_row(cent_df: DataFrame) -> DataFrame:
    """Collapse a small ``(cent_id, ...)`` table into ONE row holding a
    cent_id-sorted struct ARRAY — the broadcast payload of the per-row
    argmin/top-n forms. The centroids stay DATA (a one-row broadcast
    relation), never literals, so plan size remains O(dims) and
    independent of k — the same property the old join form guarded."""
    return cent_df.select(F.struct(*cent_df.columns).alias("c")).agg(
        F.array_sort(F.collect_list("c")).alias("__cents__")
    )


def _nearest_cells(
    side: DataFrame, cents: DataFrame, vec: str, nrm: str, n: int, dims: int
) -> DataFrame:
    """Top-``n`` centroids per row by (cosine desc NULLS LAST, cent_id
    asc) — the IVF cell-assignment shared by :func:`ivf_topk` and
    :func:`ivf_pq_topk`, as a PER-ROW expression against a broadcast
    one-row centroid array (r13, guide §2.4). The old form cross-joined
    the C-row centroid table and re-collapsed the ×C fanout through a
    ``row_number`` window: one Exchange + Sort of the full input per
    call — for the CORPUS side that is a full shuffle of every vector,
    the single biggest avoidable data movement of the IVF index build
    at 100 TB. This form scores the same C candidates inside one
    projection: zero Exchange, zero fanout; ordering (including NULL
    cosine ranking last and Spark's NaN-greatest double semantics) is
    identical to the window's ``cent_cos DESC, cent_id`` — locked by
    the untouched oracle replays of every IVF query.

    ``cents`` must carry ``(cent_id, g_v, g_n)``; output appends
    ``cell`` to ``side``'s columns (n rows per input row, rows with no
    rankable centroid — empty table — drop, exactly as the old join
    produced nothing for them)."""
    cents1 = _cents_one_row(cents.select("cent_id", "g_v", "g_n"))
    scored = F.transform(
        F.col("__cents__"),
        lambda c: F.struct(
            _safe_div_cos(
                _fold(F.col(vec), c["g_v"], dims), F.col(nrm), c["g_n"]
            ).alias("cos"),
            c["cent_id"].alias("cell"),
        ),
    )
    joined = side.crossJoin(F.broadcast(cents1))
    if n == 1:
        # single pass argmax: initial acc is a NULL sentinel struct;
        # a candidate beats the acc iff the acc is the sentinel, its
        # cosine is strictly greater (NaN > everything per Spark's
        # double ordering), or it is the first non-NULL cosine. Ties
        # keep the acc — iteration is cent_id-ascending, so the
        # smallest cent_id wins, exactly the window's tie-break.
        cell_t = cents.schema["cent_id"].dataType.simpleString()
        best = F.aggregate(
            scored,
            F.struct(
                F.lit(None).cast("double").alias("cos"),
                F.lit(None).cast(cell_t).alias("cell"),
            ),
            lambda acc, c: F.when(
                acc["cell"].isNull()
                | (c["cos"] > acc["cos"])
                | (acc["cos"].isNull() & c["cos"].isNotNull()),
                c,
            ).otherwise(acc),
        )
        # r14: materialize the fold through ONE explode_outer Generate
        # before filtering. The previous `withColumn + where(isNotNull)`
        # let Catalyst push the null-filter through the projection and
        # inline the ENTIRE C-dot interpreted fold into the broadcast
        # join's CONDITION (evaluated per row, outside codegen) and
        # AGAIN into the output projection — every corpus vector paid
        # the full argmin twice (plans/r13/ann_ivf_topk_after.txt
        # nodes 42-43; the measured 1.18-1.22x locals of VERDICT r13
        # item 2). explode_outer evaluates the fold exactly once per
        # row and blocks InferFiltersFromGenerate from re-deriving a
        # duplicated pre-filter (the llm/dedup.py explode_outer
        # pattern); the null-cell drop then filters the GENERATED
        # attribute — a cheap field test that cannot sink below the
        # Generate. Row semantics identical: at most one struct per
        # row, null-cell rows (empty/unrankable centroid table) drop.
        return (
            joined.withColumn("__best__", F.explode_outer(F.array(best)))
            .where(F.col("__best__")["cell"].isNotNull())
            .withColumn("cell", F.col("__best__")["cell"])
            .drop("__cents__", "__best__")
        )

    def _cmp(a: Column, b: Column) -> Column:
        prim = (
            F.when(a["cos"].isNull() & b["cos"].isNull(), F.lit(0))
            .when(a["cos"].isNull(), F.lit(1))   # NULLS LAST under desc
            .when(b["cos"].isNull(), F.lit(-1))
            .when(a["cos"] > b["cos"], F.lit(-1))
            .when(b["cos"] > a["cos"], F.lit(1))
            .otherwise(F.lit(0))
        )
        sec = (
            F.when(a["cell"] < b["cell"], F.lit(-1))
            .when(a["cell"] > b["cell"], F.lit(1))
            .otherwise(F.lit(0))
        )
        return F.when(prim != 0, prim).otherwise(sec)

    return (
        joined.withColumn(
            "__probe__",
            F.explode(F.slice(F.array_sort(scored, _cmp), 1, n)),
        )
        .withColumn("cell", F.col("__probe__")["cell"])
        .drop("__cents__", "__probe__")
    )


def pq_codebooks(
    df: DataFrame,
    m: int = 8,
    ksub: int = 256,
    dims: int = 64,
    method: str = "stride",
    stride: int = 25,
    iters: int = 3,
    sample_mod: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector space is
    split into ``m`` disjoint ``dims/m``-wide subspaces, each with its
    own ``ksub``-entry codebook. Returns ``(subspace, code, s_v)`` —
    ``m·ksub`` rows, always broadcast-sized.

    * ``method='stride'`` (default): codebook j = the subvectors of
      the ``ksub`` lowest-id rows with ``id % stride == 0`` — the same
      deterministic "data points as quantizer" pick :func:`ivf_topk`
      uses for coarse centroids, exactly rebuildable by any engine
      (the DuckDB oracle re-derives it).
    * ``method='kmeans'``: each subspace codebook is trained with the
      deterministic fixed-point :func:`kmeans_centroids` over the
      subvector slices (m bounded Lloyd loops over the ``sample_mod``
      sample) — the production-quality opt-in.
    """
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    if method not in ("stride", "kmeans"):
        raise ValueError("method must be 'stride' or 'kmeans'")
    dsub = dims // m
    if method == "kmeans":
        books = []
        for j in range(m):
            sliced = df.select(
                F.col(id_col),
                _as_double(_sub_slice(vec_col, j, dsub)).alias("__sub__"),
            )
            cb = kmeans_centroids(
                sliced,
                k=ksub,
                dims=dsub,
                iters=iters,
                sample_mod=sample_mod,
                id_col=id_col,
                vec_col="__sub__",
            )
            books.append(
                cb.select(
                    F.lit(j).alias("subspace"),
                    F.col("cent_id").alias("code"),
                    F.col("g_v").alias("s_v"),
                )
            )
        out = books[0]
        for b in books[1:]:
            out = out.unionByName(b)
        return out
    # deterministic seed pick: the ksub smallest stride ids, fetched
    # via TakeOrdered (bounded collect: ksub ids ≤ 256 — the same
    # driver sync kmeans_centroids does for its seeds); code = rank in
    # that sorted id list, assigned via a literal array_position so no
    # single-partition window ever touches the stride sample
    ids = [
        r[0]
        for r in df.where(F.col(id_col) % stride == 0)
        .select(id_col)
        .orderBy(id_col)
        .limit(ksub)
        .collect()
    ]
    id_arr = F.array(*[F.lit(i) for i in ids])
    seeds = df.where(F.col(id_col).isin(ids)).select(
        (F.array_position(id_arr, F.col(id_col)) - 1).cast("int").alias("code"),
        _as_double(F.col(vec_col)).alias("__v__"),
    )
    per_j = [
        seeds.select(
            F.lit(j).alias("subspace"),
            "code",
            F.slice("__v__", j * dsub + 1, dsub).alias("s_v"),
        )
        for j in range(m)
    ]
    out = per_j[0]
    for b in per_j[1:]:
        out = out.unionByName(b)
    return out


def pq_encode(
    df: DataFrame,
    codebooks: DataFrame,
    m: int = 8,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-encode a corpus: ``(id, codes, recon_n)`` where ``codes`` is
    the ``m``-entry smallint code array (1-2 bytes per subspace — the
    8-32× memory cut vs ``dims`` float64s that makes 100 TB embedding
    probes IO-feasible; tests/test_similarity_pq.py measures the
    on-disk ratio) and ``recon_n`` is the reconstruction's L2 norm
    (``|x̂|`` — exact for the concatenated chosen sub-centroids, the
    denominator of asymmetric cosine).

    Shape (r13 zero-shuffle form, guide §2.4): the codebooks ride as
    ONE broadcast row holding an ``array[m]`` of code-sorted codebook
    arrays; each corpus row picks its m codes with m per-row
    ``array_min(transform(...))`` argmins — the same struct-ordering
    semantics (and bit-identical d2 folds) as the old explode + join +
    double-groupBy form, which shuffled m·N subvector rows through TWO
    exchanges. The corpus is now never shuffled at all; no UDF.
    """
    rows = df.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v__"))
    return _pq_codes(rows, codebooks, m, dims, "__v__").select(
        id_col, "codes", "recon_n"
    )


def _pq_codes(
    rows: DataFrame, codebooks: DataFrame, m: int, dims: int, vec: str
) -> DataFrame:
    """``rows`` plus its PQ ``codes`` and ``recon_n``, encoded from the
    ``array<double>`` column ``vec`` — the encoder of :func:`pq_encode`
    and of :func:`ivf_pq_topk`'s index, which encodes the frame it
    assigned cells on rather than a second projection of the corpus."""
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dsub = dims // m

    # factory, NOT a default-arg lambda: F.transform dispatches on the
    # lambda's arity, so a 2-parameter lambda would receive the element
    # INDEX as its second argument and silently clobber the capture
    def _argmin_j(j: int) -> Column:
        sub = F.slice(F.col(vec), j * dsub + 1, dsub)
        return F.array_min(
            F.transform(
                F.col("__books__")[j],
                lambda e: F.struct(
                    _fold(
                        sub, e["s_v"], dsub, term="d2", prefix=False
                    ).alias("d2"),
                    e["code"].alias("code"),
                    e["s_v"].alias("s_v"),
                ),
            )
        )

    best = [_argmin_j(j) for j in range(m)]
    g = F.array(*best)  # subspace order 0..m-1, same as the old sort
    # r14: materialize the m interpreted argmins ONCE through an
    # explode_outer Generate (always exactly one row — F.array is
    # non-null, 1 element). `codes` and `recon_n` both reference g,
    # and CodegenFallback expressions get no common-subexpression
    # elimination, so the projection form re-ran every m×ksub d2
    # argmin per output column. The two outputs now read the
    # generated attribute — cheap array walks over the materialized
    # structs. Values unchanged (same argmins, same fold order).
    gb = F.col("__g__")
    vhat = F.flatten(F.transform(gb, lambda x: x["s_v"]))
    return (
        rows.crossJoin(F.broadcast(_pq_books_one_row(codebooks)))
        .withColumn("__g__", F.explode_outer(F.array(g)))
        .select(
            *rows.columns,
            F.transform(gb, lambda x: x["code"].cast("smallint")).alias("codes"),
            _norm(vhat).alias("recon_n"),
        )
    )


def _pq_books_one_row(codebooks: DataFrame) -> DataFrame:
    """Collapse a ``(subspace, code, s_v)`` codebook table into ONE row
    ``__books__: array[m] of array<struct<code, s_v>>`` — outer indexed
    by subspace, inner sorted by code — the broadcast payload of
    :func:`pq_encode`'s and :func:`ivf_pq_topk`'s per-row forms."""
    return (
        codebooks.groupBy("subspace")
        .agg(F.array_sort(F.collect_list(F.struct("code", "s_v"))).alias("bk"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "bk"))),
                lambda x: x["bk"],
            ).alias("__books__")
        )
    )


def ivf_pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 256,
    centroid_stride: Optional[int] = None,
    codebook_stride: int = 25,
    centroid_k: Optional[int] = None,
    kmeans_iters: int = 3,
    kmeans_sample_mod: Optional[int] = None,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
    codebooks: Optional[DataFrame] = None,
    refine: Optional[int] = None,
) -> DataFrame:
    """IVF-PQ cell-probe search (the FAISS ``IndexIVFPQ`` structure,
    Jégou et al. 2011): :func:`ivf_topk`'s coarse cells, but the
    probed candidates are scored from ``m``-byte PQ codes via an
    asymmetric distance computation — the probe side never touches a
    raw corpus vector, cutting probe memory/IO by ``8·dims /
    (m·⌈log2 ksub⌉/8)`` (32× at dims=64, m=8, ksub=256).

    ADC, inner-product form: each query precomputes
    ``adc[j·ksub + c] = ⟨q_j, codebook_j[c]⟩`` (m·ksub doubles riding
    the broadcast query side), so a candidate's approximate cosine is
    an m-term gather ``Σ_j adc[j·ksub + codes[j]] / (|q|·|x̂|)`` — one
    codegen-compiled expression per candidate, no explode, no second
    join. Recall < 1 by design twice over (unprobed cells +
    quantization error); raise ``nprobe``/``m``/``ksub`` to trade cost
    for recall. Coarse centroids default to fixed-k sampled k-means
    (see :func:`_coarse_centroids` — runs Spark jobs at call time;
    pass ``centroid_stride=`` for the lazy oracle-replayable stride
    subset). Default codebooks are stride-deterministic — a FIXED
    ``ksub`` codes per subspace, so unlike the old stride centroids
    they never grow with N; pass ``pq_codebooks(method='kmeans')``
    for production quality.

    PQ collapses near-identical vectors onto the same codes, so fine
    intra-cluster order is quantized away — by construction it is a
    CANDIDATE GENERATOR. ``refine=R`` (FAISS ``IndexRefineFlat``)
    exact-re-ranks each query's top-R PQ candidates against the raw
    vectors — an id equi-join touching only Q·R corpus rows, so the
    full-precision read stays tiny while the scan side remains
    codes-only. With refine, returns ``(query_id, vec_id, cos, rank)``
    (exact cosine of the survivors); without, ``(query_id, vec_id,
    approx_cos, rank)`` — rank 1..k, ties broken on corpus id.
    """
    if dims % m:
        raise ValueError(f"dims={dims} not divisible by m={m}")
    dsub = dims // m
    cents = _coarse_centroids(
        df,
        dims,
        id_col,
        vec_col,
        centroid_stride=centroid_stride,
        centroid_k=centroid_k,
        kmeans_iters=kmeans_iters,
        kmeans_sample_mod=kmeans_sample_mod,
        centroids=centroids,
    )
    if codebooks is None:
        codebooks = pq_codebooks(
            df,
            m=m,
            ksub=ksub,
            dims=dims,
            method="stride",
            stride=codebook_stride,
            id_col=id_col,
            vec_col=vec_col,
        )
    # the ADC gather indexes adc[j·stride + code], where stride must be
    # the ACTUAL per-subspace code count (a small corpus can seed fewer
    # than ksub stride codes) AND the codes must be CONTIGUOUS 0..n-1
    # per subspace — a gap would silently shift every later position
    # into the wrong (or an out-of-bounds) ADC slot. One bounded
    # collect over the broadcast-sized codebook table (m rows) pins
    # both invariants.
    stats = {
        r.subspace: (r.n, r.nd, r.mn, r.mx)
        for r in codebooks.groupBy("subspace")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("code").alias("nd"),
            F.min("code").alias("mn"),
            F.max("code").alias("mx"),
        )
        .collect()
    }
    ok = sorted(stats) == list(range(m)) and all(
        n == nd and mn == 0 and mx == n - 1 for n, nd, mn, mx in stats.values()
    ) and len({v[0] for v in stats.values()}) == 1
    if not ok:
        raise ValueError(
            f"codebooks must cover subspaces 0..{m - 1} with a uniform, "
            f"CONTIGUOUS code range 0..n-1 per subspace; got "
            f"{{subspace: (count, distinct, min, max)}} = {stats}"
        )
    ksub = next(iter(stats.values()))[0]

    corpus = _vectors(ensure_min_parallelism(df), id_col, vec_col, dims, "c", "c_id")
    # the searchable index: cell + m smallint codes + one double, from
    # one projection of one corpus scan — the raw vector column is
    # DROPPED here; everything downstream scores from codes only
    cells = _nearest_cells(corpus, cents, "c_v", "c_n", 1, dims)
    indexed = _pq_codes(cells, codebooks, m, dims, "c_v").select(
        "c_id", "cell", "codes", "recon_n"
    )

    qs = _vectors(queries, query_id_col, query_vec_col, dims, "q", "query_id")
    # per-query ADC array ordered j·ksub + code, computed PER ROW from
    # the one-row broadcast codebook array (r13 — the old form exploded
    # Q·m subvector rows, joined the codebooks and re-collapsed the
    # Q·m·ksub fanout through a groupBy exchange; values and ordering
    # are identical: the outer loop is subspace-ascending and the inner
    # arrays code-sorted, exactly the old lexicographic sort)
    books1 = _pq_books_one_row(codebooks)

    # factory, NOT a default-arg lambda (F.transform would pass the
    # element index as a second lambda argument — see pq_encode)
    def _adc_j(j: int) -> Column:
        q_sub = F.slice(F.col("q_v"), j * dsub + 1, dsub)
        return F.transform(
            F.col("__books__")[j],
            lambda e: _fold(q_sub, e["s_v"], dsub, prefix=False),
        )

    adc = F.flatten(F.array(*[_adc_j(j) for j in range(m)]))
    qs = (
        qs.crossJoin(F.broadcast(books1))
        .withColumn("adc", adc)
        .drop("__books__")
    )
    probes = _nearest_cells(qs, cents, "q_v", "q_n", nprobe, dims)

    gather = " + ".join(f"adc[codes[{j}] + {j * ksub}]" for j in range(m))
    scored = indexed.join(F.broadcast(probes), "cell").select(
        "query_id",
        F.col("c_id").alias("vec_id"),
        _safe_div_cos(
            F.expr(f"0.0D + {gather}"), F.col("q_n"), F.col("recon_n")
        ).alias("approx_cos"),
        "q_v",
        "q_n",
    )
    if refine is None:
        return _rank_topk(scored.drop("q_v", "q_n"), k, score="approx_cos")
    if refine < k:
        raise ValueError(f"refine={refine} must be >= k={k}")
    cands = _rank_topk(scored, refine, score="approx_cos", rank="arank").drop(
        "approx_cos", "arank"
    )
    # full-precision read of ONLY the surviving Q·refine candidate ids
    rescored = cands.join(corpus, cands["vec_id"] == corpus["c_id"]).drop("vec_id")
    return _rank_topk(_scored(rescored, dims), k)


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    centroid_stride: Optional[int] = None,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
    centroid_k: Optional[int] = None,
    kmeans_iters: int = 3,
    kmeans_sample_mod: Optional[int] = None,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index: cell-probe search.

    Classic two-phase ANN (the structure behind FAISS ``IndexIVFFlat``):

    * **build** — every corpus vector is assigned to its nearest
      *centroid* by cosine (one pass over the corpus against a
      broadcast centroid table → a ``cell`` id per vector);
    * **search** — each query scores only the vectors in its ``nprobe``
      nearest cells (equi-join on ``cell``), then exact cosine top-k.

    Coarse quantizer (see :func:`_coarse_centroids`): the DEFAULT is
    fixed-k sampled k-means — ``centroid_k or min(4096, isqrt(N))``
    centroids, so the index build stays ~linear in N (the r9 scale
    review flagged the old stride default's C ∝ N growth). NOTE the
    default therefore runs Spark jobs at call time (index TRAIN).
    Pass ``centroid_stride=`` for the fully-lazy, SQL-oracle-replayable
    stride subset ``id % stride == 0``, or ``centroids=`` your own
    ``(cent_id, g_v[, g_n])`` table — every phase downstream of the
    centroid table is unchanged.

    Scale: with C ≈ sqrt(N) centroids, build is N·C broadcast-side dot
    products (no shuffle of the corpus), search is Q·C + Q·nprobe·N/C —
    versus Q·N brute force. The probe join is a plain equi-join on
    ``cell``: hash-partitioned, AQE-skew-splittable, no cross product.
    Recall < 1 by design (a true neighbor can live in an unprobed
    cell); raise ``nprobe`` to trade cost for recall.
    """
    cents = _coarse_centroids(
        df,
        dims,
        id_col,
        vec_col,
        centroid_stride=centroid_stride,
        centroid_k=centroid_k,
        kmeans_iters=kmeans_iters,
        kmeans_sample_mod=kmeans_sample_mod,
        centroids=centroids,
    )
    corpus = _vectors(ensure_min_parallelism(df), id_col, vec_col, dims, "c", "c_id")
    indexed = _nearest_cells(corpus, cents, "c_v", "c_n", 1, dims)
    qs = _vectors(queries, query_id_col, query_vec_col, dims, "q", "query_id")
    probes = _nearest_cells(qs, cents, "q_v", "q_n", nprobe, dims)
    return _rank_topk(_scored(indexed.join(F.broadcast(probes), "cell"), dims), k)


def hard_negative_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    positives: Optional[DataFrame] = None,
    exclude_self: bool = True,
    min_cos: Optional[float] = None,
    max_cos: Optional[float] = None,
    candidates: Optional[DataFrame] = None,
    broadcast_positives: bool = True,
) -> DataFrame:
    """Hard-negative mining for contrastive training data (the
    sentence-transformers / DPR recipe): for each anchor, the top-k
    most similar corpus vectors that are NOT known positives — the
    negatives that actually move an embedding model.

    Filters, applied before ranking:

    * ``positives`` — a ``(query_id, vec_id)`` frame of known positive
      pairs to exclude (labels, click logs, same-cluster ids);
    * ``exclude_self`` — drop the anchor itself;
    * ``max_cos`` — false-negative guard: candidates ABOVE this
      similarity are more likely unlabeled positives than negatives
      (the standard "absolute margin" device), so they are dropped;
    * ``min_cos`` — semi-hard floor: drop easy negatives below it.

    Ranking is cosine-desc with the corpus-id tie-break, rank 1..k.

    Scale: candidate generation IS the ANN problem — by default this
    scores the broadcast anchor set brute-force and filters BEFORE
    ranking (exact: no over-fetch guesswork even when every top
    candidate is a positive, right for ≤ ~100k-row anchor batches).
    For indexed mining pass ``candidates`` — any frame with
    ``(query_id, vec_id)`` plus a ``cos`` or ``approx_cos`` score
    column (:func:`lsh_topk`, :func:`ivf_topk`, refined OR unrefined
    :func:`ivf_pq_topk` output all qualify), with its k set to an
    over-fetch ≥ k + expected positives per anchor; the filters and
    ranking are unchanged. The positives anti-join broadcasts the
    positives side by default — set ``broadcast_positives=False``
    for label sets too big to pin on every executor (click logs),
    which falls back to a hash-partitioned anti-join.
    """
    if candidates is None:
        corpus = _vectors(
            ensure_min_parallelism(df), id_col, vec_col, dims, "c", "c_id"
        )
        qs = _vectors(queries, query_id_col, query_vec_col, dims, "q", "query_id")
        scored = _scored(corpus.crossJoin(F.broadcast(qs)), dims)
    else:
        score_col = "cos" if "cos" in candidates.columns else "approx_cos"
        scored = candidates.select(
            "query_id", "vec_id", F.col(score_col).alias("cos")
        )
    if exclude_self:
        scored = scored.where(F.col("query_id") != F.col("vec_id"))
    if positives is not None:
        pos = positives.select(
            F.col(positives.columns[0]).alias("query_id"),
            F.col(positives.columns[1]).alias("vec_id"),
        )
        if broadcast_positives:
            pos = F.broadcast(pos)
        scored = scored.join(pos, ["query_id", "vec_id"], "left_anti")
    if max_cos is not None:
        scored = scored.where(F.col("cos") <= F.lit(float(max_cos)))
    if min_cos is not None:
        scored = scored.where(F.col("cos") >= F.lit(float(min_cos)))
    return _rank_topk(scored, k)


def build_contrastive_rows(
    df: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    k_neg: int = 4,
    dims: Optional[int] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
    query_vec_col: str = "embedding",
    max_cos: Optional[float] = None,
    min_cos: Optional[float] = None,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Assemble (anchor, positive, negatives) training rows — the
    output format a contrastive fine-tune (InfoNCE / triplet) consumes
    — from labeled positives plus :func:`hard_negative_topk` mining.

    Per anchor: the highest-cosine labeled positive (ties to the
    smaller corpus id) and the top ``k_neg`` mined hard negatives in
    rank order. Returns ``(query_id, pos_id, pos_cos, neg_ids,
    neg_cos)`` with the negatives as rank-ordered arrays. Anchors
    missing either a scored positive or any surviving negative drop
    out (inner joins — a training row needs both sides).

    Scale: positive scoring touches only the labeled pairs (an id
    equi-join against corpus and anchor vectors); negative mining is
    :func:`hard_negative_topk` (same ``candidates`` escape hatch for
    indexed mining); the final assembly is two per-anchor aggregates.
    """
    negs = hard_negative_topk(
        df,
        queries,
        k=k_neg,
        dims=dims,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        positives=positives,
        max_cos=max_cos,
        min_cos=min_cos,
        candidates=candidates,
    )
    # ONE collect+sort aggregate; the two projections split it afterwards
    neg_rows = (
        negs.groupBy("query_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rank", "vec_id", "cos"))
            ).alias("__negs__")
        )
        .select(
            "query_id",
            F.transform(F.col("__negs__"), lambda x: x["vec_id"]).alias("neg_ids"),
            F.transform(F.col("__negs__"), lambda x: x["cos"]).alias("neg_cos"),
        )
    )

    corpus = _vectors(df, id_col, vec_col, dims, "p", "p_vid")
    qs = _vectors(queries, query_id_col, query_vec_col, dims, "q", "query_id")
    pos_scored = (
        positives.select(
            F.col(positives.columns[0]).alias("query_id"),
            F.col(positives.columns[1]).alias("p_vid"),
        )
        .where(F.col("query_id") != F.col("p_vid"))
        .join(qs, "query_id")
        .join(corpus, "p_vid")
        .select(
            "query_id",
            F.col("p_vid").alias("pos_id"),
            _cos("q", "p", dims).alias("pos_cos"),
        )
    )
    best_pos = _rank_topk(
        pos_scored, 1, score="pos_cos", item="pos_id", rank="__rn__"
    ).drop("__rn__")
    return best_pos.join(neg_rows, "query_id").select(
        "query_id", "pos_id", "pos_cos", "neg_ids", "neg_cos"
    )
