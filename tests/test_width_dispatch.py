"""Production-width dispatch of the embedding arithmetic (r12 verdict
item 3, measured in r13 — `scripts/perf.py width` + BASELINE.md): the
unrolled product-chain form blows the JVM JIT's 8 KB method limit by
64 dims (runs in the bytecode interpreter, 3-14x slower) and janino's
64 KB hard limit by 192 dims (whole-stage codegen silently disabled),
so the one fold builder `_fold` (behind `_norm`, `cosine`,
`lsh_signature` and the IVF/PQ/k-means argmins) emits the bit-equal
aggregate(zip_with(...)) HOF fold above UNROLL_DIMS_LIMIT. These tests
pin the dispatch, the bit-equality of the two forms, the prefix-slice
semantics (the zip_with null-padding trap), and — under
``spark.sql.codegen.fallback=false``, which turns a codegen compile
failure into an error instead of a silent interpreted fallback — that
every scoring path still COMPILES at production widths."""

import pytest
from pyspark.sql import functions as F

import kolang_spark.llm.similarity as S


def _sql(col) -> str:
    return str(col._jc) if hasattr(col, "_jc") else str(col)


def test_dispatch_forms_by_width(spark):
    lim = S.UNROLL_DIMS_LIMIT
    # at/below the limit: unrolled static chain, no HOF
    s = _sql(S._fold("a", "b", lim))
    assert f"a[{lim - 1}]" in s and "aggregate" not in s
    # above: HOF fold over the dims-prefix
    s = _sql(S._fold("a", "b", lim + 1))
    assert "aggregate" in s and f"slice(a, 1, {lim + 1})" in s
    s = _sql(S._norm("v", lim + 1))
    assert "aggregate" in s and f"slice(v, 1, {lim + 1})" in s
    assert "aggregate" not in _sql(S._norm("v", lim))
    # PQ subspace folds (whole arrays) follow the same rule on dsub
    d2 = {"term": "d2", "prefix": False}
    assert "aggregate" not in _sql(S._fold("x", "y", lim, **d2))
    assert "aggregate" in _sql(S._fold("x", "y", lim + 1, **d2))
    assert "aggregate" in _sql(S._fold("x", "y", lim + 1, prefix=False))
    # so do Column operands (the lambda-variable argmin paths)
    x, y = F.col("x"), F.col("y")
    assert "aggregate" not in _sql(S._fold(x, y, lim, **d2))
    assert "aggregate" in _sql(S._fold(x, y, lim + 1, **d2))


def test_lsh_signature_routes_to_hof_above_limit(spark):
    lim = S.UNROLL_DIMS_LIMIT
    wide = _sql(S.lsh_signature("v", 4, lim + 1))
    assert "aggregate" in wide and f"slice(v, 1, {lim + 1})" in wide
    narrow = _sql(S.lsh_signature("v", 4, lim))
    assert "aggregate" not in narrow


def _coefs(dims):
    return [S._plane_component(3, d) for d in range(dims)]


# term -> columns that evaluate it over array columns a, b (both
# exactly dims long): SQL-name operands and Column operands
_TERM_COLS = {
    "dot": lambda d: [S._fold("a", "b", d), S._fold(F.col("a"), F.col("b"), d)],
    "norm": lambda d: [S._norm("a", d), S._norm(F.col("a"), d)],
    "d2": lambda d: [
        S._fold("a", "b", d, term="d2", prefix=False),
        S._fold(F.col("a"), F.col("b"), d, term="d2", prefix=False),
    ],
    "sig": lambda d: [
        S._fold("a", _coefs(d), d),
        S.lsh_signature("a", 4, d, plane_offset=8),
    ],
}


@pytest.mark.parametrize(
    "dims", [1, S.UNROLL_DIMS_LIMIT, S.UNROLL_DIMS_LIMIT + 1, 64]
)
@pytest.mark.parametrize("term", sorted(_TERM_COLS))
def test_fold_forms_bit_equal(spark, monkeypatch, term, dims):
    """The unrolled chain and the HOF fold are the SAME left-to-right
    sum from 0.0: forcing each form at every width (limit patched
    like the negative control below) yields bit-identical doubles on
    mixed-sign, non-dyadic vectors — ``==``, never approx — for both
    operand kinds (SQL names and Columns)."""
    rows = [
        (
            [((s * 37 + i * 11) % 97 - 48) / 7.3 for i in range(dims)],
            [((s * 13 + i * 29) % 89 - 44) / 3.1 for i in range(dims)],
        )
        for s in range(8)
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = {}
    for form, limit in (("unrolled", 10**9), ("fold", 0)):
        monkeypatch.setattr(S, "UNROLL_DIMS_LIMIT", limit)
        cols = _TERM_COLS[term](dims)
        assert all(
            ("aggregate" in _sql(c)) == (form == "fold") for c in cols
        ), form
        got[form] = df.select(
            *[c.alias(f"c{i}") for i, c in enumerate(cols)]
        ).collect()
    assert got["unrolled"] == got["fold"]
    if term != "sig":  # SQL-name and Column operands agree too
        assert all(r.c0 == r.c1 for r in got["fold"])


def test_hof_reads_dims_prefix_not_padded_nulls(spark):
    """zip_with pads the SHORTER array with nulls, so without slice()
    an over-length vector nulls the fold: cosine would go NULL and
    every over-length vector's LSH signature would collapse onto one
    all-zero bucket (mass false duplicates in the embedding dedup
    path — r13 review). The HOF forms must read the dims-PREFIX,
    matching the unrolled form bit-for-bit."""
    dims = S.UNROLL_DIMS_LIMIT + 4
    base = [float(i % 5) - 2.0 for i in range(dims)]
    df = spark.createDataFrame(
        [(base, base), (base + [9.0, -9.0], base)],  # over-length twin
        "a array<double>, b array<double>",
    )
    got = df.select(
        S.cosine("a", "b", dims).alias("c"),
        S.lsh_signature("a", 3, dims).alias("sig"),
    ).collect()
    assert got[0].c == pytest.approx(1.0)
    assert got[1].c == got[0].c            # prefix == exact twin
    assert got[0].sig == got[1].sig        # same signature, not bucket 0
    assert got[0].sig is not None


def test_scoring_paths_compile_at_production_dims(spark):
    """With codegen.fallback=false a whole-stage-codegen compile
    failure ABORTS the query instead of silently running interpreted
    (the pre-r13 behavior of every scoring path at >= 192 dims). The
    dispatched forms must execute at production widths; the negative
    control proves this test detects the failure it guards against.

    Width tiering (r14 suite wall-clock): the default tier runs at 384
    dims — past BOTH measured cliffs (JIT 8 KB at 64, janino 64 KB at
    192), and inside the 192-1000ish range where the negative
    control's forced unrolled chain parses but janino-fails (the
    comment below). SPARK_GRAFT_EXHAUSTIVE=1 restores the full 1536-dim
    production width, where the control dies at the SQL parser
    instead."""
    from tests.conftest import EXHAUSTIVE

    dims = 1536 if EXHAUSTIVE else 384
    corpus = spark.range(120).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dims - 1}), x -> "
            "sin(id * 1.7D + x * 0.13D))"
        ).alias("embedding"),
    )
    qs = corpus.where("vec_id % 60 = 0")
    prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        assert S.brute_force_topk(corpus, qs, k=3, dims=dims).count() > 0
        assert S.lsh_topk(corpus, qs, k=3, n_planes=8, dims=dims).count() >= 0
        assert (
            S.kmeans_centroids(corpus, k=4, dims=dims, iters=1).count() == 4
        )
        # negative control: forcing the unrolled chain at this width
        # must die — at 1536 dims the chain already exceeds the SQL
        # parser's complexity cap (FAILED_TO_PARSE_TOO_COMPLEX); at
        # 192-1000ish it parses but fails janino compile, which
        # fallback=false turns into an error. Either way it raises —
        # proving this test detects the silent-interpretation
        # regression it guards.
        old = S.UNROLL_DIMS_LIMIT
        S.UNROLL_DIMS_LIMIT = 10**9
        try:
            with pytest.raises(
                Exception, match="64 KB|CodeGen|compil|TOO_COMPLEX"
            ):
                S.brute_force_topk(corpus, qs, k=3, dims=dims).count()
        finally:
            S.UNROLL_DIMS_LIMIT = old
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
