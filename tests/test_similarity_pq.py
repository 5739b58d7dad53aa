"""IVF-PQ (`kolang_spark/llm/similarity.py::pq_codebooks/pq_encode/
ivf_pq_topk`): quantization round-trip exactness, recall on planted
clusters, the memory-per-vector claim (measured on disk), and the
parameter contracts."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from kolang_spark.llm.similarity import (
    brute_force_topk,
    hard_negative_topk,
    ivf_pq_topk,
    ivf_topk,
    lsh_topk,
    pq_codebooks,
    pq_encode,
)

DIMS = 16


def _vec(i: int) -> list:
    """Deterministic planted corpus: 20 clusters x 10 members, cluster
    center + small noise (mirrors the entry fixture's construction)."""
    out = []
    for d in range(DIMS):
        hc = int(hashlib.md5(f"c{i // 10}:{d}".encode()).hexdigest()[:8], 16)
        hn = int(hashlib.md5(f"n{i}:{d}".encode()).hexdigest()[:8], 16)
        out.append((hc / 2147483648.0 - 1.0) + (hn / 2147483648.0 - 1.0) / 8.0)
    return out


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in range(200)], "vec_id long, embedding array<double>"
    ).cache()


def test_codebooks_shape_stride_and_kmeans(corpus):
    for method in ("stride", "kmeans"):
        cb = pq_codebooks(
            corpus, m=4, ksub=8, dims=DIMS, method=method, stride=10, iters=2
        )
        rows = cb.collect()
        assert len(rows) == 4 * 8
        assert {(r.subspace, r.code) for r in rows} == {
            (j, c) for j in range(4) for c in range(8)
        }
        assert all(len(r.s_v) == DIMS // 4 for r in rows)


def test_encode_roundtrip_exact_when_corpus_is_codebook(spark):
    """With every corpus vector present in the codebook (ksub >= N on
    a stride-1 pick), encoding must choose the exact subvectors:
    reconstruction norm == true norm."""
    small = spark.createDataFrame(
        [(i, _vec(i)) for i in range(8)], "vec_id long, embedding array<double>"
    )
    cb = pq_codebooks(small, m=4, ksub=8, dims=DIMS, method="stride", stride=1)
    enc = {r.vec_id: r for r in pq_encode(small, cb, m=4, dims=DIMS).collect()}
    for i in range(8):
        true_n = math.sqrt(sum(x * x for x in _vec(i)))
        assert enc[i].recon_n == pytest.approx(true_n, abs=1e-12)
        # stride-1 codebook: code == vec_id rank == vec_id
        assert list(enc[i].codes) == [i] * 4


def test_encode_codes_are_smallint_and_disk_ratio(corpus, tmp_path):
    """The r9 verdict's memory-per-vector requirement, measured: the
    PQ index row (m smallint codes + one double) must be at least 4x
    smaller ON DISK than the raw float64 vectors it replaces (the
    logical ratio at m=4, dims=16 is 128B -> ~16B; parquet framing
    eats part of it on tiny files)."""
    cb = pq_codebooks(corpus, m=4, ksub=8, dims=DIMS, method="stride", stride=10)
    enc = pq_encode(corpus, cb, m=4, dims=DIMS)
    assert dict(enc.dtypes)["codes"] == "array<smallint>"

    raw_p, enc_p = str(tmp_path / "raw"), str(tmp_path / "enc")
    corpus.select("vec_id", "embedding").coalesce(1).write.parquet(raw_p)
    enc.coalesce(1).write.parquet(enc_p)

    import os

    def psize(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    ratio = psize(raw_p) / psize(enc_p)
    assert ratio >= 4.0, f"PQ index only {ratio:.1f}x smaller on disk"


def test_ivf_pq_recall_on_planted_clusters(corpus):
    """PQ collapses same-cluster members onto shared codes, so it is a
    CANDIDATE GENERATOR: the contract is (a) the exact top-5 survives
    into the PQ top-20 candidate set, and (b) with the FAISS-style
    exact refine step over those candidates, recall@5 is high. Both
    with k-means-trained codebooks."""
    queries = corpus.where(F.col("vec_id") % 10 == 0)
    exact = brute_force_topk(corpus, queries, k=5, dims=DIMS)
    n_exact = exact.count()
    cb = pq_codebooks(corpus, m=4, ksub=16, dims=DIMS, method="kmeans", iters=3)
    common = dict(
        nprobe=2, m=4, dims=DIMS, centroid_stride=10, codebooks=cb
    )
    cand = ivf_pq_topk(corpus, queries, k=20, **common)
    cand_recall = (
        exact.select("query_id", "vec_id")
        .join(cand.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .count()
        / n_exact
    )
    assert cand_recall >= 0.9, f"candidate recall@20 = {cand_recall:.2f}"
    assert all(-1.001 <= r.approx_cos <= 1.001 for r in cand.collect())

    refined = ivf_pq_topk(corpus, queries, k=5, refine=20, **common)
    recall = (
        exact.select("query_id", "vec_id")
        .join(refined.select("query_id", "vec_id"), ["query_id", "vec_id"])
        .count()
        / n_exact
    )
    assert recall >= 0.9, f"refined recall@5 = {recall:.2f}"
    with pytest.raises(ValueError):
        ivf_pq_topk(corpus, queries, k=10, refine=5, **common)


def test_param_validation(corpus):
    with pytest.raises(ValueError):
        pq_codebooks(corpus, m=5, ksub=8, dims=DIMS)  # 16 % 5 != 0
    with pytest.raises(ValueError):
        pq_codebooks(corpus, m=4, ksub=8, dims=DIMS, method="nope")
    with pytest.raises(ValueError):
        pq_encode(corpus, pq_codebooks(corpus, m=4, ksub=8, dims=DIMS), m=5, dims=DIMS)
    # non-uniform codebook rejected by ivf_pq_topk
    cb = pq_codebooks(corpus, m=4, ksub=8, dims=DIMS).where(
        ~((F.col("subspace") == 3) & (F.col("code") == 7))
    )
    with pytest.raises(ValueError):
        ivf_pq_topk(
            corpus,
            corpus.limit(1),
            m=4,
            dims=DIMS,
            codebooks=cb,
        )


def test_hard_negative_topk(corpus):
    """Same-cluster positives are excluded even though they dominate
    every anchor's raw top-10 (filters run BEFORE ranking); the
    max_cos false-negative guard and candidates path behave."""
    anchors = corpus.where(F.col("vec_id") % 10 == 0)
    clusters = corpus.select(
        "vec_id", (F.col("vec_id") - F.col("vec_id") % 10).alias("cl")
    )
    positives = (
        anchors.select(
            F.col("vec_id").alias("query_id"),
            (F.col("vec_id") - F.col("vec_id") % 10).alias("cl"),
        )
        .join(clusters, "cl")
        .select("query_id", "vec_id")
    )
    out = hard_negative_topk(
        corpus, anchors, k=5, dims=DIMS, positives=positives
    ).collect()
    assert len(out) == 20 * 5
    for r in out:
        assert r.vec_id // 10 != r.query_id // 10  # never a positive
        assert r.vec_id != r.query_id
    # every anchor still gets a FULL top-5 despite 10 excluded rows
    per = {}
    for r in out:
        per.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per.values())

    # max_cos guard caps similarity; min_cos floors it
    capped = hard_negative_topk(
        corpus, anchors, k=5, dims=DIMS, positives=positives, max_cos=0.5
    ).collect()
    assert all(r.cos <= 0.5 for r in capped)

    # candidates path: mine from a precomputed (over-fetched) frame
    cand = brute_force_topk(corpus, anchors, k=30, dims=DIMS).drop("rank")
    via_cand = hard_negative_topk(
        corpus, anchors, k=5, dims=DIMS, positives=positives, candidates=cand
    ).collect()
    assert {(r.query_id, r.vec_id, r.rank) for r in via_cand} == {
        (r.query_id, r.vec_id, r.rank) for r in out
    }


def test_build_contrastive_rows(corpus):
    """Training-row assembly: best positive is the nearest same-cluster
    member, negatives are rank-ordered cross-cluster, and anchors
    missing a positive drop out."""
    from kolang_spark.llm.similarity import build_contrastive_rows

    anchors = corpus.where(F.col("vec_id") % 10 == 0)
    clusters = corpus.select(
        "vec_id", (F.col("vec_id") - F.col("vec_id") % 10).alias("cl")
    )
    positives = (
        anchors.select(
            F.col("vec_id").alias("query_id"),
            (F.col("vec_id") - F.col("vec_id") % 10).alias("cl"),
        )
        .join(clusters, "cl")
        .select("query_id", "vec_id")
    )
    rows = {
        r.query_id: r
        for r in build_contrastive_rows(
            corpus, anchors, positives, k_neg=3, dims=DIMS
        ).collect()
    }
    assert len(rows) == 20
    negs = hard_negative_topk(
        corpus, anchors, k=3, dims=DIMS, positives=positives
    ).collect()
    expect = {}
    for r in sorted(negs, key=lambda r: (r.query_id, r.rank)):
        expect.setdefault(r.query_id, []).append(r.vec_id)
    for qid, r in rows.items():
        assert r.pos_id // 10 == qid // 10 and r.pos_id != qid
        assert list(r.neg_ids) == expect[qid]
        assert list(r.neg_cos) == sorted(r.neg_cos, reverse=True)
        assert r.pos_cos > max(r.neg_cos)  # planted clusters separate


_RANK_VARIANTS = {
    "brute_force": lambda c, q: brute_force_topk(c, q, k=6, dims=4),
    "lsh": lambda c, q: lsh_topk(c, q, k=6, n_planes=1, multi_probe=1, dims=4),
    "ivf": lambda c, q: ivf_topk(c, q, k=6, centroid_stride=1, nprobe=6, dims=4),
    "ivf_pq": lambda c, q: ivf_pq_topk(
        c, q, k=6, nprobe=6, m=2, ksub=6, centroid_stride=1,
        codebook_stride=1, dims=4,
    ),
    "ivf_pq_refine": lambda c, q: ivf_pq_topk(
        c, q, k=6, nprobe=6, m=2, ksub=6, centroid_stride=1,
        codebook_stride=1, dims=4, refine=6,
    ),
    "hard_negative": lambda c, q: hard_negative_topk(
        c, q, k=6, dims=4, exclude_self=False
    ),
}


@pytest.mark.parametrize("variant", sorted(_RANK_VARIANTS))
def test_rank_contract_ties_and_zero_vector(spark, variant):
    """Every top-k operator ranks by one rule: score descending, a tie
    to the smaller corpus id, and a zero vector (undefined cosine,
    NULL score) last."""
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [0.9, 0.1, 0.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 0.0]),
            (5, [0.0, 1.0, 0.0, 0.0]),
            (6, [-1.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = _RANK_VARIANTS[variant](corpus, queries)
    score = "approx_cos" if "approx_cos" in out.columns else "cos"
    rows = out.orderBy("rank").collect()
    assert [r.vec_id for r in rows] == [1, 2, 3, 5, 6, 4]
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5, 6]
    assert rows[-1][score] is None
