"""Train/eval contamination detection: the decontamination pass every
serious pretraining pipeline runs before training (the GPT-3 / Pile
recipe — flag any training document sharing a long word n-gram with an
evaluation benchmark).

Scale shape: the *eval* side is benchmarks — thousands of documents,
millions of n-grams at most — so its distinct n-gram fingerprints ride
a broadcast; the 100 TB *corpus* side is tokenized and shingled exactly
once and shuffled exactly once (the per-document counting aggregate,
map-side combinable, carrying ids and counts — never the n-gram text).
One Arrow-free, UDF-free pass.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kolang_spark.llm.dedup import with_shingles

__all__ = ["ngram_contamination", "semantic_contamination"]


def ngram_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: Optional[str] = None,
    fingerprint: bool = True,
) -> DataFrame:
    """Per-corpus-document contamination against an eval set.

    A document is *contaminated* if any of its distinct word ``n``-grams
    appears anywhere in ``eval_df`` (distinct n-grams across all eval
    documents — which eval row matched is irrelevant for the decision).
    ``n=13`` is the published GPT-3/Pile decontamination gram length;
    lower it for stricter screens.

    Returns one row per corpus document:
    ``(id_col, n_ngrams, n_hits, contaminated)`` where ``n_hits`` counts
    the document's distinct n-grams found in the eval set (documents
    shorter than ``n`` tokens have ``n_ngrams = 0`` and are never
    contaminated).

    ``fingerprint=True`` (default) joins on ``xxhash64`` of the n-gram
    instead of its text — at 100 TB the join exchanges 8 bytes per gram
    rather than ~13 words; a 64-bit collision mislabels one gram in
    ~2^64, which is noise for a screening pass. Set ``False`` for the
    byte-exact join.
    """
    if n < 1:
        raise ValueError("n must be >= 1")

    def key(c):
        # NULL-safe: explode_outer emits a NULL gram for gram-less
        # documents, and hash(NULL) is the seed (not NULL) — keep the
        # key NULL so it can never equi-join an eval gram
        hashed = F.xxhash64(c) if fingerprint else c
        return F.when(c.isNull(), F.lit(None)).otherwise(hashed)

    csh = with_shingles(corpus.select(id_col, text_col), text_col, n)
    esh = with_shingles(
        eval_df.select(eval_text_col or text_col), eval_text_col or text_col, n
    )
    # explode_outer + post-explode null filter, NOT plain explode: for a
    # bare explode the optimizer infers `size(shingles)>0 AND
    # isnotnull(shingles)` and pushes both through the projection,
    # duplicating the (huge) shingle expression 3x per row in the
    # pushed filter — tripling both per-row work and the codegen unit.
    # Filtering the exploded attribute keeps the expression evaluated
    # exactly once.
    eval_grams = (
        esh.select(F.explode_outer("shingles").alias("g"))
        .where(F.col("g").isNotNull())
        .select(key(F.col("g")).alias("__h__"))
        .distinct()
        .withColumn("__hit__", F.lit(True))
    )
    # ONE pass over the corpus: explode_outer keeps gram-less documents
    # (NULL gram row), the broadcast LEFT join marks eval matches, and a
    # single hash aggregate folds both outputs — the corpus is
    # tokenized/shingled once and shuffled once (the groupBy), versus
    # the naive ids⋈hits formulation that shingles the corpus twice.
    # Shingles are distinct per document (with_shingles), so counting
    # markers IS the distinct-hit count.
    ex = csh.select(
        F.col(id_col),
        F.size("shingles").alias("__n__"),
        F.explode_outer("shingles").alias("g"),
    ).select(id_col, "__n__", key(F.col("g")).alias("__h__"))
    return (
        ex.join(F.broadcast(eval_grams), "__h__", "left")
        .groupBy(id_col)
        .agg(
            F.max("__n__").alias("n_ngrams"),
            F.count("__hit__").cast("bigint").alias("n_hits"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_hits",
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def semantic_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    eval_id_col: Optional[str] = None,
    eval_vec_col: Optional[str] = None,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-space decontamination: flag every training row whose
    vector is ≥ ``threshold`` cosine-similar to ANY evaluation vector —
    the semantic companion to :func:`ngram_contamination` (paraphrased
    benchmark leakage has no 13-gram overlap but sits next to the eval
    point in embedding space).

    Returns one row per ``train`` row: ``(id_col, max_cos, n_over,
    contaminated)`` — the maximum cosine against the eval set (rounded
    to 6 dp for cross-engine comparison; the flag is computed on the
    unrounded value), how many eval vectors clear the threshold, and
    the flag. An empty eval set yields ``max_cos = NULL``, ``n_over =
    0``, ``contaminated = false``.

    Scale shape — deliberately SHUFFLE-FREE on the training side: the
    eval set (benchmarks — thousands of vectors, not billions) is
    collected into a single packed array-of-structs row and broadcast;
    each training row computes its max/count over that array with
    higher-order functions in one Project riding the corpus scan. No
    explode, no groupBy, no window — the 100 TB side is touched exactly
    once, partition layout preserved. Cost is |eval|·dims multiply-adds
    per training row; for eval sets too big to broadcast (>~100k
    vectors) pre-filter candidates with
    :func:`kolang_spark.llm.similarity.lsh_topk` instead.

    Determinism: each pairwise cosine is a fixed-order left-associative
    fold (bit-identical across engines and shuffle orders); max/count
    over them are order-independent.
    """
    from kolang_spark.llm.similarity import _fold, _vectors

    eval_id_col = eval_id_col or id_col
    eval_vec_col = eval_vec_col or vec_col
    packed = (
        _vectors(eval_df, eval_id_col, eval_vec_col, None, "e", "e_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("e_id", "e_v", "e_n"))
            ).alias("_evals")
        )
    )
    t = _vectors(train, id_col, vec_col, None, "t", id_col)
    # zero-norm vectors (a common upstream-encoder failure artifact)
    # have undefined cosine: score them 0 (never contaminating /
    # contaminated) instead of dividing by zero, which crashes the
    # whole corpus scan under Spark's default ANSI mode
    coss = F.transform(
        F.col("_evals"),
        lambda s: F.when(
            (s["e_n"] > 0) & (F.col("t_n") > 0),
            _fold(s["e_v"], F.col("t_v")) / (s["e_n"] * F.col("t_n")),
        ).otherwise(F.lit(0.0)),
    )
    return (
        t.join(F.broadcast(packed))
        .withColumn("_cos", coss)
        .select(
            F.col(id_col),
            F.round(F.array_max("_cos"), 6).alias("max_cos"),
            F.size(F.filter("_cos", lambda c: c >= F.lit(threshold)))
            .cast("long")
            .alias("n_over"),
            F.coalesce(
                F.array_max("_cos") >= F.lit(threshold), F.lit(False)
            ).alias("contaminated"),
        )
    )
