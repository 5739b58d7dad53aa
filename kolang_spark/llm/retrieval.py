"""Distributed BM25 retrieval — the sparse lexical complement to the
engine's dense ANN families (`llm/similarity.py`): score documents for
a query set with Okapi BM25 (Robertson & Zaragoza 2009; the Lucene
variant of the idf) and return the top-k per query.

Scale shape: the "index" is two derived tables — per-document term
frequencies (one explode + hash aggregate over the corpus) and
per-term document frequencies (one more aggregate over that) — both
map-side combinable. Scoring joins doc postings against the DISTINCT
query terms (the query side is small by construction and rides a
broadcast, so the corpus-sized postings table never shuffles for the
join); the per-(query, doc) aggregate shuffles one reduced row per
pair, and the top-k is a (query-partitioned) window — never global.
Corpus constants (N, avgdl) ride a 1-row broadcast.

Float determinism: per-term BM25 contributions are rounded to integer
micro-units (``textstats._micro``) before the per-pair sum, so scores
are exact longs — order-independent under partial aggregation and
bit-for-bit replayable by a SQL oracle. Documents and queries are
tokenized by ``textstats._words``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kolang_spark.llm.similarity import _cos, _rank_topk, _vectors
from kolang_spark.llm.textstats import MICRO, _micro, _words

__all__ = ["bm25_topk", "mmr_rerank", "retrieval_metrics"]


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    lowercase: bool = True,
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    ``score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) /
    (tf + k1·(1 − b + b·dl/avgdl))`` with the Lucene idf
    ``ln(1 + (N − df + 0.5)/(df + 0.5))`` (always ≥ 0). Query terms are
    deduplicated (standard BM25 ignores query-side repetition).

    Returns ``(query_id, doc_id, score, rank)`` with rank 1..k per
    query, ties broken by ``doc_id``; a query whose terms match no
    document yields no rows. ``score`` is exact micro-unit fixed point
    divided back to double — deterministic on any partitioning.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    # postings: (term, doc, tf) + doc length
    toks = docs.select(
        F.col(id_col).alias("__d__"),
        F.explode(F.filter(_words(text_col, lowercase), lambda x: x != "")).alias("term"),
    )
    tf = toks.groupBy("__d__", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    dl = toks.groupBy("__d__").agg(F.count(F.lit(1)).cast("long").alias("dl"))
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    consts = dl.agg(
        F.count(F.lit(1)).cast("long").alias("__n__"),
        F.sum("dl").cast("long").alias("__tl__"),
    )

    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(
                F.filter(_words(query_text_col, lowercase), lambda x: x != "")
            ).alias("term"),
        )
        .distinct()
    )
    # attach df to the SMALL side: broadcast the query terms into the
    # vocabulary-sized df table (a semi-join-shaped probe — the
    # vocabulary is never broadcast; at 100 TB it can be 100M+ terms),
    # yielding a ≤|query-terms| frame that then rides the broadcast
    # into the corpus-sized postings join
    qt = df_t.join(F.broadcast(qterms), "term")

    n_d = F.col("__n__").cast("double")
    avgdl = F.col("__tl__").cast("double") / n_d
    idf = F.log(
        F.lit(1.0)
        + (n_d - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    tfd = F.col("tf").cast("double")
    tfn = (tfd * F.lit(float(k1) + 1.0)) / (
        tfd
        + F.lit(float(k1))
        * (F.lit(1.0 - float(b)) + F.lit(float(b)) * F.col("dl").cast("double") / avgdl)
    )
    contrib = _micro(idf * tfn)

    # tf ⋈ dl is the one corpus×corpus join — an equi-join on the doc
    # id, the natural co-partitioning (both sides are aggregates of the
    # same explode; AQE coalesces the shared shuffle)
    scored = (
        tf.join(F.broadcast(qt), "term")
        .join(dl, "__d__")
        .crossJoin(F.broadcast(consts))
        .select("query_id", F.col("__d__"), contrib.alias("__c__"))
        .groupBy("query_id", "__d__")
        .agg(F.sum("__c__").cast("long").alias("__s__"))
    )
    return (
        _rank_topk(scored, k, score="__s__", item="__d__")
        .select(
            "query_id",
            F.col("__d__").alias(id_col),
            (F.col("__s__").cast("double") / F.lit(MICRO)).alias("score"),
            "rank",
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    k: int = 10,
    lam_num: int = 7,
    lam_den: int = 10,
    dims: "int | None" = None,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rel_col: str = "cos",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): from each query's candidate pool, greedily select ``k``
    results maximizing ``λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`` —
    relevance traded against redundancy with what's already picked.
    The standard diversifier between a first-stage retriever (dense
    ANN / BM25, both in this engine) and an LLM context window: top-k
    by raw cosine hands the model five paraphrases of one passage;
    MMR hands it five *different* relevant passages.

    Greedy selection is inherently sequential in ``k`` — but only
    WITHIN a query; queries are independent. The heavy math (the N²
    within-pool cosine table) stays Column-native; the selection loop
    runs per query in one ``cogroup(...).applyInPandas`` pass
    (r13, guide §4.2's sanctioned vectorized boundary): candidates and
    sims are each shuffled ONCE by query id and the greedy argmax — a
    k·N integer loop over a ≤N-row pool — happens in-process, exactly
    replicating the step-loop's fixed-point arithmetic. The r12 shape
    was ``k`` sequential DataFrame steps (anti-join + equi-join +
    window + eager checkpoint each): ~33 scheduler-visible jobs per
    call and k cluster-wide barriers; this shape is 2 exchanges and
    zero barriers beyond them. All shuffled frames are
    (n_queries × pool)-sized — never corpus-sized; the corpus appears
    only in the one up-front vector join. Candidate pools should be
    first-stage top-N (N ≲ 100), so the within-query sims table is N²
    per query, built once.

    Determinism: λ is the integer ratio ``lam_num/lam_den`` and
    relevances/similarities are floored to integer micro-units of
    ``scale``, so every selection (ties by ascending id) and every
    returned score is exact integer arithmetic — SQL-replayable.
    Score contract: ``mmr_fp = lam_num·rel_fp − (lam_den−lam_num)·
    max_sim_fp`` (scaled by ``lam_den``; monotone in the paper's λ
    formula), with ``max_sim_fp = 0`` for the first pick.

    Returns ``(query_id_col, id_col, rank, mmr_fp)``, rank 1..k per
    query (fewer when the pool is smaller than ``k``).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if not 0 < lam_num <= lam_den:
        raise ValueError("need 0 < lam_num <= lam_den")

    vecs = _vectors(vectors, id_col, vec_col, dims, "__d", "__d_id")
    cand = (
        candidates.select(
            F.col(query_id_col).alias("q_id"),
            F.col(id_col).alias("d_id"),
            F.col(rel_col).cast("double").alias("__rel"),
        )
        .join(vecs, F.col("d_id") == F.col("__d_id"))
        .select(
            "q_id",
            "d_id",
            F.floor(F.col("__rel") * scale).cast("long").alias("rel_fp"),
            "__d_v",
            "__d_n",
        )
        .localCheckpoint(eager=False)
    )
    a, b = cand.alias("a"), cand.alias("b")
    sim = _cos("a.__d", "b.__d", dims)
    sims = (
        a.join(
            b,
            (F.col("a.q_id") == F.col("b.q_id"))
            & (F.col("a.d_id") != F.col("b.d_id")),
        )
        .select(
            F.col("a.q_id").alias("q_id"),
            F.col("a.d_id").alias("id_a"),
            F.col("b.d_id").alias("id_b"),
            F.floor(sim * scale).cast("long").alias("sim_fp"),
        )
        # no checkpoint (r13): the cogroup consumes this frame exactly
        # once; the step-loop needed the pin because it re-read sims
        # every selection round
    )

    penalty = lam_den - lam_num

    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    q_type = cand.schema["q_id"].dataType
    d_type = cand.schema["d_id"].dataType
    out_schema = StructType(
        [
            StructField("q_id", q_type),
            StructField("d_id", d_type),
            StructField("rank", IntegerType()),
            StructField("mmr_fp", LongType()),
        ]
    )

    def _is_missing(v) -> bool:
        return v is None or (isinstance(v, float) and v != v)

    def _greedy(left, right):
        """Exact in-process replay of the step-loop semantics: per
        step, mmr = lam_num·rel_fp − penalty·max(sim_fp to selected,
        default 0 — NULL sims ignored like F.max); pick max mmr, tie →
        min d_id, NULL mmr last; remove every row of the picked doc.
        All arithmetic on Python ints (the fixed-point values are ≤
        scale·lam_den, exact in the float64 pandas uses for nullable
        longs)."""
        import pandas as pd

        if not len(left):
            return pd.DataFrame(
                {"q_id": [], "d_id": [], "rank": [], "mmr_fp": []}
            )
        qv = left["q_id"].iloc[0]
        remaining = list(zip(left["d_id"].tolist(), left["rel_fp"].tolist()))
        simd: dict = {}
        for a_, b_, s_ in zip(
            right["id_a"].tolist(),
            right["id_b"].tolist(),
            right["sim_fp"].tolist(),
        ):
            if _is_missing(s_):
                continue
            simd.setdefault(a_, {})[b_] = int(s_)
        selected: list = []
        out = []
        for t in range(1, k + 1):
            if not remaining:
                break
            best_key = None
            best = None
            for d_, rel_ in remaining:
                if _is_missing(rel_):
                    mmr_ = None
                else:
                    sd = simd.get(d_)
                    vals = (
                        [sd[s] for s in selected if s in sd] if sd else []
                    )
                    mx = max(vals) if vals else 0
                    mmr_ = lam_num * int(rel_) - penalty * mx
                key = (mmr_ is None, -(mmr_ or 0), d_)
                if best_key is None or key < best_key:
                    best_key, best = key, (d_, mmr_)
            d_, mmr_ = best
            out.append((qv, d_, t, mmr_))
            selected.append(d_)
            remaining = [r for r in remaining if r[0] != d_]
        return pd.DataFrame(out, columns=["q_id", "d_id", "rank", "mmr_fp"])

    return (
        cand.select("q_id", "d_id", "rel_fp")
        .groupBy("q_id")
        .cogroup(sims.groupBy("q_id"))
        .applyInPandas(_greedy, out_schema)
        .select(
            F.col("q_id").alias(query_id_col),
            F.col("d_id").alias(id_col),
            "rank",
            "mmr_fp",
        )
    )


def retrieval_metrics(
    results: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query retrieval evaluation — the IR scorecard (recall@k,
    hit count, reciprocal rank) for any ranked-results frame against a
    relevance-judgment set. Closes the loop on the engine's retrieval
    family: score `bm25_topk` / `lsh_topk` / `ivf_topk` / `mmr_rerank`
    output against exact top-k truth or human qrels with one call.

    ``results``: ``(query_id_col, id_col, rank_col)`` ranked 1..N.
    ``qrels``: ``(query_id_col, id_col)`` relevant pairs (extra
    columns ignored; duplicates de-duplicated).

    Scale shape: one equi-join on (query, doc) + two map-side
    aggregates — queries with no relevant docs are dropped (recall is
    undefined there, the trec_eval convention).

    Determinism: ``rr_micro`` is the reciprocal rank in exact integer
    micro-units (``1e6 // first_relevant_rank``; 0 when nothing
    relevant is ranked), so aggregating MRR downstream stays
    order-independent. Returns ``(query_id_col, n_rel, hits_at_k,
    recall_at_k, rr_micro)``.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    res = results.select(
        F.col(query_id_col).alias("q_id"),
        F.col(id_col).alias("d_id"),
        F.col(rank_col).cast("int").alias("rnk"),
    )
    rel = (
        qrels.select(
            F.col(query_id_col).alias("q_id"), F.col(id_col).alias("d_id")
        )
        .distinct()
    )
    n_rel = rel.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel")
    )
    joined = res.join(rel, ["q_id", "d_id"])  # relevant retrieved docs
    per_q = joined.groupBy("q_id").agg(
        F.sum((F.col("rnk") <= k).cast("long")).cast("long").alias("hits_at_k"),
        F.min("rnk").alias("first_rel_rank"),
    )
    return (
        n_rel.join(per_q, "q_id", "left")
        .select(
            F.col("q_id").alias(query_id_col),
            "n_rel",
            F.coalesce("hits_at_k", F.lit(0).cast("long")).alias("hits_at_k"),
            F.round(
                F.coalesce("hits_at_k", F.lit(0)) * F.lit(1.0) / F.col("n_rel"),
                6,
            ).alias("recall_at_k"),
            F.coalesce(
                (F.lit(1_000_000).cast("long") / F.col("first_rel_rank"))
                .cast("long"),
                F.lit(0).cast("long"),
            ).alias("rr_micro"),
        )
    )
