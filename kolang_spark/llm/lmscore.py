"""Corpus-statistical language-model quality scoring — the CCNet/C4
"perplexity filter" stage of a pretraining pipeline, expressed without
an external model: a unigram LM is estimated from the corpus itself
(or any reference corpus) and every document is scored by its average
negative log-probability under it. Gibberish, boilerplate soup, and
wrong-language text score high (surprising); fluent in-distribution
text scores low — the standard cheap proxy where a real KenLM/model
service isn't available in-cluster.

Scale shape: token counts are one hash aggregate over the exploded
corpus (map-side combinable); scoring is an equi-join of the exploded
tokens against the count table (both sides hash-partitioned on the
token — the standard join, AQE-skew-splittable) and one per-document
aggregate. The vocabulary/total constants ride a 1-row broadcast. No
window, no UDF, no driver state.

Float determinism: per-token log contributions are rounded to integer
micro-nats (``textstats._micro``) BEFORE the per-document sum, so the
aggregate is an exact long sum (order-independent across
partitions/retries) and an external SQL oracle reproduces the score
bit-exactly. Tokens follow ``textstats._words``.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kolang_spark.llm.textstats import MICRO, _micro, _words

__all__ = ["unigram_lm_scores", "bigram_lm_scores", "perplexity_buckets"]

_BOS = "\x02"  # beginning-of-document context sentinel


def unigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    alpha: float = 1.0,
    lm_df: Optional[DataFrame] = None,
) -> DataFrame:
    """Score each document by average negative log-probability under an
    additively-smoothed unigram LM.

    ``p(tok) = (count(tok) + alpha) / (total + alpha * vocab)`` with
    counts taken from ``lm_df`` (a reference corpus with the same
    ``text_col``; defaults to ``df`` itself — self-scoring, the usual
    "flag the outliers of this crawl" setup). Unseen tokens (possible
    only with an external ``lm_df``) get the smoothed floor
    ``alpha / (total + alpha * vocab)``.

    Returns ``(id_col, n_tokens, avg_neg_logprob)``, one row per
    distinct id (a NULL id is one group); documents with no tokens get
    ``n_tokens = 0`` and a NULL score. Lower = more typical; filter with e.g.
    ``score < corpus quantile`` (pair with
    :func:`kolang_spark.operators.binning.equi_depth_bin`).

    Every per-token contribution ``ln(count + alpha)`` is rounded to
    integer micro-nats before summation, making the per-document sum
    exact and order-independent (deterministic under Spark's partial
    aggregation AND reproducible by a SQL oracle); the final score is
    ``ln(total + alpha*vocab) - sum_micro / (n * 1e6)``.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    src = lm_df if lm_df is not None else df
    counts = (
        src.select(F.explode_outer(_words(text_col, lowercase)).alias("__tok__"))
        .where(F.col("__tok__") != "")
        .groupBy("__tok__")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt__"))
    )
    consts = counts.agg(
        F.sum("__cnt__").alias("__total__"),
        F.count(F.lit(1)).alias("__vocab__"),
    )

    toks = F.filter(_words(text_col, lowercase), lambda t: t != "")
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("__tok__"))
    # micro-nat fixed point: exact long sum, order-independent
    contrib = _micro(F.log(F.col("__cnt__").cast("double") + F.lit(float(alpha))))
    scored = (
        ex.join(counts, "__tok__", "left")
        .groupBy(id_col)
        .agg(
            F.count("__tok__").cast("long").alias("n_tokens"),
            F.sum(
                F.when(
                    F.col("__tok__").isNotNull(),
                    F.coalesce(contrib, _micro(F.log(F.lit(float(alpha))))),
                )
            ).alias("__sum__"),
        )
    )
    denom = F.log(
        F.col("__total__").cast("double")
        + F.lit(float(alpha)) * F.col("__vocab__").cast("double")
    )
    return scored.crossJoin(F.broadcast(consts)).select(
        id_col,
        "n_tokens",
        (denom - F.col("__sum__") / (F.col("n_tokens") * F.lit(MICRO))).alias(
            "avg_neg_logprob"
        ),
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
    alpha: float = 1.0,
    lam: float = 0.7,
    lm_df: Optional[DataFrame] = None,
) -> DataFrame:
    """Interpolated-bigram LM scoring — the KenLM-style upgrade of
    :func:`unigram_lm_scores`: each position is scored by
    ``−ln(λ·P_bi(tok | prev) + (1−λ)·P_uni(tok))`` with
    ``P_bi = (c(prev,tok) + α) / (c(prev·) + α·V)`` and the same
    smoothed unigram as the base scorer. The first token's context is
    a BOS sentinel (``c(BOS·)`` = document count), so every position
    scores and an interpolated model never assigns zero mass.

    Scale shape: three count tables (unigram, bigram, context totals),
    each one map-side-combinable hash aggregate over the exploded
    reference corpus; scoring is equi-joins of the positional bigram
    stream against them (hash-partitioned on the gram — the bigram
    table is only as large as the OBSERVED bigrams) plus one
    per-document aggregate. No window, no UDF, no driver state.

    Same fixed-point contract as the unigram scorer: per-position
    ``−ln(P)`` is rounded to integer micro-nats before the per-document
    sum, so scores are exact and SQL-replayable. Returns
    ``(id_col, n_tokens, avg_neg_logprob)``, one row per distinct id (a
    NULL id is one group); zero-token documents get ``n_tokens = 0``
    and NULL scores. Lower = more typical.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    if not 0.0 < lam < 1.0:
        raise ValueError("lam must be in (0, 1)")

    def pair_stream(frame: DataFrame, with_id: bool) -> DataFrame:
        """Positional (prev, cur) stream; position 0 gets the BOS
        context. Built from one posexplode with the token array
        carried alongside (``element_at(pos)`` for the predecessor) —
        no self-join, no window. With ``with_id`` a zero-token document
        keeps one NULL ``__cur__`` row."""
        t = F.filter(_words(text_col, lowercase), lambda x: x != "")
        ids = [F.col(id_col)] if with_id else []
        pairs = frame.select(*ids, t.alias("__t__")).select(
            *ids,
            F.posexplode_outer("__t__").alias("__pos__", "__cur__"),
            F.col("__t__").alias("__ta__"),
        )
        if not with_id:
            pairs = pairs.where(F.col("__cur__").isNotNull())
        return pairs.select(
            *ids,
            F.when(F.col("__pos__") == 0, F.lit(_BOS))
            .otherwise(F.element_at("__ta__", F.col("__pos__").cast("int")))
            .alias("__prev__"),
            "__cur__",
        )

    src = lm_df if lm_df is not None else df
    lm_pairs = pair_stream(src, with_id=False)
    bi = lm_pairs.groupBy("__prev__", "__cur__").agg(
        F.count(F.lit(1)).cast("long").alias("__cb__")
    )
    ctx = bi.groupBy("__prev__").agg(F.sum("__cb__").cast("long").alias("__cc__"))
    uni = lm_pairs.groupBy("__cur__").agg(
        F.count(F.lit(1)).cast("long").alias("__cu__")
    )
    consts = uni.agg(
        F.sum("__cu__").alias("__total__"), F.count(F.lit(1)).alias("__vocab__")
    )

    a = F.lit(float(alpha))
    p_bi = (F.coalesce(F.col("__cb__"), F.lit(0)).cast("double") + a) / (
        F.coalesce(F.col("__cc__"), F.lit(0)).cast("double")
        + a * F.col("__vocab__").cast("double")
    )
    p_uni = (F.coalesce(F.col("__cu__"), F.lit(0)).cast("double") + a) / (
        F.col("__total__").cast("double") + a * F.col("__vocab__").cast("double")
    )
    p = F.lit(float(lam)) * p_bi + F.lit(1.0 - float(lam)) * p_uni
    contrib = _micro(-F.log(p))

    ex = pair_stream(df, with_id=True)
    scored = (
        ex.join(bi, ["__prev__", "__cur__"], "left")
        .join(ctx, "__prev__", "left")
        .join(uni, "__cur__", "left")
        .crossJoin(F.broadcast(consts))
        .groupBy(id_col)
        .agg(
            F.count("__cur__").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("__cur__").isNotNull(), contrib)).alias("__sum__"),
        )
    )
    return scored.select(
        id_col,
        "n_tokens",
        (
            F.col("__sum__").cast("double")
            / (F.col("n_tokens").cast("double") * F.lit(MICRO))
        ).alias("avg_neg_logprob"),
    )


_DEFAULT_LABELS = object()  # sentinel: head/middle/tail iff n_buckets == 3


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: Optional[str] = "lang",
    n_buckets: int = 3,
    labels=_DEFAULT_LABELS,
    lowercase: bool = True,
    alpha: float = 1.0,
    lm_df: Optional[DataFrame] = None,
    round_to: int = 6,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document with the smoothed unigram LM and assign it an
    equi-depth bucket WITHIN its language — bucket 1 (``head``) is the
    most-typical third of that language, ``tail`` the most-surprising.
    CCNet keeps head+middle (or reweights by bucket) as the cheap
    quality gate before expensive downstream filters; this operator is
    that stage as one composition of two already-proven pieces
    (:func:`unigram_lm_scores` + ``operators.binning.equi_depth_bin``).

    Bucket boundaries are exact interpolated per-language percentiles
    of the score ROUNDED to ``round_to`` decimals (rounding first makes
    the boundary inputs bit-identical across engines — the same
    contract the lm-score oracle has proven since round 6); assignment
    is "1 + boundaries strictly below" exactly like ``equi_depth_bin``.
    Zero-token documents have NULL scores and get NULL bucket/label.

    Scale shape: scoring is the unigram scorer's two hash aggregates +
    one equi-join; the boundary table is |langs|·(n_buckets-1) values
    computed by one percentile aggregation and broadcast back — the
    detail rows never shuffle for assignment. ``lang_col=None``
    buckets over the whole corpus instead of per language.

    Returns ``(id_col[, lang_col], n_tokens, score, bucket, label)``
    with ``score`` the rounded avg negative log-probability. Labels
    default to head/middle/tail for terciles and to the bucket number
    as a string for any other ``n_buckets`` (pass an explicit
    ``labels`` sequence, or ``None`` for numeric, to override).
    """
    from kolang_spark.operators.binning import equi_depth_bin

    if labels is _DEFAULT_LABELS:
        # head/middle/tail only makes sense for terciles; any other
        # n_buckets falls back to numeric labels instead of forcing
        # every caller of e.g. n_buckets=5 to also pass labels=None
        labels = ("head", "middle", "tail") if n_buckets == 3 else None
    if labels is not None and len(labels) != n_buckets:
        raise ValueError("labels must have exactly n_buckets entries")
    scores = unigram_lm_scores(
        df,
        id_col=id_col,
        text_col=text_col,
        lowercase=lowercase,
        alpha=alpha,
        lm_df=lm_df,
    )
    keep = [id_col] + ([lang_col] if lang_col else [])
    base = df.select(*keep).join(scores, id_col)
    base = base.withColumn(
        "score", F.round(F.col("avg_neg_logprob"), round_to)
    ).drop("avg_neg_logprob")
    binned = equi_depth_bin(
        base,
        "score",
        n_bins=n_buckets,
        by=[lang_col] if lang_col else None,
        out_col="bucket",
    )
    if labels is not None:
        lab = F.element_at(
            F.array(*[F.lit(x) for x in labels]), F.col("bucket")
        )
    else:
        lab = F.col("bucket").cast("string")
    return binned.select(
        *keep,
        "n_tokens",
        "score",
        "bucket",
        F.when(F.col("bucket").isNull(), F.lit(None).cast("string"))
        .otherwise(lab)
        .alias("label"),
    )
