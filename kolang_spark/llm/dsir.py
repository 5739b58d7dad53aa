"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169): score every raw document by how much more likely its
hashed n-gram features are under a TARGET corpus (the distribution you
want more of — e.g. curated/wiki/books data) than under the raw corpus
itself, then resample the raw pool proportionally. The standard
pretraining data-selection stage between "crawl" and "train".

Both LMs are additively-smoothed unigram models over a FIXED hashed
feature space (uni+bigrams → ``hash_buckets`` md5 buckets — the paper's
10k-bucket hashing trick), so the model is two count tables and the
whole pipeline is explode → hash aggregate → broadcast-join scoring; no
model service, no UDF, no driver state.

Scale shape: one pass over each corpus for counts (map-side
combinable), one pass over the raw corpus for scoring with both count
tables broadcast (≤ ``hash_buckets`` rows each — bounded by
construction, unlike a raw vocabulary). The resample is a Gumbel-top-k
(one Project for keys + a distributed TakeOrdered) — sampling without
replacement ∝ softmax(log-ratio / temperature), no shuffle beyond the
top-k.

Float determinism: per-feature log-ratios of two
``textstats._ln_smoothed`` terms are rounded to integer micro-nats
(``textstats._micro``) BEFORE the per-document sum, so scores are exact
longs — order-independent and bit-for-bit replayable by the DuckDB
oracle. Features are ``textstats._words`` grams bucketed by the 60-bit
md5 gate ``utils._md5_60``, and the Gumbel keys come from the same
gate, so the resample is deterministic too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kolang_spark.llm.textstats import MICRO, _ln_smoothed, _micro, _words, word_ngrams
from kolang_spark.utils import _md5_60

__all__ = ["dsir_logratios", "dsir_resample"]


def _feature_buckets(
    text_col: str, hash_buckets: int, use_bigrams: bool, lowercase: bool
) -> Column:
    """Hashed (uni+bi)gram feature array: each gram → its 60-bit md5
    bucket (:func:`utils._md5_60`) mod ``hash_buckets``, so DuckDB
    computes the identical bucket."""
    toks = F.filter(_words(text_col, lowercase), lambda t: t != "")
    grams = F.concat(toks, word_ngrams(toks, 2)) if use_bigrams else toks
    return F.transform(
        grams, lambda g: _md5_60(F.encode(g, "UTF-8")) % hash_buckets
    )


def dsir_logratios(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    alpha: float = 1.0,
    hash_buckets: int = 10000,
    use_bigrams: bool = True,
    lowercase: bool = True,
) -> DataFrame:
    """Per-document DSIR importance log-ratio.

    ``lr(doc) = Σ_feat [ln p_target(feat) − ln p_raw(feat)]`` with each
    ``p(feat) = (cnt + α) / (total + α·hash_buckets)`` — smoothing runs
    over the fixed bucket space, so features unseen in either corpus
    get a well-defined floor. Returns ``(id_col, n_feats,
    logratio_micro, avg_logratio)``: the exact micro-nat long sum and
    the length-normalized double (use the normalized form when
    comparing documents of very different lengths). One row per
    distinct id (a NULL id is one group); zero-feature documents get
    ``n_feats = 0`` and NULL scores.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    # ONE tagged union pass over target+raw builds BOTH language models,
    # and the ≤hash_buckets-row result is pinned eagerly so the totals
    # and the broadcast probe read the pin instead of re-deriving their
    # own subtrees (r13, guide §2.3/§2.4): the lazy 4-subtree form
    # hashed the raw corpus 3× and the target 2× per action — feature
    # md5 hashing is this operator's dominant per-row cost, and at
    # 100 TB each redundant subtree is a full corpus pass. The pin is
    # one bounded job (≤hash_buckets rows of three longs).
    feats = F.explode(
        _feature_buckets(text_col, hash_buckets, use_bigrams, lowercase)
    )
    tagged = target.select(
        F.lit(1).alias("__t__"), feats.alias("bucket")
    ).unionByName(df.select(F.lit(0).alias("__t__"), feats.alias("bucket")))
    counts = (
        tagged.groupBy("bucket")
        .agg(
            F.count(F.when(F.col("__t__") == 1, 1)).cast("long").alias("__ct__"),
            F.count(F.when(F.col("__t__") == 0, 1)).cast("long").alias("__cr__"),
        )
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(
        F.coalesce(F.sum("__ct__"), F.lit(0)).alias("__tt__"),
        F.coalesce(F.sum("__cr__"), F.lit(0)).alias("__tr__"),
    )

    b = F.lit(float(hash_buckets))
    ln_t = _ln_smoothed(F.col("__ct__"), F.col("__tt__"), alpha, b)
    ln_r = _ln_smoothed(F.col("__cr__"), F.col("__tr__"), alpha, b)
    contrib = _micro(ln_t - ln_r)

    ex = df.select(
        F.col(id_col),
        F.explode_outer(
            _feature_buckets(text_col, hash_buckets, use_bigrams, lowercase)
        ).alias("bucket"),
    )
    scored = (
        ex.join(F.broadcast(counts), "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.count("bucket").cast("long").alias("n_feats"),
            F.sum(F.when(F.col("bucket").isNotNull(), contrib))
            .cast("long")
            .alias("logratio_micro"),
        )
    )
    return scored.select(
        id_col,
        "n_feats",
        "logratio_micro",
        (
            F.col("logratio_micro").cast("double")
            / (F.col("n_feats").cast("double") * F.lit(MICRO))
        ).alias("avg_logratio"),
    )


def dsir_resample(
    df: DataFrame,
    target: DataFrame,
    n: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    temperature: float = 1.0,
    normalize: bool = True,
    salt: str = "",
    **logratio_kwargs,
) -> DataFrame:
    """Gumbel-top-k importance resample: ``n`` documents without
    replacement with ``P(doc) ∝ softmax(lr(doc) / temperature)`` — the
    Gumbel-max construction, so one deterministic key per document and
    a distributed TakeOrdered instead of any sequential draw.

    The Gumbel noise is md5-derived from ``(id, salt)`` (same u ∈ (0,1)
    gate as the engine's samplers), so the selection is deterministic
    and engine-replayable. ``normalize=True`` uses the length-normalized
    log-ratio (recommended: un-normalized sums make long documents
    dominate the softmax). ``temperature → 0`` approaches hard top-n by
    score; large temperatures approach uniform sampling. Zero-feature
    documents (NULL score) are excluded.

    Returns the selected rows of ``df`` with ``dsir_key`` attached.
    """
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    lr = dsir_logratios(df, target, id_col=id_col, text_col=text_col, **logratio_kwargs)
    score = F.col("avg_logratio") if normalize else (
        F.col("logratio_micro").cast("double") / F.lit(MICRO)
    )
    # u in (0,1): 60-bit md5 slice, +1 to dodge exact zero
    h = _md5_60(F.encode(F.concat(F.col(id_col).cast("string"), F.lit(salt)), "UTF-8"))
    u = (h.cast("double") + F.lit(1.0)) / F.lit(float(1 << 60))
    gumbel = -F.log(-F.log(u))
    keyed = lr.where(F.col("logratio_micro").isNotNull()).select(
        id_col,
        (score / F.lit(float(temperature)) + gumbel).alias("dsir_key"),
    )
    picked = keyed.orderBy(F.col("dsir_key").desc(), F.col(id_col)).limit(n)
    return df.join(picked, id_col).select(df["*"], "dsir_key")
