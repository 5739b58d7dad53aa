"""Distributed linear text classification — the "quality classifier"
stage of a pretraining pipeline (GPT-3's logistic-regression quality
filter, CCNet's fastText lang/quality gates), expressed as two
composable DataFrame passes with no model service and no UDF:

- :func:`train_token_logodds` fits Naive-Bayes log-odds weights from a
  labeled corpus in ONE hash aggregate (explode → per-token
  positive/negative counts → smoothed log-ratio). The output weight
  table IS the model — persist it, ship it, or swap in weights exported
  from an offline fastText/logreg run (any ``(term, w_micro)`` frame
  works).
- :func:`linear_text_classifier` scores documents against a weight
  table: explode tokens, equi-join the weights (broadcast when small —
  vocabularies are; a 1M-term table is ~30 MB), one per-document
  aggregate, sigmoid on top.

Scale shape: both passes are explode → hash-partitioned equi-join /
hash aggregate — map-side combinable, AQE-skew-splittable, no window,
no driver state. At 100 TB the weight table rides a broadcast and the
corpus is scanned exactly once per pass.

Float determinism: weights are stored as integer micro-nats
(``textstats._micro`` of the log-ratio of two ``textstats._ln_smoothed``
terms), so every per-document sum is an exact long sum —
order-independent across partitions/retries and reproducible
bit-for-bit by a SQL oracle. Tokens follow ``textstats._words``. The
only floats are the final ``score``/``prob`` computed per-row from the
exact sum.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kolang_spark.llm.textstats import MICRO, _ln_smoothed, _micro, _words

__all__ = ["train_token_logodds", "linear_text_classifier"]


def train_token_logodds(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    alpha: float = 1.0,
    lowercase: bool = True,
) -> DataFrame:
    """Fit per-token Naive-Bayes log-odds weights from a labeled corpus.

    ``w(tok) = ln((cnt_pos + α)/(tot_pos + α·V)) −
    ln((cnt_neg + α)/(tot_neg + α·V))`` where ``V`` is the shared
    vocabulary size — the standard additively-smoothed NB weight;
    summed over a document's tokens it is exactly the NB log-likelihood
    ratio (up to the class prior, which callers fold into ``bias``).

    One pass over the corpus: explode tokens, one hash aggregate with
    conditional counts, totals via a 1-row broadcast. Returns
    ``(term, w_micro)`` with the weight in integer micro-nats (long) —
    the contract :func:`linear_text_classifier` consumes. ``label_col``
    must be a boolean column (or expression-producible: pass e.g.
    ``F.col("lang") == "en"`` through ``withColumn`` first).
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    lab = F.col(label_col).cast("boolean")
    counts = (
        df.select(lab.alias("__y__"), F.explode(_words(text_col, lowercase)).alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("__y__"), 1).otherwise(0)).cast("long").alias("__p__"),
            F.sum(F.when(F.col("__y__"), 0).otherwise(1)).cast("long").alias("__n__"),
        )
    )
    consts = counts.agg(
        F.sum("__p__").alias("__tp__"),
        F.sum("__n__").alias("__tn__"),
        F.count(F.lit(1)).alias("__v__"),
    )
    v = F.col("__v__").cast("double")
    ln_pos = _ln_smoothed(F.col("__p__"), F.col("__tp__"), alpha, v)
    ln_neg = _ln_smoothed(F.col("__n__"), F.col("__tn__"), alpha, v)
    return counts.crossJoin(F.broadcast(consts)).select(
        "term", _micro(ln_pos - ln_neg).alias("w_micro")
    )


def linear_text_classifier(
    df: DataFrame,
    weights: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bias: float = 0.0,
    lowercase: bool = True,
    normalize: bool = True,
    broadcast_weights: bool = True,
) -> DataFrame:
    """Score documents with a linear model over token weights.

    ``score = Σ w(tok) / (n if normalize else 1) + bias`` and
    ``prob = 1/(1+exp(−score))``. ``weights`` is any ``(term, w_micro)``
    frame — :func:`train_token_logodds` output or weights exported from
    an offline model. Unseen tokens contribute 0 (they carry no
    evidence either way under the NB view). One row per distinct id (a
    NULL id is one group); documents with no tokens get NULL
    score/prob and ``n_tokens = 0``.

    Length normalization (fastText's mean-of-features) keeps long
    documents from saturating the sigmoid; turn it off for pure NB
    log-likelihood-ratio semantics.

    Scale: ``broadcast_weights=True`` (default) pins the vocabulary on
    the map side — the corpus never shuffles for the join; only the
    per-document aggregate shuffles, carrying one reduced row per
    (partition, doc); a zero-token document keeps one NULL-token row
    through the explode, so no second read of ``df`` re-attaches it.
    With a weight table too big to broadcast, flip it off and the join
    hash-partitions both sides on the term.
    """
    w = weights.select("term", "w_micro")
    if broadcast_weights:
        w = F.broadcast(w)
    toks = F.filter(_words(text_col, lowercase), lambda t: t != "")
    ex = df.select(F.col(id_col), F.explode_outer(toks).alias("term"))
    summed = (
        ex.join(w, "term", "left")
        .groupBy(id_col)
        .agg(
            F.count("term").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("term").isNotNull(), F.coalesce("w_micro", F.lit(0))))
            .cast("long")
            .alias("__s__"),
        )
    )
    denom = (
        F.col("n_tokens").cast("double") * F.lit(MICRO)
        if normalize
        else F.lit(MICRO)
    )
    score = F.col("__s__").cast("double") / denom + F.lit(float(bias))
    return summed.select(
        id_col,
        "n_tokens",
        score.alias("score"),
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-score))).alias("prob"),
    )
