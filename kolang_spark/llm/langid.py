"""Trainable character-n-gram language identification.

The heuristic :func:`kolang_spark.llm.textstats.lang_id` (stopword
markers + codepoint blocks) is the zero-setup default, but every
CCNet-shaped consumer in the engine (perplexity buckets, language
mixes, the corpus report) keys on language, and a corpus with
languages outside the marker set needs a *trained* classifier. This
module is the classic fastText-free construction (Cavnar & Trenkle
1994 n-gram profiles; public fastText langid uses the same feature
family): a multinomial Naive Bayes over hashed character 2-4-grams.

Model = one DataFrame. :func:`train_char_langid` fits per-language
bucket log-probabilities in ONE hash aggregate over the labeled
corpus (explode char-n-gram buckets → (lang, bucket) counts →
additive smoothing over the FIXED bucket space). Smoothing over all
``hash_buckets`` (the `dsir.py` idiom) means every possible gram maps
to an in-model bucket, so inference needs no out-of-vocabulary path
at all: the returned grid covers buckets × languages densely.

:func:`classify_lang` scores documents with one broadcast equi-join
(grid ≤ buckets·L rows — a few MB even at 2^18 buckets) plus one
per-(doc, lang) aggregate and a per-doc argmax. No UDF anywhere; the
gram/bucket pipeline is pure Column algebra (codegen-compiled).

Scale shape: the corpus is scanned once per pass; the only shuffle is
the per-document aggregate (map-side combinable). The model grid
rides a broadcast, so at 100 TB the scoring pass is shuffle-light and
embarrassingly parallel. Class count L multiplies the join fan-out
(L rows per gram occurrence) — fine for the tens-of-languages regime
this targets; for hundreds of languages, pre-aggregate per (doc,
bucket) counts first.

Float determinism: weights and priors are integer micro-nats
(``textstats._micro``; the weights of ``textstats._ln_smoothed``), so
per-document scores are exact long sums — order-independent across
partitions/retries and replayable bit-for-bit by a DuckDB oracle.
Bucket hashing is the engine-portable 60-bit md5 gate
``utils._md5_60``, mod the bucket count.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kolang_spark.llm.textstats import _ln_smoothed, _micro
from kolang_spark.utils import ColumnOrName, _md5_60, to_col

__all__ = ["char_ngram_buckets", "train_char_langid", "classify_lang"]


def char_ngram_buckets(
    col: ColumnOrName,
    hash_buckets: int = 4096,
    n_min: int = 2,
    n_max: int = 4,
) -> Column:
    """Hashed character n-gram features of a text column.

    Canonical form: lowercase, whitespace collapsed to single spaces,
    one boundary space on each end (so word-initial/final grams are
    distinct features — the Cavnar-Trenkle trick). For each n in
    [n_min, n_max], every length-n substring; each gram → its 60-bit
    md5 bucket (:func:`utils._md5_60`) mod ``hash_buckets``, so DuckDB
    computes the identical bucket.
    NULL/blank text → empty array. Pure Column algebra — no UDF.
    """
    if not 1 <= n_min <= n_max:
        raise ValueError("need 1 <= n_min <= n_max")
    if hash_buckets <= 0:
        raise ValueError("hash_buckets must be > 0")
    raw = F.coalesce(to_col(col), F.lit(""))
    canon = F.concat(
        F.lit(" "), F.regexp_replace(F.lower(F.trim(raw)), r"\s+", " "), F.lit(" ")
    )
    ln = F.length(canon)

    def gram_at(n: int):
        # a real closure, NOT ``lambda i, n=n``: PySpark derives the
        # HOF lambda's arity from its parameter count, and a
        # two-parameter lambda becomes the (element, index) binary
        # form — the default-arg trick silently binds n to the array
        # INDEX and hashes garbage substrings
        return lambda i: (
            _md5_60(F.encode(F.substring(canon, i, n), "UTF-8")) % hash_buckets
        )

    per_n = []
    for n in range(n_min, n_max + 1):
        # sequence(1, 0) would step BACKWARDS in Spark — guard short text
        buckets_n = F.when(
            ln >= n,
            F.transform(F.sequence(F.lit(1), ln - n + 1), gram_at(n)),
        ).otherwise(F.array().cast("array<long>"))
        per_n.append(buckets_n)
    # blank text canonicalizes to "  " (two boundary spaces) — that is
    # no content, not one bogus bigram
    return F.when(F.trim(raw) == "", F.array().cast("array<long>")).otherwise(
        F.flatten(F.array(*per_n))
    )


def train_char_langid(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    hash_buckets: int = 4096,
    n_min: int = 2,
    n_max: int = 4,
    alpha: float = 1.0,
) -> Tuple[DataFrame, DataFrame]:
    """Fit a multinomial-NB char-n-gram language model.

    Returns ``(grid, priors)``:

    * ``grid`` — ``(bucket, lang, w_micro)`` DENSE over buckets ×
      observed languages: ``w = ln((cnt + α) / (tot_lang + α·B))`` in
      integer micro-nats. Dense coverage (zero-count buckets get the
      smoothed floor) is what lets :func:`classify_lang` run a single
      join with no OOV branch.
    * ``priors`` — ``(lang, prior_micro)`` with
      ``prior = ln(docs_lang / docs_total)``.

    One explode + hash aggregate over the corpus, pinned eagerly (at
    most B × languages rows) so the language totals and the grid's join
    read the pin instead of each exploding and hashing the corpus
    again; the dense grid is a ``spark.range(B)`` cross-joined with the
    (tiny, broadcast) language list, left-joined to the counts — never
    a corpus-sized structure.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0")
    lab = to_col(label_col)
    counts = (
        df.select(
            lab.alias("lang"),
            F.explode(
                char_ngram_buckets(text_col, hash_buckets, n_min, n_max)
            ).alias("bucket"),
        )
        .groupBy("lang", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("__c__"))
        .localCheckpoint(eager=True)
    )
    tots = counts.groupBy("lang").agg(F.sum("__c__").cast("long").alias("__tot__"))
    spark = df.sparkSession
    grid = (
        spark.range(hash_buckets)
        .select(F.col("id").cast("long").alias("bucket"))
        .crossJoin(F.broadcast(tots))
        .join(counts, ["lang", "bucket"], "left")
        .select(
            "bucket",
            "lang",
            _micro(
                _ln_smoothed(
                    F.col("__c__"), F.col("__tot__"), alpha, F.lit(float(hash_buckets))
                )
            ).alias("w_micro"),
        )
    )
    docs = df.select(lab.alias("lang")).groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("__d__")
    )
    total = docs.agg(F.sum("__d__").alias("__t__"))
    priors = docs.crossJoin(F.broadcast(total)).select(
        "lang",
        _micro(
            F.log(F.col("__d__").cast("double")) - F.log(F.col("__t__").cast("double"))
        ).alias("prior_micro"),
    )
    return grid, priors


def classify_lang(
    df: DataFrame,
    grid: DataFrame,
    priors: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_buckets: int = 4096,
    n_min: int = 2,
    n_max: int = 4,
    default: str = "und",
) -> DataFrame:
    """Score documents against a trained char-n-gram NB model.

    ``score(doc, lang) = prior(lang) + Σ_grams w(lang, bucket)`` —
    exact long arithmetic in micro-nats. Output one row per distinct
    id (a NULL id is one group): ``(id, lang_pred, score_micro,
    margin_micro, n_grams)`` where ``margin_micro`` is best − runner-up
    (a confidence signal; CCNet thresholds on exactly this) and
    ``n_grams`` counts the grams the grid matched. Documents with no
    matched grams (blank or NULL text) predict ``default`` with NULL
    score/margin.

    Ties (possible only on degenerate inputs — scores are integer
    sums) break toward the lexicographically LAST language, matching
    ``max(struct(score, lang))``; the oracle replays the same rule.

    Plan shape: the dense grid is pivoted to one weight ARRAY per
    bucket (lang-sorted), so each gram occurrence joins exactly ONE
    broadcast row and the per-document aggregate carries L column
    sums — no ×L row fanout anywhere (the fanout form measured ~3×
    slower at bench scale). The argmax is then a per-row expression
    over L scored structs. Long sums are order-independent, so the
    rewrite is bit-identical to the reference formulation the DuckDB
    oracle replays. Priors are collected here (bounded: one row per
    language — the same driver sync the trainers do).
    """
    langs_priors = sorted(
        (r["lang"], int(r["prior_micro"])) for r in priors.collect()
    )
    if not langs_priors:
        raise ValueError("priors is empty — train the model first")
    n_langs = len(langs_priors)
    grid_arr = grid.groupBy("bucket").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("lang", "w_micro"))),
            lambda x: x["w_micro"],
        ).alias("__warr__")
    )
    ex = df.select(
        F.col(id_col),
        F.explode_outer(
            char_ngram_buckets(text_col, hash_buckets, n_min, n_max)
        ).alias("bucket"),
    )
    agg = (
        ex.join(F.broadcast(grid_arr), "bucket", "left")
        .groupBy(id_col)
        .agg(
            F.count("__warr__").cast("long").alias("n_grams"),
            *[
                F.sum(F.col("__warr__")[i]).cast("long").alias(f"__s{i}__")
                for i in range(n_langs)
            ],
        )
    )
    cands = F.array(
        *[
            F.struct(
                (F.col(f"__s{i}__") + F.lit(prior)).alias("__score__"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, prior) in enumerate(langs_priors)
        ]
    )
    ranked = F.reverse(F.array_sort(cands))
    top = ranked[0]
    second = F.when(F.lit(n_langs > 1), ranked[1])
    return agg.select(
        id_col,
        F.when(F.col("n_grams") > 0, top["lang"])
        .otherwise(F.lit(default))
        .alias("lang_pred"),
        top["__score__"].alias("score_micro"),
        (top["__score__"] - F.coalesce(second["__score__"], top["__score__"])).alias(
            "margin_micro"
        ),
        "n_grams",
    )
