"""Corpus term statistics: per-document TF-IDF top terms — the
classic keyword/topic signal used for corpus exploration and
mixture diagnostics.

Scale shape: explode → two map-side-combinable aggregations (per-doc
term frequency; per-term document frequency) → one hash join on the
term → a *partitioned* window for the per-document top-k. No global
window, no UDF, no driver collect; the corpus total is a 1-row
broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kolang_spark.llm.textstats import _micro, _words, tokenize, word_ngrams

__all__ = ["tfidf_top_terms", "vocabulary", "ngram_novelty", "pmi_collocations", "oov_stats"]


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Top-``k`` terms per document by TF-IDF.

    Returns ``(id_col, term, tf, df_term, tfidf, rank)``. TF is the raw
    in-document count; ``df_term`` the number of distinct documents
    containing the term; ``tfidf = tf * ln((N+1)/(df_term+1))`` with the
    +1 smoothing that keeps corpus-universal terms finite.

    The ranking contract is deliberately *integer-only*: ``tf`` desc,
    then ``df_term`` asc (rarer term wins ties), then ``term`` asc.
    This makes the top-k reproducible bit-exact on any engine — a
    float-ordered ranking would be at the mercy of the platform's
    ``ln``; the float ``tfidf`` itself is informational output.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    toks = _words(text_col, lowercase)
    # explode_outer, not explode: bare explode makes the optimizer infer
    # and push `size(toks)>0`, re-running the tokenizer in the filter;
    # the existing `term != ''` already drops the outer NULL rows
    terms = df.select(F.col(id_col), F.explode_outer(toks).alias("term")).where(
        F.col("term") != ""
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_term = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df_term")
    )
    n_docs = df.select(
        F.count_distinct(F.col(id_col)).cast("double").alias("__n_docs__")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df_term").asc(), F.col("term").asc()
    )
    return (
        tf.join(df_term, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((F.col("__n_docs__") + 1) / (F.col("df_term") + 1)),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df_term", "tfidf", "rank")
    )
def vocabulary(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_size: int = 30000,
    min_df: int = 1,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus vocabulary: the ``max_size`` most frequent terms with
    their corpus term frequency and document frequency — the
    tokenizer-training / feature-hashing prep step every text pipeline
    runs before anything else.

    Scale shape: explode → one map-side-combinable ``(id, term)``
    aggregate reused for both statistics (``tf`` = total occurrences,
    ``df_term`` = distinct docs) → ``min_df`` filter →
    ``orderBy().limit(max_size)``, which compiles to
    TakeOrderedAndProject: per-partition top-k then a k-row driver
    merge — no global window, no full sort. The ordering contract is
    integer-only and total (``tf`` desc, ``term`` asc), so the selected
    vocabulary is reproducible bit-exact on any engine.

    Returns ``(term, tf, df_term)``.
    """
    if max_size < 1:
        raise ValueError("max_size must be >= 1")
    if min_df < 1:
        raise ValueError("min_df must be >= 1")
    toks = _words(text_col, lowercase)
    # explode_outer: see tfidf_top_terms — bare explode would push a
    # size()>0 filter that re-runs the tokenizer expression
    terms = df.select(F.col(id_col), F.explode_outer(toks).alias("term")).where(
        F.col("term") != ""
    )
    per_doc = terms.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("__tf_doc")
    )
    stats = per_doc.groupBy("term").agg(
        F.sum("__tf_doc").cast("long").alias("tf"),
        F.count(F.lit(1)).cast("long").alias("df_term"),
    )
    if min_df > 1:
        stats = stats.where(F.col("df_term") >= min_df)
    return stats.orderBy(F.col("tf").desc(), F.col("term").asc()).limit(max_size)


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Cross-document n-gram novelty per document: the fraction of a
    document's *distinct* word-``n``-gram shingles that occur in no
    other document.

    The within-document repetition signals
    (:func:`kolang_spark.llm.textstats.repetition_metrics`) can't see
    a page that is internally varied but assembled from corpus-wide
    boilerplate — product listings, legal footers, templated news
    wire. Low novelty (most shingles shared with other docs) flags
    exactly that; it is the document-level inverse of the
    "duplicated n-gram fraction" family of Gopher/FineWeb filters.

    Scale shape: shingle → explode → one map-side-combinable document
    frequency aggregate → one equi-join back on the shingle → per-doc
    counts. Hot shingles make big df counts, never big join fanout
    (the df side is one row per distinct shingle). No window, no UDF,
    no driver collect.

    Returns ``(id_col, n_shingles, n_novel, novelty)``, one row per
    distinct id (a NULL id is one group); documents shorter than ``n``
    words have no shingles and get ``(0, 0, NULL)``.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    from kolang_spark.utils import ensure_min_parallelism

    tok = "__ks_tokens"
    ex = (
        ensure_min_parallelism(df)
        .select(F.col(id_col), tokenize(F.col(text_col)).alias(tok))
        .select(
            F.col(id_col),
            F.explode_outer(
                F.array_distinct(word_ngrams(F.col(tok), n))
            ).alias("shingle"),
        )
    )
    # each doc contributes a distinct shingle once, so COUNT == doc freq
    dfreq = (
        ex.where(F.col("shingle").isNotNull())
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("__df_cnt"))
    )
    per_doc = (
        ex.join(dfreq, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count("shingle").cast("long").alias("n_shingles"),
            F.count(F.when(F.col("__df_cnt") == 1, 1))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        id_col,
        "n_shingles",
        "n_novel",
        F.when(
            F.col("n_shingles") > 0, F.col("n_novel") / F.col("n_shingles")
        ).alias("novelty"),
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 100,
    min_count: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Corpus collocations by pointwise mutual information: the top
    adjacent word pairs whose co-occurrence beats chance —
    ``PMI(a,b) = ln( c(ab)·N / (c(a)·c(b)) )`` (Church & Hanks 1990).
    The standard phrase-mining / tokenizer-merge-candidate /
    machine-translation-diagnostic signal; ``min_count`` is the
    classic guard against PMI's rare-pair bias.

    Scale shape: two map-side-combinable aggregates (adjacent-bigram
    counts; unigram counts) + two hash joins on the term + a 1-row
    broadcast total + TakeOrderedAndProject for the top-k — no window,
    no UDF, no driver collect.

    Determinism: PMI is stored as exact micro-nats
    (``textstats._micro`` of ``ln(·)``), and the top-k order is total:
    ``pmi_micro`` desc, then ``(term_a, term_b)`` asc, so the selected
    set is engine-reproducible.

    Returns ``(term_a, term_b, c_ab, c_a, c_b, pmi_micro)``.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = F.filter(_words(text_col, lowercase), lambda t: t != "")

    big = df.select(F.explode_outer(word_ngrams(toks, 2)).alias("bg")).where(
        F.col("bg").isNotNull()
    )
    big_c = big.groupBy("bg").agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    uni = df.select(F.explode_outer(toks).alias("term")).where(
        F.col("term").isNotNull()
    )
    uni_c = uni.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("c"))
    total = uni_c.agg(F.sum("c").cast("double").alias("__n_total__"))

    pairs = big_c.select(
        F.split("bg", " ").getItem(0).alias("term_a"),
        F.split("bg", " ").getItem(1).alias("term_b"),
        "c_ab",
    ).where(F.col("c_ab") >= min_count)
    a = uni_c.select(F.col("term").alias("term_a"), F.col("c").alias("c_a"))
    b = uni_c.select(F.col("term").alias("term_b"), F.col("c").alias("c_b"))
    # fixed parenthesization (c_ab·N) / (c_a·c_b), doubles first — the
    # oracle mirrors it exactly; integer products could overflow at
    # corpus scale
    pmi = _micro(
        F.log(
            (F.col("c_ab").cast("double") * F.col("__n_total__"))
            / (F.col("c_a").cast("double") * F.col("c_b").cast("double"))
        )
    )
    return (
        pairs.join(a, "term_a")
        .join(b, "term_b")
        .crossJoin(F.broadcast(total))
        .select("term_a", "term_b", "c_ab", "c_a", "c_b", pmi.alias("pmi_micro"))
        .orderBy(
            F.col("pmi_micro").desc(), F.col("term_a").asc(), F.col("term_b").asc()
        )
        .limit(top_k)
    )


def oov_stats(
    df: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
    lowercase: bool = True,
) -> DataFrame:
    """Out-of-vocabulary rate per document against a vocabulary table —
    the tokenizer-coverage / domain-shift diagnostic: a corpus slice
    whose OOV rate spikes against the training vocabulary is exactly
    the slice the tokenizer will shred into bytes.

    ``vocab`` is any DataFrame with a ``term_col`` string column
    (:func:`vocabulary` output plugs in directly). Matching mirrors
    the vocabulary builder: whitespace tokens, optional lowercase,
    empties dropped.

    Scale shape: explode → one equi-join against the vocabulary on the
    term (vocab-sized side, hash join — NOT forced broadcast: a real
    tokenizer vocab is 10⁴-10⁵ rows and AQE will broadcast it on its
    own, but a character-level or n-gram "vocabulary" can be 10⁸) →
    one map-side-combinable per-doc aggregate.

    Returns ``(id_col, n_tokens, n_oov, oov_rate)``, one row per
    distinct id (a NULL id is one group); documents with no tokens get
    ``(0, 0, NULL)``.
    """
    v = vocab.select(
        F.col(term_col).cast("string").alias("__vt__"),
        F.lit(True).alias("__in_vocab__"),
    ).distinct()
    toks = F.filter(_words(text_col, lowercase), lambda t: t != "")
    terms = df.select(F.col(id_col), F.explode_outer(toks).alias("__t__"))
    per_doc = (
        terms.join(v, terms["__t__"] == v["__vt__"], "left")
        .groupBy(id_col)
        .agg(
            F.count("__t__").cast("long").alias("n_tokens"),
            F.count(
                F.when(F.col("__t__").isNotNull() & F.col("__in_vocab__").isNull(), 1)
            )
            .cast("long")
            .alias("n_oov"),
        )
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_oov",
        F.when(
            F.col("n_tokens") > 0, F.col("n_oov") * F.lit(1.0) / F.col("n_tokens")
        ).alias("oov_rate"),
    )
