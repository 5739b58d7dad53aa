"""Text analysis: tokenization, quality scoring, language ID,
fingerprinting, SimHash — all pure Column algebra (no UDFs).

Scale posture: every function here is a per-row scalar expression —
embarrassingly parallel, codegen-compiled, no shuffle, no Python.

It also holds the fixed-point core of the count-model text scorers
(language ID, the log-odds classifier, DSIR, the LMs, BM25, PMI), which
the DuckDB oracle replays with the same arithmetic: one token rule
(:func:`_words`), integer micro-units (:data:`MICRO`, :func:`_micro`)
and one additively-smoothed log-probability (:func:`_ln_smoothed`).
Their hashed features use the 60-bit md5 gate
:func:`kolang_spark.utils._md5_60`.
"""

from __future__ import annotations

from typing import Dict, List, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from kolang_spark.utils import ColumnOrName, _md5_60, bind_once, to_col

__all__ = [
    "tokenize",
    "gopher_quality_flags",
    "token_count",
    "word_ngrams",
    "quality_metrics",
    "lang_id",
    "doc_fingerprint",
    "simhash",
]


def tokenize(col: ColumnOrName, pattern: str = r"\s+") -> Column:
    """Split text into tokens (array<string>); empty text → empty array."""
    c = F.trim(to_col(col))
    return F.when(c == "", F.array().cast("array<string>")).otherwise(
        F.split(c, pattern)
    )


def _words(col: ColumnOrName, lowercase: bool) -> Column:
    """The scorers' token rule: :func:`tokenize`, then each token
    lowercased when ``lowercase``. Empty tokens stay in the array; each
    caller drops them where its plan always has (in the array, or after
    the explode)."""
    t = tokenize(col)
    if lowercase:
        t = F.transform(t, lambda x: F.lower(x))
    return t


MICRO = 1e6
"""Micro-units per unit: the scorers store ``round(x · MICRO)`` longs,
so per-document sums are exact and order-independent."""


def _micro(x: Column) -> Column:
    """``x`` in integer micro-units: ``round(x · MICRO)`` as a long."""
    return F.round(x * F.lit(MICRO)).cast("long")


def _ln_smoothed(cnt: Column, tot: Column, alpha: float, size: Column) -> Column:
    """Additively-smoothed log-probability
    ``ln(coalesce(cnt, 0) + α) − ln(tot + α·size)`` over an event space
    of ``size`` (a double Column); a NULL ``cnt`` (an unseen event) gets
    the smoothed floor."""
    a = F.lit(float(alpha))
    return F.log(F.coalesce(cnt, F.lit(0)).cast("double") + a) - F.log(
        tot.cast("double") + a * size
    )


def token_count(col: ColumnOrName, pattern: str = r"\s+") -> Column:
    """Whitespace token count. For a BPE-ish subword estimate use
    ``bpe_token_estimate``."""
    return F.size(tokenize(col, pattern))


def bpe_token_estimate(col: ColumnOrName) -> Column:
    """Crude BPE-style token estimate: count of word-piece matches
    (``\\w+`` runs split ~4 chars apiece) plus standalone punctuation.
    Deterministic, JVM-side, and trainer-free — a quick screening
    metric. When the budget actually matters (packing, chunking,
    mixing), train real merges and count with
    :func:`kolang_spark.llm.bpe.bpe_token_count` — equally JVM-side
    (pure Column replaces), just requiring a trained merge table."""
    c = to_col(col)
    word_chars = F.length(F.regexp_replace(c, r"[^\w]", ""))
    punct = F.length(F.regexp_replace(c, r"[\w\s]", ""))
    return (F.ceil(word_chars / 4) + punct).cast("long")


def word_ngrams(words: Column, n: int) -> Column:
    """Contiguous word n-grams (space-joined) from a token array.

    Pure expression: ``transform(sequence(...))`` over the array — no
    explode, no shuffle. Shorter-than-n docs yield an empty array.

    The token array is let-bound (:func:`bind_once`) so callers may pass
    a full tokenizer expression without it being re-evaluated once per
    ``element_at`` per gram (HOF lambdas get no subexpression
    elimination).
    """
    if n < 1:
        raise ValueError("n must be >= 1")

    def build(w: Column) -> Column:
        count = F.size(w) - (n - 1)
        idx = F.sequence(F.lit(0), count - 1)
        gram = lambda i: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(w, (i + k + 1).cast("int")) for k in range(n)]
        )
        return F.when(count > 0, F.transform(idx, gram)).otherwise(
            F.array().cast("array<string>")
        )

    return bind_once(words, build)


def quality_metrics(col: ColumnOrName) -> Dict[str, Column]:
    """Length / punctuation / digit / stopword ratios + composite score.

    Returns a dict of named Columns so callers select what they need.
    All ratios are over character length (punct, digit) or token count
    (stopword); the composite ``quality_score`` rewards normal-length,
    low-punctuation, stopword-bearing prose — the standard cheap
    pretraining-quality heuristic family.
    """
    c = to_col(col)
    n_chars = F.length(c)
    n_tokens = F.size(tokenize(c))
    stop_re = r"\b(the|a|an|of|to|and|in|is|it|that|for|on|was|with|as|be)\b"
    n_stop = F.size(F.regexp_extract_all(F.lower(c), F.lit(stop_re), 0))
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    n_digit = F.size(F.regexp_extract_all(c, F.lit(r"[0-9]"), 0))

    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(0.0)
    digit_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_tokens > 0, n_stop / n_tokens).otherwise(0.0)
    mean_word_len = F.when(
        n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens
    ).otherwise(0.0)

    # integer point scale (0-100): exact in every engine, no float
    # accumulation drift in downstream aggregations
    length_ok = (n_chars >= 50) & (n_chars <= 100_000)
    word_len_ok = (mean_word_len >= 2) & (mean_word_len <= 12)
    score = (
        F.when(length_ok, 40).otherwise(0)
        + F.when(word_len_ok, 20).otherwise(0)
        + F.when(punct_ratio <= 0.2, 20).otherwise(0)
        + F.when(stop_ratio >= 0.05, 20).otherwise(0)
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "stop_ratio": stop_ratio,
        "mean_word_len": mean_word_len,
        "quality_score": score.cast("long"),
    }


# language marker word sets — tiny, deterministic n-gram/stopword heuristic
_LANG_MARKERS: Dict[str, str] = {
    "en": r"\b(the|and|of|to|is|was|for|with|that|this)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b",
    "fr": r"\b(le|la|les|et|est|pas|pour|dans|une|que)\b",
    "es": r"\b(el|la|los|las|es|y|no|por|una|que)\b",
}


def lang_id(col: ColumnOrName, default: str = "und") -> Column:
    """Cheap deterministic language ID.

    Priority: CJK codepoint presence → ``zh``; Arabic-block presence →
    ``fa``; else argmax of per-language stopword-marker hit counts
    (ties broken by fixed language order); no hits → ``default``.

    This is a *heuristic* (the classic fasttext-free fallback); at 100 TB
    it costs a handful of regex scans per row, all codegen-compiled.
    """
    c = F.lower(to_col(col))
    counts = {
        lang: F.size(F.regexp_extract_all(c, F.lit(pat), 0))
        for lang, pat in _LANG_MARKERS.items()
    }
    best = F.greatest(*counts.values())
    pick = F.lit(default)
    # reversed so earlier languages win ties via later .when precedence
    for lang in reversed(list(_LANG_MARKERS)):
        pick = F.when(counts[lang] == best, F.lit(lang)).otherwise(pick)
    pick = F.when(best == 0, F.lit(default)).otherwise(pick)

    has_cjk = c.rlike(r"[一-鿿]")
    has_arabic = c.rlike(r"[؀-ۿ]")
    return F.when(has_cjk, "zh").when(has_arabic, "fa").otherwise(pick)


def doc_fingerprint(col: ColumnOrName) -> Column:
    """Deterministic document fingerprint: md5 of the canonical text
    (lowercased, whitespace-collapsed, trimmed).

    Deliberately NOT flipped to xxhash64 with the r11 minhash/simhash
    default: EXACT dedup rides on hash equality alone, and a 64-bit
    hash has ~40% birthday-collision odds at 4B docs (real at 100 TB)
    — a collision here silently DELETES a distinct document. md5's
    128 bits make that ~2⁻⁶⁴-scale; the hex cost is per-doc (not
    per-shingle like minhash), so the production tax is ~100× smaller
    than the one the r11 flip removed. Engine-portability for the
    DuckDB oracle comes free with the same choice.
    """
    canon = F.trim(F.regexp_replace(F.lower(to_col(col)), r"\s+", " "))
    return F.md5(F.encode(canon, "UTF-8"))


def repetition_metrics(col: ColumnOrName, ngram: int = 2) -> Dict[str, Column]:
    """Within-document repetition signals (the Gopher/C4 rule family):
    excessive repetition is a strong low-quality marker for pretraining
    corpora.

    * ``dup_word_ratio`` — fraction of word occurrences that repeat an
      earlier word: ``1 − distinct/total``.
    * ``top_word_ratio`` — occurrences of the most frequent word over
      total words. Computed as the longest run in the *sorted* token
      array via one O(n) ``aggregate`` fold (no explode, no shuffle) —
      the mode count without a groupBy.
    * ``dup_ngram_ratio`` — same dup fraction over contiguous word
      ``ngram``-grams (default 2).

    Pure per-row Column algebra: one ``tokenize`` (let-bound so the HOF
    lambdas don't re-evaluate it), ``array_sort`` + fold, ``size`` /
    ``array_distinct``. Zero shuffles; scales with cores, not data
    layout.
    """
    c = to_col(col)

    def build(w: Column) -> Dict[str, Column]:
        n = F.size(w)
        nd = F.size(F.array_distinct(w))
        grams = word_ngrams(w, ngram)
        ng = F.size(grams)
        ngd = F.size(F.array_distinct(grams))
        # longest equal run in the sorted array == max word frequency
        run_best = F.aggregate(
            F.array_sort(w),
            F.struct(
                F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(1).alias("run"),
                F.greatest(
                    acc["best"],
                    F.when(x == acc["prev"], acc["run"] + 1).otherwise(1),
                ).alias("best"),
            ),
            lambda acc: acc["best"],
        )
        # NULL text: size(split(NULL)) is NULL — coalesce so NULL and ""
        # both report n_words=0 (matches the DuckDB oracle's COALESCE).
        n0 = F.coalesce(n, F.lit(0))
        return {
            "n_words": n0.cast("long"),
            "dup_word_ratio": F.when(n0 > 0, (n - nd) / n).otherwise(0.0),
            "top_word_ratio": F.when(n0 > 0, run_best / n).otherwise(0.0),
            "dup_ngram_ratio": F.when(F.coalesce(ng, F.lit(0)) > 0, (ng - ngd) / ng).otherwise(0.0),
        }

    bound = bind_once(
        tokenize(c),
        lambda w: F.struct(*[v.alias(k) for k, v in build(w).items()]),
    )
    keys = ["n_words", "dup_word_ratio", "top_word_ratio", "dup_ngram_ratio"]
    return {k: bound[k] for k in keys}


def _token_hash60(token: Column, hash_fn: str = "xxhash64") -> Column:
    """60-bit integer hash of a token.

    ``hash_fn='xxhash64'`` (default since r11 — the production hash):
    one JVM hash, no hex string round-trip — ~10× cheaper per token.
    Signed 64-bit, but simhash only inspects bits 0..59, where two's
    complement agrees with the unsigned bit pattern.

    ``hash_fn='md5'``: the engine-portable gate of
    :func:`kolang_spark.utils._md5_60` — the knob the oracle-replayed
    driver queries pin explicitly (oracle isolation).
    """
    if hash_fn == "xxhash64":
        return F.xxhash64(token)
    if hash_fn != "md5":
        raise ValueError("hash_fn must be 'md5' or 'xxhash64'")
    return _md5_60(F.encode(token, "UTF-8"))


def simhash(col: ColumnOrName, bits: int = 16, hash_fn: str = "xxhash64") -> Column:
    """SimHash of the whitespace-token set (default 16 bits).

    Per bit *b*: set iff a strict majority of token hashes have bit *b*
    set. Near-duplicate texts yield equal/近-equal signatures (low
    Hamming distance). Pure array-expression implementation — token
    hashes computed once into an array, then ``bits`` filter-counts; no
    explode, no shuffle, no UDF.

    ``hash_fn``: ``'xxhash64'`` (production default since r11 — one
    JVM hash per token) or ``'md5'`` (engine-portable hex round-trip,
    pinned by the oracle-replayed driver queries). Signatures differ
    across hash_fns by construction; the *semantics* (near-dups ⇒ low
    Hamming distance) are identical.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60]")

    def build(hashes: Column) -> Column:
        n = F.size(hashes)
        sig = F.lit(0).cast("long")
        for b in range(bits):
            mask = 1 << b
            cnt = F.size(F.filter(hashes, lambda h: h.bitwiseAND(F.lit(mask)) != 0))
            sig = sig + F.when(cnt * 2 > n, F.lit(mask)).otherwise(0)
        return sig

    # let-bind the hash array: without bind_once the tokenize+hash
    # transform would be re-evaluated once per bit (16×) — HOF lambdas
    # get no subexpression elimination
    return bind_once(
        F.transform(tokenize(col), lambda t: _token_hash60(t, hash_fn)), build
    )


# the Gopher rule constants (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1 — public)
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(col: ColumnOrName) -> Dict[str, Column]:
    """The Gopher document-quality rule bundle (Rae et al. 2021 —
    the published filter set MassiveWeb/Gopher used, since reused by
    RedPajama/Dolma/FineWeb pipelines), as pure Column algebra:

    * ``n_words`` in [50, 100 000];
    * ``mean_word_len`` in [3, 10];
    * symbol-to-word ratio ≤ 0.1 for BOTH ``#`` and ellipsis
      (``...`` / ``…``);
    * ≤ 90% of lines start with a bullet (``•``/``-``/``*``);
    * ≤ 30% of lines end with an ellipsis;
    * ≥ 80% of words contain at least one alphabetic character;
    * at least 2 distinct members of the 8-word stop list
      {the, be, to, of, and, that, have, with}.

    Returns the named ratio/flag Columns plus the composite
    ``gopher_pass``. One projection per document — no shuffle, no
    UDF, codegen-compiled; at 100 TB this is a scan-riding gate.
    """
    c = to_col(col)
    lower = F.lower(c)

    def build(words: Column) -> Dict[str, Column]:
        n_words = F.coalesce(F.size(words), F.lit(0))
        n_chars_in_words = F.aggregate(
            words, F.lit(0), lambda acc, w: acc + F.length(w)
        )
        mean_word_len = F.when(
            n_words > 0, n_chars_in_words / n_words
        ).otherwise(0.0)
        n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
        alpha_word_ratio = F.when(
            n_words > 0, n_alpha_words / n_words
        ).otherwise(0.0)
        n_hash = F.size(F.regexp_extract_all(c, F.lit(r"#"), 0))
        # count "…" and "..." as one symbol each (longest-first
        # alternation so "...." is one ellipsis + one stray dot)
        n_ellipsis = F.size(
            F.regexp_extract_all(c, F.lit(r"(\.\.\.|…)"), 0)
        )
        hash_word_ratio = F.when(n_words > 0, n_hash / n_words).otherwise(0.0)
        ellipsis_word_ratio = F.when(
            n_words > 0, n_ellipsis / n_words
        ).otherwise(0.0)

        lines = F.filter(
            F.split(F.coalesce(c, F.lit("")), "\n"),
            lambda ln: F.trim(ln) != "",
        )
        n_lines = F.size(lines)
        n_bullet = F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike(r"^[•\-\*]"))
        )
        n_ell_end = F.size(
            F.filter(lines, lambda ln: F.trim(ln).rlike(r"(\.\.\.|…)$"))
        )
        bullet_line_ratio = F.when(n_lines > 0, n_bullet / n_lines).otherwise(0.0)
        ellipsis_line_ratio = F.when(n_lines > 0, n_ell_end / n_lines).otherwise(0.0)

        n_stop_distinct = sum(
            F.when(lower.rlike(rf"\b{w}\b"), 1).otherwise(0)
            for w in _GOPHER_STOPWORDS
        ).cast("int")

        gopher_pass = (
            (n_words >= 50)
            & (n_words <= 100_000)
            & (mean_word_len >= 3)
            & (mean_word_len <= 10)
            & (hash_word_ratio <= 0.1)
            & (ellipsis_word_ratio <= 0.1)
            & (bullet_line_ratio <= 0.9)
            & (ellipsis_line_ratio <= 0.3)
            & (alpha_word_ratio >= 0.8)
            & (n_stop_distinct >= 2)
        )
        return {
            "n_words": n_words.cast("long"),
            "mean_word_len": mean_word_len,
            "hash_word_ratio": hash_word_ratio,
            "ellipsis_word_ratio": ellipsis_word_ratio,
            "bullet_line_ratio": bullet_line_ratio,
            "ellipsis_line_ratio": ellipsis_line_ratio,
            "alpha_word_ratio": alpha_word_ratio,
            "n_stop_distinct": n_stop_distinct,
            "gopher_pass": gopher_pass,
        }

    bound = bind_once(
        tokenize(c),
        lambda w: F.struct(*[v.alias(k) for k, v in build(w).items()]),
    )
    keys = [
        "n_words",
        "mean_word_len",
        "hash_word_ratio",
        "ellipsis_word_ratio",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "alpha_word_ratio",
        "n_stop_distinct",
        "gopher_pass",
    ]
    return {k: bound[k] for k in keys}
