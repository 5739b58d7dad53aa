"""Real byte-pair encoding: distributed merge TRAINING + pure-Column
merge APPLICATION — replaces the chars/4-style
:func:`kolang_spark.llm.textstats.bpe_token_estimate` heuristic
wherever token budgets actually matter (packing, chunking, mixing).

Design (Spark-first, oracle-replayable):

- **Training** (:func:`bpe_train`) is the standard two-phase shape
  every production BPE trainer uses (Sennrich et al. 2016,
  subword-nmt): the corpus scan is distributed (one
  ``explode``/``groupBy`` word-count aggregation — the only part that
  touches 100 TB), then the merge loop runs driver-side over the
  BOUNDED top-``max_words`` word-frequency table (a few thousand rows
  — word types, not corpus tokens). Determinism: ties in pair
  frequency break lexicographically, and the word-table cutoff orders
  by (count desc, word asc), so the same corpus always yields the
  same merge table.

- **Application** (:func:`bpe_encode`) is pure Column algebra — no
  UDF, no explode, fully inside whole-stage codegen. The token state
  is a separator-delimited string (``\\x1f`` between tokens, ``\\x1e``
  at word boundaries so merges can never cross words); applying merge
  ``(l, r)`` is the literal string replace ``␟l␟r␟ → ␟lr␟``, run
  ``FIXPOINT_PASSES`` times per rank (each pass is leftmost
  non-overlapping, so bounded passes converge for the run lengths
  real text has). Merges apply in rank order — the same in-order
  sweep subword-nmt's ``apply_bpe`` performs. Every step is a literal
  ``replace``, so a DuckDB oracle replays the whole pipeline —
  training included — exactly.

Not in scope: byte-level pre-tokenization (GPT-2-style) and
end-of-word markers — both change the merge alphabet, neither changes
the Spark shape. The separator chars are stripped from input text
first, so adversarial documents cannot forge token boundaries.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kolang_spark.functions.core import ColumnOrName, to_col
from kolang_spark.llm.textstats import tokenize

__all__ = [
    "bpe_train",
    "bpe_encode",
    "bpe_token_count",
    "bpe_merges_df",
    "bpe_vocab",
    "save_tokenizer",
    "bpe_vocab_ids",
    "bpe_encode_ids",
    "load_tokenizer",
    "encode_text",
    "FIXPOINT_PASSES",
    "COLUMN_ENGINE_MAX_MERGES",
]

SEP = "\x1f"  # unit separator: token boundary inside a word
BOUND = "\x1e"  # record separator: word boundary — merges never cross
FIXPOINT_PASSES = 3


def _encode_word(word: str) -> str:
    return SEP + SEP.join(word) + SEP


def _apply_merge_str(enc: str, left: str, right: str) -> str:
    """One merge rank applied to a separator-string: the exact
    ``FIXPOINT_PASSES``-pass literal replace the Column/SQL sides run
    (unconditional passes == early-exit-on-fixpoint, so the early exit
    here is just a fast path)."""
    pat = SEP + left + SEP + right + SEP
    rep = SEP + left + right + SEP
    for _ in range(FIXPOINT_PASSES):
        nxt = enc.replace(pat, rep)
        if nxt == enc:
            break
        enc = nxt
    return enc


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 32,
    max_words: int = 2000,
) -> List[Tuple[str, str]]:
    """Learn ``num_merges`` BPE merges from a text column; returns
    ``[(left, right), ...]`` in rank order.

    Scale shape: ONE distributed pass builds the word-frequency table
    (explode + map-side-combinable groupBy count); the driver collects
    only the top ``max_words`` word TYPES (count desc, word asc — a
    deterministic cutoff), which bounds driver memory at
    O(max_words · avg_word_len) regardless of corpus size. The merge
    loop then runs on that table alone — the standard trainer shape
    (corpus token count never matters after the aggregation).

    Words containing the internal separator bytes (``\\x1e``/``\\x1f``)
    have them stripped first — they cannot occur in honest text and
    would otherwise forge token boundaries.
    """
    if num_merges < 0:
        raise ValueError("num_merges must be >= 0")
    rows = (
        df.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .select(F.regexp_replace("w", "[" + BOUND + SEP + "]", "").alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .count()
        .orderBy(F.col("count").desc(), F.col("w").asc())
        .limit(max_words)  # bounded collect: <= max_words word types
        .collect()
    )
    vocab = {_encode_word(r["w"]): int(r["count"]) for r in rows}
    merges: List[Tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: dict = {}
        for enc, cnt in vocab.items():
            toks = [t for t in enc.split(SEP) if t]
            for i in range(len(toks) - 1):
                key = (toks[i], toks[i + 1])
                pairs[key] = pairs.get(key, 0) + cnt
        if not pairs:
            break
        # argmax with the SAME tie-break the SQL replay uses:
        # ORDER BY count DESC, (l || SEP || r) ASC LIMIT 1 — UTF-8 byte
        # order equals codepoint order, so Python str compare matches
        # DuckDB's binary collation
        (left, right), _ = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0] + SEP + kv[0][1])
        )
        merges.append((left, right))
        nxt: dict = {}
        for enc, cnt in vocab.items():
            ne = _apply_merge_str(enc, left, right)
            nxt[ne] = nxt.get(ne, 0) + cnt
        vocab = nxt
    return merges


# the merge table's schema, declared again when a saved artifact is
# read back so the read infers nothing from the footers
_MERGES_SCHEMA = "rank int, left string, right string, merged string"


def bpe_merges_df(spark, merges: List[Tuple[str, str]]) -> DataFrame:
    """The merge table as a DataFrame ``(rank, left, right, merged)``
    — persist it next to the corpus so encode jobs don't retrain."""
    return spark.createDataFrame(
        [(i, l, r, l + r) for i, (l, r) in enumerate(merges)],
        _MERGES_SCHEMA,
    )


def bpe_vocab(merges: List[Tuple[str, str]]) -> List[str]:
    """The token vocabulary a merge table induces: every SYMBOL that
    can appear in an encode output — the single characters the merges
    mention plus each rank's merged token, first-occurrence order,
    deduplicated. (Characters never seen by any merge pass through
    encode unchanged, so like every real BPE tokenizer the persisted
    vocab is open: unseen characters are their own tokens.)"""
    seen: dict = {}
    for left, right in merges:
        for sym in (left, right):
            if len(sym) == 1:
                seen.setdefault(sym, None)
        seen.setdefault(left + right, None)
    return list(seen)


def save_tokenizer(merges: List[Tuple[str, str]], path: str, spark=None) -> None:
    """Persist a trained tokenizer as ONE portable parquet table at
    ``path``: ``(rank int, left string, right string, merged string)``
    — the real pipeline shape (train once on the big corpus, encode
    everywhere from the artifact). The table is vocabulary-sized
    (thousands of rows), written as a single file via
    ``repartition(1)`` so the artifact is one object on S3/HDFS; the
    induced vocab is derivable (:func:`bpe_vocab`), so merges are the
    only state worth shipping. Overwrites ``path``. ``spark`` defaults
    to the active session.

    ``repartition(1)``, deliberately NOT ``coalesce(1)`` (r14,
    measured): ``createDataFrame`` parallelizes the local merge list
    into ``defaultParallelism`` pickled partitions, and a
    shuffle-free ``coalesce(1)`` funnels ALL of them through ONE task
    that pays each partition's Python->JVM conversion round trip
    SEQUENTIALLY — ~150 ms × cores (measured 5.3 s on local[32] for
    an 18-row table; 0.5 s via repartition, whose conversion tasks
    run in parallel before the 1-partition shuffle of the tiny
    table)."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError("no active SparkSession; pass spark=")
    bpe_merges_df(spark, merges).repartition(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_tokenizer(spark, path: str) -> List[Tuple[str, str]]:
    """Load a :func:`save_tokenizer` artifact back into the in-memory
    ``[(left, right), ...]`` rank-ordered merge list :func:`bpe_encode`
    / :func:`bpe_token_count` take. The collect is bounded by the
    artifact itself (vocabulary-sized — a 32k-merge production
    tokenizer is 32k rows). Round-trip contract:
    ``load_tokenizer(spark, p)`` after ``save_tokenizer(m, p)`` == m,
    pinned by test and by the ``bpe_encode_loaded`` driver query.
    Fails fast if ranks are not the contiguous run 0..n-1 (a corrupt
    or hand-edited artifact would otherwise silently reorder merges)."""
    rows = (
        spark.read.schema(_MERGES_SCHEMA)
        .parquet(path)
        .select("rank", "left", "right")
        .collect()
    )
    rows.sort(key=lambda r: r["rank"])
    if [r["rank"] for r in rows] != list(range(len(rows))):
        raise ValueError(
            f"tokenizer at {path!r} has non-contiguous ranks; refusing to "
            "guess the merge order"
        )
    return [(r["left"], r["right"]) for r in rows]


def bpe_vocab_ids(
    df: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """Corpus-fixed id vocabulary for :func:`bpe_encode_ids`: every
    DISTINCT token the merge table produces over ``df``, assigned
    dense ids 0..n-1 in token-ascending order — the deterministic
    "freeze the alphabet at train time" step every real tokenizer
    performs. Returns ``(token_id int, token string)``.

    Scale shape: one encode pass + explode + distinct (map-side
    combinable; output is vocabulary-sized, thousands of rows), then a
    row_number over the POST-AGGREGATE distinct set — bounded by the
    vocabulary, never by the corpus (the documented post-aggregate
    global-window class). Persist next to the merge table
    (:func:`save_tokenizer`) so encode jobs share one id space.
    """
    from pyspark.sql import Window

    enc = bpe_encode(df, merges, text_col=text_col, out_col="__ks_toks__")
    toks = enc.select(F.explode("__ks_toks__").alias("token")).distinct()
    w = Window.orderBy("token")
    return toks.select(
        (F.row_number().over(w) - 1).cast("int").alias("token_id"), "token"
    )


def bpe_encode_ids(
    df: DataFrame,
    merges: List[Tuple[str, str]],
    vocab: DataFrame,
    text_col: str = "text",
    out_col: str = "token_ids",
    oov_id: int = -1,
    validate_vocab: bool = True,
) -> DataFrame:
    """Encode text straight to integer token ids — what a training
    pipeline actually materializes (ids pack into fixed-width arrays;
    strings don't). Adds ``out_col`` (``array<int>``): the
    :func:`bpe_encode` token sequence mapped through ``vocab``
    (``token_id``/``token``, e.g. :func:`bpe_vocab_ids`); tokens
    outside the vocabulary get ``oov_id``.

    Scale shape — no shuffle of the corpus and no UDF: the vocabulary
    folds into ONE map value (``map_from_entries`` over a bounded
    vocabulary-sized aggregate) broadcast onto every row via the
    package's one-row ``crossJoin(broadcast(...))`` idiom, and the id
    lookup is a ``transform`` + ``element_at`` per token — pure Column
    algebra riding the scan. A 32k-entry production vocab is a few
    hundred KB of DATA in the broadcast row, not expression nodes, so
    codegen never sees vocabulary-sized plans.

    ``validate_vocab`` (default True) runs one BOUNDED eager check
    (vocabulary-sized aggregate → ≤1-row collect) that ``token`` is
    unique: a duplicate (e.g. the naive union of two id spaces) would
    otherwise die mid-job in ``map_from_entries`` with an opaque
    "duplicate map key" RuntimeException. Pass False to skip the extra
    job when the vocab provably comes from :func:`bpe_vocab_ids`.
    """
    if validate_vocab:
        dup = (
            vocab.groupBy("token")
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"vocab has duplicate token {dup[0]['token']!r}; ids would "
                "be ambiguous — dedupe (or re-derive via bpe_vocab_ids) first"
            )
    mp = vocab.agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    F.col("token"), F.col("token_id").cast("int").alias("token_id")
                )
            )
        ).alias("__ks_vocab_map__")
    )
    enc = bpe_encode(df, merges, text_col=text_col, out_col="__ks_toks__")
    out = (
        enc.join(F.broadcast(mp), how="cross")
        .withColumn(
            out_col,
            F.transform(
                "__ks_toks__",
                lambda t: F.coalesce(
                    F.element_at("__ks_vocab_map__", t),
                    F.lit(int(oov_id)).cast("int"),
                ),
            ),
        )
        .drop("__ks_toks__", "__ks_vocab_map__")
    )
    return out


def _bpe_enc_col(col: ColumnOrName, merges: List[Tuple[str, str]]) -> Column:
    """The separator-string encode pipeline as one Column expression:
    normalize → char-split → word boundaries → merges in rank order
    (``FIXPOINT_PASSES`` literal replaces per rank)."""
    c = to_col(col)
    t = F.regexp_replace(F.trim(c), "[" + BOUND + SEP + "]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    # (?s): Java's '.' excludes line terminators (U+0085/U+2028/U+2029)
    # that \s+ does NOT collapse — without DOTALL those chars get no
    # separator and fuse with the next char into one pseudo-token,
    # diverging from the per-char trainer model and the RE2-based
    # oracle (code-review r8)
    enc = F.concat(F.lit(SEP), F.regexp_replace(t, "(?s)(.)", "$1" + SEP))
    enc = F.replace(enc, F.lit(SEP + " " + SEP), F.lit(SEP + BOUND + SEP))
    for left, right in merges:
        pat = F.lit(SEP + left + SEP + right + SEP)
        rep = F.lit(SEP + left + right + SEP)
        for _ in range(FIXPOINT_PASSES):
            enc = F.replace(enc, pat, rep)
    return enc


def encode_text(
    text: Optional[str], merges: List[Tuple[str, str]]
) -> Optional[List[str]]:
    """Pure-Python reference encode — the SAME semantics as the Column
    pipeline, including the engines' ASCII whitespace rules (Spark
    ``trim`` / DuckDB ``trim`` strip only spaces; Java/RE2 ``\\s`` is
    ASCII — Python's Unicode-aware ``strip()``/``\\s`` would also eat
    U+0085/U+2028, which the engines treat as ordinary characters).
    Used by the Arrow engine of :func:`bpe_encode` and as the
    exact-model oracle in tests. NULL in → NULL out (the Column
    pipeline propagates NULL, so the Arrow engine must too)."""
    import re

    if text is None:
        return None
    t = text.strip(" ")
    t = re.sub("[" + BOUND + SEP + "]", "", t)
    t = re.sub(r"\s+", " ", t, flags=re.ASCII)
    enc = SEP + "".join(ch + SEP for ch in t)
    enc = enc.replace(SEP + " " + SEP, SEP + BOUND + SEP)
    for left, right in merges:
        enc = _apply_merge_str(enc, left, right)
    return [x for x in enc.split(SEP) if x not in ("", BOUND)]


#: above this merge count, bpe_encode switches from the nested-replace
#: Column expression to the Arrow batch path: each merge
#: costs FIXPOINT_PASSES Catalyst nodes, and a real 32k-merge vocab
#: would build a ~100k-node expression tree that analysis/codegen
#: cannot digest. 64 merges ≈ 200 nodes — comfortably inside codegen.
COLUMN_ENGINE_MAX_MERGES = 64


def bpe_encode(
    df: DataFrame,
    merges: List[Tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Apply a trained merge table: adds ``out_col``
    (``array<string>`` of subword tokens, word-boundary-aware, merges
    in rank order). Empty/whitespace-only text → empty array.

    The engine is chosen at plan time from the merge count (identical
    results, property-tested equal):

    - up to ``COLUMN_ENGINE_MAX_MERGES`` merges — pure Column algebra,
      no UDF, no shuffle, inside whole-stage codegen; small merge tables
      (demo/analysis vocabularies, the oracle queries).
    - beyond it — one Arrow-batched pandas UDF applying the same
      semantics in Python; the PRODUCTION path for real vocabularies
      (32k+ merges), where the per-merge Catalyst nodes of the column
      engine would blow up the expression tree. Still embarrassingly
      parallel, no shuffle; the merge table ships once per executor in
      the task closure (a few MB at tokenizer scale).
    """
    if len(merges) <= COLUMN_ENGINE_MAX_MERGES:
        enc = _bpe_enc_col(F.col(text_col), merges)
        toks = F.filter(
            F.split(enc, SEP), lambda x: (x != "") & (x != BOUND)
        )
        return df.withColumn(out_col, toks)

    mlist = list(merges)

    def _enc_batches(it: "Iterator[pd.Series]") -> "Iterator[pd.Series]":
        # Iterator-form pandas UDF (guide §4.5): construction — the
        # compiled regexes and the memo cache — happens ONCE PER TASK,
        # amortized over every Arrow batch in the partition. (The
        # earlier Series→Series form rebuilt the lru_cache per BATCH:
        # a scalar pandas UDF's function is invoked once per Arrow
        # batch, so the Zipf-head cache was thrown away every ~10k
        # rows.)
        #
        # Word-local + memoized: merges never cross the BOUND word
        # separator, so per-word encoding concatenated equals the
        # whole-document encode_text — but a naive per-document pass
        # is O(num_merges · doc_len) str.replace scans (a 32k-merge
        # vocab would scan a 4 KB doc ~100k times). Encoding per
        # DISTINCT word makes scans proportional to word length and
        # the Zipf head hits the cache.
        import functools
        import re

        @functools.lru_cache(maxsize=1 << 16)
        def enc_word(w):
            enc = _encode_word(w)
            for left, right in mlist:
                enc = _apply_merge_str(enc, left, right)
            return tuple(x for x in enc.split(SEP) if x)

        strip_re = re.compile("[" + BOUND + SEP + "]")
        ws_re = re.compile(r"\s+", re.ASCII)

        def one(t):
            if t is None:
                return None
            t = ws_re.sub(" ", strip_re.sub("", t.strip(" ")))
            out = []
            for w in t.split(" "):
                if w:
                    out.extend(enc_word(w))
            return out

        for s in it:
            yield s.map(one)

    # the Iterator[Series] -> Iterator[Series] hints select the
    # iterator eval type; under `from __future__ import annotations`
    # they are strings resolved against MODULE globals, so the names
    # are imported at module scope below (a locally-scoped `import
    # pandas` would not resolve at decoration time)
    udf = F.pandas_udf(_enc_batches, "array<string>")
    return df.withColumn(out_col, udf(F.col(text_col)))


def bpe_token_count(
    col: ColumnOrName, merges: List[Tuple[str, str]]
) -> Column:
    """REAL subword token count under a trained merge table (the
    number packing/chunking budgets should use, not the chars/4
    estimate)."""
    enc = _bpe_enc_col(col, merges)
    return F.size(
        F.filter(F.split(enc, SEP), lambda x: (x != "") & (x != BOUND))
    ).cast("long")
