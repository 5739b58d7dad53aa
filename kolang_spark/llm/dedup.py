"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — each designed around the join strategy that survives
100 TB (inverted-index / banding joins, never O(n²) cross products).

All text-path operators are pure Column algebra. The minhash/simhash
family hashes with ``xxhash64`` by DEFAULT (r11 promotion — one JVM
hash per shingle/token; md5 hex strings through 100 TB of shingles are
the known production tax, BASELINE.md r4/r11): pass
``hash_fn='md5'`` to get engine-portable values a DuckDB oracle can
recompute bit-exact — the oracle-replayed driver queries pin it
explicitly (oracle isolation), noted per function.
"""

from __future__ import annotations

import hashlib
from typing import List, Optional

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kolang_spark.llm.textstats import (
    doc_fingerprint,
    simhash,
    tokenize,
    word_ngrams,
)
from kolang_spark.sources.state import StateSpec
from kolang_spark.utils import (
    ColumnOrName,
    _map_rows,
    ensure_min_parallelism,
    to_col,
)

__all__ = [
    "exact_dedup",
    "incremental_exact_dedup",
    "incremental_minhash_dedup",
    "incremental_embedding_dedup",
    "with_shingles",
    "jaccard_near_dup_pairs",
    "containment_pairs",
    "edit_distance_pairs",
    "minhash_candidate_pairs",
    "simhash_near_dup_pairs",
    "simhash_hamming_pairs",
    "hamming_pairs",
    "embedding_near_dup_pairs",
    "embedding_near_dup_pairs_lsh",
    "semantic_dedup",
    "connected_components",
    "dedup_keep_best",
    "dedup_keep_list",
    "dedup_lines_global",
    "incremental_line_dedup",
    "duplicate_spans",
    "strip_duplicate_spans",
    "cdc_chunks",
    "incremental_cdc_ingest",
    "duplication_mass_report",
]


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Exact dedup by canonical-text fingerprint (hash-groupBy).

    Returns one row per distinct fingerprint with the kept id
    (``keep_id`` = min/max of ``id_col``) and the duplicate count
    (``n_dups``). One hash-partitioned aggregate — the textbook
    map-side-combinable groupBy; at 100 TB the fingerprint (16 bytes)
    is the only shuffled payload, never the text.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        ensure_min_parallelism(df)
        .withColumn("fingerprint", doc_fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(agg.alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    out: str = "shingles",
) -> DataFrame:
    """Distinct word n-gram shingle set per document (array column).

    Tokens are materialized into their own projection first so the
    tokenizer runs once per row; compute-heavy per-row work is also
    spread to at least ``defaultParallelism`` partitions (single-file
    inputs otherwise serialize shingling onto one core).
    """
    tok = "__ks_tokens"
    return (
        ensure_min_parallelism(df)
        .withColumn(tok, tokenize(F.col(text_col)))
        .withColumn(out, F.array_distinct(word_ngrams(F.col(tok), n)))
        .drop(tok)
    )


def _shingle_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_df: Optional[int],
) -> DataFrame:
    """Shared inverted-index core of the set-similarity pair joins:
    shingle → explode → optional stop-shingle cut → self-equi-join on
    the shingle → per-pair intersection counts with both set sizes
    carried inline. Returns ``(id_a, id_b, n_common, n_a, n_b)`` with
    ``id_a < id_b``; the callers differ only in the measure they
    compute from these five columns."""
    sh = with_shingles(df.select(id_col, text_col), text_col, n)
    # carry the set size through the explode: the per-pair aggregate then
    # has |A| and |B| inline and no join-back against a sizes table is
    # needed (two fewer shuffled joins; the extra long per posting-list
    # row is noise next to the shingle payload)
    # explode_outer + null filter, not bare explode: explode makes the
    # optimizer infer `size(shingles)>0 AND isnotnull(shingles)` and
    # push both through the projection — the huge shingle expression
    # would be evaluated 3x per row (twice in the filter, once in the
    # project) on BOTH sides of the self-join
    ex = sh.select(
        F.col(id_col).alias("id"),
        F.size("shingles").alias("n_sh"),
        F.explode_outer("shingles").alias("shingle"),
    ).where(F.col("shingle").isNotNull())
    if max_df is not None:
        hot = (
            ex.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_cnt"))
            .where(F.col("df_cnt") > max_df)
            .select("shingle")
        )
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")

    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.first(F.col("a.n_sh")).alias("n_a"),
            F.first(F.col("b.n_sh")).alias("n_b"),
        )
    )


def jaccard_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Strategy (the scalable inverted-index formulation, not a cross
    join): explode shingles → self-equi-join on the shingle → per-pair
    intersection counts → Jaccard = |∩| / (|A|+|B|−|∩|) ≥ threshold.

    ``max_df`` drops *stop-shingles* appearing in more than ``max_df``
    documents before the join — at 100 TB a handful of ubiquitous
    shingles would otherwise dominate the join's skew; dropping them
    only *under*-counts intersections of already-dissimilar pairs.

    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    inter = _shingle_intersections(df, id_col, text_col, n, max_df)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return inter.select("id_a", "id_b", jac.alias("jaccard")).where(
        F.col("jaccard") >= threshold
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.8,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Asymmetric near-duplicate pairs by n-gram *containment*
    (Broder 1997): ``C = |A∩B| / min(|A|, |B|)``.

    Jaccard misses the copy-with-additions case — a short document
    quoted verbatim inside a much longer one has ``|∩|/|∪| ≈
    |A|/|B| → 0`` even though A is a perfect subset. Containment
    normalizes by the *smaller* shingle set, so a wrapped quote, a
    boilerplate-padded mirror, or a page re-published with an appended
    comment thread all score ≈ 1.0 regardless of the size ratio.

    Same scalable inverted-index shape as
    :func:`jaccard_near_dup_pairs` (shingle-key equi-join, never a
    cross product; ``max_df`` drops stop-shingles before the join to
    bound skew at corpus scale). Only the final per-pair measure
    differs, plus one extra output column:

    Returns ``(id_a, id_b, containment, contained_id)`` with
    ``id_a < id_b``; ``contained_id`` is the doc with the smaller
    shingle set (the one *being contained*; ``id_a`` on ties) — the
    natural removal candidate for a keep-the-superset policy.
    """
    inter = _shingle_intersections(df, id_col, text_col, n, max_df)
    cont = F.col("n_common") / F.least("n_a", "n_b")
    contained = F.when(F.col("n_b") < F.col("n_a"), F.col("id_b")).otherwise(
        F.col("id_a")
    )
    return inter.select(
        "id_a",
        "id_b",
        cont.alias("containment"),
        contained.alias("contained_id"),
    ).where(F.col("containment") >= threshold)


def _chunk_geometry(l: Column, i: int, n_chunks: int) -> tuple:
    """(start, length) of 0-based chunk ``i`` when a string of length
    ``l`` is split into ``n_chunks`` contiguous chunks, the first
    ``l mod n_chunks`` of them one char longer — the PassJoin
    partition rule. Pure integer Column algebra."""
    base = F.floor(l / n_chunks).cast("int")
    rem = (l % n_chunks).cast("int")
    start = F.lit(i) * base + F.least(F.lit(i), rem)
    length = base + (F.lit(i) < rem).cast("int")
    return start, length


def edit_distance_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_dist: int = 1,
    min_len: Optional[int] = None,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` — the
    short-string near-dup join (titles, product names, user handles,
    URLs) where shingle/MinHash methods have nothing to shingle.

    PassJoin (Li, Deng, Feng 2011), as an equi-join: split every
    string into ``max_dist+1`` contiguous chunks; if ``ed(s, t) ≤
    max_dist`` then (pigeonhole — fewer edits than chunks) at least
    one chunk of ``s`` survives *untouched* in ``t``, verbatim, with
    its position shifted at most ``max_dist``. So index each string's
    ``d+1`` chunks keyed ``(len(s), i, chunk)`` and probe each
    string's substrings at the d+1 chunk slots of every candidate
    length ``len(t)±d``, shifted ±d — a bounded constant fanout of
    ``(d+1)·(2d+1)²`` keys per row, never a cross product. Survivors
    are verified with the engine's banded ``levenshtein(…, threshold)``
    (early-exit DP). Both the candidate set and the verify step are
    exact: recall is 100% by the pigeonhole argument, no tuning knob.

    ``min_len`` (default ``max_dist+1``) drops shorter strings from
    pairing: below d+1 chars the chunks go empty and the pigeonhole
    breaks — and a corpus's empty/near-empty strings would pair
    all-against-all anyway, which is a data bug, not a dedup result.

    Precondition: ``id_col`` is unique (one string per id); it is not
    checked. The pair dedup runs on ``(id_a, id_b, dist)``, which is
    one row per pair only when ``dist`` is a function of the id pair.
    A repeated id yields one row per distinct distance of its strings,
    and two strings under the same id are never compared.

    Returns ``(id_a, id_b, dist)`` with ``id_a < id_b``.
    """
    d = int(max_dist)
    if not 1 <= d <= 3:
        raise ValueError("max_dist must be in [1, 3] (chunk fanout is (d+1)(2d+1)^2)")
    if min_len is None:
        min_len = d + 1
    if min_len < d + 1:
        raise ValueError(f"min_len must be >= max_dist+1 = {d + 1}")
    n_chunks = d + 1

    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")
    ).where(F.length("t") >= min_len)
    tlen = F.length("t").cast("int")

    # index side: the d+1 chunks of each string, keyed by its length
    idx_elems = []
    for i in range(n_chunks):
        st, ln = _chunk_geometry(tlen, i, n_chunks)
        idx_elems.append(
            F.struct(
                tlen.alias("l"),
                F.lit(i).alias("i"),
                F.substring(F.col("t"), st + 1, ln).alias("sub"),
            )
        )
    idx = base.select(
        F.col("id"), F.col("t"), F.explode(F.array(*idx_elems)).alias("k")
    ).select("id", "t", "k.l", "k.i", "k.sub")

    # probe side: substrings at every candidate (length, chunk, shift)
    probe_elems = []
    for dl in range(-d, d + 1):
        cand_l = tlen + dl  # length of the *indexed* string this key targets
        for i in range(n_chunks):
            st, ln = _chunk_geometry(cand_l, i, n_chunks)
            for shift in range(-d, d + 1):
                pos = st + shift
                sub = F.when(
                    (cand_l >= min_len) & (pos >= 0) & (pos + ln <= tlen),
                    F.substring(F.col("t"), pos + 1, ln),
                )
                probe_elems.append(
                    F.struct(
                        cand_l.alias("l"), F.lit(i).alias("i"), sub.alias("sub")
                    )
                )
    probe = (
        base.select(
            F.col("id"),
            F.col("t"),
            # shifts often collide (same substring) — dedupe before the
            # explode so the join fanout is the distinct-key count
            F.explode(F.array_distinct(F.array(*probe_elems))).alias("k"),
        )
        .select("id", "t", "k.l", "k.i", "k.sub")
        .where(F.col("sub").isNotNull())
    )

    a, b = idx.alias("a"), probe.alias("b")
    # r14 (guide §2.3 — shuffle fewer bytes): VERIFY BEFORE THE
    # DISTINCT. The old shape deduplicated (id_a, id_b, t_a, t_b) —
    # both full strings through the candidate exchange — and ran the
    # banded levenshtein only after. Computing the distance in the
    # join's output projection flips the order: Catalyst pushes the
    # dist >= 0 filter through the distinct (dist is a grouping key)
    # into the join's post-condition, so NON-MATCHING candidates die
    # before the exchange, and the dedup aggregate keys collapse to
    # (id, id, int) — the strings never shuffle and the map-side
    # partial aggregate compacts the chunk-key fanout pre-wire (plan:
    # HashAggregate keys [id_a, id_b, t_a, t_b] -> [id_a, id_b,
    # dist]). The accepted cost is levenshtein on RAW candidates (a
    # bounded ≤(d+1)(2d+1) duplicate factor) plus a second evaluation
    # in the projection for survivors — a threshold-banded O(d·len)
    # scan per eval; bytes moved beat CPU re-done at scale. Under the
    # docstring's unique-id precondition dist is a pure function of
    # (id_a, id_b), so the pair set is identical.
    dist = F.levenshtein(
        F.when(F.col("a.id") < F.col("b.id"), F.col("a.t")).otherwise(
            F.col("b.t")
        ),
        F.when(F.col("a.id") < F.col("b.id"), F.col("b.t")).otherwise(
            F.col("a.t")
        ),
        d,
    )
    cand = (
        a.join(
            b,
            (F.col("a.l") == F.col("b.l"))
            & (F.col("a.i") == F.col("b.i"))
            & (F.col("a.sub") == F.col("b.sub"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            F.least(F.col("a.id"), F.col("b.id")).alias("id_a"),
            F.greatest(F.col("a.id"), F.col("b.id")).alias("id_b"),
            dist.alias("dist"),
        )
        .distinct()
    )
    return cand.where(F.col("dist") >= 0)


def _minhash_signature(
    shingles: Column, num_hashes: int, hash_fn: str = "xxhash64"
) -> List[Column]:
    """MinHash signature: for hash *i*, min over shingles of a per-i
    keyed hash. Min of a uniformly-distributed value is an
    order-isomorphic stand-in for min of a uniform integer hash, so the
    MinHash estimator property holds under either hash.

    ``hash_fn='xxhash64'`` (default since r11 — the production hash):
    ``xxhash64(i, shingle)`` longs — one JVM hash, no hex string
    materialization, ~10× cheaper per shingle. Signatures differ from
    md5 by construction but the candidate-pair *semantics* (equal docs
    collide, similar docs collide with the same S-curve probability)
    are identical.

    ``hash_fn='md5'``: ``md5(i || ':' || shingle)`` hex strings —
    engine-portable, the DuckDB oracle computes the same values
    bit-exact; the knob the oracle-replayed driver queries pin
    explicitly (oracle isolation).
    """
    if hash_fn == "xxhash64":
        return [
            F.array_min(
                F.transform(shingles, lambda s: F.xxhash64(F.lit(i), s))
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
    if hash_fn != "md5":
        raise ValueError("hash_fn must be 'md5' or 'xxhash64'")
    return [
        F.array_min(
            F.transform(
                shingles, lambda s: F.md5(F.encode(F.concat(F.lit(f"{i}:"), s), "UTF-8"))
            )
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]


def _minhash_band_keys(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    hash_fn: str,
) -> DataFrame:
    """``(id, band_id, band_key)`` per document — the LSH banding stage
    shared by :func:`minhash_candidate_pairs` (self-join) and
    :func:`incremental_minhash_dedup` (join against persisted state).

    Shorter-than-n docs have no shingles → no signature (a NULL min
    would otherwise collapse into one spurious "" band bucket via
    concat_ws). The gate is expressed on TOKEN count (>= n tokens ⟺
    nonempty shingle set) so the predicate the optimizer pushes to the
    scan is one tokenize, not a duplicated copy of the whole shingle
    pipeline. One pass: an inline array of (band_id, band_key) structs
    is exploded — a per-band union would re-run shingling + signatures.
    """
    if num_hashes % bands != 0:
        raise ValueError("bands must divide num_hashes")
    rows_per_band = num_hashes // bands

    from kolang_spark.llm.textstats import tokenize

    base = df.select(id_col, text_col).where(
        F.size(tokenize(F.col(text_col))) >= n
    )
    sh = with_shingles(base, text_col, n)
    sig = sh.select(
        F.col(id_col).alias("id"),
        *_minhash_signature(F.col("shingles"), num_hashes, hash_fn),
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws(
                "|", *[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "id", F.explode(F.array(*band_structs)).alias("band")
    ).select("id", "band.band_id", "band.band_key")


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 6,
    bands: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash + LSH banding: candidate near-duplicate pairs.

    ``num_hashes`` MinHash values per doc, split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs agreeing on *all* rows of any band
    become a candidate pair. Probability of candidacy ≈
    ``1-(1-j^r)^b`` — the classic S-curve; with r=2, b=3 the curve
    passes ~50% near j≈0.55.

    Plan shape: shingle+signature computation is per-row expression
    work; the only shuffle is the band-key self-join (equi-join on
    ``(band_id, band_key)``), which at 100 TB is the standard LSH
    bucket join — no cross product anywhere.

    ``hash_fn``: ``'xxhash64'`` (production default since r11 — JVM
    longs instead of md5 hex strings; see :func:`_minhash_signature`)
    or ``'md5'`` (engine-portable, pinned by the oracle-replayed
    driver queries).

    Returns distinct ``(id_a, id_b)`` with ``id_a < id_b``.
    """
    banded = _minhash_band_keys(df, id_col, text_col, n, num_hashes, bands, hash_fn)

    a, b_ = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: int = 64,
    n_planes: int = 4,
) -> DataFrame:
    """Embedding near-duplicates, LSH-bucketed: the 100 TB formulation.

    Vectors are bucketed by a deterministic random-hyperplane sign
    signature; the exact-cosine self-join runs *within* buckets only —
    an equi-join on the bucket id (hash-partitioned, AQE-splittable)
    instead of an O(n²) cross product. Recall < 1 by construction:
    pairs whose vectors fall in different buckets are never scored
    (high-cosine pairs rarely split — sign-LSH collision probability is
    ``1 − θ/π`` per plane). Same scoring core as
    :func:`embedding_near_dup_pairs`.

    Returns ``(id_a, id_b, cos)`` with ``id_a < id_b``.
    """
    from kolang_spark.llm.similarity import _cos, _vectors, lsh_signature
    from kolang_spark.utils import pushdown_fence

    v = _vectors(
        ensure_min_parallelism(df), id_col, vec_col, dims, "x", "id"
    ).withColumn("bucket", lsh_signature("x_v", n_planes, dims))
    a, b = v.alias("a"), v.alias("b")
    cos = _cos("a.x", "b.x", dims)
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            pushdown_fence(cos).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    k: int,
    dims: int,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 1,
    pair_salts: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with k-means, then score
    cosine similarity only WITHIN clusters and flag every document
    that has a smaller-id in-cluster neighbor at ``cos >= threshold``.

    This is the scale trick that makes semantic dedup tractable at
    100 TB: the pairwise stage is an equi-join on the cluster id
    (hash-partitioned, AQE-splittable — never an O(n²) cross product),
    so total pair work is Σ|cluster|² instead of N². Size ``k``
    proportionally to N (the paper uses 50k clusters at 100M+ docs) to
    keep clusters a few thousand rows; ``sample_mod`` bounds the
    k-means training sample independently of corpus size.

    Deterministic end to end: :func:`~kolang_spark.llm.similarity.
    kmeans_centroids` is fixed-point (integer micro-unit Lloyd means,
    bit-identical on any shuffle order), assignment ties break on
    centroid id, and the keep rule is first-wins by id — which makes
    the whole operator SQL-replayable (the ``semantic_dedup_embeddings``
    DuckDB oracle replays every Lloyd iteration, the L2-argmin
    assignment, and the in-cluster flag rule).

    Returns one row per input id: ``(id_col, cent_id,
    is_semantic_dup, dup_cos)`` where ``dup_cos`` is the max cosine to
    a smaller-id in-cluster neighbor at or above the threshold (NULL
    for kept docs). Differences from the paper: the keep rule is
    lowest-id (the paper keeps the item farthest from the centroid;
    both keep exactly one representative per near-duplicate group
    found in a cluster) — deterministic id order is what lets the
    oracle replay the decision.

    ``pair_salts``: the pairwise join hash-partitions on ``cent_id``,
    so its parallelism is at most ``k`` tasks — fine at the paper's
    k=50k, but with k ≪ cores (small corpora, coarse clusterings) the
    dot-product work serializes onto k cores. ``pair_salts=S`` splits
    the pair space S ways per cluster: the smaller-id side keeps one
    deterministic slice (``xxhash64(id) mod S``), the other side is
    replicated to all S slices, and the join key becomes ``(cent_id,
    slice)`` — every pair still produced exactly once, results
    bit-identical (slicing only re-partitions the pair space), wall
    time ÷ min(S·k / cores, S). Costs an S× replication shuffle of the
    assigned frame; leave at 1 when k alone saturates the cluster.
    """
    from kolang_spark.llm.similarity import (
        _as_double,
        _cos,
        _kmeans_assign,
        _norm,
        kmeans_centroids,
    )
    from kolang_spark.utils import pushdown_fence

    if pair_salts < 1:
        raise ValueError("pair_salts must be >= 1")
    cents = kmeans_centroids(
        df,
        k,
        dims,
        iters=iters,
        sample_mod=sample_mod,
        id_col=id_col,
        vec_col=vec_col,
    )
    pts = ensure_min_parallelism(df).select(
        F.col(id_col).alias("p_id"), _as_double(F.col(vec_col)).alias("p_v")
    )
    # assignment is referenced three times below (both self-join sides
    # + the final left join); pin it once so the broadcast argmin runs
    # one time, not three. r13: the argmin is now a zero-shuffle map
    # (see _kmeans_assign), so the checkpoint would inherit the raw
    # scan partitioning — lay the frame out by the pair join's key
    # FIRST and keep that layout through the checkpoint: the in-cluster
    # self-join (the operator's heavy stage) then needs NO exchange on
    # either side, one deliberate corpus shuffle instead of two
    # per-action ones (guide §2.4). The salted path re-exchanges by
    # (cent_id, slice) as before — its fanout frame differs per side.
    from kolang_spark.utils import iter_checkpoint

    assigned, _, _ = iter_checkpoint(
        _kmeans_assign(pts, cents, dims)
        .withColumn("p_n", _norm("p_v", dims))
        .repartition("cent_id"),
        keep_partitioning=True,
    )
    if pair_salts > 1:
        s_lit = F.lit(int(pair_salts))
        a_side = assigned.withColumn(
            "slice",
            F.explode(F.array(*[F.lit(s) for s in range(pair_salts)])),
        )
        b_side = assigned.withColumn(
            "slice", F.pmod(F.xxhash64("p_id"), s_lit).cast("int")
        )
        join_cond = (
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col("a.slice") == F.col("b.slice"))
            & (F.col("b.p_id") < F.col("a.p_id"))
        )
    else:
        a_side, b_side = assigned, assigned
        join_cond = (F.col("a.cent_id") == F.col("b.cent_id")) & (
            F.col("b.p_id") < F.col("a.p_id")
        )
    a, b = a_side.alias("a"), b_side.alias("b")
    cos = _cos("a.p", "b.p", dims)
    hits = (
        a.join(b, join_cond)
        .select(
            F.col("a.p_id").alias("p_id"),
            # fence: cos >= threshold must not be pushed below the
            # equi-join into a per-side predicate (same hazard as
            # embedding_near_dup_pairs)
            pushdown_fence(cos).alias("cos"),
        )
        .where(F.col("cos") >= F.lit(float(threshold)))
        .groupBy("p_id")
        .agg(F.max("cos").alias("dup_cos"))
    )
    return assigned.join(hits, "p_id", "left").select(
        F.col("p_id").alias(id_col),
        "cent_id",
        F.col("dup_cos").isNotNull().alias("is_semantic_dup"),
        "dup_cos",
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    jump_frac: float = 0.05,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Connected components of an undirected pair graph: the step that
    turns near-duplicate *pairs* into duplicate *clusters* (A~B and B~C
    must collapse into one group even when A~C was never emitted).

    Iterative minimum-label propagation with **adaptive pointer
    jumping**: every vertex starts labeled with its own id; each round
    takes the min of its own and its neighbors' labels, then — while the
    labeling is still changing fast — jumps each label to its label's
    label (path halving, the Hash-to-Min/star-contraction family,
    Kiveris et al., "Connected Components in MapReduce and Beyond").
    Label distance to the component minimum roughly doubles per round
    under jumping, so convergence is O(log diameter) rounds instead of
    O(diameter) — a 1000-deep chain resolves in ~10 rounds, not 1000.

    The jump join is *adaptive* (round-3 verdict item 5): once the
    per-round changed-count falls below ``jump_frac`` of the vertex
    count *and is still at least halving per round*, the labeling is in
    its cheap convergence tail (a few stragglers walking to an
    already-settled minimum) and the jump's extra self-join +
    checkpoint job costs more than it saves — so those tail rounds run
    propagation only. If the changed-count decays any slower (a
    frontier crawling along a long un-settled suffix loses ~1 per
    round, not half), the jump re-engages, so skipped rounds are
    bounded by log2(changed) and the O(log diameter) worst case is
    preserved.

    The convergence check is fused all the way into the checkpoint job:
    the self-loop row (a,a) carries vertex a's *old* label through the
    same equi-join, so ``old_lbl = min(lbl) FILTER (WHERE b = a)`` comes
    out of the one groupBy, and the changed-count is collected via
    ``DataFrame.observe`` **during the eager checkpoint's own action** —
    a heavy round is therefore exactly two Spark jobs (propagate+count
    fused, jump), a tail round exactly one.

    Each heavy round is one equi-join + one groupBy + one small
    self-join (hash-partitioned, fully parallel); tail rounds drop the
    self-join. Lineage is truncated per round with ``localCheckpoint``
    so plans don't snowball, and superseded checkpoints are *released*
    (RDD-level unpersist) as soon as the next round's checkpoint
    materializes — without that, up to 2·max_iter full-vertex-set
    block sets stay pinned until JVM GC (at 100 TB: gigabytes of dead
    blocks competing with the shuffle for executor memory).

    Returns ``(id, component)`` for every vertex appearing in ``edges``,
    where ``component`` is the minimum vertex id of the cluster. The
    returned frame reads the final round's checkpoint (that one block
    set stays alive for the caller).

    ``checkpoint_dir`` (r11 verdict item 5) switches every pin (the
    graph table and each round's labels) to a RELIABLE checkpoint
    under that fault-tolerant path: ``localCheckpoint`` blocks die
    with their executor, so outside local mode one preempted node
    past round 1 kills the whole O(log D) chain. Reliable checkpoints
    pin no executor blocks, so the release machinery above is a
    natural no-op; checkpoint files under the dir are the caller's to
    clean. Default None keeps the fast local behavior.
    """
    from kolang_spark.utils import iter_checkpoint, release_checkpoints

    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # self-loops fold "min of self and neighbors" into one equi-join, so
    # each round references the label table exactly once (a dual
    # union+join reference trips attribute dedup on checkpointed plans)
    verts = sym.select("a").distinct()
    # r13: lay the graph out by the per-round join key BEFORE the
    # checkpoint. repartition("b") satisfies the following distinct's
    # clustering requirement (same (a,b) ⇒ same b ⇒ same partition),
    # so dedup costs no second exchange, and ``localCheckpoint``
    # preserves the physical hashpartitioning(b) — every propagation
    # round then shuffles ONLY the label table; the edge frame (the
    # big one at scale) is never re-exchanged after setup.
    full = (
        sym.union(verts.select("a", F.col("a").alias("b")))
        .repartition("b")
        .distinct()
    )
    # the vertex count rides the checkpoint's own materialization
    # (observe on the self-loop rows) instead of a separate count job
    sym, m, sym_ids = iter_checkpoint(
        full,
        checkpoint_dir,
        keep_partitioning=True,
        observe={"n_verts": F.sum((F.col("a") == F.col("b")).cast("long"))},
    )
    n_verts = m["n_verts"] or 0  # NULL on an empty graph

    # initial labels come straight off the checkpointed self-loops —
    # no second edge scan + distinct for the vertex set
    labels = sym.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("id"), F.col("a").alias("lbl")
    )
    prev_changed = float("inf")
    stale_ids: set = set()  # checkpoints no future round reads
    live_ids: set = set()  # previous round's checkpoints (still readable)
    for _ in range(max_iter):
        agg = (
            sym.join(labels, sym["b"] == labels["id"])
            .select(F.col("a").alias("id"), "lbl", (sym["b"] == sym["a"]).alias("slf"))
            .groupBy("id")
            .agg(
                F.min("lbl").alias("lbl"),
                F.min(F.when(F.col("slf"), F.col("lbl"))).alias("old_lbl"),
            )
        )
        # convergence metric rides the checkpoint's own job (observe):
        # stable-under-propagation means labels are equal across every
        # edge, i.e. constant per component — fully converged, and the
        # jump below would be a no-op, so the last round skips its join
        propagated, m, ck_ids = iter_checkpoint(
            agg,
            checkpoint_dir,
            observe={
                "changed": F.sum(
                    (F.col("lbl") != F.col("old_lbl")).cast("long")
                )
            },
        )
        # this round's propagation re-materialized everything the
        # previous round's checkpoints held — they are now unreadable by
        # any future plan; drop their blocks
        release_checkpoints(spark, stale_ids)
        stale_ids, live_ids = live_ids, set(ck_ids)
        changed = m["changed"] or 0  # NULL on an empty graph
        if changed == 0:
            labels = propagated.select("id", "lbl")
            break
        if changed < jump_frac * n_verts and changed * 2 <= prev_changed:
            # geometrically collapsing convergence tail: propagation
            # alone finishes the job in a round or two; skip the jump's
            # self-join + checkpoint (a small count decaying slower
            # than 2x falls through to the jump instead — that's a
            # crawling frontier, not a tail)
            prev_changed = changed
            labels = propagated.select("id", "lbl")
            continue
        prev_changed = changed
        # pointer jump: lbl ← lbl(lbl). Labels only ever decrease, so
        # the jump is safe and deterministic; checkpointing `propagated`
        # first keeps the self-join from recomputing the aggregation.
        labels, _, jump_ids = iter_checkpoint(
            checkpoint_dir=checkpoint_dir,
            df=propagated.alias("x")
            .join(
                propagated.select(
                    F.col("id").alias("pid"), F.col("lbl").alias("plbl")
                ),
                F.col("x.lbl") == F.col("pid"),
                "left",
            )
            .select(
                F.col("x.id").alias("id"),
                F.coalesce("plbl", F.col("x.lbl")).alias("lbl"),
            )
        )
        # the jump checkpoint supersedes `propagated` within this round
        live_ids |= set(jump_ids)
    # the loop's final checkpoint(s) back the returned frame and must
    # stay; everything else — including the graph table, unless no
    # round ran and the returned frame still reads it — is dead now
    dead = set(stale_ids) | (set(sym_ids) if live_ids else set())
    release_checkpoints(spark, dead)
    return labels.select("id", F.col("lbl").alias("component"))


def dedup_keep_list(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Full dedup resolution: candidate ``pairs`` → connected components
    → one kept representative (minimum id) per cluster.

    Returns every row id of ``df`` with its ``component`` (singletons
    keep their own id) and a ``keep`` flag — ``filter(keep)`` is the
    deduplicated corpus. The join back is on the id only; document
    payloads never enter the iterative stage.
    """
    comp = connected_components(pairs, src, dst)
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(comp, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("component", F.col("id")).alias("component"),
        )
        .withColumn("keep", F.col(id_col) == F.col("component"))
    )


def dedup_lines_global(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    out_col: Optional[str] = None,
) -> DataFrame:
    """Corpus-wide exact LINE dedup, keep-first-occurrence (the
    RefinedWeb/FineWeb line-dedup rule): every line that occurs more
    than once anywhere in the corpus survives only at its first
    occurrence — minimum ``(doc_id, position)`` — and is removed from
    every other document. Complements
    :func:`kolang_spark.llm.curate.remove_boilerplate_lines`, which
    removes high-document-frequency lines from EVERY document
    (including the first): boilerplate removal kills nav/footer noise,
    keep-first preserves exactly one copy of each duplicated passage.

    Lines are matched on their ``trim``-ed content via a 128-bit md5
    key (collision-free in practice; the shuffle carries the 32-char
    key, not the line, through the keeper aggregate). Whitespace-only
    lines are never dedup candidates — they are document structure and
    always kept. ``delim`` is a LITERAL separator (escaped before the
    split) and is also used to re-join.

    Returns one row per distinct id (a NULL id is one group, and it
    sorts first in the keep-first order): ``(id_col, out_col, n_kept,
    n_removed)`` with ``out_col`` (default ``{text_col}_deduped``) the
    re-assembled text, line order preserved; a document whose every
    line was removed, or whose text is NULL, comes back as ``''``
    (NULL text: ``('', 0, 0)``).

    Scale shape: one map-side-combinable ``min(struct(id, pos))`` per
    line key, one equi-join of lines against keepers on the key, one
    groupBy(doc) re-assembly — two shuffles total, no window over
    data, no driver collect. The per-doc ``collect_list`` is bounded
    by the document's own line count (already one row's payload).
    """
    keyed = _keyed_lines(df, id_col, text_col, delim)
    keeper = (
        keyed.where(~F.col("_ws"))
        .groupBy("_key")
        .agg(
            F.min(
                F.struct(
                    F.col("_id").alias("k_id"), F.col("_pos").alias("k_pos")
                )
            ).alias("_k")
        )
    )
    # null-safe: a NULL id sorts first in min(struct), so it can be the
    # keeper, and plain equality would then drop the line everywhere
    marked = keyed.join(keeper, "_key", "left").withColumn(
        "_keep",
        F.col("_ws")
        | (
            F.col("_id").eqNullSafe(F.col("_k.k_id"))
            & (F.col("_pos") == F.col("_k.k_pos"))
        ),
    )
    return _rebuild_deduped_lines(marked, id_col, text_col, delim, out_col)


def _keyed_lines(df: DataFrame, id_col: str, text_col: str, delim: str) -> DataFrame:
    """One row per line of ``text_col`` split on the LITERAL ``delim``:
    ``(_id, _pos, _line, _key, _ws)`` — ``_key`` the md5 of the
    ``trim``-ed line, ``_ws`` true for a whitespace-only line; a NULL
    text keeps its document as one row whose line, key and ``_ws`` are
    NULL. The line keying of :func:`dedup_lines_global` and the
    incremental line family (one key rule, so batch and state keys
    always agree)."""
    import re as _re

    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode_outer(
            F.split(F.col(text_col), _re.escape(delim), -1)
        ).alias("_pos", "_line"),
    )
    return lines.withColumn("_key", F.md5(F.trim(F.col("_line")))).withColumn(
        "_ws", F.trim(F.col("_line")) == ""
    )


def incremental_line_dedup(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    out_col: Optional[str] = None,
) -> DataFrame:
    """:func:`dedup_lines_global` for INCREMENTAL ingest: each batch's
    lines are checked against the hashes of every line KEPT by earlier
    batches (parquet state, one 32-char md5 per distinct kept line —
    never the line text), duplicated lines are removed (state hit →
    every occurrence in the batch; novel line → every occurrence after
    the batch's first by ``(id, pos)``), documents are re-assembled,
    and the batch's novel line hashes are appended to the state.
    Whitespace-only lines are structural and always survive.

    Same contract as :func:`incremental_exact_dedup`: flags are pinned
    BEFORE the state append, and the append happens before return — a
    crashed-and-replayed batch can duplicate output, never lose state;
    all path probes route through the Hadoop ``FileSystem`` API so
    ``state_path`` may be an object-store URI.

    Scale shape: the per-line flags come from the state protocol's
    flag step (:meth:`kolang_spark.sources.state.BoundState.flag_new`,
    keyed by the 32-char line key, first by ``(id, pos)``) over batch
    lines only — the accumulated corpus TEXT is never rescanned;
    re-assembly is the same per-doc groupBy as the batch operator.
    Returns ``(id_col, out_col, n_kept, n_removed)``, one row per
    distinct id (a NULL id is one group), as the batch operator does.
    """
    marked, novel, store = _incremental_lines_flagged(
        spark, new_df, state_path, id_col, text_col, delim
    )
    store.append(novel)
    return _rebuild_deduped_lines(marked, id_col, text_col, delim, out_col)


# keys are md5 of lines SPLIT BY ``delim``: a different delimiter hashes
# different line boundaries, so state hits are missed and re-assembled
# documents use the wrong separator
_LINE_STATE = StateSpec(
    "line_hashes",
    params=lambda delim: {"delim": delim},
    schema="line_key string, batch_id bigint",
    consequence=(
        "line keys hashed under a different delimiter never match "
        "the state's, so duplicated lines would silently survive"
    ),
)


def _incremental_lines_flagged(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str,
    text_col: str,
    delim: str,
    exclude_batch: Optional[int] = None,
):
    """Shared core of :func:`incremental_line_dedup` and
    :func:`kolang_spark.streaming.sinks.line_dedup_sink`: the batch's
    per-line keep flags computed against the CURRENT state, plus the
    batch's novel line keys and the verified state — with NOTHING
    written, so each caller controls its own crash-safety write order.
    ``marked`` derives from the pinned frame of
    :meth:`kolang_spark.sources.state.BoundState.flag_new`.

    ``exclude_batch`` is the streaming sink's replay guard
    (:meth:`kolang_spark.sources.state.BoundState.read`). A crashed
    replay can legitimately append the same keys twice; the probe
    emits one row per batch line whatever the state holds, so
    duplicate state rows cannot inflate ``n_removed``.
    """
    keyed = _keyed_lines(new_df, id_col, text_col, delim)
    store = _LINE_STATE.bind(spark, state_path, delim)
    store.verify()
    marked = (
        store.flag_new(
            keyed, {"_key": "line_key"}, ["_id", "_pos"], exclude_batch=exclude_batch
        )
        .withColumn("_keep", F.col("_ws") | F.col("__new__"))
        .drop("__new__")
    )
    # a kept non-whitespace line is its key's first: one row per key
    novel = marked.where(F.col("_keep") & ~F.col("_ws")).select(
        F.col("_key").alias("line_key")
    )
    return marked, novel, store


def _rebuild_deduped_lines(
    marked: DataFrame,
    id_col: str,
    text_col: str,
    delim: str,
    out_col: Optional[str],
) -> DataFrame:
    """Re-assemble per-document text from the lines a ``_keep``-flagged
    ``marked`` frame (:func:`_keyed_lines` plus ``_keep``; a NULL flag
    drops the line) keeps → ``(id_col, out_col, n_kept, n_removed)``,
    one row per distinct id. One per-document aggregate counts the kept
    and the total non-NULL lines, so a NULL-text document (one NULL
    line) returns ``('', 0, 0)`` with no second read of the input."""
    out_col = out_col or f"{text_col}_deduped"
    keep = F.col("_keep") & F.col("_line").isNotNull()
    rebuilt = marked.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("_pos", "_line")))
                ),
                lambda s: s["_line"],
            ),
            delim,
        ).alias(out_col),
        F.count(F.when(keep, 1)).alias("_n_kept"),
        F.count("_line").alias("_total"),
    )
    return rebuilt.select(
        F.col("_id").alias(id_col),
        out_col,
        F.col("_n_kept").cast("long").alias("n_kept"),
        (F.col("_total") - F.col("_n_kept")).cast("long").alias("n_removed"),
    )


def dedup_keep_best(
    df: DataFrame,
    pairs: DataFrame,
    score: ColumnOrName,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    score_col: str = "score",
    prefer: str = "max",
) -> DataFrame:
    """Quality-aware dedup resolution: candidate ``pairs`` → connected
    components → keep the BEST-scoring row per cluster (the FineWeb/
    RefinedWeb policy — retain the copy worth training on), not the
    arbitrary minimum id that :func:`dedup_keep_list` keeps.

    ``score`` is any Column over ``df`` (a quality composite, a length,
    a recency timestamp); ``prefer='max'`` keeps the highest scorer,
    ``'min'`` the lowest (e.g. earliest crawl date). Ties break to the
    minimum id — deterministic across engines and shuffle orders. NULL
    scores lose to any non-NULL score; a cluster that is ALL-NULL
    falls back to minimum id among its rows.

    Returns every ``df`` row id with its ``component`` (singletons keep
    their own id), the evaluated ``score_col``, and a ``keep`` flag.

    Scale shape (r13): the iterative stage (connected components)
    carries ids only; the argmax is ONE struct-ordered aggregate —
    ``max(struct(score, ~id))`` (``min(struct(score IS NULL, score,
    id))`` for ``prefer='min'``), relying on Spark's struct ordering
    where a NULL field sorts below any value, so "NULL scores lose,
    all-NULL cluster → min id" falls out of the comparator — over a
    frame explicitly repartitioned by ``component``. The winner join
    consumes the SAME exchange (ReusedExchange), so the scored table
    is computed and shuffled exactly once (the r12 shape computed it
    three times through two groupBy+join rounds). ``~id`` (bitwise
    NOT) is the overflow-free order-reversal of the id tie-break so
    one max aggregate can prefer the highest score but the lowest id.
    No window over data rows (a hot component would straggle a window
    task), no driver-side loop over clusters.
    """
    if prefer not in ("max", "min"):
        raise ValueError("prefer must be 'max' or 'min'")
    s = F.col(score) if isinstance(score, str) else score
    comp = connected_components(pairs, src, dst)
    labeled = (
        df.select(F.col(id_col).alias("id"), s.alias("_score"))
        .join(comp, "id", "left")
        .select(
            F.col("id"),
            F.coalesce("component", F.col("id")).alias("component"),
            F.col("_score"),
        )
        .repartition("component")
    )
    if prefer == "max":
        # NULL field < any value under struct ordering → NULL scores
        # lose; ~id flips the id order so the max takes the MIN id on
        # score ties (and among the rows of an all-NULL cluster)
        key = F.struct(
            F.col("_score").alias("s"),
            F.bitwise_not(F.col("id")).alias("t"),
        )
        winner = labeled.groupBy("component").agg(F.max(key).alias("_w"))
        keep_id = F.bitwise_not(F.col("_w.t"))
    else:
        # min must NOT prefer NULL scores, so lead with an IS NULL
        # rank field; id needs no flip (min already takes the min id)
        key = F.struct(
            F.col("_score").isNull().alias("nu"),
            F.col("_score").alias("s"),
            F.col("id").alias("t"),
        )
        winner = labeled.groupBy("component").agg(F.min(key).alias("_w"))
        keep_id = F.col("_w.t")
    return labeled.join(winner, "component").select(
        F.col("id").alias(id_col),
        F.col("component"),
        F.col("_score").alias(score_col),
        (F.col("id") == keep_id).alias("keep"),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash-collision candidate pairs (equal full signature).

    Join on the signature value — one hash-partitioned equi-join. For
    Hamming-distance ≤ d matching, see :func:`simhash_hamming_pairs`.

    Returns ``(id_a, id_b, sim_sig)`` with ``id_a < id_b``.
    """
    sig = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        simhash(F.col(text_col), bits, hash_fn=hash_fn).alias("sig"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    return a.join(
        b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.sig").alias("sim_sig"),
    )


def _band_mask(width: int) -> Column:
    """All-ones mask of ``width`` low bits as a LongType literal.
    ``(1 << 64) - 1`` overflows LongType (PySpark rejects the literal
    at expression-build time), so a full-width band — e.g.
    ``hamming_pairs(..., bits=64, max_distance=0)``, one band of all
    64 bits — uses -1 (all bits set in two's complement); the masked
    value is already zero-filled by ``shiftrightunsigned``."""
    if width >= 64:
        return F.lit(-1).cast("long")
    return F.lit((1 << width) - 1)


def _simhash_bands(bits: int, n_bands: int) -> List[tuple]:
    """Split ``bits`` into ``n_bands`` contiguous (shift, width) slices;
    the first ``bits % n_bands`` bands take the extra bit."""
    base, extra = divmod(bits, n_bands)
    out, shift = [], 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        out.append((shift, width))
        shift += width
    return out


def simhash_hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_distance: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash near-duplicate pairs within Hamming distance ≤
    ``max_distance`` — banded (pigeonhole) candidate generation, exact
    ``bit_count(xor)`` verification.

    Split the ``bits``-bit signature into ``max_distance + 1`` disjoint
    bands: two signatures within distance d must agree on at least one
    whole band (d flipped bits can dirty at most d bands). So candidates
    come from an **equi-join on (band_id, band_bits)** — hash-partitioned,
    AQE-skew-splittable, never a cross product — then the exact Hamming
    distance filters survivors and ``DISTINCT`` collapses pairs that
    collide in several bands. This is the standard Manku/Jain/Sarma
    (WWW'07) web-dedup decomposition.

    Scale: each side explodes ×(d+1) (cheap — band keys are ints), the
    join touches only same-band-value groups (~N/2^(bits/(d+1)) each),
    and the verify step is two longs per candidate. 100 TB-shaped for
    small d; for large d prefer more bits + LSH.

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    sig = ensure_min_parallelism(df).select(
        F.col(id_col).alias(id_col),
        simhash(F.col(text_col), bits, hash_fn=hash_fn).alias("__ks_sig"),
    )
    return hamming_pairs(sig, id_col, "__ks_sig", bits, max_distance)


def hamming_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bits: int = 64,
    max_distance: int = 3,
) -> DataFrame:
    """Pairs within Hamming distance ≤ ``max_distance`` over **any**
    precomputed bit-signature column — SimHash
    (:func:`simhash_hamming_pairs` delegates here), image perceptual
    hashes (:func:`kolang_spark.llm.multimodal.image_ahash`), audio
    fingerprints. Same pigeonhole decomposition: ``max_distance + 1``
    disjoint bands, candidates from the (band_id, band_bits) equi-join,
    exact ``bit_count(xor)`` verify, first-agreeing-band dedup — see
    the scale notes on :func:`simhash_hamming_pairs`. NULL signatures
    (e.g. undecodable blobs) are excluded.

    Only the low ``bits`` of the signature are significant: the bands
    partition them, and the exact verify counts ``bit_count(xor &
    low-bits-mask)`` — stray high bits in a wider stored value can
    neither create nor suppress a pair (property-tested against brute
    force at arbitrary (bits, max_distance)).

    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    n_bands = max_distance + 1
    if n_bands > bits:
        raise ValueError("max_distance + 1 must be <= bits")

    sig = df.select(
        F.col(id_col).alias("id"),
        to_col(sig_col).cast("long").alias("sig"),
    ).where(F.col("sig").isNotNull())
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftrightunsigned(F.col("sig"), shift)
                .bitwiseAND(_band_mask(width))
                .alias("band_bits"),
            )
            for i, (shift, width) in enumerate(_simhash_bands(bits, n_bands))
        ]
    )
    banded = sig.select(
        "id", "sig", F.explode(bands).alias("band")
    ).select("id", "sig", "band.band_id", "band.band_bits")

    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    # a pair that agrees on several bands would surface once per band;
    # keep it only at its FIRST agreeing band (a bitwise filter on the
    # already-joined sigs) — exactly one row per pair, so no DISTINCT
    # re-shuffle of the candidate stream is needed
    first_agree = None
    for i, (shift, width) in enumerate(_simhash_bands(bits, n_bands)):
        band_zero = (
            F.shiftrightunsigned(xor, shift).bitwiseAND(_band_mask(width)) == 0
        )
        first_agree = (
            F.when(band_zero, F.lit(i))
            if first_agree is None
            else first_agree.when(band_zero, F.lit(i))
        )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .where(F.col("a.band_id") == first_agree)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(xor.bitwiseAND(_band_mask(bits)))
            .cast("long")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_distance)
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dims: Optional[int] = None,
    max_rows: Optional[int] = 100_000,
    on_exceed: str = "raise",
) -> DataFrame:
    """Embedding near-duplicates: pairs with cosine ≥ threshold —
    **exact-baseline form; not the scale path**.

    This is an O(n²) nested-loop self-join: correct and useful as an
    oracle/ground-truth at validation scale, quadratic-cost at corpus
    scale. The production operator is
    :func:`embedding_near_dup_pairs_lsh` (identical scoring, sign-LSH
    bucket equi-join). To keep the quadratic plan from being launched by
    accident, the input is size-probed **eagerly at call time** (this
    schedules one bounded Spark job before any action — see README
    §Operational notes) and anything over ``max_rows`` raises with a
    pointer to the LSH variant; ``on_exceed='warn'`` downgrades the
    guard to a ``warnings.warn`` + proceed for interactive sessions;
    pass ``max_rows=None`` to skip the probe entirely. The probe is a
    ``limit(max_rows+1).count()`` — bounded work regardless of input
    size (early-stops after ``max_rows+1`` rows), so the guard's cost
    does not grow with the corpus. Guarding by default is a deliberate
    behavior change over the unguarded original: an accidental O(n²)
    launch at corpus scale is strictly worse than an up-front error.

    Inside the quadratic loop the engineering is still tight: norms are
    precomputed once per vector and carried through the join, and with
    ``dims`` the dot product is one width-dispatched SQL expression
    (`llm/similarity.py::UNROLL_DIMS_LIMIT`: codegen arithmetic up to
    the limit, the interpreted HOF fold past it).

    Returns ``(id_a, id_b, cos)`` with ``id_a < id_b``.
    """
    from kolang_spark.llm.similarity import _cos, _fold, _vectors
    from kolang_spark.utils import pushdown_fence

    if on_exceed not in ("raise", "warn"):
        raise ValueError("on_exceed must be 'raise' or 'warn'")
    if max_rows is not None:
        n = df.select(id_col).limit(max_rows + 1).count()
        if n > max_rows:
            msg = (
                f"embedding_near_dup_pairs is the exact O(n²) baseline; "
                f"input exceeds max_rows={max_rows}. Use "
                f"embedding_near_dup_pairs_lsh (same scoring, bucketed "
                f"equi-join) or pass max_rows=None to opt in."
            )
            if on_exceed == "raise":
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, stacklevel=2)

    v = _vectors(ensure_min_parallelism(df), id_col, vec_col, dims, "x", "id")
    a, b = v.alias("a"), v.alias("b")
    cos = _cos("a.x", "b.x", dims)
    # two-stage filter: the multiplied form `dot ≥ t·|a||b|` prunes the
    # O(n²) candidate stream with one compare and no division; the exact
    # `cos ≥ t` re-check on the few survivors preserves boundary/NULL
    # semantics precisely. Both predicates are fenced (pushdown_fence) —
    # without it Catalyst folds them (and thus the whole dot product)
    # into the nested-loop join condition, where evaluation is
    # interpreted per ordered pair and then repeated in the projection.
    pre = pushdown_fence(
        _fold("a.x_v", "b.x_v", dims) - threshold * F.col("a.x_n") * F.col("b.x_n")
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .where(pre >= 0)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            pushdown_fence(cos).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def incremental_exact_dedup(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact dedup for INCREMENTAL ingest: flag each new document
    against the fingerprints of everything already accepted, then
    persist the novel fingerprints — so each ingest batch scans only
    itself plus the (fingerprint-only) state table, never the
    accumulated corpus text.

    Returns the batch with ``fingerprint``, ``is_duplicate`` (seen in
    state OR a later copy within this batch — first occurrence by
    ``id_col`` wins, matching :func:`exact_dedup`'s keep rule), and
    appends the batch's novel fingerprints to ``state_path`` (parquet,
    append mode — safe to re-run only after a completed write; pair
    with a checkpointed stream for exactly-once).

    Scale shape: the state table holds ONE md5 row per distinct
    document ever accepted (~16 bytes + overhead vs the full text);
    the flags come from the state protocol's one flag step
    (:meth:`kolang_spark.sources.state.BoundState.flag_new`, keyed by
    the fingerprint, first by ``id_col``), which probes the state and
    pins the flagged batch before the append, so the returned frame is
    pinned too.

    All state file management routes through the Hadoop
    ``FileSystem`` API (:func:`kolang_spark.sources.io.path_exists`
    and friends), so ``state_path`` may be an object-store URI
    (``s3a://``/``hdfs://``/``abfs://``) — the probes behave
    identically to local paths.
    """
    from kolang_spark.llm.textstats import doc_fingerprint

    store = _EXACT_STATE.bind(spark, state_path)
    store.verify()
    batch = new_df.withColumn("fingerprint", doc_fingerprint(text_col))
    flagged = store.flag_new(batch, {"fingerprint": "fingerprint"}, [id_col])
    # one novel row per fingerprint: only its first row is __new__
    store.append(flagged.where(F.col("__new__")).select("fingerprint"))
    return flagged.withColumn("is_duplicate", ~F.col("__new__")).drop("__new__")


# the keys are unparameterized md5 document fingerprints (deliberately
# not under the xxhash64 default — persisted state stays portable), so
# there are no params to pin, but the kind stamp still refuses another
# family's state dir, whose band keys would never match a fingerprint
_EXACT_STATE = StateSpec(
    "exact_fingerprints",
    params=lambda: {},
    schema="fingerprint string",
    consequence=(
        "fingerprints joined against another state family's keys "
        "never match, so every duplicate would be silently accepted"
    ),
)


def _embedding_band_keys(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    planes_per_band: int,
    bands: int,
) -> DataFrame:
    """``(id, band_id, band_key)`` per vector — sign-LSH banding for
    the incremental embedding dedup: band ``b`` is an INDEPENDENT
    hyperplane family (``plane_offset = b·planes_per_band``), so a
    candidate fires when any family's full sign signature collides —
    the standard multi-table LSH construction. Malformed embeddings —
    NULL, shorter than ``dims``, or containing NULL elements — get no
    bands (always accepted, never persisted) rather than collapsing
    into a spurious all-zero-sign bucket. One pass: an inline struct
    array is exploded, the signature expressions evaluate once."""
    from kolang_spark.llm.similarity import lsh_signature

    v = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "__ks_v"
        ),
    ).where(
        # a malformed vector (NULL, short, or containing NULL elements)
        # makes every plane's fold NULL -> every sign bit 0 -> ONE
        # all-zero band bucket that would flag unrelated junk vectors
        # as near-duplicates of each other and poison persistent state
        # (code-review r8). No signature -> always accepted, never
        # persisted — the same contract as short docs in the MinHash
        # variant.
        F.col("__ks_v").isNotNull()
        & (F.size("__ks_v") >= dims)
        & ~F.exists("__ks_v", lambda x: x.isNull())
    )
    # signatures in their OWN projection, explode in the next: inside a
    # generator's input, codegen cannot split the ~planes·dims-term
    # sign expressions into sub-methods and the fused method blows the
    # JVM 64 KB limit (failed compile + interpreted fallback, ~2 s
    # wasted per action); as plain Project expressions they split fine
    sigs = v.select(
        "id",
        *[
            lsh_signature(
                "__ks_v",
                planes_per_band,
                dims,
                plane_offset=b * planes_per_band,
            )
            .cast("string")
            .alias(f"__ks_sig{b}")
            for b in range(bands)
        ],
    )
    arr = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band_id"),
                F.col(f"__ks_sig{b}").alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return (
        sigs.select("id", F.explode(arr).alias("bk"))
        .select("id", F.col("bk.band_id"), F.col("bk.band_key"))
    )


def incremental_embedding_dedup(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes_per_band: int = 8,
    bands: int = 2,
) -> DataFrame:
    """NEAR-duplicate dedup for INCREMENTAL ingest over EMBEDDINGS —
    the sign-LSH member of the incremental family
    (:func:`incremental_exact_dedup` /
    :func:`incremental_minhash_dedup`): each new batch's vectors are
    checked against the persisted band keys of everything already
    accepted, then the accepted vectors' band keys are persisted. A
    batch scans only itself plus the compact state (``bands`` short
    keys per accepted vector — never the vectors themselves).

    Returns the batch with ``is_near_duplicate``: true when any of the
    vector's ``bands`` independent ``planes_per_band``-bit sign
    signatures collides with the state or with an earlier-``id_col``
    vector in the batch (band-key-first-wins, the same conservative
    within-batch rule as the MinHash variant). Like every LSH method
    this flags *candidates* at the plane count's selectivity
    (collision prob per band ``(1 − θ/π)^planes_per_band``); chain an
    exact cosine verify against the flagged subset when precision
    matters. Malformed embeddings (NULL, short, or containing NULL
    elements) are always accepted and never persisted.

    Scale shape: identical to the MinHash variant — one flag step
    (:meth:`kolang_spark.sources.state.BoundState.flag_new`) over the
    batch's bands; state grows by ``bands`` rows per accepted vector;
    ``state_path`` may be an object-store URI (Hadoop FS probes).

    The state's construction params ``{dims, planes_per_band, bands}``
    are pinned by the ``_ks_state.json`` sidecar
    (:func:`kolang_spark.sources.state.check_state_meta`): sign
    signatures under different plane families never collide, so a
    mismatched probe raises instead of silently accepting every
    duplicate (r12; pre-r12 states carry no provenance — the first
    probe's params become the assertion of record).
    """
    marked, novel, store = _incremental_embedding_flagged(
        spark, new_df, state_path, id_col, vec_col, dims, planes_per_band, bands
    )
    store.append(novel)
    return marked


# a different random-plane family (planes_per_band/bands) or input
# dimensionality produces band keys that never collide with the state's
_EMBEDDING_STATE = StateSpec(
    "embedding_signlsh",
    params=lambda dims, planes_per_band, bands: {
        "dims": int(dims),
        "planes_per_band": int(planes_per_band),
        "bands": int(bands),
    },
    schema="band_id int, band_key string, batch_id bigint",
    consequence=(
        "sign-LSH band keys from different plane families never "
        "collide, so every duplicate would be silently accepted"
    ),
)


def _incremental_embedding_flagged(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str,
    vec_col: str,
    dims: int,
    planes_per_band: int,
    bands: int,
    exclude_batch: Optional[int] = None,
):
    """The flag computation of :func:`incremental_embedding_dedup`
    WITHOUT the state append, shared with
    :func:`kolang_spark.streaming.embedding_dedup_sink`: returns
    ``(marked, novel, store)`` — see :func:`_incremental_banded_flagged`."""
    store = _EMBEDDING_STATE.bind(
        spark, state_path, dims, planes_per_band, bands
    )
    store.verify()
    banded = _embedding_band_keys(
        new_df, id_col, vec_col, dims, planes_per_band, bands
    )
    marked, novel = _incremental_banded_flagged(
        store, new_df, banded, id_col, exclude_batch
    )
    return marked, novel, store


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
    hash_fn: Optional[str] = None,
) -> DataFrame:
    """Exact substring-level duplication: the maximal token spans that
    occur (as an ``n``-token run) at least ``min_count`` times anywhere
    in the corpus — the distributed re-expression of the suffix-array
    ExactSubstr rule (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better").

    Strategy (no suffix array, no cross join — shapes that survive
    100 TB):

    1. positional n-grams: ``posexplode`` of the no-shuffle
       ``word_ngrams`` expression gives ``(id, pos, gram)`` where
       ``pos`` is the 0-based start-token index;
    2. corpus-frequency filter: ``groupBy(gram)`` keeps grams occurring
       ``>= min_count`` times (within-doc repeats count — a doc that
       repeats its own boilerplate is duplication too);
    3. posting-list equi-join marks duplicated positions, then a
       **per-document** window merges overlapping-or-adjacent
       duplicated grams (gap ``> n`` starts a new span) into maximal
       spans.

    Two shuffles (gram aggregate + join) and one ``id``-partitioned
    window — never a global window, never all-pairs. At corpus scale,
    ubiquitous short grams concentrate in step 2's aggregate exactly
    like Jaccard's stop-shingles; raise ``n`` (the published rule uses
    50-token runs) rather than sampling, since the gram count per doc
    is linear in its length regardless of ``n``.

    Returns one row per maximal span: ``(id_col, span_start, span_end,
    n_tokens)`` — inclusive 0-based token indices, ``n_tokens =
    span_end - span_start + 1``. Removal policy is pipeline-specific
    (drop all occurrences, keep-first, or cut documents at span
    boundaries) and is left to the caller.

    ``hash_fn='xxhash64'`` is the production knob: both shuffles then
    carry an 8-byte gram hash instead of the ~``6n``-byte gram string
    (the dominant shuffle payload at corpus scale). A 64-bit collision
    marks a non-duplicated position — vanishingly rare and it only
    widens a span by one gram; the default (``None``, raw strings) is
    exact and engine-portable for the oracle.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if min_count < 2:
        raise ValueError("min_count must be >= 2")
    if hash_fn not in (None, "xxhash64"):
        raise ValueError("hash_fn must be None or 'xxhash64'")
    tok = "__ks_tokens"
    ex = (
        ensure_min_parallelism(df.select(id_col, text_col))
        .withColumn(tok, tokenize(F.col(text_col)))
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(word_ngrams(F.col(tok), n)).alias("pos", "gram"),
        )
    )
    if hash_fn == "xxhash64":
        ex = ex.withColumn("gram", F.xxhash64("gram"))
    dup = (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= min_count)
        .select("gram")
    )
    marked = ex.join(dup, "gram").select("id", "pos")
    w = Window.partitionBy("id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)
    ).otherwise(F.lit(1))
    spans = (
        marked.withColumn("__brk", brk)
        .withColumn("span_id", F.sum("__brk").over(w))
        .groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        )
    )
    return spans.select(
        F.col("id").alias(id_col),
        F.col("span_start").cast("long"),
        F.col("span_end").cast("long"),
        (F.col("span_end") - F.col("span_start") + 1)
        .cast("long")
        .alias("n_tokens"),
    )


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
    out: str = "clean_text",
    spans: Optional[DataFrame] = None,
) -> DataFrame:
    """Rewrite each document with every duplicated span removed — the
    removal half of the ExactSubstr rule (:func:`duplicate_spans` is
    the detection half). All occurrences are dropped, the aggressive
    variant discussed in Lee et al. 2022 §4 (a keep-one policy needs a
    canonical-occurrence choice that is corpus-order-dependent; callers
    wanting it can filter the spans frame themselves before passing it
    via ``spans``).

    Shape: spans collapse to one array per doc (a groupBy of the
    already-tiny span set), then a 1:1 left join back onto the corpus
    and a pure Column rewrite — ``filter`` with the (token, index)
    lambda probes the span array per token, and surviving tokens
    re-join with single spaces. Documents without spans pass through
    untouched (``filter``'s identity), so whitespace is normalized only
    where a rewrite actually happened — the usual contract of a
    token-level cleaner.

    ``spans`` defaults to ``duplicate_spans(df, ...)`` with the same
    parameters; pass a precomputed/filtered frame to avoid re-deriving
    it or to apply a custom keep policy.
    """
    if spans is None:
        spans = duplicate_spans(df, id_col, text_col, n, min_count)
    spans_arr = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("__ks_spans")
    )
    toks = tokenize(F.col(text_col))
    covered = lambda i: F.exists(  # noqa: E731
        F.col("__ks_spans"),
        lambda sp: (i >= sp["s"]) & (i <= sp["e"]),
    )
    rewritten = F.array_join(
        F.filter(toks, lambda t, i: ~covered(i.cast("long"))), " "
    )
    return (
        df.join(spans_arr, id_col, "left")
        .withColumn(
            out,
            F.when(F.col("__ks_spans").isNull(), F.col(text_col)).otherwise(
                rewritten
            ),
        )
        .drop("__ks_spans")
    )


def incremental_minhash_dedup(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 6,
    bands: int = 3,
    hash_fn: Optional[str] = None,
) -> DataFrame:
    """NEAR-duplicate dedup for INCREMENTAL ingest — the MinHash+LSH
    counterpart of :func:`incremental_exact_dedup`: each new batch is
    checked against the **band keys** of everything already accepted,
    then the accepted docs' band keys are persisted. A batch scans only
    itself plus the compact state table (``bands`` short hash strings
    per accepted doc), never the accumulated corpus text.

    Returns the batch with ``is_near_duplicate``: true when any of the
    doc's LSH bands collides with the state (candidate near-dup of an
    accepted doc) or with an earlier-``id_col`` doc in the same batch.
    The within-batch rule is band-key-first-wins — conservative w.r.t.
    a strict doc-at-a-time loop (a doc flagged only via an earlier
    *also-flagged* doc would have been accepted sequentially), but
    flagged docs never enter the persisted state, so the divergence
    does not compound across batches. Docs shorter than ``n`` tokens
    have no signature and are always accepted (no bands to collide or
    persist) — same contract as :func:`minhash_candidate_pairs`.

    Like every LSH method this flags *candidates* at the banding
    S-curve's selectivity; chain a Jaccard verify on the flagged subset
    when precision matters more than a second look at the text.

    Scale shape: the per-band flags come from the state protocol's
    flag step (:meth:`kolang_spark.sources.state.BoundState.flag_new`,
    keyed by ``(band_id, band_key)``, every doc tied at the smallest id
    first) over the batch's bands only. State grows by ``bands`` rows
    per accepted doc; compact it periodically with
    :func:`kolang_spark.sources.io.compact_parquet`. The state probe
    routes through the Hadoop ``FileSystem`` API, so ``state_path``
    may be an object-store URI (``s3a://``/``hdfs://``/``abfs://``).
    """
    marked, novel, store = _incremental_minhash_flagged(
        spark, new_df, state_path, id_col, text_col, n, num_hashes, bands,
        hash_fn,
    )
    store.append(novel)
    return marked


_DEFAULT_HASH_FN = "xxhash64"


def _hashfn_meta_path(state_path: str) -> str:
    # leading underscore: Spark's file listing skips _-prefixed files,
    # so the meta can live inside the parquet dir without breaking
    # reads. Plain '/' join, never os.path — the path may be a
    # fully-qualified object-store URI.
    return state_path.rstrip("/") + "/_ks_hashfn.json"


_MINHASH_STATE = StateSpec(
    "minhash_bands",
    params=lambda hash_fn, n, num_hashes, bands: {
        "hash_fn": hash_fn,
        "n": int(n),
        "num_hashes": int(num_hashes),
        "bands": int(bands),
    },
    schema="band_id int, band_key string, batch_id bigint",
    consequence=(
        "band keys built under different MinHash construction parameters "
        "never collide, so every duplicate would be silently accepted"
    ),
)


def _check_and_pin_minhash_state(
    spark, state_path: str, hash_fn, n: int, num_hashes: int, bands: int
):
    """Resolve + verify the FULL construction params for a minhash
    band-key state — ``{hash_fn, n, num_hashes, bands}``. Band keys
    from a different hash function, shingle width, signature length,
    or banding never collide, so probing a state with ANY mismatched
    parameter silently accepts every duplicate — the worst possible
    failure mode for a dedup operator (r11 verdict item 1: the first
    guard pinned hash_fn only). The params are pinned by the generic
    ``_ks_state.json`` sidecar (O(1) per probe, atomic write,
    corrupt-sidecar self-healing — :mod:`kolang_spark.sources.state`);
    this function is the kind's verify step plus its legacy hook.

    Legacy resolution (no valid sidecar), in order:

    - r11 twin sidecar ``_ks_hashfn.json`` → its hash_fn must equal
      the resolved one; the numeric params become the caller's
      assertion of record (pre-r12 states never stamped them — the
      same trust the r11 code extended on every probe), and the full
      sidecar is pinned so every FUTURE probe verifies all four.
    - ``hash_fn`` column present (early-r11 states) → one full-column
      scan, read with ``mergeSchema`` so stamped rows are seen even
      next to unstamped files (advisor r12: the single-footer read
      could nondeterministically miss the column and pin a wrong
      explicit assertion); NULL rows count as md5; an EMPTY state has
      no keys and is safe under any hash.
    - no column (pre-r11 state) → the builder could have used EITHER
      documented knob, so there is nothing safe to assume: require
      the caller to pass hash_fn EXPLICITLY (their assertion is
      pinned; hard-coding 'md5' here would tell legacy-xxhash64 users
      to switch to md5, which passes the guard and silently accepts
      every duplicate).

    ``hash_fn=None`` means "the package default" — distinguishable
    from an explicit choice exactly so the legacy case can refuse to
    guess. Returns the verified state, bound to the resolved hash_fn.
    """
    import json as _json

    from kolang_spark.sources.io import fs_read_text

    explicit = hash_fn is not None
    resolved = hash_fn or _DEFAULT_HASH_FN
    if resolved not in ("md5", "xxhash64"):
        raise ValueError("hash_fn must be 'md5' or 'xxhash64'")
    store = _MINHASH_STATE.bind(
        spark, state_path, resolved, n, num_hashes, bands
    )
    consequence = _MINHASH_STATE.consequence

    def _legacy():
        raw = fs_read_text(spark, _hashfn_meta_path(state_path))
        if raw is not None:
            try:
                pinned = _json.loads(raw).get("hash_fn")
            except (ValueError, TypeError, AttributeError):
                pinned = None
            if pinned is not None:
                if pinned != resolved:
                    raise ValueError(
                        f"minhash state at {state_path} is pinned to "
                        f"hash_fn='{pinned}', probed with "
                        f"hash_fn='{resolved}' — {consequence}. "
                        f"Pass hash_fn='{pinned}', or start a fresh "
                        "state_path."
                    )
                return store.params
        head = spark.read.option("mergeSchema", "true").parquet(state_path)
        if "hash_fn" in head.columns:
            fns = sorted(
                head.agg(
                    F.collect_set(
                        F.coalesce("hash_fn", F.lit("md5"))
                    ).alias("fns")
                ).collect()[0][0]
            )
            if fns and fns != [resolved]:
                raise ValueError(
                    f"minhash state at {state_path} was written with "
                    f"hash_fn={fns}, probed with hash_fn='{resolved}' — "
                    f"{consequence}. Pass the state's hash_fn, "
                    "or start a fresh state_path."
                )
        else:
            # pre-stamp legacy state: only rows, no provenance. Refuse
            # to guess unless it is actually empty (no keys -> safe).
            if not explicit and head.limit(1).count() > 0:
                raise ValueError(
                    f"minhash state at {state_path} predates hash_fn "
                    "stamping, so the hash that built it cannot be "
                    "verified. Pass hash_fn='md5' or hash_fn='xxhash64' "
                    "EXPLICITLY to assert what it was built with (the "
                    "assertion is then pinned for future probes)."
                )
        return store.params

    store.verify(legacy_resolve=_legacy)
    return store


def _incremental_minhash_flagged(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 6,
    bands: int = 3,
    hash_fn: Optional[str] = None,
    exclude_batch: Optional[int] = None,
):
    """The flag computation of :func:`incremental_minhash_dedup`
    WITHOUT the state append: returns ``(marked, novel, store)`` where
    ``novel`` is the accepted docs' band-key frame the caller must
    append with ``store.append`` itself. Exists so sinks can order their
    writes for crash safety (materialize flags → write output → append
    state; see :func:`kolang_spark.streaming.minhash_dedup_sink`) —
    the plain operator appends state before returning.

    ``hash_fn=None`` = the package default (xxhash64). The state's
    full construction params ``{hash_fn, n, num_hashes, bands}`` are
    verified and pinned via :func:`_check_and_pin_minhash_state`
    (sidecar, O(1) per probe) and every novel row additionally carries
    a ``hash_fn`` column (defense in depth; also how early-r11
    sidecar-less states are recognized)."""
    store = _check_and_pin_minhash_state(
        spark, state_path, hash_fn, n, num_hashes, bands
    )
    hash_fn = store.params["hash_fn"]
    banded = _minhash_band_keys(
        new_df, id_col, text_col, n, num_hashes, bands, hash_fn
    )
    marked, novel = _incremental_banded_flagged(
        store, new_df, banded, id_col, exclude_batch
    )
    # stamp the state rows with the hash_fn that produced them — the
    # probe-time guard above depends on it
    return marked, novel.withColumn("hash_fn", F.lit(hash_fn)), store


def _incremental_banded_flagged(
    store,
    new_df: DataFrame,
    banded: DataFrame,
    id_col: str,
    exclude_batch: Optional[int] = None,
):
    """The shared core of every banded incremental dedup: given the
    batch's ``(id, band_id, band_key)`` frame (MinHash bands, sign-LSH
    plane families, ...) and the kind's verified ``store``, flag each
    id ``is_near_duplicate`` when seen-in-state OR not band-key-first
    within the batch, and derive the accepted ids' novel band keys for
    the caller's state append. ``exclude_batch`` is the streaming
    sinks' replay guard
    (:meth:`kolang_spark.sources.state.BoundState.read`)."""
    flag_col = "is_near_duplicate"
    # a band is new when unseen and no smaller id shares it (NULL ids
    # sort last, so one never beats a real id); the per-doc flag is
    # re-derived by each action over the pinned ≤bands-rows-per-doc
    # frame, which costs less than a second eager pin
    enriched = store.flag_new(
        banded,
        {"band_id": "band_id", "band_key": "band_key"},
        [F.col("id").asc_nulls_last()],
        ties_first=True,
        exclude_batch=exclude_batch,
    )
    flags = enriched.groupBy("id").agg(
        (~F.bool_and("__new__")).alias(flag_col)
    )
    # sentinel join-key name: a bare drop("id") would also remove the
    # caller's column when id_col == "id"
    keyed = flags.withColumnRenamed("id", "__ks_mid__")
    marked = new_df.join(
        keyed, new_df[id_col] == keyed["__ks_mid__"], "left"
    ).drop("__ks_mid__").withColumn(
        flag_col,
        F.coalesce(flag_col, F.lit(False)),
    )
    # no distinct: with unique ids only the min id keeps a shared band,
    # so each key is appended once. A repeated id ties for first and a
    # NULL id never meets the anti join, so both append a key again;
    # the probe is an EXISTS, so a doubled state key changes no flag
    novel = enriched.join(
        flags.where(F.col(flag_col)).select("id"), "id", "left_anti"
    ).select("band_id", "band_key")
    return marked, novel


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    mask_bits: int = 6,
    base: int = 257,
    mod: int = (1 << 31) - 1,
) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS scheme, Muthitacharoen
    et al. 2001): split each document at positions where a polynomial
    rolling hash of the trailing ``window`` bytes satisfies
    ``h % 2^mask_bits == 0``, then fingerprint each chunk — the
    storage-dedup primitive. Because boundaries depend only on LOCAL
    byte content, inserting or deleting a prefix shifts every byte
    offset but re-aligns the boundaries within ~``window`` bytes, so
    near-identical documents still share almost all chunk hashes —
    exactly what fixed-size blocks can't do. Chunk-level sharing
    (delta storage, partial-update dedup, CAS layout) falls out of one
    ``groupBy(chunk_hash)``.

    Expected chunk size is ``2^mask_bits`` bytes (geometric); this is
    the classic unbounded variant — FastCDC's min/max normalization is
    deliberately omitted (the unbounded form keeps every position's
    boundary decision independent and the SQL oracle replay closed-
    form).

    Execution: a vectorized numpy kernel per document, handed to
    :func:`kolang_spark.utils._map_rows` — the library's one Arrow row
    boundary, for byte-level numeric work (the multimodal decoders'
    category). This is a measured decision, not a shortcut: the
    pure-Column formulations were built first and benched — a
    per-position HOF fold evaluates interpreted lambdas per byte
    (~2 µs/byte: 11 s for 5 000 ×300 B docs; the zipped-shifted-arrays
    variant 25 s) while the numpy window loop is
    ``window`` vectorized multiply-adds per document (<0.5 s same
    corpus). Per-batch memory is O(batch bytes); hashes/boundaries are
    integer-exact, so the DuckDB oracle still replays every boundary
    and chunk md5 bit-for-bit.

    Returns ``(id_col, chunk_idx, start_byte, n_bytes, chunk_hash)``;
    ``start_byte`` 0-based, ``chunk_hash`` = md5 of the chunk's
    uppercase hex encoding (engine-portable). Empty documents produce
    no rows.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if not 1 <= mask_bits <= 30:
        raise ValueError("mask_bits must be in [1, 30]")
    div = 1 << mask_bits
    powers = [pow(base, window - 1 - j, mod) for j in range(window)]
    id_type = dict(df.dtypes)[id_col]
    schema = (
        f"{id_col} {id_type}, chunk_idx int, start_byte int, "
        f"n_bytes int, chunk_hash string"
    )

    def chunks(doc_id, text):
        raw = (text or "").encode("utf-8")
        n = len(raw)
        if n == 0:
            return
        if n >= window:
            b = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
            acc = np.zeros(n - window + 1, dtype=np.int64)
            # h(i) = Σ_j b[i-w+1+j]·base^(w-1-j) mod m — the same value
            # a sequential rolling update yields; mod per term keeps
            # everything < 2^40
            for j in range(window):
                acc = (acc + b[j : n - window + 1 + j] * powers[j]) % mod
            cuts = np.nonzero(acc % div == 0)[0] + window
            cuts = cuts[cuts < n]
        else:
            cuts = np.empty(0, dtype=np.int64)
        bounds = np.concatenate(([0], cuts, [n]))
        hx = raw.hex().upper()
        for k in range(len(bounds) - 1):
            s, e = int(bounds[k]), int(bounds[k + 1])
            yield (
                doc_id,
                k,
                s,
                e - s,
                hashlib.md5(hx[2 * s : 2 * e].encode()).hexdigest(),
            )

    src = ensure_min_parallelism(df).select(id_col, text_col)
    return _map_rows(src, schema, chunks)


_CDC_STATE = StateSpec(
    "cdc_chunks",
    params=lambda window, mask_bits, base, mod: {
        "window": int(window),
        "mask_bits": int(mask_bits),
        "base": int(base),
        "mod": int(mod),
    },
    schema="chunk_key string, n_bytes long",
    consequence=(
        "content-defined chunk boundaries (and so chunk keys) depend on "
        "window/mask_bits/base/mod, so keys from different parameters "
        "never match the store's — every chunk would be reported novel "
        "and the dedup ledger silently wrong"
    ),
)


def incremental_cdc_ingest(
    spark,
    new_df: DataFrame,
    state_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    mask_bits: int = 6,
    base: int = 257,
    mod: int = (1 << 31) - 1,
) -> DataFrame:
    """Chunk-store ingest — :func:`cdc_chunks` against a persisted
    content-addressable store: chunk the batch, probe every chunk
    fingerprint against the hashes of all previously stored chunks
    (parquet state, one 32-char md5 + byte count per distinct chunk —
    never the content), and report each document's storage economics.
    This is the dedup ledger of every CAS/backup/lakehouse ingest
    path: ``novel_bytes`` is what the batch actually costs to store,
    ``dup_bytes`` is what chunk-sharing saved — across batches AND
    within the batch (a chunk is novel only at its first occurrence
    by ``(id, chunk_idx)``).

    Same crash contract as the other incremental operators: per-chunk
    flags are pinned BEFORE the state append, the append happens
    before return, and the state probe routes through the Hadoop
    ``FileSystem`` API (``state_path`` may be an object-store URI); a
    crashed-and-replayed batch can duplicate output, never lose state,
    and duplicate appends are harmless (the probe emits one row per
    chunk however many state rows match).

    Scale shape: the per-chunk flags come from the state protocol's
    flag step (:meth:`kolang_spark.sources.state.BoundState.flag_new`,
    keyed by the 32-char chunk hash, first by ``(id, chunk_idx)``)
    over batch chunks only — stored chunk CONTENT is never rescanned.
    Returns one row per input document: ``(id_col, n_chunks,
    n_novel_chunks, total_bytes, novel_bytes, dup_bytes)``; empty
    documents get all zeros.

    The store's construction params ``{window, mask_bits, base, mod}``
    are pinned by the ``_ks_state.json`` sidecar (r12): chunk
    boundaries depend on all four, so a mismatched probe raises
    instead of silently reporting every chunk novel. Pre-r12 stores
    carry no provenance — the first stamped probe's params become the
    assertion of record.
    """
    store = _CDC_STATE.bind(spark, state_path, window, mask_bits, base, mod)
    store.verify()
    chunks = cdc_chunks(new_df, id_col, text_col, window, mask_bits, base, mod)
    marked = store.flag_new(
        chunks, {"chunk_hash": "chunk_key"}, [id_col, "chunk_idx"]
    ).withColumnRenamed("__new__", "is_novel")
    # only a chunk hash's first row is novel: one row per key
    store.append(
        marked.where(F.col("is_novel")).select(
            F.col("chunk_hash").alias("chunk_key"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
        )
    )
    report = (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.col("is_novel").cast("long"))
            .cast("long")
            .alias("n_novel_chunks"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum(
                F.when(F.col("is_novel"), F.col("n_bytes")).otherwise(0)
            )
            .cast("long")
            .alias("novel_bytes"),
        )
        .withColumn(
            "dup_bytes", F.col("total_bytes") - F.col("novel_bytes")
        )
    )
    zero = F.lit(0).cast("long")
    # the one id spine left: the Python chunker emits no row for an
    # empty document, so only a second read of new_df can keep it
    return (
        new_df.select(F.col(id_col)).distinct()
        .join(report, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_chunks", zero).alias("n_chunks"),
            F.coalesce("n_novel_chunks", zero).alias("n_novel_chunks"),
            F.coalesce("total_bytes", zero).alias("total_bytes"),
            F.coalesce("novel_bytes", zero).alias("novel_bytes"),
            F.coalesce("dup_bytes", zero).alias("dup_bytes"),
        )
    )


def duplication_mass_report(
    df: DataFrame,
    text_col: str = "text",
    token_count_col: Optional[str] = None,
) -> DataFrame:
    """Memorization-risk audit (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" motivation, as a
    dataset-card number): how much of the corpus' TOKEN MASS sits in
    exactly-duplicated documents, bucketed by duplication
    multiplicity.

    One row per multiplicity ``n_copies``: ``n_groups`` distinct
    texts occurring that many times, ``n_docs = n_copies·n_groups``,
    their summed ``total_tokens``, and ``token_share`` of the whole
    corpus. ``n_copies = 1`` is the unique mass; everything above it
    is what exact dedup would deflate.

    Shape: canonical-md5 fingerprint groupBy (the `exact_dedup`
    aggregation) → a second, ≤ max-multiplicity-row aggregate → the
    grand total attached via a broadcast one-row crossJoin (the
    documented scale rewrite — no single-partition window, no
    driver-side total). ``token_count_col`` swaps in precomputed
    (e.g. real-BPE) counts; default is whitespace tokens.
    """
    from kolang_spark.llm.textstats import token_count

    tok = (
        F.col(token_count_col)
        if token_count_col
        else token_count(F.col(text_col))
    ).cast("long")
    base = df.select(
        doc_fingerprint(F.col(text_col)).alias("__fp__"), tok.alias("__tok__")
    )
    groups = base.groupBy("__fp__").agg(
        F.count(F.lit(1)).cast("long").alias("n_copies"),
        F.sum("__tok__").cast("long").alias("__gt__"),
    )
    buckets = groups.groupBy("n_copies").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("__gt__").cast("long").alias("total_tokens"),
    )
    total = base.agg(F.sum("__tok__").cast("long").alias("__tt__"))
    return buckets.crossJoin(F.broadcast(total)).select(
        "n_copies",
        "n_groups",
        (F.col("n_copies") * F.col("n_groups")).cast("long").alias("n_docs"),
        "total_tokens",
        F.round(F.col("total_tokens") / F.col("__tt__"), 6).alias("token_share"),
    )
