"""Streaming sinks beyond append: per-micro-batch MERGE into a
hive-partitioned parquet table.

Structured Streaming's file sink is append-only; CDC-shaped streams
(upserts keyed by id) need merge semantics. ``foreachBatch`` is the
sanctioned bridge: each micro-batch is a normal batch DataFrame, so the
engine's partition-pruned :func:`kolang_spark.sources.io.
upsert_partitioned` applies verbatim — only the partitions a batch
touches are rewritten, batches apply in order, and a batch replayed
after a failure re-applies idempotently (same keys → same final rows).

The target table is created by the first non-empty batch. The
upsert operator's contract carries over: partition values are
immutable per key, and the rewrite window is documented there.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kolang_spark.sources.state import (
    BoundState,
    StateSpec,
    _write_batch,
    read_state_meta,
)

__all__ = [
    "upsert_sink",
    "minhash_dedup_sink",
    "line_dedup_sink",
    "embedding_dedup_sink",
    "cms_sink",
    "cms_state",
    "cms_state_params",
]


def _start_foreach_batch(
    stream_df: DataFrame, handle, checkpoint: Optional[str], available_now: bool
):
    """Start ``stream_df`` with ``handle(batch_df, batch_id)`` run on
    every NON-EMPTY micro-batch; ``checkpoint`` is the streaming
    checkpoint dir, ``available_now`` drains the source and stops.
    Returns the started ``StreamingQuery``."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            handle(batch_df, batch_id)

    writer = stream_df.writeStream.foreachBatch(run)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _dedup_sink(
    stream_df: DataFrame,
    flagged,
    output,
    output_path: str,
    idempotent_output: bool,
    checkpoint: Optional[str],
    available_now: bool,
):
    """The crash-safe batch sequence shared by the dedup sinks, in
    write ORDER: (1) ``flagged(batch_df, batch_id)`` → ``(marked,
    novel, store)`` computes flags against the pre-batch state and
    pins them (:meth:`BoundState.flag_new`), ignoring state rows
    stamped with this ``batch_id`` — stable across restart replays —
    so a replay recomputes IDENTICAL flags in every crash window;
    (2) ``output(batch_df, marked)`` appends to ``output_path``;
    (3) ``novel`` appends to the state stamped with ``batch_id``, then
    the fast pin. A crash between (2) and (3) costs duplicate
    IDENTICAL output rows, never a lost row: the state never holds a
    key whose document has not reached the output.

    Default output is a plain parquet append — at-least-once, replay
    duplicates are removable downstream by id. ``idempotent_output``
    writes each batch into its own ``_batch_id`` hive partition with
    dynamic-partition OVERWRITE, so a replay REPLACES its earlier
    partial: exactly-once output without a table format, at the cost
    of one directory per micro-batch (compact long streams with
    :func:`kolang_spark.sources.io.compact_parquet`) and an extra
    ``_batch_id`` column for readers."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        marked, novel, store = flagged(batch_df, batch_id)
        _write_batch(
            output(batch_df, marked),
            output_path,
            batch_id if idempotent_output else None,
            col="_batch_id",
            own_partition=idempotent_output,
        )
        store.append(novel, batch_id)

    return _start_foreach_batch(stream_df, handle, checkpoint, available_now)


def _accepted(marked: DataFrame, keep_duplicates: bool) -> DataFrame:
    """Sink output of the near-dup kinds: every row with its
    ``is_near_duplicate`` flag, or only the accepted rows."""
    if keep_duplicates:
        return marked
    return marked.where(~F.col("is_near_duplicate")).drop("is_near_duplicate")


def upsert_sink(
    stream_df: DataFrame,
    path: str,
    keys: List[str],
    partition_by: List[str],
    order_col: Optional[str] = None,
    checkpoint: Optional[str] = None,
    available_now: bool = True,
):
    """Start a streaming query that MERGEs each micro-batch into the
    parquet table at ``path`` (see module docstring). Returns the
    started ``StreamingQuery``; callers ``awaitTermination`` it.

    ``order_col`` resolves duplicate keys WITHIN a batch (last wins);
    ACROSS batches, later batches win by construction.
    ``available_now=True`` drains the source and stops (the backfill
    mode); ``False`` runs continuously on the default trigger.
    """
    from kolang_spark.sources.io import path_exists, upsert_partitioned

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Hadoop-FS probe, not os.path.exists: on an object-store path
        # (s3a://...) the driver-local check is always False, so every
        # batch would take the create branch and batch 1 would die on
        # 'path already exists'
        if not path_exists(spark, path):
            if order_col is not None:
                from kolang_spark.operators.sampling import top_k_per_group

                batch_df = top_k_per_group(
                    batch_df, keys, order_col, 1, rank_col=None
                )
            batch_df.write.partitionBy(*partition_by).parquet(path)
        else:
            upsert_partitioned(
                spark,
                path,
                batch_df,
                keys=keys,
                partition_by=partition_by,
                order_col=order_col,
            )

    return _start_foreach_batch(stream_df, handle, checkpoint, available_now)


def minhash_dedup_sink(
    stream_df: DataFrame,
    state_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 6,
    bands: int = 3,
    hash_fn: Optional[str] = None,
    keep_duplicates: bool = False,
    checkpoint: Optional[str] = None,
    available_now: bool = True,
    idempotent_output: bool = False,
):
    """Streaming NEAR-duplicate ingest: each micro-batch is flagged
    against (and then extends) the persisted MinHash band-key state —
    the ``foreachBatch`` wiring of
    :func:`kolang_spark.llm.dedup.incremental_minhash_dedup`, closing
    the loop the batch operator opened. Accepted docs (or all docs
    with their ``is_near_duplicate`` flag when ``keep_duplicates``)
    append to the parquet table at ``output_path``; band keys of
    accepted docs append to ``state_path``. Both paths may be
    object-store URIs (all probes go through the Hadoop FS API).
    Returns the started ``StreamingQuery``.

    Crash contract: (1) flags are pinned against the pre-batch state,
    (2) output appends, (3) state appends, stamped with the
    foreachBatch ``batch_id`` (stable across restart replays), which a
    replay ignores — so a replay recomputes IDENTICAL flags in every
    crash window. The only artifact is duplicate identical output
    rows, removable downstream by doc_id; accepted docs are never
    lost. At-least-once output + never-lose is the strongest contract
    a plain-parquet APPEND sink can offer; ``idempotent_output=True``
    upgrades the output to exactly-once without a table format: each
    batch writes into its own ``_batch_id`` hive partition with
    dynamic-partition OVERWRITE, so a replay REPLACES its previous
    partial (one directory per micro-batch; readers see the extra
    ``_batch_id`` column).

    Within-batch semantics, state growth, and the candidate-only
    flagging caveat are the batch operator's (see its docstring).
    """
    from kolang_spark.llm.dedup import _incremental_minhash_flagged

    return _dedup_sink(
        stream_df,
        lambda batch_df, batch_id: _incremental_minhash_flagged(
            batch_df.sparkSession, batch_df, state_path, id_col, text_col,
            n, num_hashes, bands, hash_fn, exclude_batch=batch_id,
        ),
        lambda batch_df, marked: _accepted(marked, keep_duplicates),
        output_path,
        idempotent_output,
        checkpoint,
        available_now,
    )


def line_dedup_sink(
    stream_df: DataFrame,
    state_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    delim: str = "\n",
    out_col: Optional[str] = None,
    checkpoint: Optional[str] = None,
    available_now: bool = True,
    idempotent_output: bool = False,
):
    """Streaming LINE-level dedup ingest (the RefinedWeb corpus-wide
    keep-first rule, applied per micro-batch): each batch's lines are
    checked against (and then extend) the persisted kept-line-hash
    state — the ``foreachBatch`` wiring of
    :func:`kolang_spark.llm.dedup.incremental_line_dedup`, completing
    the streaming incremental-ingest family (exact → MinHash → lines).
    Re-assembled documents ``(id_col, out_col, n_kept, n_removed)``
    append to ``output_path``; the batch's novel line hashes append to
    ``state_path``. Both paths may be object-store URIs (all probes go
    through the Hadoop FS API). Returns the started
    ``StreamingQuery``.

    Crash contract and ``idempotent_output`` as in
    :func:`minhash_dedup_sink`: a replay rebuilds IDENTICAL documents
    in every crash window — duplicate output rows removable downstream
    by ``id_col``, never the silently-emptied documents a state-first
    order (or an unstamped state) would produce.

    Within-batch semantics (state hit removes every occurrence, novel
    lines keep their first by ``(id, pos)``, whitespace-only lines
    always survive) are the batch operator's — see its docstring.
    """
    from kolang_spark.llm.dedup import (
        _incremental_lines_flagged,
        _rebuild_deduped_lines,
    )

    return _dedup_sink(
        stream_df,
        lambda batch_df, batch_id: _incremental_lines_flagged(
            batch_df.sparkSession, batch_df, state_path, id_col, text_col,
            delim, exclude_batch=batch_id,
        ),
        lambda batch_df, marked: _rebuild_deduped_lines(
            marked, id_col, text_col, delim, out_col
        ),
        output_path,
        idempotent_output,
        checkpoint,
        available_now,
    )


def embedding_dedup_sink(
    stream_df: DataFrame,
    state_path: str,
    output_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    planes_per_band: int = 8,
    bands: int = 2,
    keep_duplicates: bool = False,
    checkpoint: Optional[str] = None,
    available_now: bool = True,
    idempotent_output: bool = False,
):
    """Streaming NEAR-dup ingest over EMBEDDINGS — the sign-LSH member
    of the sink family (exact stream dedup → :func:`minhash_dedup_sink`
    → :func:`line_dedup_sink` → this), the ``foreachBatch`` wiring of
    :func:`kolang_spark.llm.dedup.incremental_embedding_dedup` for
    vector streams (featurizer output, embedding services). Accepted
    vectors (or all rows with their ``is_near_duplicate`` flag when
    ``keep_duplicates``) append to ``output_path``; accepted vectors'
    band keys append to ``state_path``. Both paths may be object-store
    URIs. Returns the started ``StreamingQuery``.

    Crash contract and ``idempotent_output`` as in
    :func:`minhash_dedup_sink`: duplicate output rows at worst, never
    a lost or flag-inverted accepted vector.
    Within-batch semantics (band-key-first-wins, malformed embeddings
    always accepted and never persisted) are the batch operator's.
    """
    from kolang_spark.llm.dedup import _incremental_embedding_flagged

    return _dedup_sink(
        stream_df,
        lambda batch_df, batch_id: _incremental_embedding_flagged(
            batch_df.sparkSession, batch_df, state_path, id_col, vec_col,
            dims, planes_per_band, bands, exclude_batch=batch_id,
        ),
        lambda batch_df, marked: _accepted(marked, keep_duplicates),
        output_path,
        idempotent_output,
        checkpoint,
        available_now,
    )


# ``cms_state`` reads the hive-partitioned state itself under this
# schema, keeping the reader's PATH_NOT_FOUND for a state no batch
# created (``BoundState.read`` would return an empty frame instead)
_CMS_STATE = StateSpec(
    "cms",
    params=lambda depth, width, salt: {
        "depth": int(depth),
        "width": int(width),
        "salt": salt,
    },
    schema="row int, bucket bigint, cnt bigint, batch_id bigint",
    consequence=(
        "count-min counters bucketed under a different depth/width/salt "
        "estimate garbage with no error"
    ),
    own_partition=True,
)


def cms_sink(
    stream_df: DataFrame,
    state_path: str,
    col: str,
    depth: int = 4,
    width: int = 1024,
    salt: str = "",
    weight: Optional[str] = None,
    checkpoint: Optional[str] = None,
    available_now: bool = True,
):
    """Streaming frequency-sketch ingest: fold each micro-batch into a
    persisted count-min sketch — heavy hitters / per-key rates over an
    unbounded stream in ``depth × width`` longs of state, no per-key
    state growth ever.

    State layout is one hive partition per ``batch_id``, holding that
    batch's partial ``(row, bucket, cnt)`` sketch (bounded: ≤
    depth×width rows per batch regardless of batch size). Each batch
    writes with dynamic partition OVERWRITE scoped to its own
    partition, so a crash-replayed batch REPLACES its previous partial
    instead of appending next to it: merged counters are
    **exactly-once**. The dedup sinks settle for at-least-once because
    duplicate output rows are removable downstream by id — a replayed
    COUNT would be silently absorbed into the sum, unremovable, so
    this sink must be (and is) idempotent per batch.

    Readers call :func:`cms_state` for the merged counters (CMS merge
    = counter sum — Cormode–Muthukrishnan) and feed them to
    :func:`kolang_spark.operators.sketches.cms_estimate` with the same
    depth/width/salt. Returns the started ``StreamingQuery``.

    The sketch's construction params ``{depth, width, salt}`` are
    pinned by the ``_ks_state.json`` sidecar (r12 — the r11 verdict's
    #1 item; "same depth/width/salt" used to be docstring-only):
    counters bucketed under a different width or salt estimate
    garbage, so a mismatched sink batch raises instead of silently
    merging incompatible partials, and readers can verify (or simply
    READ the pinned params via :func:`cms_state_params`) instead of
    guessing. Pre-r12 states carry no provenance — the first stamped
    batch's params become the assertion of record.
    """
    from kolang_spark.operators.sketches import cms_table

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        store = _CMS_STATE.bind(
            batch_df.sparkSession, state_path, depth, width, salt
        )
        store.verify()
        store.append(
            cms_table(
                batch_df, col, depth=depth, width=width, weight=weight, salt=salt
            ),
            batch_id,
        )

    return _start_foreach_batch(stream_df, handle, checkpoint, available_now)


def cms_state(
    spark,
    state_path: str,
    depth: Optional[int] = None,
    width: Optional[int] = None,
    salt: Optional[str] = None,
) -> DataFrame:
    """Merged counters of a :func:`cms_sink` state dir: the per-batch
    partial sketches summed into one ``(row, bucket, cnt)`` table —
    drop-in for :func:`kolang_spark.operators.sketches.cms_estimate`.
    Raises the reader's normal PATH_NOT_FOUND if no batch has landed
    yet (the sink creates the dir on the first non-empty batch).

    Pass the ``depth``/``width``/``salt`` you intend to estimate with
    and they are VERIFIED against the state's pinned sidecar (r12):
    estimating with a different width or salt probes the wrong buckets
    and returns garbage counts with no error. Omitted params are not
    checked — prefer :func:`cms_state_params` to read the pinned
    values instead of re-supplying them at all.

    Readers verify but never PIN (review r12): an unstamped pre-r12
    state stays unstamped here — the next stamping WRITER pins the
    full truth. The first cut pinned the reader's partial probe (e.g.
    just ``width``) as the assertion of record, after which every
    correct full-params sink batch raised against the partial pin —
    and a mis-remembering reader could block the correct writer."""
    probe = {
        k: v
        for k, v in (("depth", depth), ("width", width), ("salt", salt))
        if v is not None
    }
    if probe:
        BoundState(_CMS_STATE, spark, state_path, probe).verify_readonly()
    return (
        spark.read.schema(_CMS_STATE.schema)
        .parquet(state_path)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_state_params(spark, state_path: str) -> Optional[dict]:
    """The ``{depth, width, salt}`` a :func:`cms_sink` state was built
    with, read from its pinned sidecar — feed these to
    :func:`kolang_spark.operators.sketches.cms_estimate` instead of
    re-supplying (and possibly mis-remembering) them. ``None`` for a
    pre-r12 state that has never been re-probed by a stamping sink."""
    meta = read_state_meta(spark, state_path)
    if meta is None or meta.get("kind") != _CMS_STATE.kind:
        return None
    return dict(meta["params"])
