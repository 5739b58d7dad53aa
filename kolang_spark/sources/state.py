"""One state protocol for persisted operator state.

Five incremental operators and four streaming sinks keep compact
derived state between runs in a parquet directory. Each directory
holds one state KIND, declared once as a :class:`StateSpec` next to
the operator that writes it:

- ``exact_fingerprints`` — ``incremental_exact_dedup``; no params
  (unparameterized md5 fingerprints, so only the kind is checked).
- ``minhash_bands`` — ``incremental_minhash_dedup`` and
  ``minhash_dedup_sink``; ``hash_fn, n, num_hashes, bands``.
- ``embedding_signlsh`` — ``incremental_embedding_dedup`` and
  ``embedding_dedup_sink``; ``dims, planes_per_band, bands``.
- ``line_hashes`` — ``incremental_line_dedup`` and
  ``line_dedup_sink``; ``delim``.
- ``cdc_chunks`` — ``incremental_cdc_ingest``;
  ``window, mask_bits, base, mod``.
- ``cms`` — ``cms_sink``, read back by ``cms_state``;
  ``depth, width, salt``.

A state is only meaningful under the exact parameters that built it:
band keys from a different hash function, shingle width or plane
family never collide with the state's keys, and CMS counters bucketed
under a different width or salt estimate garbage. A mismatched probe
does not error on its own — it silently accepts every duplicate (or
returns wrong counts). So every state directory carries a
``_ks_state.json`` sidecar ``{"kind": ..., "params": {...}}`` and
every call runs the same sequence through :meth:`StateSpec.bind`:

1. **verify** (:func:`check_state_meta`): a probe of an existing state
   must match the sidecar's kind and every param, else ``ValueError``
   naming the mismatches — before any probe against never-colliding
   keys. Readers verify without pinning (:meth:`BoundState.verify_readonly`).
2. **read** (:meth:`BoundState.read`): explicit schema, an empty frame
   when nothing is persisted yet, and optionally without the rows a
   replayed streaming batch appended itself.
3. **probe** (:meth:`BoundState.seen`): the one way a batch asks the
   state "have you seen these keys?" — a non-null ``__seen__`` per
   batch row, from one ExistenceJoin against the read (no join at all
   while nothing is persisted).
4. **flag** (:meth:`BoundState.flag_new`): a non-null ``__new__`` per
   batch row — not seen, and first by the kind's order among the batch
   rows that share its key — pinned by the one eager
   ``localCheckpoint`` before anything is written. The operator only
   maps ``__new__`` to its own flag or counts.
5. **append** (:meth:`BoundState.append`): optional int64 ``batch_id``
   stamp, the parquet write, then the fast pin
   (:func:`ensure_state_pinned`) that stamps a state this call created.

Sidecar rules:

- **atomic pin**: the sidecar is written under a temp name and renamed
  over the old one, so a crash never leaves a half-written sidecar and
  a concurrent prober never sees "no sidecar".
- **heal**: a missing or unparseable sidecar falls back to the kind's
  legacy resolution (the minhash column scan / twin-sidecar migration;
  for other kinds, the caller's params) and re-pins a fresh sidecar —
  corruption costs one legacy resolution, never a permanent failure.
- **legacy assertion of record**: a state written before its params
  were stamped carries no provenance for them; the caller's values are
  pinned as the assertion of record, and every later probe is verified
  against it.
- **zero jobs**: verify and pin on an already-pinned state are
  driver-side file reads only, never Spark jobs.

The sidecar lives INSIDE the state directory under a ``_``-prefixed
name, which Spark's file listing skips, so the state parquet reads are
unaffected. All IO routes through the Hadoop ``FileSystem`` helpers in
:mod:`kolang_spark.sources.io`, so state paths may be object-store
URIs (``s3a://``/``hdfs://``/``abfs://``).

Reference: the reference engine persists no cross-run operator state
(its dedup is single-run), so this module has no reference
counterpart; it extends the reference's parquet memoization.
"""

from __future__ import annotations

import json
import operator
from dataclasses import dataclass
from functools import reduce
from typing import Any, Callable, Mapping, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "state_meta_path",
    "read_state_meta",
    "pin_state_meta",
    "check_state_meta",
    "ensure_state_pinned",
]

STATE_META_NAME = "_ks_state.json"


def state_meta_path(state_path: str) -> str:
    """Path of a state dir's construction-params sidecar. Leading
    underscore: Spark's file listing skips ``_``-prefixed files, so
    the sidecar can live inside the parquet dir without breaking
    reads. Plain ``/`` join, never ``os.path`` — the path may be a
    fully-qualified object-store URI."""
    return state_path.rstrip("/") + "/" + STATE_META_NAME


def read_state_meta(spark, state_path: str) -> Optional[dict]:
    """The pinned ``{"kind": ..., "params": {...}}`` dict, or ``None``
    when the sidecar is missing OR unreadable/corrupt (truncated by a
    crash predating atomic writes, foreign content) — corrupt heals
    exactly like missing: the caller re-resolves via its legacy branch
    and re-pins a fresh sidecar (advisor r11 item 3: a permanent
    ``JSONDecodeError`` on every probe must never wedge the state)."""
    from kolang_spark.sources.io import fs_read_text

    raw = fs_read_text(spark, state_meta_path(state_path))
    if raw is None:
        return None
    try:
        meta = json.loads(raw)
        if not isinstance(meta, dict) or not isinstance(meta.get("kind"), str):
            return None
        params = meta.get("params")
        if not isinstance(params, dict):
            return None
        return meta
    except (ValueError, TypeError):
        return None


def pin_state_meta(spark, state_path: str, kind: str, params: Mapping) -> None:
    """Atomically write the sidecar: temp name (also ``_``-prefixed,
    so Spark never lists a half-written file) then rename-with-
    OVERWRITE in one metadata op (``fs_rename_overwrite``), so a
    concurrent prober sees either the previous sidecar or the new one
    — never 'no sidecar' (a no-sidecar read would fall into legacy
    resolution and could re-pin unverified params; advisor r12).
    Only where overwrite-rename is unsupported (object stores with no
    AbstractFileSystem binding) does this degrade to delete-then-
    rename, whose brief missing-sidecar window can at worst trigger
    one spurious legacy resolution — which re-pins from the state
    itself, so the healed sidecar still reflects construction truth.
    Every path renames a COMPLETE temp file, so no reader ever sees
    truncated JSON."""
    from kolang_spark.sources.io import (
        fs_delete,
        fs_rename,
        fs_rename_overwrite,
        fs_write_text,
    )

    dst = state_meta_path(state_path)
    tmp = dst + ".tmp"
    content = json.dumps({"kind": kind, "params": dict(params)}, sort_keys=True)
    fs_write_text(spark, tmp, content)
    if fs_rename_overwrite(spark, tmp, dst):
        return
    fs_delete(spark, dst, recursive=False)
    if not fs_rename(spark, tmp, dst):
        # rename unsupported or raced (two concurrent pinners of the
        # SAME params — both wrote identical temp content, one rename
        # wins): fall back to an in-place write so the pin lands
        fs_write_text(spark, dst, content)
        fs_delete(spark, tmp, recursive=False)


def check_state_meta(
    spark,
    state_path: str,
    kind: str,
    params: Mapping,
    legacy_resolve: Optional[Callable[[], Mapping]] = None,
    consequence: str = (
        "keys built under different parameters never collide, so every "
        "duplicate would be silently accepted"
    ),
) -> dict:
    """Verify a probe's construction params against the state's pinned
    sidecar; pin them when no (valid) sidecar exists yet.

    - State path missing → nothing persisted, nothing to verify:
      returns ``params`` (the writer pins after its first append).
    - Valid sidecar → ``kind`` and every key of ``params`` must match
      the pinned values, else ``ValueError`` naming the mismatches.
    - Missing/corrupt sidecar → ``legacy_resolve()`` (state-family
      hook: column scan, twin-sidecar migration, explicit-assertion
      requirement; may itself raise) resolves the params to pin;
      without a hook the caller's params are the assertion of record.
      A fresh sidecar is pinned either way (self-healing).

    Returns the resolved params dict (== ``params`` unless the legacy
    hook refined them).
    """
    from kolang_spark.sources.io import path_exists

    if not path_exists(spark, state_path):
        return dict(params)
    meta = read_state_meta(spark, state_path)
    if meta is not None:
        _check_pinned(
            meta,
            state_path,
            kind,
            params,
            consequence,
            "Probe with the pinned kind and values, or start a fresh "
            "state_path.",
        )
        return dict(params)
    resolved = dict(legacy_resolve()) if legacy_resolve is not None else dict(params)
    pin_state_meta(spark, state_path, kind, resolved)
    return resolved


def ensure_state_pinned(spark, state_path: str, kind: str, params: Mapping) -> None:
    """Post-append fast pin: write the sidecar iff none exists — NO
    legacy resolution, no Spark jobs. ONLY valid when the caller ran
    :func:`check_state_meta` against the same path earlier in the same
    call (every incremental operator does, at probe time): if the
    state pre-existed, that check already verified-or-pinned, so the
    sidecar is present and this is one O(1) metadata read; if the
    state was created by this very call's append, the caller's params
    ARE the construction truth and are pinned directly. Exists because
    the r12 A/B measured the naive alternative — re-running the full
    check (with its legacy column-scan Spark jobs) after every first
    append — at ~0.5-0.8 s per streaming-sink run (BASELINE.md r12).

    An EXISTING sidecar is still compared (O(1), review r12): two
    concurrent first-writers racing on a fresh state_path both pass
    the probe-time check (nothing existed to verify), both append,
    and one pins — without this compare the loser would no-op
    silently and the mixed-key state would accept every duplicate
    forever; instead the loser raises, naming both param sets. The
    state is still mixed (plain parquet has no transactional append —
    start a fresh state_path), but loudly."""
    meta = read_state_meta(spark, state_path)
    if meta is None:
        pin_state_meta(spark, state_path, kind, params)
        return
    _check_pinned(
        meta,
        state_path,
        kind,
        params,
        "a concurrent writer pinned them first, so the state now holds "
        "keys from both and cannot be trusted",
        "Start a fresh state_path.",
    )


def _check_pinned(
    meta: dict,
    state_path: str,
    kind: str,
    params: Mapping,
    consequence: str,
    remedy: str,
) -> None:
    """THE sidecar mismatch comparison: raise ``ValueError`` naming
    every difference between the pinned ``meta`` and a probe's
    ``kind`` and ``params``. Only the probed keys are compared, so a
    reader may verify a subset. A different kind is reported alone:
    another family's params are not comparable."""
    pinned = meta["params"]
    if meta["kind"] != kind:
        bad = {"kind": (meta["kind"], kind)}
    else:
        bad = {
            k: (pinned.get(k), v) for k, v in params.items() if pinned.get(k) != v
        }
    if bad:
        detail = ", ".join(
            f"{k}: pinned={p!r} probed={v!r}" for k, (p, v) in sorted(bad.items())
        )
        raise ValueError(
            f"state at {state_path} was built with different construction "
            f"parameters ({detail}) — {consequence}. {remedy}"
        )


def _write_batch(
    df: DataFrame,
    path: str,
    batch_id: Optional[int] = None,
    col: str = "batch_id",
    own_partition: bool = False,
) -> None:
    """Append ``df`` to the parquet dir ``path``. With ``batch_id``,
    every row is stamped with it as an int64 column ``col``. The cast
    matters: py4j turns a Python int literal into IntegerType, so
    without it the files would hold Parquet INT32 while the explicit
    read schemas say bigint (Spark 4 widens silently, Spark 3 throws).
    ``own_partition`` writes the batch into its own ``col`` hive
    partition with dynamic-partition OVERWRITE, so a replayed batch
    replaces its earlier partial instead of appending beside it."""
    if batch_id is not None:
        df = df.withColumn(col, F.lit(int(batch_id)).cast("long"))
    if own_partition:
        from kolang_spark.sources.io import overwrite_partitions

        overwrite_partitions(df, path, partition_by=[col])
    else:
        df.write.mode("append").parquet(path)


@dataclass(frozen=True)
class StateSpec:
    """One persisted-state kind, declared once next to its operator.

    ``kind`` is the sidecar's kind string; ``params`` maps the
    operator's construction arguments to the params dict the sidecar
    pins; ``schema`` is the explicit DDL read schema, so no state read
    infers one from the footers; ``consequence`` says what a
    mismatched probe would silently do, for the error message; and
    ``own_partition`` makes each streaming batch overwrite its own
    ``batch_id`` partition instead of appending (count-min counters
    must be exactly-once: a replayed count would be summed in)."""

    kind: str
    params: Callable[..., dict]
    schema: str
    consequence: str
    own_partition: bool = False

    def bind(self, spark, path: str, *args) -> "BoundState":
        """This kind at ``path`` under one call's construction args."""
        return BoundState(self, spark, path, self.params(*args))


@dataclass(frozen=True)
class BoundState:
    """A :class:`StateSpec` bound to one state dir and one call's
    params: the verify / read / probe / flag / append steps of the
    protocol."""

    spec: StateSpec
    spark: Any
    path: str
    params: dict

    def verify(
        self, legacy_resolve: Optional[Callable[[], Mapping]] = None
    ) -> dict:
        """Verify-or-pin (:func:`check_state_meta`)."""
        return check_state_meta(
            self.spark,
            self.path,
            self.spec.kind,
            self.params,
            legacy_resolve=legacy_resolve,
            consequence=self.spec.consequence,
        )

    def verify_readonly(self) -> None:
        """Compare against the pinned sidecar, if any, but never pin:
        a reader's partial or mistaken probe pinned onto an unstamped
        state would make every correct later writer raise."""
        meta = read_state_meta(self.spark, self.path)
        if meta is not None:
            _check_pinned(
                meta,
                self.path,
                self.spec.kind,
                self.params,
                self.spec.consequence,
                "Read the pinned values from the sidecar instead.",
            )

    def read(self, exclude_batch: Optional[int] = None) -> DataFrame:
        """The persisted rows under the kind's EXPLICIT schema, never
        inference: operators and sinks append mixed schemas (operator
        rows carry no ``batch_id``), and a single-footer schema pick
        could nondeterministically hide a column — files missing one
        read it as NULL, deterministically, with no footer sweep; and a
        crash during the very first append can leave a dir with zero
        committed files, which inference would fail on forever while
        an explicit-schema read is just empty. A missing dir reads as
        an empty frame.

        ``exclude_batch`` drops the rows stamped with that ``batch_id``
        (NULL-stamped rows count as foreign): a streaming batch replayed
        after its own state append — foreachBatch ids are stable across
        restart replays — then recomputes IDENTICAL flags instead of
        finding its own keys in state."""
        from kolang_spark.sources.io import path_exists

        if not path_exists(self.spark, self.path):
            return self.spark.createDataFrame([], self.spec.schema)
        rows = self.spark.read.schema(self.spec.schema).parquet(self.path)
        if exclude_batch is not None:
            rows = rows.where(
                F.col("batch_id").isNull()
                | (F.col("batch_id") != F.lit(int(exclude_batch)))
            )
        return rows

    def seen(
        self,
        batch: DataFrame,
        keys: Mapping[str, str],
        exclude_batch: Optional[int] = None,
    ) -> DataFrame:
        """``batch`` plus a non-null boolean ``__seen__``: whether the
        state holds a row equal to the batch row on every ``keys`` pair
        (batch column → state column), over :meth:`read`'s rows.

        With nothing persisted yet every row reads ``false`` — no join,
        no state scan. Otherwise ``__seen__`` is a correlated ``EXISTS``,
        which Spark plans as an ExistenceJoin with the state as the
        build side (broadcast when small, sort-merge above the
        threshold): exactly one output row per batch row, so duplicate
        state rows — a crashed replay's double append — cannot fan the
        batch out. Both sides are renamed to private names first: an
        outer reference whose name the subquery can also resolve is
        silently bound inside it, leaving an uncorrelated ``EXISTS``
        that reads ``true`` for every row."""
        from kolang_spark.sources.io import path_exists

        if not path_exists(self.spark, self.path):
            return batch.withColumn("__seen__", F.lit(False))
        sk = [f"__sk{i}__" for i in range(len(keys))]
        bk = [f"__bk{i}__" for i in range(len(keys))]
        state = self.read(exclude_batch).select(
            *[F.col(s).alias(k) for s, k in zip(keys.values(), sk)]
        )
        probe = batch.select("*", *[batch[b].alias(k) for b, k in zip(keys, bk)])
        match = reduce(
            operator.and_, [F.col(s) == F.col(b).outer() for s, b in zip(sk, bk)]
        )
        return probe.withColumn("__seen__", state.where(match).exists()).drop(*bk)

    def flag_new(
        self,
        rows: DataFrame,
        keys: Mapping[str, str],
        order: Sequence,
        ties_first: bool = False,
        exclude_batch: Optional[int] = None,
    ) -> DataFrame:
        """``rows`` plus a non-null boolean ``__new__``: true when the
        row's ``keys`` (batch column → state column) are not in the
        state (:meth:`seen`) and the row comes first by ``order`` among
        the batch rows that share them. First is ``row_number() == 1``,
        so one copy of a tied row wins; with ``ties_first`` it is
        ``rank() == 1``, so every row tied for first does.

        The result is pinned by one eager ``localCheckpoint``: the
        flags feed both the caller's output and its state append, and
        must neither re-run the batch, probe and window for each nor
        lazily re-read a state an append is about to grow. The batch is
        the small side by definition, so the pin costs one batch-sized
        write to executor-local storage."""
        w = Window.partitionBy(*keys).orderBy(*order)
        first = (F.rank() if ties_first else F.row_number()).over(w) == 1
        return (
            self.seen(rows, keys, exclude_batch)
            .withColumn("__new__", first & ~F.col("__seen__"))
            .drop("__seen__")
            .localCheckpoint(eager=True)
        )

    def append(self, df: DataFrame, batch_id: Optional[int] = None) -> None:
        """Write ``df`` (stamped with ``batch_id`` when given), then the
        fast pin. Only valid after :meth:`verify` in the same call."""
        _write_batch(df, self.path, batch_id, own_partition=self.spec.own_partition)
        self.pin()

    def pin(self) -> None:
        """Fast pin (:func:`ensure_state_pinned`)."""
        ensure_state_pinned(self.spark, self.path, self.spec.kind, self.params)
