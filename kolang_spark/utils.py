"""Shared helpers: str/Column coercion, list normalization, the one
Arrow row boundary (:func:`_map_rows`) and the iterative-operator pin
(:func:`iter_checkpoint`).

Parity note: the reference coerces through ``kolang.column_functions.col``
(``/root/reference/kolang/column_functions.py:12-24``), which returns a
*generator* for multi-arg calls and re-classes results as ``KolangColumn``
(broken on PySpark 4 — SURVEY.md §1.4). Here coercion is a plain helper
returning vanilla ``Column`` objects / tuples.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future, TimeoutError as FutureTimeout
from typing import Iterable, List, Sequence, Union

from pyspark.errors import PySparkException
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

ColumnOrName = Union[Column, str]


def to_col(c: ColumnOrName) -> Column:
    """Coerce a column name into a :class:`Column`; pass Columns through."""
    if isinstance(c, str):
        return F.col(c)
    if isinstance(c, Column):
        return c
    raise TypeError(f"expected str or Column, got {type(c).__name__}")


def to_cols(cols: Iterable[ColumnOrName]) -> List[Column]:
    """Coerce an iterable of names/Columns into a list of Columns."""
    return [to_col(c) for c in cols]


def to_col_list(
    cols: Union[ColumnOrName, Sequence[ColumnOrName], None],
) -> List[Column]:
    """Normalize a ``partition_by``-style argument (None | single | list)."""
    if cols is None:
        return []
    if isinstance(cols, (str, Column)):
        return [to_col(cols)]
    return to_cols(cols)


def broadcast_join_nullsafe(left, right, keys: Sequence[str], how: str = "inner"):
    """``left.join(broadcast(right), keys, how)`` with NULL-safe key
    equality (``<=>``), keeping a single copy of each key column.

    ``groupBy`` treats NULL as a real group, but a plain equi-join then
    drops the NULL-keyed rows on re-attach — so every "aggregate per
    group, broadcast back onto the detail rows" operator in this package
    (``mad_outliers``, ``equi_depth_bin``, ``resample_fill``) joins
    through here to honor its "adds columns to the input rows" contract
    for NULL group keys too. With no keys this degenerates to the
    broadcast cross join of a 1-row aggregate.

    Plan shape is unchanged: the right side stays a broadcast hash join
    (``<=>`` is a valid hash key — NULL hashes to a regular bucket), so
    the detail rows still never shuffle.
    """
    if not keys:
        return left.crossJoin(F.broadcast(right))
    renamed = right
    for k in keys:
        renamed = renamed.withColumnRenamed(k, f"__ks_rk_{k}__")
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(renamed[f"__ks_rk_{k}__"])
        cond = c if cond is None else (cond & c)
    return left.join(F.broadcast(renamed), cond, how).drop(
        *[f"__ks_rk_{k}__" for k in keys]
    )


def bind_once(expr: Column, build) -> Column:
    """Evaluate ``expr`` exactly once per row, then feed it to ``build``.

    Higher-order-function lambdas (``transform``/``filter``/``aggregate``)
    are CodegenFallback expressions: they get **no** common-subexpression
    elimination, so an expensive array expression referenced N times
    inside lambda bodies is re-evaluated N times per row. Routing it
    through a single-element ``transform`` binds it to a lambda variable
    (a cheap slot reference) — the classic let-binding, expressed in
    Column algebra:

        ``element_at(transform(array(expr), lambda x: build(x)), 1)``

    Semantics are unchanged; only evaluation count drops.
    """
    return F.element_at(F.transform(F.array(expr), build), 1)


def _md5_60(b: Column) -> Column:
    """The engine-portable 60-bit md5 bucket of ``b`` (binary, or a
    string md5 casts itself): hex chars 18-32 of the digest as a long.
    DuckDB computes the identical value with
    ``('0x' || substr(md5(b), 18, 15))::BIGINT``, so every sampler,
    sketch row and hashed text feature built on it replays in the
    oracle."""
    return F.conv(F.substring(F.md5(b), 18, 15), 16, 10).cast("long")


def pushdown_fence(c: Column) -> Column:
    """Optimizer fence: mark an expensive expression non-deterministic so
    Catalyst will not duplicate it into a join condition or a pushed-down
    filter.

    ``c + 0.0 * rand()`` is value-identical for any finite/NaN ``c`` (the
    added term is exactly ``0.0``), but the ``rand`` taints the projection
    as non-deterministic, which blocks ``PushPredicateThroughJoin`` /
    ``CollapseProject``. Use on numeric scoring columns that a subsequent
    ``where`` filters — otherwise the score is evaluated once per
    *candidate* pair inside the (interpreted, non-codegen) join condition
    and a second time in the output projection.
    """
    return c + F.lit(0.0) * F.rand(seed=0)


def ensure_min_parallelism(df, min_partitions: int | None = None):
    """Round-robin repartition iff the plan has too few output partitions.

    Small single-file inputs arrive as one split, serializing per-row
    compute-heavy stages (shingling, hashing, similarity scoring) onto a
    single core. At production scale (thousands of input splits) the
    check short-circuits and this is a no-op — the shuffle is only paid
    exactly when the input cannot otherwise use the cluster.

    The count is read from ``df``'s physical plan and starts no Spark
    job (asking the frame's RDD would make the adaptive executor run
    every shuffle and broadcast stage below it, outside any SQL
    execution, only for the real action to run them again). From the
    root down (:func:`_planned_partitions`):

    - a node whose output partitioning states a count (a round-robin,
      hash or range exchange, a single partition) has that count;
    - a ``Union`` has the sum of its children's counts;
    - a narrow node, and a broadcast join, has the count of its child
      (the join's streamed side);
    - a leaf has its RDD's split count. Building a scan's RDD lists its
      splits and runs nothing, unless the scan carries a subquery of
      its own (a scalar subquery pushed into its filters): that runs.

    An adaptive plan that has not run yet is counted by its planned
    shuffle partitions, before AQE coalesces them: a grouped aggregate
    counts ``spark.sql.shuffle.partitions`` even if it will run as one
    partition. A plan that already ran is counted as it ran.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    current = _planned_partitions(df._jdf.queryExecution().executedPlan())
    if current >= target:
        return df
    return df.repartition(target)


def _planned_partitions(node) -> int:
    """Output partition count of the physical plan ``node`` (a JVM
    ``SparkPlan``), by the rule in :func:`ensure_min_parallelism`."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        # its own partitioning reads as unknown; the plan it holds is the
        # initial one (exchanges placed, nothing run) until it executes
        return _planned_partitions(node.executedPlan())
    stated = node.outputPartitioning().numPartitions()
    kids = node.children()
    kids = [kids.apply(i) for i in range(kids.size())]
    if name == "CoalesceExec":  # states its target, an upper bound
        return min(stated, _planned_partitions(kids[0]))
    if stated > 0:
        return stated
    if name == "InMemoryTableScanExec":
        # building an unfilled cache's RDD would run the cached plan
        return _planned_partitions(node.relation().cachedPlan())
    if name == "UnionExec":
        return sum(_planned_partitions(k) for k in kids)
    if name.startswith("Broadcast") and name.endswith("JoinExec"):
        build_left = node.buildSide().toString() == "BuildLeft"
        return _planned_partitions(kids[1] if build_left else kids[0])
    if name == "CartesianProductExec":
        return _planned_partitions(kids[0]) * _planned_partitions(kids[1])
    if len(kids) == 1:
        return _planned_partitions(kids[0])
    if not kids:
        return node.execute().getNumPartitions()
    raise ValueError(f"no partition count rule for plan node {name}")


def _map_rows(df: DataFrame, schema: str, fn) -> DataFrame:
    """The library's one Arrow row boundary: ``fn`` maps each input row of
    ``df`` to zero or more output rows of the DDL ``schema``.

    Python runs only where per-byte work has no Catalyst expression (the
    media codecs in :mod:`kolang_spark.llm.multimodal`, the WARC record
    walk, CDC chunking), and every such site crosses here, so the
    crossing has one owner:

    - ``fn(*row)`` receives one input row's values in column order as
      plain Python objects and yields output tuples in ``schema`` order.
      A NULL ``binary`` value arrives as ``b""`` (the poison-blob
      contract: a decoder sees empty bytes, never ``None``).
    - Each input Arrow batch becomes one output batch (``mapInArrow``),
      so row order within a partition is kept. Every output column is
      built as ``pa.array(values, type=<schema field type>)``: a
      ``long`` stays exact next to NULLs, where a pandas frame would
      round it through float64.
    """
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import BinaryType, StructType

    out = StructType.fromDDL(schema)
    arrow = to_arrow_schema(out)
    binary = [isinstance(f.dataType, BinaryType) for f in df.schema.fields]

    def batches(it):
        import pyarrow as pa

        for batch in it:
            cols = [
                [b"" if v is None else v for v in c.to_pylist()] if is_bin
                else c.to_pylist()
                for c, is_bin in zip(batch.columns, binary)
            ]
            rows = [t for row in zip(*cols) for t in fn(*row)]
            values = list(zip(*rows)) or [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(v, type=f.type) for v, f in zip(values, arrow)],
                schema=arrow,
            )

    return df.mapInArrow(batches, out)


OBSERVE_WAIT_S = 60.0
"""How long :func:`iter_checkpoint` waits for a pin's observed metrics
before computing them with one aggregate over the pinned frame."""


def iter_checkpoint(df, checkpoint_dir=None, keep_partitioning=False, observe=None):
    """Eager lineage pin for iterative operators → ``(pinned_df, metrics,
    rdd_ids)``.

    **Local vs reliable.** By default the pin is an eager
    ``localCheckpoint``: the fastest truncation, blocks in executor-local
    storage, which die with their executor — fine on ``local[*]``, but on
    a real cluster one lost executor makes the truncated lineage
    unrecomputable. ``checkpoint_dir`` switches to a RELIABLE
    ``checkpoint`` written under that fault-tolerant path, which survives
    executor loss at the cost of one distributed write per pin. The
    caller owns the directory's lifecycle. The directory rides the
    session-global ``SparkContext.setCheckpointDir``, which has no
    faithful restore (the getter returns the per-set UUID subdir): after
    a call the session stays pointed there, and concurrent callers with
    different dirs race on it. The set is skipped when the session
    already points at ``checkpoint_dir`` (whole-path compare of the UUID
    subdir's parent, both qualified through the Hadoop FileSystem — a
    substring test would skip the set for ``/x/ck`` after ``/x/ck-old``),
    so an N-round loop issues one set.

    **Keeping the partitioning.** ``checkpoint`` copies the executed
    plan's output partitioning into its ``LogicalRDD``, but under AQE the
    executed plan is an ``AdaptiveSparkPlanExec`` whose partitioning reads
    as unknown, so a deliberately laid-out frame forgets its layout and
    every downstream read pays the exchange again.
    ``keep_partitioning=True`` therefore checkpoints with AQE off, in a
    CLONED session (``cloneSession`` owns its own ``SQLConf``, so no other
    driver thread sees the change): the logical plan is re-bound into the
    clone with ``classic.Dataset.ofRows``, pinned there, and the resulting
    session-agnostic ``LogicalRDD`` is re-wrapped in the original session.
    The clone's listener manager is a copy of the original's, so observed
    metrics still fire. Clones are not cached: a cached clone would keep a
    stale conf, and per-call clones do not accumulate listeners.

    **Metrics.** ``observe`` maps metric names to aggregate Columns over
    ``df``; they ride the pin's own job via ``DataFrame.observe``, so a
    convergence check costs no extra job. If the runtime rejects
    ``observe`` or no metrics arrive within :data:`OBSERVE_WAIT_S`, the
    same expressions run as one aggregate over the pinned frame. A metric
    that is NULL (an empty frame) comes back as ``None``. ``metrics`` is
    ``{}`` without ``observe``.

    **Release.** ``rdd_ids`` are the persistent RDDs the pin registered,
    for :func:`release_checkpoints` once no live plan reads the pin:
    ``unpersist()`` only talks to the SQL cache manager, so without
    release every superseded round's blocks stay pinned until JVM GC.
    The ids are a before/after diff of the context's
    persistent-RDD registry, so a concurrent persist from another driver
    thread would be captured too — serialize such calls.
    """
    spark = df.sparkSession
    jspark = spark._jsparkSession
    obs = None
    if observe:
        obs = Observation()
        try:
            df = df.observe(obs, *[c.alias(k) for k, c in observe.items()])
        except (PySparkException, NotImplementedError):
            obs = None
    if checkpoint_dir is not None:
        sc = spark.sparkContext
        cur = sc.getCheckpointDir()
        if cur is None or _qualify_dir(
            spark, cur.rstrip("/").rsplit("/", 1)[0]
        ) != _qualify_dir(spark, checkpoint_dir):
            sc.setCheckpointDir(checkpoint_dir)
    before = _persistent_rdd_ids(jspark)
    out = _eager_checkpoint(
        df, jspark, checkpoint_dir is not None, keep_partitioning
    )
    rdd_ids = _persistent_rdd_ids(jspark) - before
    metrics = {} if obs is None else _observed(obs)
    if observe and not set(observe) <= set(metrics):
        metrics = (
            out.agg(*[c.alias(k) for k, c in observe.items()])
            .collect()[0]
            .asDict()
        )
    return out, metrics, rdd_ids


def _eager_checkpoint(df, jspark, reliable: bool, keep_partitioning: bool):
    def pin(d):  # same call on a Python DataFrame and a JVM Dataset
        return d.checkpoint(True) if reliable else d.localCheckpoint(True)

    spark = df.sparkSession
    if not keep_partitioning or (
        spark.conf.get("spark.sql.adaptive.enabled", "true").lower() != "true"
    ):
        return pin(df)
    ds_cls = spark._jvm.org.apache.spark.sql.classic.Dataset
    jclone = jspark.cloneSession()
    jclone.conf().set("spark.sql.adaptive.enabled", "false")
    jck = pin(ds_cls.ofRows(jclone, df._jdf.queryExecution().logical()))
    jout = ds_cls.ofRows(jspark, jck.queryExecution().logical())
    return DataFrame(jout, spark)


def _observed(obs) -> dict:
    """``obs.get`` with a bounded wait: the metrics, or ``{}`` if none
    arrived within :data:`OBSERVE_WAIT_S` (classic ``get`` blocks until
    the observed action's metrics fire)."""
    fut: Future = Future()

    def _get() -> None:
        try:
            fut.set_result(obs.get)
        except BaseException as exc:  # re-raised below by fut.result()
            fut.set_exception(exc)

    threading.Thread(target=_get, daemon=True).start()
    try:
        return fut.result(OBSERVE_WAIT_S)
    except FutureTimeout:
        return {}


def _qualify_dir(spark, path: str) -> str:
    """Fully-qualified, trailing-slash-free form of ``path`` through the
    Hadoop FileSystem (``file:/abs`` for local, scheme-preserved for
    object stores), so checkpoint-dir comparisons are whole-segment
    exact regardless of how the caller spelled the path."""
    from kolang_spark.sources.io import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, path)
    return fs.makeQualified(jpath).toString().rstrip("/")


def _persistent_rdd_ids(jspark) -> frozenset:
    it = jspark.sparkContext().getPersistentRDDs().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return frozenset(ids)


def release_checkpoints(spark, rdd_ids) -> None:
    """Drop the RDD-level blocks of pins tracked by
    :func:`iter_checkpoint` (non-blocking). Safe to call with ids already
    collected by the ContextCleaner.

    Only release pins that no live DataFrame's plan reads —
    localCheckpoint truncates lineage, so evicted blocks cannot be
    recomputed."""
    m = spark._jsparkSession.sparkContext().getPersistentRDDs()
    for pid in rdd_ids:
        if m.contains(pid):
            m.apply(pid).unpersist(False)
