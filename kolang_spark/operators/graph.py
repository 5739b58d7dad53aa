"""Link-graph analytics: PageRank over an edge DataFrame.

Web-scale corpus curation ranks hosts/pages by link authority (the
Common Crawl → C4/RefinedWeb pipelines filter and weight by
centrality); this module provides the iterative rank computation as a
first-class distributed operator. No counterpart exists in the
reference (`/root/reference/kolang` has no graph surface) — this is
extension surface for the LLM-data mandate.

Determinism contract: all rank arithmetic is **integer fixed-point**
(BIGINT micro-units of total rank mass). Integer addition is exact and
commutative, so the result is bit-identical regardless of shuffle
order, partition count, or cluster size — and an SQL engine can replay
every iteration exactly (the same trick that made k-means Lloyd means
oracle-checkable, see `llm/similarity.py`).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F


__all__ = ["pagerank", "label_propagation"]


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 5,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**9,
    node_col: str = "node",
    rank_col: str = "rank_fp",
    broadcast_ranks: bool = False,
    weight_col: Optional[str] = None,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """PageRank over a directed edge list → ``(node_col, rank_col)``
    with ``rank_col`` the node's rank in integer micro-units of
    ``scale`` (total mass ≈ ``scale``; divide by ``scale`` for the
    conventional [0,1] rank).

    Semantics (every step integer arithmetic on non-negative values,
    ``//`` = floor division — the exact spec an oracle replays):

    - nodes = distinct(src) ∪ distinct(dst); edges deduplicated
      (parallel edges count once, the host-graph convention);
      NULL endpoints dropped.
    - r0[v] = scale // n
    - per iteration, with d = damping_num/damping_den:
        contrib[u]  = r[u] // outdeg[u]            (u with outdeg > 0)
        in_sum[v]   = Σ contrib[u] over edges u→v
        dangling    = Σ r[u] over u with outdeg = 0
        r'[v] = (scale·(den−num)) // (den·n)
                + (num · (in_sum[v] + dangling // n)) // den
      Dangling mass is redistributed uniformly (the standard fix —
      without it a sink node drains total mass every round).

    ``weight_col`` switches to WEIGHTED PageRank: parallel (src, dst)
    edges sum their weights instead of collapsing to one, out-degree
    becomes the per-source weight total, and each edge carries
    ``contrib = (r[u] · w) // wsum[u]`` — rank flows proportionally to
    edge weight (e.g. purchase counts, link frequencies). Weights are
    cast to long; rows with NULL or non-positive weight are dropped.
    Keep ``max(r) · max(w) < 2^63`` (≈ weights below ~4·10^9 at the
    default scale) — the product is 64-bit.

    Scale shape: no node spine. The deduplicated edges, each carrying
    its source's out-weight, are pinned ONCE together with one marker
    row per node (``src = dst = node``, ``w = 0``, the node's own
    out-weight), so every node is a ``dst`` of the pinned frame; the
    node and dangling counts ride that pin's job via
    ``DataFrame.observe``. A round is ranks ⋈ edges on ``src`` and one
    map-side-combinable groupBy(``dst``) that sums the real edges'
    contributions and reads the node's has-outgoing flag off its
    marker row — no join back onto a node set. Round 1 joins nothing:
    the initial ranks are the literal ``scale // n``. The rank frame
    (|V| rows) is ``localCheckpoint``-ed per round so the plan stays
    O(1) deep, and the next round's dangling mass rides that pin's
    job, so the only per-round driver sync costs no job of its own.
    With ``broadcast_ranks`` a round after the first is two Spark
    jobs (the broadcast build and the pin) with no shuffle stage; round
    1 is one job. No collect of node or edge data, no cross join, no
    Python UDF. Each superseded round's pin is released once the next
    one materializes, and the edge pin once the loop ends, so only the
    returned frame's pin stays in executor storage.

    ``broadcast_ranks=True`` hints the per-iteration ranks ⋈ edges join
    to broadcast the rank table, and the edge frame is pinned
    partitioned by ``dst``, so it is scanned in place instead of
    re-shuffled (without it the edge pin keeps no layout) — the right
    call whenever |V| fits comfortably in executor memory (entity
    graphs, host graphs up to ~10M nodes). Leave False for web-scale
    vertex sets; AQE may still pick a broadcast at runtime when the
    rank table is small enough.

    Precision: with scale = 1e9 the quantization error per node per
    round is < 1/scale of total mass — ranking order is unaffected for
    any graph below ~1e8 nodes; raise ``scale`` (up to ~1e15 before
    BIGINT overflow risk at num·(in+dang)) for larger graphs.

    ``checkpoint_dir`` (r11 verdict item 5) switches every
    per-iteration pin — the degree-joined edge frame and each round's
    rank frame — from ``localCheckpoint`` (blocks die
    with their executor; one preempted node past round 1 kills the
    job outside local mode) to a RELIABLE checkpoint under that
    fault-tolerant path, so long rank chains survive executor loss.
    One distributed write per round; the caller owns the dir's
    lifecycle. Default None keeps the fast local behavior.
    """
    from kolang_spark.utils import iter_checkpoint, release_checkpoints

    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    if not (0 < damping_num < damping_den):
        raise ValueError("need 0 < damping_num < damping_den")

    if weight_col is None:
        e = (
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
            .distinct()
            .withColumn("w", F.lit(1).cast("long"))
        )
    else:
        e = (
            edges.select(
                F.col(src).alias("src"),
                F.col(dst).alias("dst"),
                F.col(weight_col).cast("long").alias("w"),
            )
            .where(
                F.col("src").isNotNull()
                & F.col("dst").isNotNull()
                & (F.col("w") > 0)
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    # per-node out-weight (0 for a sink): with unit weights this IS the
    # out-degree. One aggregate over both endpoints yields every node.
    deg = (
        e.select(F.col("src").alias("node"), "w")
        .unionAll(e.select(F.col("dst").alias("node"), F.lit(0).cast("long")))
        .groupBy("node")
        .agg(F.sum("w").alias("outdeg"))
    )
    # edges with their source's out-weight, plus one marker row per node
    # (see Scale shape); ``__self__``, not src == dst, tells a marker
    # from a real self-loop
    e_att = (
        e.join(deg.select(F.col("node").alias("src"), "outdeg"), "src")
        .withColumn("__self__", F.lit(False))
        .unionByName(
            deg.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0).cast("long").alias("w"),
                "outdeg",
                F.lit(True).alias("__self__"),
            )
        )
    )
    # Broadcast ranks: the join is shuffle-free and keeps the streamed
    # side's partitioning, so hash(dst) lets the per-round groupBy(dst)
    # aggregate in place. Otherwise the pin keeps no layout and runs
    # with AQE on; each round's sort-merge join exchanges both sides.
    marker = F.col("__self__")
    e_od, setup, edge_ids = iter_checkpoint(
        e_att.repartition("dst") if broadcast_ranks else e_att,
        checkpoint_dir,
        keep_partitioning=broadcast_ranks,
        observe={
            "n": F.count(F.when(marker, 1)),
            "nd": F.count(F.when(marker & (F.col("outdeg") == 0), 1)),
        },
    )
    n = setup["n"]
    if n == 0:
        return e_od.select(
            F.col("src").alias(node_col), F.lit(0).cast("long").alias(rank_col)
        )
    # initial ranks are uniform: round 1 reads them as a literal, and
    # its dangling mass is pure arithmetic on the two counts
    r0 = scale // n
    dangling = r0 * setup["nd"]
    teleport = (scale * (damping_den - damping_num)) // (damping_den * n)
    ranks, rank_ids = None, frozenset()

    for _ in range(iterations):
        if ranks is None:
            rows = e_od.withColumn("r", F.lit(r0).cast("long"))
        else:
            rside = ranks.select(F.col("dst").alias("src"), "r")
            rows = e_od.join(
                F.broadcast(rside) if broadcast_ranks else rside, "src"
            )
        nxt = (
            rows.groupBy("dst")
            .agg(
                F.sum(
                    F.when(~marker, F.expr("(r * w) div outdeg"))
                ).alias("in_sum"),
                F.max(F.when(marker, F.col("outdeg") > 0)).alias("_has_out"),
            )
            .select(
                "dst",
                "_has_out",
                (
                    F.lit(int(teleport))
                    + F.expr(
                        f"({damping_num} * (coalesce(in_sum, 0L)"
                        f" + {dangling // n}L)) div {damping_den}"
                    )
                ).cast("long").alias("r"),
            )
        )
        # next round's dangling mass rides the checkpoint's own action
        ranks, m, ids = iter_checkpoint(
            nxt,
            checkpoint_dir,
            observe={
                "dang": F.sum(
                    F.when(~F.col("_has_out"), F.col("r")).otherwise(F.lit(0))
                )
            },
        )
        # the previous round's ranks are read by no plan any more
        release_checkpoints(edges.sparkSession, rank_ids)
        rank_ids = ids
        dangling = int(m["dang"])

    # the returned frame reads only the last round's pin
    release_checkpoints(edges.sparkSession, edge_ids)
    return ranks.select(F.col("dst").alias(node_col), F.col("r").alias(rank_col))


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    node_col: str = "node",
    label_col: str = "label",
    broadcast_labels: bool = False,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007, made deterministic) → ``(node_col, label_col)``.

    Semantics (the exact spec an oracle replays, iteration by
    iteration):

    - the graph is undirected: each (src, dst) edge contributes both
      directions; parallel edges collapse; self-loops are ignored for
      neighborhoods but their endpoints stay in the node set; NULL
      endpoints dropped.
    - label_0[v] = v (every node its own community).
    - per synchronous round, label_{i+1}[v] = the label maximizing
      (occurrence count among v's neighbors' label_i, tie → SMALLEST
      label) — the deterministic tie-break that replaces the
      published algorithm's random choice, so results are identical
      across shuffle orders, partition counts, and engines. Isolated
      nodes (self-loops only) keep their own label.

    Plain label propagation oscillates on bipartite structures under
    synchronous updates; a fixed ``iterations`` (default 3, the
    published guidance of "a few rounds reaches consensus") is the
    deterministic stopping rule — there is deliberately no convergence
    probe, so the whole run is a pure function of the input.

    Scale shape: no node spine. The symmetrized edge list, self-loops
    kept as ``(v, v)`` rows, is pinned ONCE (localCheckpoint), so every
    node is a ``v`` of the pinned frame. A round is one equi-join
    (labels ⋈ edges on the neighbor key) and two map-side-combinable
    aggregates: the real-neighbor count per (node, label) — a self row
    counts 0, so it never outvotes a neighbor and is the only group of
    a self-loop-only node — then min(struct(-count, label)) per node,
    the argmax-with-min-tiebreak with no window. A struct is not a
    fixed-width aggregation buffer, so Spark plans that second
    aggregate as Sort → SortAggregate: a sort of the per-(node, label)
    counts, not of the edge rows. Round 1 joins nothing (label_0[u] =
    u). The label frame (|V| rows) is pinned per round so the plan
    stays O(1) deep; pins the returned frame no longer reads are
    released as in :func:`pagerank`. ``broadcast_labels=True``
    broadcasts the label table when |V| fits in executor memory and
    pins the edges partitioned by ``v``: a round after the first is
    then two Spark jobs (broadcast build, pin) with no shuffle stage.
    ``checkpoint_dir`` switches every pin to a RELIABLE checkpoint
    that survives executor loss (r11 verdict item 5 — see
    :func:`pagerank`); default None keeps the fast ``localCheckpoint``
    behavior.
    """
    from kolang_spark.utils import iter_checkpoint, release_checkpoints

    if iterations < 1:
        raise ValueError("iterations must be >= 1")

    e_raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    # both directions of every edge, self-loops kept as (v, v) rows, so
    # every node is a ``v``. Broadcast labels: the join is shuffle-free,
    # so partition by the AGGREGATION key ``v`` — hash(v) also clusters
    # the distinct and both per-round groupBys, so a round shuffles
    # nothing. Otherwise by the JOIN key ``u``, so the per-round SMJ
    # never re-exchanges the edges.
    sym_key = "v" if broadcast_labels else "u"
    sym = (
        e_raw.unionAll(e_raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .repartition(sym_key)
        .distinct()
    )
    sym, _, sym_ids = iter_checkpoint(
        sym, checkpoint_dir, keep_partitioning=True
    )

    labels, label_ids = None, frozenset()
    for _ in range(iterations):
        if labels is None:  # label_0[u] = u: round 1 joins nothing
            rows = sym.withColumn("__lbl__", F.col("u"))
        else:
            lside = labels.select(F.col("v").alias("u"), "__lbl__")
            rows = sym.join(
                F.broadcast(lside) if broadcast_labels else lside, "u"
            )
        # edge (u → v) delivers u's current label to v; a self row counts
        # 0, so its group loses to any real neighbor's (-0 > -c, c >= 1)
        best = (
            rows.groupBy("v", "__lbl__")
            .agg(F.count(F.when(F.col("u") != F.col("v"), 1)).alias("__c__"))
            .groupBy("v")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__c__")).alias("nc"),
                        F.col("__lbl__").alias("l"),
                    )
                ).alias("__best__")
            )
            .select("v", F.col("__best__.l").alias("__lbl__"))
        )
        labels, _, ids = iter_checkpoint(best, checkpoint_dir)
        release_checkpoints(edges.sparkSession, label_ids)
        label_ids = ids
    # the returned frame reads only the last round's pin
    release_checkpoints(edges.sparkSession, sym_ids)
    return labels.select(F.col("v").alias(node_col), F.col("__lbl__").alias(label_col))
