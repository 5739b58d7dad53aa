#!/usr/bin/env python
"""Regenerate plans/r13/pagerank_iteration_{before,after}.txt — the
load-bearing plan evidence for r13 change 2 (keep-partitioning
checkpoints), reconstructed OUTSIDE the operator because the committed
full-query explains hide each iteration behind its eager per-round pin
(the final plan's root is the last checkpoint's ``Scan ExistingRDD``).

This mirrors the exact iteration body of
``kolang_spark/operators/graph.py::pagerank`` (broadcast-ranks mode):
the edge frame attached with out-degrees, laid out by ``dst``, pinned
once via ``iter_checkpoint``; then ONE round's contribution aggregate +
rank rejoin is explained against that pin.

- BEFORE = ``keep_partitioning=False`` (the pre-r13 pin): the
  checkpoint's LogicalRDD forgets the layout under AQE, so the round's
  ``groupBy("dst")`` plans ``Exchange hashpartitioning(dst)`` — a full
  edge-table shuffle EVERY iteration.
- AFTER = ``keep_partitioning=True``: the pin retains
  ``hashpartitioning(dst)`` (visible on the ``Scan ExistingRDD`` line),
  and that Exchange is gone.

Usage: ``python scripts/explain_pagerank_iteration.py [out_dir]``
(default ``plans/r13``). Same recipe pattern as the committed
``banded_state_probe_*`` reconstruction.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_spark():
    return (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def iteration_plan(spark, keep_partitioning: bool) -> str:
    from kolang_spark.utils import iter_checkpoint

    # same edge shape as _q_pagerank_purchases: customer -> nation
    # purchase edges with unit weights (content is irrelevant to the
    # plan; the SHAPE — pinned e_od + one round's groupBy — is what
    # the evidence captures)
    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    e = orders.select(
        F.col("o_custkey").alias("src"),
        (F.col("o_orderkey") % 100).alias("dst"),
        F.lit(1).cast("long").alias("w"),
    )
    outdeg = e.groupBy("src").agg(F.sum("w").alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .distinct()
        .select("node")
    )
    nodes, _, _ = iter_checkpoint(nodes)

    e_att = e.join(outdeg, "src").repartition("dst")
    e_od, _, _ = iter_checkpoint(e_att, keep_partitioning=keep_partitioning)

    ranks = nodes.withColumn("r", F.lit(1000).cast("long"))
    ranks, _, _ = iter_checkpoint(ranks)

    in_sum = (
        e_od.join(F.broadcast(ranks), e_od["src"] == ranks["node"])
        .select(F.col("dst"), F.expr("(r * w) div outdeg").alias("contrib"))
        .groupBy("dst")
        .agg(F.sum("contrib").alias("in_sum"))
    )
    nxt = nodes.join(in_sum, nodes["node"] == in_sum["dst"], "left").select(
        nodes["node"], F.coalesce("in_sum", F.lit(0)).alias("r")
    )
    return nxt._sc._jvm.PythonSQLUtils.explainString(
        nxt._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r13"
    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    for tag, keep in [("before", False), ("after", True)]:
        plan = iteration_plan(spark, keep)
        path = os.path.join(out_dir, f"pagerank_iteration_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        # formatted mode splits the node line from its Arguments line:
        # the contribution-aggregate shuffle shows as an "(n) Exchange"
        # whose Arguments are hashpartitioning(dst...) ENSURE_REQUIREMENTS,
        # while the AFTER pin's layout shows on the edge Scan ExistingRDD
        # Arguments line itself.
        agg_exchange = (
            "ENSURE_REQUIREMENTS" in plan
            and any(
                "hashpartitioning(dst" in ln and "ENSURE_REQUIREMENTS" in ln
                for ln in plan.splitlines()
            )
        )
        pinned_scan = any(
            "ExistingRDD, hashpartitioning(dst" in ln
            for ln in plan.splitlines()
        )
        print(
            f"{path}: contribution-agg dst Exchange = {agg_exchange}, "
            f"edge scan pinned on dst = {pinned_scan}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
