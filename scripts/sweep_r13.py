#!/usr/bin/env python
"""Round-13 production-width embedding sweep (r12 verdict item 3).

Every similarity/dedup query in the registry runs at 16-64 dims; real
embedding models emit 768-4096. The unrolled O(dims) expression chains
and the 64KB-codegen-aware HOF fold (the two forms of
`llm/similarity.py::_fold`, behind cosine, norms and `lsh_signature`)
are DESIGNED for width, but nothing measures them there. This sweep times the four embedding
paths at dims in {64, 256, 768, 1536} over a deterministic synthetic
corpus and, at every width, asks the JVM for the generated-code
method sizes (`debug.codegenString` exposes maxMethodCodeSize per
WholeStageCodegen subtree) so a silent interpreted fallback at width
shows up as a number, not a vibe:

* cosine      — brute_force_topk (the dot/norm hot path)
* lsh_topk    — unrolled lsh_signature (n_planes=8) + bucket join
* ivf_pq_topk — PQ ADC gather (plan size ~m, not dims, after encode)
* kmeans      — kmeans_centroids assignment (unrolled O(dims) d2)

Wall-time per path must grow ~linearly in dims (the work is O(dims)
per candidate); any superlinear cliff or a maxMethodCodeSize crossing
spark.sql.codegen.hugeMethodLimit (65535 — past it the subtree
executes interpreted) is the finding. The measured numbers and the
verdict land in BASELINE.md; the structural floor (codegen stays
compiled at 1536 dims on the scoring paths) is pinned by
tests/test_similarity_pq.py::test_unrolled_dot_codegen_method_size_at_width.

Corpus: N=20k vectors, Q=32 queries, components sin(id*1.7 + d*0.13)
— deterministic, no RNG, materialized to parquet per width so scan
cost is realistic and generation is excluded from timings.

Usage: python scripts/sweep_r13.py [--dims 64,256,768,1536] [--n 20000]
Prints one JSON line per (path, dims) plus a summary table.
"""

import argparse
import json
import os
import re
import shutil
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

N_CORPUS = 20_000
N_QUERIES = 32
HUGE_METHOD_LIMIT = 65535  # spark.sql.codegen.hugeMethodLimit default


def make_session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def synth_vectors(spark, n: int, dims: int, path: str):
    """Deterministic corpus: vec[d] = sin(id*1.7 + d*0.13), JVM-side."""
    from pyspark.sql import functions as F

    if not os.path.isdir(path):
        (
            spark.range(n)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    "transform(sequence(0, {d}), x -> "
                    "sin(id * 1.7D + x * 0.13D))".format(d=dims - 1)
                ).alias("embedding"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path)


def codegen_method_sizes(spark, df) -> list[int]:
    """maxMethodCodeSize of every WholeStageCodegen subtree in df's
    executed plan, via the JVM debug helper (the same numbers EXPLAIN
    CODEGEN prints). Empty list = no codegen subtree (all interpreted
    — itself a finding on these paths)."""
    jvm = spark.sparkContext._jvm
    dbg = getattr(
        getattr(jvm, "org.apache.spark.sql.execution.debug.package$"),
        "MODULE$",
    )
    plan = df._jdf.queryExecution().executedPlan()
    try:
        # AQE wraps the plan in AdaptiveSparkPlanExec, which
        # codegenString does NOT recurse into (reports 0 subtrees);
        # after execution the materialized final plan is inspectable
        plan = plan.finalPhysicalPlan()
    except Exception:
        pass
    txt = dbg.codegenString(plan)
    return [int(m) for m in re.findall(r"maxMethodCodeSize:(\d+)", txt)]


def time_noop(df, reps: int = 3) -> float:
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dims", default="64,256,768,1536")
    ap.add_argument("--n", type=int, default=N_CORPUS)
    ap.add_argument("--keep", action="store_true", help="keep synth parquet")
    args = ap.parse_args()
    dims_list = [int(d) for d in args.dims.split(",")]

    from pyspark.sql import functions as F

    from kolang_spark.llm.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        kmeans_centroids,
        lsh_topk,
    )

    spark = make_session()
    spark.sparkContext.setLogLevel("ERROR")
    base = "/tmp/sweep_r13"
    results = []
    for dims in dims_list:
        corpus = synth_vectors(
            spark, args.n, dims, os.path.join(base, f"c{dims}.parquet")
        )
        queries = synth_vectors(
            spark, N_QUERIES * 977, dims, os.path.join(base, f"q{dims}.parquet")
        ).where(F.col("vec_id") % 977 == 0)

        paths = {
            # m scales with dims so PQ code length stays 8 bytes/`m`
            # sub-quantizers wide in CODES while ADC table grows with
            # dims (the real IVF-PQ shape at width)
            "cosine": lambda: brute_force_topk(
                corpus, queries, k=10, dims=dims
            ),
            "lsh_topk": lambda: lsh_topk(
                corpus, queries, k=10, n_planes=8, dims=dims
            ),
            "ivf_pq_topk": lambda: ivf_pq_topk(
                corpus,
                queries,
                k=10,
                nprobe=2,
                m=8,
                ksub=64,
                centroid_stride=max(1, args.n // 64),
                codebook_stride=max(1, args.n // 64),
                dims=dims,
            ),
            "kmeans_centroids": lambda: kmeans_centroids(
                corpus, k=16, dims=dims, iters=2
            ),
        }
        for name, build in paths.items():
            df = build()
            df.write.format("noop").mode("overwrite").save()  # warm/compile
            wall = time_noop(df)
            sizes = codegen_method_sizes(spark, df)
            rec = {
                "path": name,
                "dims": dims,
                "n": args.n,
                "wall_s": round(wall, 3),
                "codegen_subtrees": len(sizes),
                "max_method_code_size": max(sizes) if sizes else 0,
                "over_huge_limit": bool(sizes and max(sizes) > HUGE_METHOD_LIMIT),
            }
            results.append(rec)
            print("SWEEP " + json.dumps(rec), flush=True)

    # summary: per path, wall ratio vs dims ratio (linear => ~1)
    print("\npath              dims   wall_s  maxMethod  wall/dims-linearity")
    by_path: dict = {}
    for r in results:
        by_path.setdefault(r["path"], []).append(r)
    for name, rs in by_path.items():
        rs.sort(key=lambda r: r["dims"])
        base_r = rs[0]
        for r in rs:
            dims_ratio = r["dims"] / base_r["dims"]
            wall_ratio = r["wall_s"] / base_r["wall_s"] if base_r["wall_s"] else 0
            lin = wall_ratio / dims_ratio if dims_ratio else 0
            print(
                f"{name:<17} {r['dims']:>5} {r['wall_s']:>8.3f} "
                f"{r['max_method_code_size']:>9} {lin:>8.2f}"
            )
    with open("/tmp/sweep_r13_result.json", "w") as f:
        json.dump(results, f, indent=1)
    if not args.keep:
        shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
