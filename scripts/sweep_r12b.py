#!/usr/bin/env python
"""Round-12 scaling sweep B: incremental-dedup probe cost vs STATE
size. sweep_r12.py varied the BATCH at fixed (empty) state; the other
axis of the 100 TB ingest story is a FIXED batch probed against a
state that has accumulated 1×/4×/16× of the corpus — at production
scale the state is the billion-row side, and what must hold is that
the probe stays dominated by the batch's banding + the hash
equi-join's state-side scan (linear in state bytes, ~bands short keys
per accepted doc), with no superlinear term and an O(1) sidecar guard.

Method: for each point, build a fresh minhash band-key state by
ingesting N disjoint copies of the sf0.1 documents (one
incremental_minhash_dedup call), then time ONLY the probe of a fixed
5k-doc batch via _incremental_minhash_flagged (flags eagerly
materialized inside; nothing appended, so the timed call leaves the
state untouched) — warm best-of-2. One JSON line per point; paste
into BASELINE.md.
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


ALPHA = "abcdefghijklmnopqrstuvwxyz"


def replicate_distinct(df, copies):
    """Disjoint-ID copies with PERTURBED text: identical copies would
    flag as near-dups of copy 0 inside the build ingest (band-key
    first-wins) and the state would never grow — the first run of this
    sweep measured exactly that (state_rows constant across 1×/16×).
    A per-copy letter rotation rewrites every shingle, so each copy
    contributes its own band keys and the state grows ∝ copies."""
    parts = []
    for i in range(copies):
        p = df.withColumn(
            "doc_id", F.col("doc_id") + F.lit(i * 10_000_000).cast("long")
        )
        if i:
            rot = ALPHA[i:] + ALPHA[:i]
            p = p.withColumn("text", F.translate("text", ALPHA, rot))
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def main():
    import shutil
    import tempfile

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("sweep-r12b")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from kolang_spark.llm.dedup import (
        _incremental_minhash_flagged,
        incremental_minhash_dedup,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    # fixed probe batch: 5k docs with ids disjoint from every state copy
    probe = (
        docs.limit(5000)
        .withColumn("doc_id", F.col("doc_id") + F.lit(900_000_000).cast("long"))
        .localCheckpoint(eager=True)
    )
    n_probe = probe.count()

    for copies in (1, 4, 16):
        base = tempfile.mkdtemp(prefix="ks_sweep12b_")
        try:
            state = os.path.join(base, "state")
            corpus = replicate_distinct(docs, copies).localCheckpoint(
                eager=True
            )
            t0 = time.perf_counter()
            incremental_minhash_dedup(spark, corpus, state)
            build_s = time.perf_counter() - t0
            n_state = spark.read.parquet(state).count()
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                marked, _novel, _store = _incremental_minhash_flagged(
                    spark, probe, state
                )
                n_dup = marked.where("is_near_duplicate").count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            rec = {
                "copies": copies,
                "state_rows": n_state,
                "build_s": round(build_s, 2),
                "probe_batch": n_probe,
                "probe_s": round(best, 2),
                "probe_docs_per_s": int(n_probe / best),
                "n_flagged": n_dup,
            }
            print("SWEEP " + json.dumps(rec), flush=True)
        finally:
            shutil.rmtree(base, ignore_errors=True)

    spark.stop()


if __name__ == "__main__":
    main()
