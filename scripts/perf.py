#!/usr/bin/env python
"""The perf tool of kolang_spark: time, count and explain registry queries.

Every subcommand opens its session with ``bench.build_spark()`` (so
``SPARK_GRAFT_CPUS`` sets the cores and ``SPARK_GRAFT_SF_DIR`` the
default ``--sf``) and reads its counters through
``perfbench/sparkstats.SparkStats``:

  profile q... | --all     best-of-reps seconds plus jobs (per rep, and
                           the last rep's by call site), stages, shuffle
                           bytes, spill, exchanges over every job, and
                           the returned frame's exchange / Python-node /
                           non-codegen-node counts per query
  plans q... [--repo P]    explain("formatted") of each query, masked so
                           two checkouts' dumps diff with plain diff
  ab q... --before P       fresh-JVM A/B of checkout P against this one,
                           with untouched control queries and canaries
  sweep q... --copies 1,4  registry queries over a disjoint xN replica
                           of the sf tables
  state --copies 1,4       a fixed batch probed against a growing
                           incremental-minhash state
  width --dims 64,256      synthetic wide vectors: wall time and the
                           generated code's maxMethodCodeSize

Every subcommand but ``plans`` prints one JSON record as its last line
of standard output (``--out`` also writes it to a file); progress goes
to standard error. Records are keyed by query name, so they diff across
registry reorderings. ``plans`` prints the plans, or writes
``<out>/<query>_<suffix>.txt`` with ``--out``.

Usage: python scripts/perf.py <subcommand> -h
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import re
import shutil
import string
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402
from perfbench.sparkstats import SparkStats  # noqa: E402
from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

AB_TIMEOUT_S = 2400  # one side of one A/B cycle
HUGE_METHOD_LIMIT = 65535  # spark.sql.codegen.hugeMethodLimit default
N_QUERIES = 32  # width: query vectors
PROBE_BATCH = 5000  # state: documents in the probed batch
SWEEP_REPS = STATE_REPS = 2  # best of
WIDTH_REPS = 3
UNREPLICATED = ("nation", "region")
_ALPHA = string.ascii_lowercase


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _emit(record: dict, out: str | None) -> dict:
    if out:
        with open(out, "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
    print(json.dumps(record, sort_keys=True), flush=True)
    return record


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_noop(df: DataFrame) -> float:
    t0 = time.perf_counter()
    _noop(df)
    return time.perf_counter() - t0


def _registry(repo: str) -> dict:
    """``queries()`` of the checkout at ``repo``, which must come first
    on ``sys.path`` before its registry and package are imported."""
    repo = os.path.realpath(repo)
    sys.path.insert(0, repo)
    import __spark_entry__
    import kolang_spark

    for mod in (__spark_entry__, kolang_spark):
        if not os.path.realpath(mod.__file__).startswith(repo + os.sep):
            raise SystemExit(f"--repo {repo}: {mod.__name__} is already imported from {mod.__file__}")
    return __spark_entry__.queries()


def _pick(qs: dict, names: list[str], run_all: bool = False) -> list[str]:
    names = list(qs) if run_all else names
    unknown = [n for n in names if n not in qs]
    if unknown or not names:
        raise SystemExit(f"unknown or no queries: {unknown}")
    return names


def _canary(spark, sf: str) -> float:
    """Seconds of bench.py's library-free drift canary: a scan and
    aggregate of ``lineitem``."""
    return _timed_noop(
        spark.read.parquet(os.path.join(sf, "lineitem.parquet"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def final_plan(df: DataFrame):
    """``df``'s executed plan in its final form. An adaptive plan only
    reaches it (codegen stages collapsed, runtime join changes made)
    when the frame's own query runs: a write of ``df`` plans and runs a
    query of its own, so this runs ``df``'s stages once more."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    return plan


def exec_exchanges(spark, after_id: int) -> int:
    """Shuffle and broadcast exchanges over the plan graphs of every SQL
    execution with id > ``after_id``, read from the SQL status store.
    Unlike the returned frame's plan, this counts the exchanges of a
    multi-job query's eager pins and probes too."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    n = 0
    for i in range(execs.size() - 1, -1, -1):
        eid = execs.apply(i).executionId()
        if eid <= after_id:
            break
        nodes = store.planGraph(eid).allNodes()
        n += sum(
            nodes.apply(j).name() in ("Exchange", "BroadcastExchange")
            for j in range(nodes.size())
        )
    return n


NO_EXECUTION = "<no execution>"
_CHECKOUT = re.compile(r"(?<= at )/\S*/(?=kolang_spark/|__spark_entry__\.py)")


def job_sites(spark, first: int, end: int, after_id: int) -> dict[str, int]:
    """Jobs ``first <= id < end`` counted by call site (the job's name
    in the status store, with a library file's path taken relative to
    its checkout, so records of two checkouts diff). A job that ran
    outside every SQL execution with id > ``after_id`` (an RDD action,
    a partition count that made AQE run stages) counts under
    :data:`NO_EXECUTION` instead, so such a job shows up by kind
    whatever its call site."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    in_sql = set()
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= after_id:
            break
        it = e.jobs().keysIterator()
        while it.hasNext():
            in_sql.add(it.next())
    core = spark.sparkContext._jsc.sc().statusStore()
    sites: dict[str, int] = {}
    for jid in range(first, end):
        site = _CHECKOUT.sub("", core.job(jid).name()) if jid in in_sql else NO_EXECUTION
        sites[site] = sites.get(site, 0) + 1
    return sites


def measure(spark, stats: SparkStats, fn, sf: str, reps: int) -> dict:
    """Best-of-``reps`` seconds of ``fn(spark, sf)`` through the noop
    sink, with the jobs of every rep (``jobs_by_rep``: a first rep may
    fill caches and memos the later ones reuse), and the last rep's
    jobs, their call sites (``job_sites``), stage totals and exchanges
    over all its SQL executions (``exec_exchanges``), and the plan-node
    counts of the returned frame's final plan (the last rep is the
    steady state: caches and memos are warm)."""
    best = None
    jobs_by_rep = []
    for _ in range(reps):
        j0, s0 = stats.next_job_id(), stats.next_stage_id()
        stats.drain()  # the previous rep's executions are in the store
        e0 = stats.last_execution_id()
        t0 = time.perf_counter()
        df = fn(spark, sf)
        _noop(df)
        dt = time.perf_counter() - t0
        j1, s1 = stats.next_job_id(), stats.next_stage_id()
        jobs_by_rep.append(j1 - j0)
        best = dt if best is None else min(best, dt)
    stats.drain()
    st = stats.stages(s0, s1)
    del st["intervals"]
    rec = {k: round(v, 3) if isinstance(v, float) else v for k, v in st.items()}
    rec.update(
        sec=round(best, 3), jobs=j1 - j0, jobs_by_rep=jobs_by_rep,
        job_sites=job_sites(spark, j0, j1, e0),
        exec_exchanges=exec_exchanges(spark, e0),
    )
    final_plan(df)  # outside the job and stage window above
    rec.update(stats.plan_counts(df))
    return rec


def cmd_profile(spark, a) -> dict:
    qs = _registry(a.repo)
    names = _pick(qs, a.queries, a.all)
    stats = SparkStats(spark)
    _canary(spark, a.sf)  # compile
    rec = {"sf": a.sf, "repo": os.path.realpath(a.repo), "queries": {}}
    rec["canary_pre"] = round(_canary(spark, a.sf), 3)
    for name in names:
        spark.sparkContext.setJobDescription(f"perf:{name}")
        q = rec["queries"][name] = measure(spark, stats, qs[name], a.sf, a.reps)
        log(
            f"{q['sec']:7.2f}s {q['jobs']:4d} jobs {q['stages']:4d} stages "
            f"{q['exec_exchanges']:3d}/{q['exchanges']:d} exch {q['non_codegen_nodes']:3d} interp  {name}"
        )
    spark.sparkContext.setJobDescription(None)
    rec["canary_post"] = round(_canary(spark, a.sf), 3)
    tot = rec["queries"].values()
    log(
        f"TOTAL {sum(q['sec'] for q in tot):.1f}s over {len(tot)} queries, "
        f"{sum(q['jobs'] for q in tot)} jobs"
    )
    return _emit(rec, a.out)


def mask_plan(plan: str, repo: str) -> str:
    """``plan`` with what differs between two checkouts' runs of one
    query masked: expression ids (``#12`` → ``#N``), ``plan_id=``
    numbers, the RDD ids a pinned frame's scan names (``RDD[212]`` →
    ``RDD[N]``; they count every RDD earlier work in the JVM made), and
    the checkout path ``repo`` (→ ``<repo>``)."""
    for path in {os.path.realpath(repo), os.path.abspath(repo)}:
        plan = plan.replace(path, "<repo>")
    for pattern, mask in ((r"#\d+", "#N"), (r"plan_id=\d+", "plan_id=N"),
                          (r"RDD\[\d+\]", "RDD[N]")):
        plan = re.sub(pattern, mask, plan)
    return plan


def cmd_plans(spark, a) -> dict:
    qs = _registry(a.repo)
    plans = {}
    for name in _pick(qs, a.queries, a.all):
        df = qs[name](spark, a.sf)
        plan = plans[name] = mask_plan(
            spark._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ),
            a.repo,
        )
        if a.out:
            os.makedirs(a.out, exist_ok=True)
            path = os.path.join(a.out, f"{name}_{a.suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            log(f"{path} {len(plan.splitlines())} lines")
        else:
            print(f"== {name} ==\n{plan}", flush=True)
    return plans


def cmd_ab(a) -> dict:
    """Alternating fresh-JVM runs of ``profile`` on both checkouts. A
    target counts as moved only if it moves while the controls and the
    canaries hold: this host stalls for seconds at a time."""
    controls = [c for c in a.controls.split(",") if c and c not in a.queries]
    names = a.queries + controls
    sides = {"before": os.path.realpath(a.before), "after": ROOT}
    runs: dict[str, list] = {s: [] for s in sides}
    for cycle in range(a.cycles):
        order = list(sides) if cycle % 2 == 0 else list(sides)[::-1]
        for side in order:
            cmd = [sys.executable, os.path.abspath(__file__), "profile",
                   "--repo", sides[side], "--sf", a.sf, "--reps", str(a.reps),
                   *names]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=AB_TIMEOUT_S)
            if p.returncode:
                sys.exit(f"cycle {cycle} {side} failed:\n{p.stderr[-3000:]}")
            rec = json.loads(p.stdout.splitlines()[-1])
            rec["cycle"], rec["first"] = cycle, side == order[0]
            runs[side].append(rec)
            log(
                f"cycle {cycle} {side}: canary {rec['canary_pre']}/"
                f"{rec['canary_post']} "
                + " ".join(f"{n}={rec['queries'][n]['sec']}" for n in names)
            )
    summary = {}
    for name in names:
        best = {s: min(r["queries"][name]["sec"] for r in runs[s]) for s in sides}
        summary[name] = dict(
            best,
            ratio_after_over_before=(
                round(best["after"] / best["before"], 3) if best["before"] else None
            ),
            jobs={s: runs[s][-1]["queries"][name]["jobs"] for s in sides},
            control=name in controls,
        )
        log(f"{best['before']:7.2f} -> {best['after']:7.2f}s  "
            f"x{summary[name]['ratio_after_over_before']}  {name}")
    return _emit({"sf": a.sf, "queries": summary, "runs": runs}, a.out)


# ---------------------------------------------------------------------------
# higher-SF tier: disjoint replicas of the sf tables


def _is_key(f: T.StructField) -> bool:
    return isinstance(f.dataType, T.LongType) and f.name.endswith(("key", "_id"))


def _is_vector(f: T.StructField) -> bool:
    return isinstance(f.dataType, T.ArrayType) and isinstance(
        f.dataType.elementType, T.NumericType
    )


def key_stride(tables: dict[str, DataFrame]) -> int:
    """The per-copy key offset of :func:`replicate`: the smallest power
    of ten above every int64 ``*key`` / ``*_id`` value of the replicated
    tables, read from the data in one job."""
    bounds = [
        df.select(
            F.lit(name).alias("t"),
            F.least(*[F.min(k) for k in keys], F.lit(0)).alias("lo"),
            F.greatest(*[F.max(k) for k in keys], F.lit(0)).alias("hi"),
        )
        for name, df in tables.items()
        if name not in UNREPLICATED
        and (keys := [f.name for f in df.schema.fields if _is_key(f)])
    ]
    rows = functools.reduce(DataFrame.unionByName, bounds).collect() if bounds else []
    for r in rows:
        if r.lo < 0:
            raise ValueError(f"{r.t}: key {r.lo} < 0; copy offsets need keys >= 0")
    top = max((r.hi for r in rows), default=0)
    return 10 ** len(str(top))


def replicate(tables: dict[str, DataFrame], copies: int) -> dict[str, DataFrame]:
    """``copies`` disjoint copies of every table but ``nation`` and
    ``region``. Copy 0 is the input unchanged. Copy c adds
    ``c * key_stride(tables)`` to every int64 ``*key`` / ``*_id`` column
    (one stride for all tables, so joins stay within a copy), and, for
    c > 0, rotates the letters of ``text`` by c and every numeric array
    (embedding) by c positions, so copies are neither exact nor near
    duplicates of each other and each contributes its own dedup keys."""
    if not 1 <= copies <= len(_ALPHA):
        raise ValueError(f"copies={copies}: letter rotation repeats after {len(_ALPHA)}")
    stride = key_stride(tables)
    if copies * stride >= 2**63:
        raise ValueError(f"copies={copies} x stride {stride} overflows int64 keys")

    def column(f: T.StructField, c: int):
        col, q = F.col(f.name), f"`{f.name}`"
        if c and _is_key(f):
            col = col + F.lit(c * stride)
        elif c and f.name == "text" and isinstance(f.dataType, T.StringType):
            rot = _ALPHA[c:] + _ALPHA[:c]
            col = F.translate(col, _ALPHA + _ALPHA.upper(), rot + rot.upper())
        elif c and _is_vector(f):
            col = F.expr(f"transform({q}, (x, i) -> {q}[(i + {c}) % size({q})])")
        return col.alias(f.name)

    out = {}
    for name, df in tables.items():
        if name in UNREPLICATED or copies == 1:
            out[name] = df
            continue
        parts = [df.select(*[column(f, c) for f in df.schema.fields]) for c in range(copies)]
        out[name] = functools.reduce(DataFrame.unionByName, parts)
    return out


def _sf_tables(spark, sf: str) -> dict[str, DataFrame]:
    return {
        e[: -len(".parquet")]: spark.read.parquet(os.path.join(sf, e))
        for e in sorted(os.listdir(sf))
        if e.endswith(".parquet")
    }


def cmd_sweep(spark, a) -> dict:
    qs = _registry(ROOT)
    names = _pick(qs, a.queries)
    stats = SparkStats(spark)
    tables = _sf_tables(spark, a.sf)
    work = tempfile.mkdtemp(prefix="perf_sweep_")
    rec: dict = {"sf": a.sf, "queries": {n: {} for n in names}}
    try:
        for copies in a.copies:
            d = os.path.join(work, f"x{copies}")
            for name, df in replicate(tables, copies).items():
                df.write.parquet(os.path.join(d, f"{name}.parquet"))
            for n in names:
                q = rec["queries"][n][str(copies)] = measure(spark, stats, qs[n], d, SWEEP_REPS)
                log(f"x{copies:<3d} {q['sec']:7.2f}s {q['jobs']:4d} jobs  {n}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return _emit(rec, a.out)


def cmd_state(spark, a) -> dict:
    """A fixed batch probed against an incremental-minhash state built
    from 1x/4x/... disjoint copies of ``documents``: the probe must stay
    linear in the state's size. The timed probe appends nothing."""
    from kolang_spark.llm.dedup import (
        _incremental_minhash_flagged,
        incremental_minhash_dedup,
    )

    docs = spark.read.parquet(os.path.join(a.sf, "documents.parquet")).select(
        "doc_id", "text"
    )
    offset = key_stride({"documents": docs}) * max(a.copies)  # past every copy
    probe = (
        docs.limit(PROBE_BATCH)
        .withColumn("doc_id", F.col("doc_id") + F.lit(offset))
        .localCheckpoint(eager=True)
    )
    n_probe = probe.count()
    points = []
    for copies in a.copies:
        base = tempfile.mkdtemp(prefix="perf_state_")
        try:
            state = os.path.join(base, "state")
            corpus = replicate({"documents": docs}, copies)["documents"]
            corpus = corpus.localCheckpoint(eager=True)
            t0 = time.perf_counter()
            incremental_minhash_dedup(spark, corpus, state)
            build_s = time.perf_counter() - t0
            n_state = spark.read.parquet(state).count()
            best = None
            for _ in range(STATE_REPS):
                t0 = time.perf_counter()
                marked, _, _ = _incremental_minhash_flagged(spark, probe, state)
                n_dup = marked.where("is_near_duplicate").count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
        finally:
            shutil.rmtree(base, ignore_errors=True)
        points.append(
            {"copies": copies, "state_rows": n_state, "build_s": round(build_s, 2),
             "probe_batch": n_probe, "probe_s": round(best, 3),
             "probe_docs_per_s": int(n_probe / best), "n_flagged": n_dup}
        )
        log(json.dumps(points[-1]))
    return _emit({"sf": a.sf, "points": points}, a.out)


def _synth_vectors(spark, n: int, dims: int, path: str) -> DataFrame:
    """Deterministic corpus ``vec[d] = sin(id*1.7 + d*0.13)``, written
    once so generation stays out of the timings."""
    spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dims - 1}), x -> sin(id * 1.7D + x * 0.13D))"
        ).alias("embedding"),
    ).repartition(int(bench.CPUS)).write.parquet(path)
    return spark.read.parquet(path)


def codegen_method_sizes(spark, df: DataFrame) -> list[int]:
    """maxMethodCodeSize of every WholeStageCodegen subtree of ``df``'s
    final plan (the numbers EXPLAIN CODEGEN prints)."""
    dbg = getattr(
        getattr(spark._jvm, "org.apache.spark.sql.execution.debug.package$"), "MODULE$"
    )
    code = dbg.codegenString(final_plan(df))
    return [int(m) for m in re.findall(r"maxMethodCodeSize:(\d+)", code)]


def cmd_width(spark, a) -> dict:
    """The dense-vector paths at production widths: wall time should
    grow about linearly in dims, and a maxMethodCodeSize past
    ``HUGE_METHOD_LIMIT`` means the subtree runs interpreted."""
    from kolang_spark.llm.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        kmeans_centroids,
        lsh_topk,
    )

    stride_c = max(1, a.n // 64)
    paths = {
        "cosine": lambda c, q, d: brute_force_topk(c, q, k=10, dims=d),
        "lsh_topk": lambda c, q, d: lsh_topk(c, q, k=10, n_planes=8, dims=d),
        "ivf_pq_topk": lambda c, q, d: ivf_pq_topk(
            c, q, k=10, nprobe=2, m=8, ksub=64, centroid_stride=stride_c,
            codebook_stride=stride_c, dims=d),
        "kmeans_centroids": lambda c, q, d: kmeans_centroids(c, k=16, dims=d, iters=2),
    }
    work = tempfile.mkdtemp(prefix="perf_width_")
    points = []
    try:
        for dims in a.dims:
            corpus = _synth_vectors(spark, a.n, dims, os.path.join(work, f"c{dims}"))
            queries = _synth_vectors(
                spark, N_QUERIES * 977, dims, os.path.join(work, f"q{dims}")
            ).where(F.col("vec_id") % 977 == 0)
            for name, build in paths.items():
                df = build(corpus, queries, dims)
                _noop(df)  # compile
                best = min(_timed_noop(df) for _ in range(WIDTH_REPS))
                sizes = codegen_method_sizes(spark, df)
                top = max(sizes, default=0)
                points.append(
                    {"path": name, "dims": dims, "n": a.n, "wall_s": round(best, 3),
                     "codegen_subtrees": len(sizes), "max_method_code_size": top,
                     "over_huge_limit": top > HUGE_METHOD_LIMIT}
                )
                log(f"{name:<17} {dims:>5} {best:8.3f}s maxMethodCodeSize {top}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return _emit({"points": points}, a.out)


def _ints(text: str) -> list[int]:
    return [int(x) for x in text.split(",") if x]


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="perf.py", description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    def add(name, help_, reps=None, queries="*", sf=True,
            out="also write the JSON record to this file"):
        p = sub.add_parser(name, help=help_)
        if queries:
            p.add_argument("queries", nargs=queries, metavar="query")
        if sf:
            p.add_argument("--sf", default=bench.SF_DIR, help="sf tables (default %(default)s)")
        if reps:
            p.add_argument("--reps", type=int, default=reps, help="best of (default %(default)s)")
        p.add_argument("--out", help=out)
        return p

    p = add("profile", "per-query time, jobs, stages, bytes and plan nodes", 3)
    p.add_argument("--all", action="store_true", help="every registry query")
    p.add_argument("--repo", default=ROOT, help="checkout whose registry runs")
    p = add("plans", 'explain("formatted") per query, masked',
            out="write <out>/<query>_<suffix>.txt instead of printing")
    p.description = (
        "Expression ids, plan_id= numbers, RDD ids and the --repo path are "
        "masked, so two checkouts' dumps diff with plain diff."
    )
    p.add_argument("--all", action="store_true", help="every registry query")
    p.add_argument("--repo", default=ROOT, help="checkout whose registry is explained")
    p.add_argument("--suffix", default="after", help="file name suffix under --out")
    p = add("ab", "fresh-JVM A/B against another checkout", 3, "+")
    p.add_argument("--before", required=True, help="checkout of the before side")
    p.add_argument("--cycles", type=int, default=3, help="A/B cycles (default %(default)s)")
    p.add_argument("--controls", default="percent_by_returnflag,pca_embeddings",
                   help="comma-separated untouched control queries")
    p = add("sweep", "registry queries over disjoint xN replicas", queries="+")
    p.add_argument("--copies", type=_ints, default=[1, 4, 16])
    p = add("state", "fixed batch probed against a growing dedup state", queries=None)
    p.add_argument("--copies", type=_ints, default=[1, 4, 16])
    p = add("width", "dense-vector paths at wide synthetic dims", queries=None, sf=False)
    p.add_argument("--dims", type=_ints, default=[64, 256, 768, 1536])
    p.add_argument("--n", type=int, default=20_000, help="corpus vectors")
    return ap.parse_args(argv)


COMMANDS = {"profile": cmd_profile, "plans": cmd_plans, "sweep": cmd_sweep,
            "state": cmd_state, "width": cmd_width}


def main(argv: list[str] | None = None) -> None:
    a = parse_args(argv)
    if a.cmd == "ab":
        cmd_ab(a)
        return
    spark = bench.build_spark()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        COMMANDS[a.cmd](spark, a)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
