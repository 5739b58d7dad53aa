"""Benchmark of kolang_spark: one workload per process, on a fresh JVM.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 12 --trace 0

The run generates the workload's tables from ``--seed``, starts a
``local[<cores>]`` session, runs one warm-up pass over the workload's steps
(set-up), then runs timed passes for ``--seconds``, checks every step's
last output against its DuckDB oracle replay, and prints one JSON object
as the last line of standard output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` alternates untraced and traced passes and reports
the per-layer metrics. A fuller run record (per-step medians, per-pass
counts, the last traced pass's spans) is written under
``perfbench/_results/``. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
CANARY_REPEATS = 3
DRIVER_MEMORY = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def build_session(work: str, cores: int):
    from pyspark.sql import SparkSession

    # the heap is committed and touched at start-up, so page faults on
    # fresh memory land in set-up instead of in the timed passes
    java_opts = (
        f"-Djava.io.tmpdir={work}/jtmp -XX:-UsePerfData "
        f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
    )
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it started."""
    from pyspark import SparkContext

    from sparkstats import descendants

    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


class Runner:
    def __init__(self, spark, spec, data_dir, state_dir):
        import __spark_entry__ as registry

        from sparkstats import SparkStats

        self.spark = spark
        self.data_dir = data_dir
        self.state_dir = state_dir
        self.steps = spec["steps"]
        queries = registry.queries()
        self.oracles = registry.oracle_sql()
        self.fns = {s: queries.get(s) for s in self.steps}
        self.stats = SparkStats(spark)
        self.cores = spark.sparkContext.defaultParallelism
        self.errors: dict[str, str] = {}
        self.last: dict[str, tuple] = {}

    def run_pass(self) -> dict:
        """One pass over the steps, on freshly emptied state directories."""
        shutil.rmtree(self.state_dir, ignore_errors=True)
        os.makedirs(self.state_dir)
        tempfile.tempdir = self.state_dir
        stats = self.stats
        jobs0, stages0, written0 = (
            stats.next_job_id(), stats.next_stage_id(), stats.bytes_written())
        step_s = {}
        wall0 = time.time()
        t0 = time.perf_counter()
        for step in self.steps:
            s0 = time.perf_counter()
            try:
                fn = self.fns[step]
                if fn is None:
                    raise KeyError(f"{step} is not in queries()")
                df = fn(self.spark, self.data_dir)
                rows = [tuple(r) for r in df.collect()]
                self.last[step] = (df, df.columns, rows)
            except Exception:
                self.errors.setdefault(step, traceback.format_exc(limit=4))
                self.last.pop(step, None)
            step_s[step] = time.perf_counter() - s0
        wall = time.perf_counter() - t0
        return {
            "wall_s": wall,
            "t0": wall0,
            "t1": wall0 + wall,
            "jobs": stats.next_job_id() - jobs0,
            "stages": (stages0, stats.next_stage_id()),
            "bytes_written": stats.bytes_written() - written0,
            "step_s": step_s,
        }

    def canary(self) -> list[float]:
        """Wall times of a fixed, library-free set of Spark queries over the
        same tables (scan and aggregate, join, window). The host's and the
        JVM's speed of the moment move it as they move a pass, and no
        library change does, so a pass is measured in canary units."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        read = self.spark.read.parquet
        times = []
        for _ in range(CANARY_REPEATS):
            t0 = time.perf_counter()
            li = read(os.path.join(self.data_dir, "lineitem.parquet"))
            od = read(os.path.join(self.data_dir, "orders.parquet"))
            li.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"), F.count(F.lit(1))).collect()
            li.join(od, li.l_orderkey == od.o_orderkey).groupBy(
                "o_orderpriority").agg(F.sum("l_extendedprice")).collect()
            first = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
            od.withColumn("r", F.row_number().over(first)).where("r = 1").count()
            times.append(time.perf_counter() - t0)
        return times

    def check(self) -> dict[str, str]:
        """Compare each step's last output with its oracle replay."""
        import oracle

        bad = dict(self.errors)
        con = oracle.connect(self.data_dir)
        try:
            for step in self.steps:
                if step in bad:
                    continue
                if step not in self.oracles:
                    bad[step] = "no oracle_sql() entry"
                    continue
                _, columns, rows = self.last[step]
                try:
                    why = oracle.mismatch(con, self.oracles[step], columns, rows)
                except Exception as exc:
                    why = f"oracle replay failed: {exc}"
                if why is not None:
                    bad[step] = why
        finally:
            con.close()
        return bad


def spark_layer(runner: Runner, p: dict, exec_before: int) -> dict[str, float]:
    """spark.* metrics of one untraced pass, from the status stores."""
    stats = runner.stats
    stats.drain()
    st = stats.stages(*p["stages"])
    intervals = sorted(
        (max(a, p["t0"]), min(b, p["t1"])) for a, b in st.pop("intervals")
    )
    busy, end = 0.0, p["t0"]
    for a, b in intervals:
        if b > end and b > a:
            busy += b - max(a, end)
            end = b
    gap = max(0.0, p["wall_s"] - busy)
    out = {f"spark.exec.{k}": v for k, v in st.items()}
    out["spark.exec.jobs"] = p["jobs"]
    out["spark.exec.busy_frac"] = st["run_s"] / (runner.cores * p["wall_s"])
    out["spark.sched.gap_s"] = gap
    out["spark.sched.gap_frac"] = gap / p["wall_s"]
    py = stats.python_metrics(exec_before)
    out.update({f"spark.pyudf.{k}": v for k, v in py.items()})
    return out


def median_of(dicts: list[dict]) -> dict[str, float]:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def measure(args, spec, work, record, sessions) -> dict[str, float]:
    """Set up, run the timed passes and return every metric of the run.
    The Spark session is appended to ``sessions`` for the caller to stop."""
    import gen
    from layers import Tracer, summarize
    from sparkstats import peak_rss_mb

    gen_s = []
    for i in range(SETUP_REPEATS):
        data_dir = os.path.join(work, f"data{i}")
        t0 = time.perf_counter()
        rows = gen.generate(data_dir, args.seed, spec["scale"])
        gen_s.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(work, f"data{i - 1}"))
    input_rows = sum(rows[t] for t in spec["tables"])
    input_bytes = sum(
        os.path.getsize(os.path.join(data_dir, f"{t}.parquet")) for t in spec["tables"]
    )
    t0 = time.perf_counter()
    cores = len(os.sched_getaffinity(0))
    sessions.append(build_session(work, cores))
    runner = Runner(sessions[0], spec, data_dir, os.path.join(work, "state"))
    session_s = time.perf_counter() - t0
    warmup_s = runner.run_pass()["wall_s"]
    canary_before = runner.canary()
    setup_s = statistics.median(gen_s) + session_s + warmup_s
    record.update(cores=cores, input_rows=input_rows, input_bytes=input_bytes,
                  setup={"gen_s": gen_s, "session_s": session_s,
                         "warmup_s": warmup_s})
    log(f"set-up {setup_s:.2f}s (warm-up pass {warmup_s:.2f}s)")

    tracer = None
    if args.trace:
        # after the warm-up pass, so every module the steps import is loaded
        tracer = Tracer(runner.stats.next_job_id, runner.stats.bytes_written)
        record["wrapped_functions"] = tracer.install()
    passes = []
    deadline = time.perf_counter() + args.seconds
    while True:
        traced = tracer is not None and len(passes) % 2 == 1
        exec_before = runner.stats.last_execution_id() if tracer else -1
        if traced:
            tracer.enable(True)
        p = runner.run_pass()
        p["traced"] = traced
        if traced:
            tracer.enable(False)
            spans = tracer.take()
            p["layers"] = summarize(spans)
            record["spans"] = spans
        elif tracer is not None:
            p["spark"] = spark_layer(runner, p, exec_before)
        p["write_amp"] = p["bytes_written"] / input_bytes
        # the canary runs right before and right after the pass
        p["canary_s"] = canary_before + runner.canary()
        canary_before = p["canary_s"][CANARY_REPEATS:]
        passes.append(p)
        log(f"pass {len(passes)}{' traced' if traced else ''}: "
            f"{p['wall_s']:.3f}s, {p['jobs']} jobs")
        # a traced run ends on an untraced pass, so that every traced pass
        # sits between two untraced ones
        enough = tracer is None or (len(passes) >= 3 and not traced)
        if enough and deadline - time.perf_counter() < p["wall_s"]:
            break
    rss = peak_rss_mb(os.getpid())
    plain = [p for p in passes if not p["traced"]]
    bad = runner.check()
    for step, why in bad.items():
        log(f"FAILED {step}: {why.strip().splitlines()[-1]}")
    pass_s = statistics.median(p["wall_s"] for p in plain)
    pass_rel = statistics.median(p["wall_s"] / statistics.median(p["canary_s"])
                                 for p in plain)
    record.update(
        passes=[{k: v for k, v in p.items() if k not in ("stages", "layers", "spark")}
                for p in passes],
        pass_samples=len(plain),
        jobs_identical=len({p["jobs"] for p in passes}) == 1,
        step_median_s={s: statistics.median(p["step_s"][s] for p in plain)
                       for s in runner.steps},
        failures=bad,
        pass_s=pass_s,
        rows_per_s=input_rows / pass_s,
        peak_rss_mb=rss,
        attempted=len(runner.steps),
    )
    if tracer is None:
        return {
            "setup_s": setup_s,
            "pass_rel": pass_rel,
            "jobs_per_pass": statistics.median(p["jobs"] for p in plain),
            "ok_steps_frac": 1 - len(bad) / len(runner.steps),
        }
    traced = [p for p in passes if p["traced"]]
    out = median_of([p["layers"] for p in traced])
    out.update(median_of([p["spark"] for p in plain]))
    plan = {"exchanges": 0, "python_nodes": 0, "non_codegen_nodes": 0}
    for df, _, _ in runner.last.values():
        for k, v in runner.stats.plan_counts(df).items():
            plan[k] += v
    out.update({f"plan.{k}": v for k, v in plan.items()})
    out["write_amp"] = statistics.median(p["write_amp"] for p in plain)
    # against the mean of the untraced neighbours, which cancels the pass
    # times' slow downward drift
    out["trace.overhead_s"] = statistics.median(
        passes[i]["wall_s"] - (passes[i - 1]["wall_s"] + passes[i + 1]["wall_s"]) / 2
        for i in range(1, len(passes) - 1, 2)
    )
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "kolang_spark"))):
        log(f"no kolang_spark checkout at {ROOT}")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    from workloads import WORKLOADS

    spec = WORKLOADS[args.workload]
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "jtmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TZ"] = "UTC"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    time.tzset()
    tempfile.tempdir = os.environ["TMPDIR"]
    sys.path.insert(0, ROOT)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace}
    sessions = []
    try:
        metrics = measure(args, spec, work, record, sessions)
    finally:
        for spark in sessions:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": not record["failures"],
        "attempted": record["attempted"],
        "failed": len(record["failures"]),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    record["result"] = result
    out_dir = os.path.join(HERE, "_results")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
