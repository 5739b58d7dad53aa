"""scripts/perf.py: the disjoint replicas of its higher-SF tier, two
``profile`` records, and the argument parsing of every subcommand (no
subprocess JVM is started here)."""

import importlib.util
import os
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__
from perfbench.sparkstats import _STRUCTURAL, _seq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def perf():
    spec = importlib.util.spec_from_file_location(
        "perf_tool", os.path.join(ROOT, "scripts", "perf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tables(spark):
    """Tiny tables as JVM-side VALUES (no Python worker starts)."""

    def values(cols, *rows):
        return spark.sql(f"SELECT * FROM VALUES {', '.join(rows)} AS t({cols})")

    return {
        "customer": values(
            "c_custkey, c_name, c_nationkey",
            "(1L, 'Cust#1', 3)", "(2L, 'Cust#2', 4)", "(3L, 'Cust#3', 3)",
        ),
        "orders": values(
            "o_orderkey, o_custkey", "(10L, 1L)", "(11L, 1L)", "(12L, 2L)", "(13L, 9L)"
        ),
        "documents": values(
            "doc_id, text",
            "(1L, 'Hello, world')", "(2L, 'the quick brown fox')",
            "(3L, CAST(NULL AS STRING))",
        ),
        "embeddings": values(
            "vec_id, embedding",
            "(1L, array(1.0F, 2.0F, 3.0F))", "(2L, array(0.5F, 0.0F, -1.0F))",
            "(3L, CAST(NULL AS ARRAY<FLOAT>))",
        ),
        "nation": values("n_nationkey, n_name, n_regionkey", "(3, 'N3', 0)", "(4, 'N4', 1)"),
        "region": values("r_regionkey, r_name", "(0, 'R0')", "(1, 'R1')"),
    }


KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def test_replicate_three_disjoint_copies(spark, perf):
    tables = _tables(spark)
    stride = perf.key_stride(tables)
    assert stride == 100  # smallest power of ten above the largest key, 13
    out = perf.replicate(tables, 3)
    base = {n: tables[n].collect() for n in KEYS}
    rep = {n: out[n].collect() for n in KEYS}

    for name, keys in KEYS.items():
        assert len(rep[name]) == 3 * len(base[name])
        for k in keys:
            assert len({r[k] for r in rep[name]}) == 3 * len({r[k] for r in base[name]})
        copy0 = [r for r in rep[name] if r[keys[0]] < stride]
        assert sorted(copy0) == sorted(base[name])
    assert out["nation"] is tables["nation"] and out["region"] is tables["region"]

    def joined(t):
        return t["orders"].join(t["customer"], F.col("o_custkey") == F.col("c_custkey")).count()

    assert joined(out) == 3 * joined(tables) == 9

    def copy(name, c):
        return {
            r[0] - c * stride: r[1]
            for r in rep[name]
            if c * stride <= r[0] < (c + 1) * stride
        }

    text0, text1 = copy("documents", 0), copy("documents", 1)
    assert text1[1] == "Ifmmp, xpsme"  # letters rotated by one, case kept
    for i in (1, 2):
        assert text1[i] != text0[i] and len(text1[i]) == len(text0[i])
    assert text1[3] is None
    vec1 = copy("embeddings", 1)
    assert vec1[1] == [2.0, 3.0, 1.0] and vec1[3] is None


def _operators(node):
    """Operators of a physical plan, walked as ``SparkStats.plan_counts``
    walks it, whether or not they run in generated code."""
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    else:
        kids = _seq(node.children()) + _seq(node.subqueries())
    return (name not in _STRUCTURAL) + sum(_operators(k) for k in kids)


def test_profile_record(spark, perf, sf_dir):
    name = "percent_by_returnflag"  # aggregates through a shuffle
    a = perf.parse_args(["profile", "--sf", sf_dir, "--reps", "2", name])
    rec = perf.cmd_profile(spark, a)
    q = rec["queries"][name]
    assert {
        "sec", "jobs", "jobs_by_rep", "job_sites", "stages",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
        "exchanges", "exec_exchanges", "python_nodes", "non_codegen_nodes",
    } <= set(q)
    assert q["jobs"] > 0 and q["stages"] > 0 and q["sec"] > 0
    # every rep's jobs; the last rep's by call site, all in SQL executions
    assert len(q["jobs_by_rep"]) == 2 and q["jobs_by_rep"][-1] == q["jobs"]
    assert sum(q["job_sites"].values()) == q["jobs"]
    assert perf.NO_EXECUTION not in q["job_sites"]
    assert rec["canary_pre"] > 0 and rec["canary_post"] > 0
    # the counts describe AQE's final plan, where codegen stages exist;
    # its initial plan has none, so every operator would read interpreted
    df = __spark_entry__.queries()[name](spark, sf_dir)
    final = perf.final_plan(df)
    assert q["exchanges"] >= 1
    assert q["non_codegen_nodes"] < _operators(final)
    counts = ("exchanges", "python_nodes", "non_codegen_nodes")
    assert {k: q[k] for k in counts} == perf.SparkStats(spark).plan_counts(df)


def test_profile_counts_exchanges_of_every_job(spark, perf, sf_dir):
    """A pinned multi-job query returns a frame that reads only its last
    pin, so the frame's plan has no exchange; its edge pin and broadcast
    rounds do, and ``exec_exchanges`` counts them."""
    name = "label_propagation_purchases"
    a = perf.parse_args(["profile", "--sf", sf_dir, "--reps", "1", name])
    q = perf.cmd_profile(spark, a)["queries"][name]
    assert q["exchanges"] == 0
    assert q["exec_exchanges"] >= 1


def test_profile_names_jobs_outside_sql_executions(spark, perf, sf_dir):
    """A job no SQL execution owns (here an RDD partition count, which
    makes AQE run the aggregate's shuffle stage) counts under one
    ``<no execution>`` key, whatever its call site."""

    def fn(spark, sf):
        df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
        df.rdd.getNumPartitions()
        return df

    q = perf.measure(spark, perf.SparkStats(spark), fn, sf_dir, 1)
    assert q["job_sites"][perf.NO_EXECUTION] == 1
    assert sum(q["job_sites"].values()) == q["jobs"] == q["jobs_by_rep"][0]


def test_plans_mask_ids_and_checkout_path(spark, perf, tmp_path, monkeypatch):
    """Two checkouts' dumps of one query diff clean: expression ids,
    ``plan_id=`` numbers, RDD ids and the ``--repo`` path are masked."""
    assert perf.mask_plan(
        "Project [a#12, b#3L] plan_id=45 /r/x MapPartitionsRDD[212] at", "/r"
    ) == "Project [a#N, b#NL] plan_id=N <repo>/x MapPartitionsRDD[N] at"
    dumps = []
    for side in ("before", "after"):
        repo = tmp_path / side
        spark.range(10).write.parquet(str(repo / "t"))

        def q(spark, sf, repo=repo):
            return spark.read.parquet(str(repo / "t")).groupBy(
                (F.col("id") % 3).alias("k")
            ).count()

        monkeypatch.setattr(perf, "_registry", lambda _: {"q": q})
        a = perf.parse_args(
            ["plans", "q", "--repo", str(repo), "--out", str(tmp_path / "plans"),
             "--suffix", side]
        )
        perf.cmd_plans(spark, a)
        dumps.append((tmp_path / "plans" / f"q_{side}.txt").read_text())
    assert dumps[0] == dumps[1]
    assert "#N" in dumps[0] and "<repo>/t" in dumps[0]
    assert not re.search(r"#\d", dumps[0]) and str(tmp_path) not in dumps[0]


@pytest.mark.parametrize(
    "argv, expect",
    [
        (["ab", "q1", "q2", "--before", "/before", "--cycles", "2"],
         {"queries": ["q1", "q2"], "before": "/before", "cycles": 2, "reps": 3,
          "controls": "profile_orders,pca_embeddings"}),
        (["plans", "q1", "--repo", "/before", "--out", "plans", "--suffix", "before"],
         {"queries": ["q1"], "repo": "/before", "out": "plans", "suffix": "before", "all": False}),
        (["sweep", "q1", "q2", "--copies", "1,4"],
         {"queries": ["q1", "q2"], "copies": [1, 4]}),
        (["state", "--copies", "1,4,16"], {"copies": [1, 4, 16]}),
        (["width", "--dims", "64,256"], {"dims": [64, 256], "n": 20_000}),
    ],
)
def test_parse_args(perf, argv, expect):
    a = perf.parse_args(argv)
    assert a.cmd == argv[0]
    assert {k: getattr(a, k) for k in expect} == expect


@pytest.mark.parametrize(
    "argv",
    [["ab", "q1"], ["sweep"], ["width", "q1"], ["width", "--sf", "x"],
     ["sweep", "q1", "--reps", "1"], ["state", "--reps", "1"]],
)
def test_parse_args_rejects(perf, argv):
    with pytest.raises(SystemExit):
        perf.parse_args(argv)
