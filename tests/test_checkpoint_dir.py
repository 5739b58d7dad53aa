"""Reliable-checkpoint knob on the iterative operators (r11 verdict
item 5): PageRank / label propagation / connected components pin
per-iteration state with ``localCheckpoint``, whose blocks die with
their executor — fine on local[*], fatal on a real cluster past round
1. ``checkpoint_dir=`` opts into a reliable checkpoint (survives
executor loss); these tests assert the knob actually routes through
the reliable path (files land under the dir), the lineage is truncated
(no source scan left in the returned plan), and results are
bit-identical to the default path."""

import os

from pyspark.sql import functions as F

EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (5, 6), (6, 5), (7, 7), (4, 8),
]


def _edges_parquet(spark, tmp_path, cols):
    p = str(tmp_path / "edges")
    spark.createDataFrame(EDGES, cols).write.parquet(p)
    return spark.read.parquet(p)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_pagerank_checkpoint_dir_truncates_and_matches(spark, tmp_path):
    from kolang_spark.operators.graph import pagerank

    e = _edges_parquet(spark, tmp_path, ["src", "dst"])
    ck = str(tmp_path / "ck")
    base = {r.node: r.rank_fp for r in pagerank(e, iterations=3).collect()}
    got_df = pagerank(e, iterations=3, checkpoint_dir=ck)
    got = {r.node: r.rank_fp for r in got_df.collect()}
    assert got == base  # reliable path is bit-identical
    # reliable checkpoint actually wrote state under the dir
    assert any(files for _, _, files in os.walk(ck))
    # lineage truncated: the returned plan reads the checkpoint RDD,
    # not the parquet source
    plan = _plan(got_df)
    assert "parquet" not in plan.lower()
    assert "ExistingRDD" in plan or "LogicalRDD" in plan


def test_label_propagation_checkpoint_dir_matches(spark, tmp_path):
    from kolang_spark.operators.graph import label_propagation

    e = _edges_parquet(spark, tmp_path, ["src", "dst"])
    ck = str(tmp_path / "ck")
    base = {
        r.node: r.label for r in label_propagation(e, iterations=2).collect()
    }
    got_df = label_propagation(e, iterations=2, checkpoint_dir=ck)
    got = {r.node: r.label for r in got_df.collect()}
    assert got == base
    assert any(files for _, _, files in os.walk(ck))
    assert "parquet" not in _plan(got_df).lower()


def test_connected_components_checkpoint_dir_matches(spark, tmp_path):
    from kolang_spark.llm.dedup import connected_components

    e = _edges_parquet(spark, tmp_path, ["id_a", "id_b"])
    ck = str(tmp_path / "ck")
    base = {
        r.id: r.component for r in connected_components(e).collect()
    }
    got_df = connected_components(e, checkpoint_dir=ck)
    got = {r.id: r.component for r in got_df.collect()}
    assert got == base
    assert got[1] == got[2] == got[3] == got[4] == got[8] == 1
    assert got[5] == got[6] == 5 and got[7] == 7
    assert any(files for _, _, files in os.walk(ck))
    assert "parquet" not in _plan(got_df).lower()


def test_iter_checkpoint_prior_substring_dir_does_not_skip_set(spark, tmp_path):
    """Advisor r13: the 'already pointed under checkpoint_dir' probe
    must compare on whole-path boundaries. A prior checkpoint dir whose
    path merely CONTAINS the wanted dir as a substring ('/x/ck-old' vs
    '/x/ck') must not skip setCheckpointDir — otherwise reliable
    checkpoints silently land in the other directory, which the caller
    neither owns nor cleans."""
    from kolang_spark.utils import iter_checkpoint

    sc = spark.sparkContext
    old = str(tmp_path / "ck-old")  # contains "ck" + tmp prefix of want
    want = str(tmp_path / "ck")
    sc.setCheckpointDir(old)
    df = spark.range(5)
    out, _, _ = iter_checkpoint(df, want)
    assert out.count() == 5
    cur = sc.getCheckpointDir()  # fully-qualified UUID subdir
    parent = cur.rstrip("/").rsplit("/", 1)[0]
    assert parent.endswith("/ck"), cur
    assert not parent.endswith("ck-old"), cur
    # and the checkpoint files actually landed under want
    assert any(files for _, _, files in os.walk(want))


def test_iter_checkpoint_same_dir_skips_reset(spark, tmp_path):
    """The N-round loop contract: consecutive calls with the SAME dir
    issue one setCheckpointDir (the UUID subdir is stable across the
    second call), regardless of how the path is spelled."""
    from kolang_spark.utils import iter_checkpoint

    sc = spark.sparkContext
    want = str(tmp_path / "ck")
    iter_checkpoint(spark.range(3), want)
    cur1 = sc.getCheckpointDir()
    iter_checkpoint(spark.range(4), want + "/")  # trailing-slash spelling
    cur2 = sc.getCheckpointDir()
    assert cur1 == cur2  # second call skipped the re-set


def test_reliable_checkpoint_survives_block_loss(spark, tmp_path):
    """The real-cluster failure the checkpoint_dir= knob exists for
    (r12 verdict item 6), simulated the strongest way local[*] allows:
    after checkpointing, EVERY persistent RDD block is dropped from
    the block manager — the local stand-in for losing the executors
    that held them. A reliable checkpoint reads FILES under
    checkpoint_dir, so the frame recomputes and answers correctly; the
    localCheckpoint negative control has nothing but those blocks
    behind its truncated lineage and must fail — the exact cliff the
    knob closes on a real cluster."""
    import pytest

    from kolang_spark.utils import iter_checkpoint

    def drop_all_blocks():
        jctx = spark._jsparkSession.sparkContext()
        m = jctx.getPersistentRDDs()
        it = m.iterator()
        while it.hasNext():
            it.next()._2().unpersist(True)  # blocking drop

    expect = list(range(0, 100, 7))
    df = spark.range(100).where("id % 7 = 0")

    reliable, _, _ = iter_checkpoint(df, str(tmp_path / "ck"))
    drop_all_blocks()
    got = sorted(r.id for r in reliable.collect())
    assert got == expect  # recomputed from checkpoint FILES

    local = df.localCheckpoint(eager=True)
    drop_all_blocks()
    with pytest.raises(Exception, match="[Cc]heckpoint|[Bb]lock"):
        local.collect()


def test_keep_partitioning_checkpoint_clone_session(spark):
    """The keep-partitioning checkpoint plans its one AQE-off execution
    in a CLONED session, so the main session's AQE conf is never
    toggled (a session-global toggle lets a concurrent driver thread
    plan without AQE inside that window). Three properties, all
    load-bearing:

    - the checkpointed frame RETAINS its hash partitioning (a
      downstream groupBy on the layout key plans NO Exchange);
    - a metric observed on the frame still fires during the clone-side
      eager materialization (connected components / pagerank fuse their
      convergence counts into exactly this job — a silent metrics loss
      would become a bounded wait plus a fallback job per round);
    - the MAIN session's adaptive.enabled reads true throughout.
    """
    from kolang_spark.utils import iter_checkpoint

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = (
        spark.range(1000)
        .select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
        .repartition("k")
    )
    j0 = _job_high_water(spark)
    ck, m, _ = iter_checkpoint(
        df, keep_partitioning=True, observe={"n": F.count(F.lit(1))}
    )
    assert m == {"n": 1000}
    assert _job_high_water(spark) - j0 == 1  # the metric rode the pin's job
    plan = (
        ck.groupBy("k")
        .agg(F.sum("v"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert ck.count() == 1000


def _job_high_water(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) + 1 if ids else 0


def test_keep_partitioning_failure_after_clone_pin_raises_once(
    spark, monkeypatch
):
    """A failure AFTER the clone-side checkpoint materialized (here: the
    re-wrap into the original session) must surface, not fall through
    to a second, session-global checkpoint of the same frame."""
    import pytest

    from kolang_spark import utils

    def boom(*_a, **_k):
        raise RuntimeError("re-wrap failed")

    df = spark.range(100).repartition(4, "id")
    monkeypatch.setattr(utils, "DataFrame", boom)
    j0 = _job_high_water(spark)
    with pytest.raises(RuntimeError, match="re-wrap failed"):
        utils.iter_checkpoint(df, keep_partitioning=True)
    assert _job_high_water(spark) - j0 == 1  # exactly one checkpoint job
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
