"""Tumbling/sliding event-time windows — batch semantics plus a real
Structured Streaming run (file source → stateful windowed agg → memory
sink) proving the same operator works as a stream."""

import datetime as dt
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.errors import AnalysisException

from kolang_spark.llm.dedup import (
    _incremental_embedding_flagged,
    _incremental_lines_flagged,
    _incremental_minhash_flagged,
    _rebuild_deduped_lines,
    incremental_embedding_dedup,
    incremental_line_dedup,
    incremental_minhash_dedup,
)
from kolang_spark.sources.io import read_table
from kolang_spark.streaming import (
    embedding_dedup_sink,
    line_dedup_sink,
    minhash_dedup_sink,
    sliding,
    tumbling,
)
from tests.conftest import jobs_started


def _mk_events(spark):
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("a", base + dt.timedelta(minutes=m), 1.0)
        for m in (0, 10, 50, 70, 125)
    ] + [("b", base + dt.timedelta(minutes=65), 2.0)]
    return spark.createDataFrame(rows, "k string, ts timestamp, v double")


def test_tumbling_batch_golden(spark):
    out = tumbling(
        _mk_events(spark),
        ts="ts",
        duration="1 hour",
        keys=["k"],
        aggs={"n": F.count(F.lit(1)), "s": F.sum("v")},
    )
    got = {
        (r["k"], r["window_start"].minute + 60 * r["window_start"].hour): (
            r["n"],
            r["s"],
        )
        for r in out.collect()
    }
    # hour 0: a has 3 events; hour 1: a has 1, b has 1; hour 2: a has 1
    assert got == {
        ("a", 0): (3, 3.0),
        ("a", 60): (1, 1.0),
        ("b", 60): (1, 2.0),
        ("a", 120): (1, 1.0),
    }
    # window_end − window_start = duration
    r0 = out.collect()[0]
    assert (r0["window_end"] - r0["window_start"]) == dt.timedelta(hours=1)


def test_sliding_each_event_in_duration_over_slide_windows(spark):
    ev = _mk_events(spark)
    out = sliding(ev, ts="ts", duration="1 hour", slide="30 minutes", keys=["k"])
    # every event lands in exactly 2 windows → total count doubles
    assert out.agg(F.sum("n_events")).first()[0] == 2 * ev.count()


def test_tumbling_matches_oracle_shape_on_events(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    out = tumbling(ev, ts="ts", duration="1 hour", keys=["event_type"])
    total = out.agg(F.sum("n_events")).first()[0]
    assert total == ev.count()


def test_tumbling_streaming_matches_batch(spark, sf_dir, tmp_path):
    """Drive the SAME operator through Structured Streaming: file source,
    stateful window aggregation, availableNow trigger, memory sink —
    results must equal the batch run."""
    ev = read_table(spark, sf_dir, "events").select("ts", "event_type", "value")
    src = str(tmp_path / "stream_src")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = tumbling(
        stream,
        ts="ts",
        duration="1 hour",
        keys=["event_type"],
        aggs={"n_events": F.count(F.lit(1))},
        watermark="2 hours",
    )
    sink = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in tumbling(
            ev, ts="ts", duration="1 hour", keys=["event_type"]
        ).collect()
    }
    streamed = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.table(sink).collect()
    }
    assert streamed == batch


def test_interval_join_stream_stream_matches_batch(spark, sf_dir, tmp_path):
    """TRUE stream-stream join: both sides are file streams with
    watermarks; the event-time bound lets Spark run it. Inner results
    must equal the batch run of the same call."""
    from kolang_spark.streaming import interval_join

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), "value"
    )
    vsrc, psrc = str(tmp_path / "views"), str(tmp_path / "purchases")
    views.write.parquet(vsrc)
    purchases.write.parquet(psrc)

    batch = {
        (r.view_id, r.r_pts)
        for r in interval_join(
            views, purchases, keys=["user_id"], left_ts="ts",
            right_ts="pts", upper="30 minutes",
        ).collect()
    }
    assert batch, "fixture should produce view→purchase matches"

    vs = spark.readStream.schema(views.schema).parquet(vsrc)
    ps = spark.readStream.schema(purchases.schema).parquet(psrc)
    joined = interval_join(
        vs, ps, keys=["user_id"], left_ts="ts", right_ts="pts",
        upper="30 minutes", watermark="2 hours",
    )
    sink = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.view_id, r.r_pts) for r in spark.sql(f"SELECT * FROM {sink}").collect()
    }
    assert streamed == batch


def test_upsert_sink_streaming_merge(spark, tmp_path):
    """CDC-shaped stream into a hive-partitioned parquet table: the
    first batch creates the table, later files upsert through the
    partition-pruned merge; the final table equals applying the update
    log in order."""
    from kolang_spark.streaming import upsert_sink

    src = tmp_path / "cdc"
    src.mkdir()
    tbl = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    schema = "id long, p string, v long, seq long"

    # stage 1: initial rows
    spark.createDataFrame(
        [(1, "a", 10, 1), (2, "a", 20, 1), (3, "b", 30, 1)], schema
    ).coalesce(1).write.parquet(str(src / "f1"))

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = upsert_sink(
        stream, tbl, keys=["id"], partition_by=["p"],
        order_col="seq", checkpoint=ckpt,
    )
    q.awaitTermination(120)
    got1 = {r.id: r.v for r in spark.read.parquet(tbl).collect()}
    assert got1 == {1: 10, 2: 20, 3: 30}

    # stage 2: an update (id=1, two versions — last wins) and an insert
    spark.createDataFrame(
        [(1, "a", 11, 2), (1, "a", 12, 3), (4, "b", 40, 2)], schema
    ).coalesce(1).write.parquet(str(src / "f2"))
    q2 = upsert_sink(
        stream, tbl, keys=["id"], partition_by=["p"],
        order_col="seq", checkpoint=ckpt,
    )
    q2.awaitTermination(120)
    got2 = {r.id: r.v for r in spark.read.parquet(tbl).collect()}
    assert got2 == {1: 12, 2: 20, 3: 30, 4: 40}


def _pin_mtimes(*dirs):
    """FileStreamSource orders files by modification time; parquet
    writes landing in the same mtime tick could flip the micro-batch
    order. Pin strictly increasing mtimes so batch order is the write
    order, deterministically."""
    import os

    base = 1_700_000_000
    for i, d in enumerate(dirs):
        for name in os.listdir(d):
            os.utime(os.path.join(d, name), (base + i, base + i))
        os.utime(d, (base + i, base + i))


def test_minhash_dedup_sink_stream_equals_batch(spark, tmp_path):
    """Streaming near-dup ingest over two micro-batches == running the
    batch operator twice on the same batches: same accepted set, same
    persisted band-key state."""
    from kolang_spark.llm.dedup import incremental_minhash_dedup
    from kolang_spark.streaming import minhash_dedup_sink

    t_a = "the quick brown fox jumps over the lazy dog today"
    t_b = "completely different content with many unique words inside"
    t_c = "a third document that shares nothing with the others at all"
    b1 = [(1, t_a), (2, t_b), (3, t_a)]          # 3 near-dups 1 in-batch
    b2 = [(4, t_a), (5, t_c)]                    # 4 near-dups state; 5 novel
    schema = "doc_id long, text string"

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))
    _pin_mtimes(src / "f1", src / "f2")

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = minhash_dedup_sink(
        stream, state, out, checkpoint=str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    accepted = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert accepted == [1, 2, 5]
    # duplicates never enter the output and the flag column is dropped
    assert "is_near_duplicate" not in spark.read.parquet(out).columns

    # batch replay of the same two batches against a fresh state
    state2 = str(tmp_path / "state2")
    m1 = incremental_minhash_dedup(
        spark, spark.createDataFrame(b1, schema), state2
    )
    batch_acc = [r.doc_id for r in m1.where("NOT is_near_duplicate").collect()]
    m2 = incremental_minhash_dedup(
        spark, spark.createDataFrame(b2, schema), state2
    )
    batch_acc += [r.doc_id for r in m2.where("NOT is_near_duplicate").collect()]
    assert sorted(batch_acc) == accepted

    # identical persisted state (band-key multisets)
    s_stream = sorted(
        (r.band_id, r.band_key) for r in spark.read.parquet(state).collect()
    )
    s_batch = sorted(
        (r.band_id, r.band_key) for r in spark.read.parquet(state2).collect()
    )
    assert s_stream == s_batch


def test_minhash_dedup_sink_keep_duplicates_flags(spark, tmp_path):
    from kolang_spark.streaming import minhash_dedup_sink

    t = "one single piece of text repeated across both documents here"
    schema = "doc_id long, text string"
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(1, t), (2, t)], schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = minhash_dedup_sink(
        stream,
        str(tmp_path / "state"),
        str(tmp_path / "out"),
        keep_duplicates=True,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = {
        r.doc_id: r.is_near_duplicate
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert got == {1: False, 2: True}


def test_line_dedup_sink_stream_equals_batch(spark, tmp_path):
    """Streaming line-dedup ingest over two micro-batches == running
    the batch operator twice on the same batches: same rebuilt texts,
    same persisted line-hash state."""
    from kolang_spark.llm.dedup import incremental_line_dedup
    from kolang_spark.streaming import line_dedup_sink

    b1 = [(1, "alpha one\nshared line\nbeta two"),
          (2, "shared line\ngamma three")]        # batch-internal dup
    b2 = [(3, "shared line\ndelta four"),         # state hit
          (4, "epsilon five\n\nzeta six")]        # ws line survives
    schema = "doc_id long, text string"

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))
    _pin_mtimes(src / "f1", src / "f2")

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = line_dedup_sink(stream, state, out, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    got = {
        r.doc_id: (r.text_deduped, r.n_kept, r.n_removed)
        for r in spark.read.parquet(out).collect()
    }
    assert got[1] == ("alpha one\nshared line\nbeta two", 3, 0)
    assert got[2] == ("gamma three", 1, 1)          # in-batch keep-first
    assert got[3] == ("delta four", 1, 1)           # state hit removed
    assert got[4] == ("epsilon five\n\nzeta six", 3, 0)  # ws structural

    # batch replay of the same two batches against a fresh state
    state2 = str(tmp_path / "state2")
    rows = incremental_line_dedup(
        spark, spark.createDataFrame(b1, schema), state2
    ).collect()
    rows += incremental_line_dedup(
        spark, spark.createDataFrame(b2, schema), state2
    ).collect()
    batch_got = {r.doc_id: (r.text_deduped, r.n_kept, r.n_removed) for r in rows}
    assert batch_got == got

    # identical persisted state (kept-line-hash multisets)
    s_stream = sorted(r.line_key for r in spark.read.parquet(state).collect())
    s_batch = sorted(r.line_key for r in spark.read.parquet(state2).collect())
    assert s_stream == s_batch


def test_embedding_dedup_sink_stream_equals_batch(spark, tmp_path):
    """Streaming sign-LSH embedding ingest over two micro-batches ==
    the batch operator twice on the same batches: same flags, same
    persisted band-key state."""
    from kolang_spark.llm.dedup import incremental_embedding_dedup
    from kolang_spark.streaming import embedding_dedup_sink

    def vec(seed, flip=0.0):
        return [float(((seed * 31 + k * 17) % 19) - 9) + flip for k in range(64)]

    b1 = [(1, vec(1)), (2, vec(2))]
    b2 = [(3, vec(1)), (4, vec(7))]        # 3 collides with state (≡ vec 1)
    schema = "vec_id long, embedding array<double>"

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))
    _pin_mtimes(src / "f1", src / "f2")

    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = embedding_dedup_sink(
        stream, state, out, keep_duplicates=True,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r.vec_id: r.is_near_duplicate
        for r in spark.read.parquet(out).collect()
    }
    assert got[1] is False and got[2] is False
    assert got[3] is True            # identical vector -> state band hit
    assert got[4] is False

    # batch replay against a fresh state: identical flags and state
    state2 = str(tmp_path / "state2")
    m1 = incremental_embedding_dedup(
        spark, spark.createDataFrame(b1, schema), state2
    )
    batch_got = {r.vec_id: r.is_near_duplicate for r in m1.collect()}
    m2 = incremental_embedding_dedup(
        spark, spark.createDataFrame(b2, schema), state2
    )
    batch_got.update({r.vec_id: r.is_near_duplicate for r in m2.collect()})
    assert batch_got == got
    s_stream = sorted(
        (r.band_id, r.band_key) for r in spark.read.parquet(state).collect()
    )
    s_batch = sorted(
        (r.band_id, r.band_key) for r in spark.read.parquet(state2).collect()
    )
    assert s_stream == s_batch


def test_cms_sink_stream_equals_batch(spark, tmp_path):
    """Streaming CMS ingest over two micro-batches == one batch sketch
    of the concatenated data: counter-for-counter identical state, and
    estimates from the merged state dominate the exact counts."""
    from kolang_spark.operators.sketches import cms_estimate, cms_table
    from kolang_spark.streaming import cms_sink, cms_state

    b1 = [(i, f"u{i % 3}") for i in range(30)]
    b2 = [(i, f"u{i % 5}") for i in range(40)]
    schema = "id long, user string"
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "f2"))
    _pin_mtimes(src / "f1", src / "f2")

    state = str(tmp_path / "state")
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src) + "/*")
    q = cms_sink(
        stream, state, "user", depth=3, width=64,
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    # the state is read under its declared schema: no inference job
    merged, n_jobs = jobs_started(spark, lambda: cms_state(spark, state))
    assert n_jobs == 0
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        cms_state(spark, str(tmp_path / "no_batch_landed"))
    both = spark.createDataFrame(b1 + b2, schema)
    direct = cms_table(both, "user", depth=3, width=64)
    got = sorted((r.row, r.bucket, r.cnt) for r in merged.collect())
    want = sorted((r.row, r.bucket, r.cnt) for r in direct.collect())
    assert got == want

    exact = {r.user: r.c for r in both.groupBy("user").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    est = {
        r.item: r.est_count
        for r in cms_estimate(
            merged, both.select("user"), "user", depth=3, width=64
        ).collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert e >= exact[k]  # CMS overestimates only


def test_cms_sink_replay_is_idempotent(spark, tmp_path):
    """A crash-replayed batch must REPLACE its own state partition, not
    append a second copy — exercise the sink's write primitive twice
    with the same batch_id and prove the merged counters are unchanged."""
    from kolang_spark.operators.sketches import cms_table
    from kolang_spark.sources.io import overwrite_partitions
    from kolang_spark.streaming import cms_state

    df = spark.createDataFrame([(i, f"u{i % 4}") for i in range(20)],
                               "id long, user string")
    state = str(tmp_path / "state")
    sk = cms_table(df, "user", depth=3, width=32).withColumn(
        "batch_id", F.lit(7)
    )
    overwrite_partitions(sk, state, partition_by=["batch_id"])
    once = sorted((r.row, r.bucket, r.cnt)
                  for r in cms_state(spark, state).collect())
    overwrite_partitions(sk, state, partition_by=["batch_id"])  # the replay
    twice = sorted((r.row, r.bucket, r.cnt)
                   for r in cms_state(spark, state).collect())
    assert once == twice


def _delete_last_commit(ckpt: str) -> int:
    """Simulate a crash AFTER batch N's writes but BEFORE its streaming
    checkpoint commit: delete the newest <ckpt>/commits/N marker. On
    restart the engine sees offsets/N without commits/N and REPLAYS
    batch N with the same batch_id over the same input slice — the
    exact window the sinks' replay contract covers. Returns N."""
    import os

    commits = os.path.join(ckpt, "commits")
    ids = sorted(int(f) for f in os.listdir(commits) if f.isdigit())
    os.remove(os.path.join(commits, str(ids[-1])))
    # the Hadoop local FS keeps a checksum sibling; leaving it behind
    # makes the replay's commit rename fail and Spark misreport it as
    # 'multiple streaming queries are concurrently using' the dir
    crc = os.path.join(commits, f".{ids[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return ids[-1]


def _two_batch_source(spark, tmp_path, rows1, rows2, schema):
    src = tmp_path / "src"
    src.mkdir(parents=True)
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "f1")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src / "f2")
    )
    _pin_mtimes(src / "f1", src / "f2")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )


# ---------- the dedup-sink crash/replay contracts, once per kind ----------

T_A = "the quick brown fox jumps over the lazy dog today"
T_B = "completely different content with many unique words inside"
T_C = "a third document that shares nothing with the others at all"
VA = [float(i) for i in range(8)]
VB = [float(8 - i) for i in range(8)]
VC = [1.0, -1.0] * 4
DOCS = "doc_id long, text string"
VECS = "vec_id long, embedding array<double>"


def _accepted_ids(id_col):
    def summary(frame):
        return sorted(
            r[id_col] for r in frame.where("NOT is_near_duplicate").collect()
        )

    return summary


# per kind: schema, batch 1, batch 2, the flagged core, the sink's
# output of flagged rows, the batch operator and the sink, a summary of
# an output, the expected summaries of batch 2 (against batch 1's state,
# on a fresh state, and once its own rows are in state), and the
# two-micro-batch stream of the exactly-once replay test with its
# expected rows
SINK_KINDS = {
    "lines": dict(
        schema=DOCS,
        b1=[(1, "alpha one\nshared line")],
        b2=[(2, "shared line\nbeta two"), (3, "beta two\ngamma three")],
        flagged=lambda spark, b, st, exclude_batch=None: _incremental_lines_flagged(
            spark, b, st, "doc_id", "text", "\n", exclude_batch=exclude_batch
        ),
        output=lambda b, marked: _rebuild_deduped_lines(
            marked, "doc_id", "text", "\n", None
        ),
        op=incremental_line_dedup,
        sink=line_dedup_sink,
        summary=lambda frame: {
            r.doc_id: (r.text_deduped, r.n_kept) for r in frame.collect()
        },
        # 'shared line' is a state hit; 'beta two' in-batch first wins
        after_b1={2: ("beta two", 1), 3: ("gamma three", 1)},
        fresh={2: ("shared line\nbeta two", 2), 3: ("gamma three", 1)},
        stripped={2: ("", 0), 3: ("", 0)},
        sink_kw={},
        stream=(
            [(1, "alpha one\nshared line")],
            [(2, "shared line\nbeta two"), (3, "beta two\ngamma three")],
        ),
        out_key=lambda r: (r.doc_id, r.text_deduped, r["_batch_id"]),
        out_first=[
            (1, "alpha one\nshared line", 0),
            (2, "beta two", 1),
            (3, "gamma three", 1),
        ],
        id_col="doc_id",
        replayed_twice=[1, 2, 2, 3, 3],
    ),
    "minhash": dict(
        schema=DOCS,
        b1=[(1, T_A)],
        b2=[(2, T_A), (3, T_B)],
        flagged=lambda spark, b, st, exclude_batch=None: _incremental_minhash_flagged(
            spark, b, st, exclude_batch=exclude_batch
        ),
        output=lambda b, marked: marked,
        op=incremental_minhash_dedup,
        sink=minhash_dedup_sink,
        summary=_accepted_ids("doc_id"),
        after_b1=[3],  # 2 is a state near-dup of 1
        fresh=[2, 3],
        stripped=[],
        sink_kw={},
        stream=(
            [(1, T_A), (2, "completely different content many unique words"),
             (3, T_A)],
            [(4, T_A), (5, T_C)],
        ),
        out_key=lambda r: (r.doc_id, r["_batch_id"]),
        out_first=[(1, 0), (2, 0), (5, 1)],
        id_col="doc_id",
        replayed_twice=[1, 2, 5, 5],
    ),
    "embedding": dict(
        schema=VECS,
        b1=[(1, VA)],
        b2=[(2, VA), (3, VC)],
        flagged=lambda spark, b, st, exclude_batch=None: _incremental_embedding_flagged(
            spark, b, st, "vec_id", "embedding", 8, 8, 2, exclude_batch=exclude_batch
        ),
        output=lambda b, marked: marked,
        op=lambda spark, b, st: incremental_embedding_dedup(spark, b, st, dims=8),
        sink=embedding_dedup_sink,
        summary=_accepted_ids("vec_id"),
        after_b1=[3],  # 2 is identical to 1: a state band hit
        fresh=[2, 3],
        stripped=[],
        sink_kw={"dims": 8},
        stream=([(1, VA), (2, VB)], [(3, VA), (4, VC)]),
        out_key=lambda r: (r.vec_id, r["_batch_id"]),
        out_first=[(1, 0), (2, 0), (4, 1)],
        id_col="vec_id",
        replayed_twice=[1, 2, 4, 4],
    ),
}


@pytest.mark.parametrize("kind", list(SINK_KINDS))
def test_crash_before_state_append_never_loses(spark, tmp_path, kind):
    """The sinks' documented crash contract, pinned mechanically: a
    batch that crashes AFTER its output append but BEFORE its state
    append recomputes the IDENTICAL flags on replay (duplicate output
    rows at worst, zero loss). The negative control shows the inverse
    order would lose data: once the state append lands, a re-run of
    the same batch treats everything it had just recorded as seen."""
    k = SINK_KINDS[kind]
    state = str(tmp_path / "state")
    k["op"](spark, spark.createDataFrame(k["b1"], k["schema"]), state).collect()

    b2 = spark.createDataFrame(k["b2"], k["schema"])
    # crashed attempt: flags computed (and output written, conceptually)
    # but the state append never happens
    marked, _novel, _store = k["flagged"](spark, b2, state)
    crash = k["summary"](k["output"](b2, marked))
    assert crash == k["after_b1"]
    # replay after the crash: the full operator (which DOES append
    # state) must compute the same flags — nothing lost
    assert k["summary"](k["op"](spark, b2, state)) == crash
    # negative control — state-first ordering WOULD lose everything
    assert k["summary"](k["op"](spark, b2, state)) == k["stripped"]


@pytest.mark.parametrize("kind", list(SINK_KINDS))
def test_sink_replay_after_state_append_is_flag_idempotent(
    spark, tmp_path, kind
):
    """The OTHER crash window — after the state append but before the
    streaming checkpoint commit: because sink state rows carry the
    (replay-stable) foreachBatch batch_id and the flag computation
    excludes the replaying batch's own rows, the replay recomputes
    identical flags instead of flagging its own rows. The negative
    control (another batch id) shows exactly the loss this prevents."""
    k = SINK_KINDS[kind]
    state = str(tmp_path / "state")
    b = spark.createDataFrame(k["b2"], k["schema"])
    # batch 7's first attempt: flags computed, OUTPUT written
    # (conceptually), state appended WITH the batch stamp — then crash
    marked1, novel1, store = k["flagged"](spark, b, state, exclude_batch=7)
    first = k["summary"](k["output"](b, marked1))
    assert first == k["fresh"]
    novel_rows = sorted(novel1.collect())
    store.append(novel1, 7)

    # replay of batch 7: own state rows excluded -> identical flags
    marked2, novel2, _ = k["flagged"](spark, b, state, exclude_batch=7)
    assert k["summary"](k["output"](b, marked2)) == first
    # and the re-appended novel keys are the same set (state gains
    # duplicates, which the state read tolerates)
    assert sorted(novel2.collect()) == novel_rows

    # negative control: a DIFFERENT batch (or an unstamped replay)
    # sees batch 7's keys and drops everything
    marked3, _, _ = k["flagged"](spark, b, state, exclude_batch=8)
    assert k["summary"](k["output"](b, marked3)) == k["stripped"]


# state columns each sink writes, with batch_id last
SINK_STATE_COLUMNS = {
    "lines": ["line_key", "batch_id"],
    "minhash": ["band_id", "band_key", "hash_fn", "batch_id"],
    "embedding": ["band_id", "band_key", "batch_id"],
}


@pytest.mark.parametrize("kind", list(SINK_KINDS))
def test_sink_state_batch_id_is_parquet_int64(spark, tmp_path, kind):
    """Advisor r13: a batch_id stamped with F.lit(int) is IntegerType
    under py4j — without an explicit cast the state files hold Parquet
    INT32 while the explicit read schema says bigint, a silent
    Spark-4-only widening dependency (Spark 3.x throws
    SchemaColumnConvertNotSupportedException). Assert the physical
    type every dedup sink writes is INT64, next to its state
    columns."""
    import os

    import pyarrow.parquet as pq

    k = SINK_KINDS[kind]
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(k["b2"][:1], k["schema"]).coalesce(1).write.parquet(
        str(src / "f1")
    )
    state = str(tmp_path / "state")
    stream = spark.readStream.schema(k["schema"]).parquet(str(src) + "/*")
    q = k["sink"](
        stream, state, str(tmp_path / "out"), checkpoint=str(tmp_path / "ckpt"),
        **k["sink_kw"],
    )
    q.awaitTermination(120)
    files = [
        os.path.join(root, f)
        for root, _, fs in os.walk(state)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files, "sink wrote no state files"
    for f in files:
        schema = pq.read_schema(f)
        assert schema.names == SINK_STATE_COLUMNS[kind], f
        assert str(schema.field("batch_id").type) == "int64", f


@pytest.mark.parametrize("kind", list(SINK_KINDS))
def test_sink_idempotent_output_replay_exact_rows(spark, tmp_path, kind):
    """r12 verdict item 4: with idempotent_output=True a crash-replayed
    batch REPLACES its own _batch_id output partition, so the final
    output is EXACTLY the same rows — not merely no-lost-rows. The
    negative control shows default append-mode replay duplicating the
    replayed batch's rows (the documented at-least-once artifact)."""
    k = SINK_KINDS[kind]
    sink = k["sink"]
    b1, b2 = k["stream"]

    stream = _two_batch_source(spark, tmp_path, b1, b2, k["schema"])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = sink(
        stream, str(tmp_path / "state"), out, checkpoint=ckpt,
        idempotent_output=True, **k["sink_kw"],
    )
    q.awaitTermination(120)
    first = sorted(k["out_key"](r) for r in spark.read.parquet(out).collect())
    # one hive partition per batch
    assert first == k["out_first"]

    assert _delete_last_commit(ckpt) == 1
    q2 = sink(
        stream, str(tmp_path / "state"), out, checkpoint=ckpt,
        idempotent_output=True, **k["sink_kw"],
    )
    q2.awaitTermination(120)
    second = sorted(k["out_key"](r) for r in spark.read.parquet(out).collect())
    assert second == first  # exactly the same rows — not just no loss

    # negative control: default append mode duplicates the replayed
    # batch's output rows (at-least-once, removable by id)
    stream_c = _two_batch_source(
        spark, tmp_path / "ctl", b1, b2, k["schema"]
    )
    out_c, ckpt_c = str(tmp_path / "out_c"), str(tmp_path / "ckpt_c")
    qc = sink(
        stream_c, str(tmp_path / "state_c"), out_c, checkpoint=ckpt_c,
        **k["sink_kw"],
    )
    qc.awaitTermination(120)
    _delete_last_commit(ckpt_c)
    qc2 = sink(
        stream_c, str(tmp_path / "state_c"), out_c, checkpoint=ckpt_c,
        **k["sink_kw"],
    )
    qc2.awaitTermination(120)
    dup = sorted(r[k["id_col"]] for r in spark.read.parquet(out_c).collect())
    assert dup == k["replayed_twice"]  # batch 1's output appended twice
