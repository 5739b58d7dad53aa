"""Testdata readers: all tables load; events nanos shim works; the
parquet schema memo infers once per unchanged input."""

import pytest

from kolang_spark.sources import io
from kolang_spark.sources.io import TABLE_NAMES, read_table, read_tables
from tests.conftest import jobs_started


def test_all_tables_load(spark, sf_dir):
    tables = read_tables(spark, sf_dir)
    assert set(tables) == set(TABLE_NAMES)
    for name, df in tables.items():
        assert df.count() > 0, name


@pytest.mark.parametrize("name", TABLE_NAMES)
def test_memo_hit_read_equals_fresh_read(spark, sf_dir, name):
    """A memo hit declares the schema the miss inferred: same schema,
    same rows, and no Spark job at read time."""
    io._schema_memo.clear()
    fresh, n_fresh = jobs_started(spark, lambda: read_table(spark, sf_dir, name))
    hit, n_hit = jobs_started(spark, lambda: read_table(spark, sf_dir, name))
    assert (n_fresh, n_hit) == (1, 0)
    assert hit.schema == fresh.schema
    assert sorted(hit.collect(), key=repr) == sorted(fresh.collect(), key=repr)


def test_read_table_sees_rewrite_at_same_path(spark, tmp_path):
    """Rewriting the table in place changes the root mtime and content
    summary, so the next read infers the new schema."""
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1,)], "a long").write.parquet(path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.createDataFrame([("x", 2.5)], "b string, c double").write.mode(
        "overwrite"
    ).parquet(path)
    back = read_table(spark, str(tmp_path), "t")
    assert back.schema.simpleString() == "struct<b:string,c:double>"
    assert [tuple(r) for r in back.collect()] == [("x", 2.5)]


def test_inference_conf_flip_misses_memo(spark, tmp_path):
    """``spark.sql.parquet.binaryAsString`` changes what inference
    returns, so it is part of the memo key."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.parquet.binaryAsString"
    # written without Spark's schema metadata, which would override the
    # conf: a foreign writer's plain binary column
    pq.write_table(
        pa.table({"v": pa.array([b"hi"], pa.binary())}),
        str(tmp_path / "b.parquet"),
    )
    first = read_table(spark, str(tmp_path), "b")
    assert dict(first.dtypes)["v"] == "binary"
    spark.conf.set(key, "true")
    try:
        flipped, n = jobs_started(spark, lambda: read_table(spark, str(tmp_path), "b"))
    finally:
        spark.conf.unset(key)
    assert n == 1
    assert dict(flipped.dtypes)["v"] == "string"


def test_events_ts_normalized(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    types = dict(ev.dtypes)
    assert types["ts_ms"] == "bigint"
    assert types["ts"].startswith("timestamp")
    r = ev.selectExpr("min(ts_ms) as lo", "max(ts_ms) as hi").first()
    # epoch-millis plausibility (events are modern timestamps)
    assert r.lo > 1_000_000_000_000  # after 2001
    assert r.hi < 4_102_444_800_000  # before 2100


def test_read_table_surfaces_conf_restore_failure(spark, sf_dir, monkeypatch):
    """A conf-restore failure on the SUCCESS path must surface (e.g.
    Spark Connect refusing the runtime conf), not vanish into a bare
    except — round-3 verdict item 7."""
    conf_cls = type(spark.conf)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    real_set = conf_cls.set
    calls = {"n": 0}

    # the message must not mention the key: "nanos..." would match the
    # nanos-type-rejection fallback check in read_table
    def boom_unset(self, k):
        raise RuntimeError("simulated: conf frozen")

    def flaky_set(self, k, value):
        if k == key:
            calls["n"] += 1
            if calls["n"] >= 2:  # 1st = apply (succeeds), 2nd = restore
                raise RuntimeError("simulated: conf frozen")
        return real_set(self, k, value)

    # events read succeeds, then restore (unset or set, whichever the
    # prior conf state selects) blows up → must propagate
    monkeypatch.setattr(conf_cls, "unset", boom_unset)
    monkeypatch.setattr(conf_cls, "set", flaky_set)
    with pytest.raises(RuntimeError, match="simulated: conf frozen"):
        read_table(spark, sf_dir, "events")


def test_embeddings_schema(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    assert dict(emb.dtypes)["embedding"] == "array<float>"


def test_csv_json_round_trip_preserves_values(spark, sf_dir, tmp_path):
    from kolang_spark.sources.io import read_csv, read_json, write_table

    src = read_table(spark, sf_dir, "nation")
    schema = src.schema

    csv_path = str(tmp_path / "nation_csv")
    write_table(src, csv_path, format="csv")
    back_csv = read_csv(spark, csv_path, schema=schema)
    assert sorted(map(tuple, back_csv.collect())) == sorted(
        map(tuple, src.collect())
    )

    json_path = str(tmp_path / "nation_json")
    write_table(src, json_path, format="json")
    back_json = read_json(spark, json_path, schema=schema)
    assert sorted(map(tuple, back_json.collect())) == sorted(
        map(tuple, src.collect())
    )


def test_readers_require_schema_unless_opted_in(spark, tmp_path):
    from kolang_spark.sources.io import read_csv, read_json

    with pytest.raises(ValueError, match="explicit schema"):
        read_csv(spark, str(tmp_path))
    with pytest.raises(ValueError, match="explicit schema"):
        read_json(spark, str(tmp_path))


def test_json_schema_on_read_tolerates_drift(spark, tmp_path):
    from kolang_spark.sources.io import read_json

    p = tmp_path / "drift.jsonl"
    p.write_text('{"a": 1, "extra": true}\n{"a": 2, "b": "x"}\n')
    out = read_json(spark, str(p), schema="a long, b string, missing double")
    rows = {r["a"]: (r["b"], r["missing"]) for r in out.collect()}
    assert rows == {1: (None, None), 2: ("x", None)}


def test_overwrite_partitions_replaces_only_incoming(spark, tmp_path):
    """Dynamic partition overwrite: rewriting day=2 must leave day=1
    untouched, replace day=2 wholesale, and restore the session conf."""
    from kolang_spark.sources.io import overwrite_partitions

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "c", 20)], "day int, k string, v int"
    )
    overwrite_partitions(base, path, ["day"])
    # backfill day=2 with corrected rows; day=1 must survive
    fix = spark.createDataFrame(
        [(2, "c", 99), (2, "d", 21)], "day int, k string, v int"
    )
    overwrite_partitions(fix, path, ["day"])
    got = {
        (r.day, r.k): r.v for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a"): 10, (1, "b"): 11, (2, "c"): 99, (2, "d"): 21}
    # retry is a semantic no-op
    overwrite_partitions(fix, path, ["day"])
    assert spark.read.parquet(path).count() == 4
    # session conf restored (default static / unset)
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        .upper()
        == "STATIC"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError):
        overwrite_partitions(base, path, [])


def test_write_table_partition_by_prunes(spark, sf_dir, tmp_path):
    from kolang_spark.plans.audit import explain_str
    from kolang_spark.sources.io import write_table

    src = read_table(spark, sf_dir, "customer")
    path = str(tmp_path / "cust_part")
    write_table(src, path, partition_by=["c_mktsegment"])
    df = spark.read.parquet(path).where("c_mktsegment = 'AUTOMOBILE'")
    plan = explain_str(df, mode="formatted")
    assert "PartitionFilters" in plan and "AUTOMOBILE" in plan


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    import glob

    from kolang_spark.sources.io import compact_parquet

    path = str(tmp_path / "frag")
    df = spark.range(0, 10000).selectExpr("id", "id % 7 AS k")
    df.repartition(64).write.parquet(path)  # 64 tiny files
    before = glob.glob(path + "/*.parquet")
    assert len(before) == 64
    total_mb_ish = sum(__import__("os").path.getsize(f) for f in before)
    # pick a target that lands between 1 file and 64
    n = compact_parquet(spark, path, target_mb=max(1, total_mb_ish // (4 * 1024 * 1024)) or 1)
    after = glob.glob(path + "/*.parquet")
    assert 0 < n < 64 and len(after) == n
    back = spark.read.parquet(path)
    assert back.count() == 10000
    assert back.agg({"id": "sum"}).collect()[0][0] == sum(range(10000))
    # idempotent-ish: second call with same target is a no-op or further no-op
    assert compact_parquet(spark, path, target_mb=1024) in (0, 1)
    # tiny tables skipped
    small = str(tmp_path / "small")
    spark.range(5).coalesce(1).write.parquet(small)
    assert compact_parquet(spark, small) == 0


def test_read_blobs_binaryfile_roundtrip(spark, tmp_path):
    """binaryFile ingestion: deterministic path-hash ids, glob filter
    applied at the source listing, oversize rejection, bytes intact and
    consumable by the multimodal decode chain."""
    import os

    from kolang_spark.llm.multimodal import blob_metadata
    from kolang_spark.sources.io import read_blobs

    d = tmp_path / "blobs"
    d.mkdir()
    (d / "a.bin").write_bytes(b"\x89PNGxx")
    (d / "b.bin").write_bytes(b"RIFFxxxxWAVE")
    (d / "c.txt").write_bytes(b"not a blob")
    (d / "huge.bin").write_bytes(b"\x00" * 4096)

    out = read_blobs(spark, str(d), pattern="*.bin", max_bytes=1024)
    rows = {os.path.basename(r.path): r for r in out.collect()}
    assert set(rows) == {"a.bin", "b.bin"}  # glob drops c.txt, cap drops huge
    assert bytes(rows["a.bin"].content) == b"\x89PNGxx"
    assert rows["b.bin"].length == 12
    # ids deterministic across re-reads
    again = {r.path: r.doc_id for r in read_blobs(spark, str(d), pattern="*.bin").collect()}
    assert all(again[r.path] == r.doc_id for r in rows.values())
    # feeds the blob pipeline directly
    meta = blob_metadata(out.select("doc_id", "content"))
    hdrs = {r.doc_id: r.header_hex for r in meta.collect()}
    assert hdrs[rows["a.bin"].doc_id] == "89504E47"


def test_upsert_partitioned_rewrites_only_touched_partitions(spark, tmp_path):
    """MERGE semantics on a plain-parquet hive table: updates replace
    matching keys, inserts land, last-wins dedup applies — and the
    files of untouched partitions are BYTE-IDENTICAL afterwards (the
    partition-pruned merge never rewrites them)."""
    import glob
    import os

    from kolang_spark.sources.io import upsert_partitioned

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "id long, p string, v long",
    )
    base.repartition(2).write.partitionBy("p").parquet(path)

    def listing(part):
        return sorted(
            (os.path.basename(f), os.path.getsize(f), os.path.getmtime(f))
            for f in glob.glob(os.path.join(path, f"p={part}", "*.parquet"))
        )

    before_b, before_c = listing("b"), listing("c")

    updates = spark.createDataFrame(
        # two versions of id=1 (last-wins by seq), one new id in 'a'
        [(1, "a", 11, 1), (1, "a", 12, 2), (5, "a", 50, 1)],
        "id long, p string, v long, seq long",
    )
    n = upsert_partitioned(
        spark, path, updates.select("id", "p", "v", "seq"),
        keys=["id"], partition_by=["p"], order_col="seq",
    )
    assert n == 1  # only partition a touched

    back = {r.id: r.v for r in spark.read.parquet(path).collect()}
    assert back == {1: 12, 2: 20, 3: 30, 4: 40, 5: 50}
    # untouched partitions: identical files (names, sizes, mtimes)
    assert listing("b") == before_b and listing("c") == before_c

    # empty updates: no-op
    empty = updates.where("id < 0")
    assert upsert_partitioned(
        spark, path, empty, keys=["id"], partition_by=["p"], order_col="seq"
    ) == 0
    with pytest.raises(ValueError):
        upsert_partitioned(spark, path, updates, keys=[], partition_by=["p"])


def test_register_views_sql_bridge(spark, sf_dir):
    from kolang_spark.sources.io import register_views

    names = register_views(spark, sf_dir, ["region", "events"])
    assert names == ["region", "events"]
    assert spark.sql("SELECT COUNT(*) c FROM region").first().c == 5
    # events view carries the ts normalization (ts_ms present)
    row = spark.sql("SELECT ts, ts_ms FROM events LIMIT 1").first()
    assert row.ts is not None and isinstance(row.ts_ms, int)
