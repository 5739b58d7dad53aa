"""Construction-params sidecar for persisted operator state
(`kolang_spark/sources/state.py` + the per-family guards — r11 verdict
item 1: generalize the hash_fn-only pin to EVERY construction
parameter of EVERY persisted state; advisor r12 items 1 and 3:
mergeSchema in the legacy column scan, atomic + self-healing sidecar
IO). Every state family must REFUSE a mismatched probe instead of
silently accepting every duplicate / returning garbage estimates."""

import json
import os

import pytest
from pyspark.sql import functions as F

from kolang_spark.sources.state import (
    check_state_meta,
    pin_state_meta,
    read_state_meta,
    state_meta_path,
)

TEXT = "the quick brown fox jumps over the lazy dog again and again"


def _docs(spark, *ids):
    return spark.createDataFrame([(i, TEXT) for i in ids], ["doc_id", "text"])


def _vecs(spark, *ids):
    base = [float(i % 7) - 3.0 for i in range(8)]
    return spark.createDataFrame(
        [(i, base) for i in ids], ["vec_id", "embedding"]
    )


# ---------- the generic module ----------


def test_check_state_meta_roundtrip_and_mismatch(spark, tmp_path):
    state = str(tmp_path / "s")
    os.makedirs(state)
    # missing path ≠ missing sidecar: nothing persisted -> no pin
    assert read_state_meta(spark, str(tmp_path / "nope")) is None
    check_state_meta(spark, state, "k", {"a": 1, "b": "x"})
    meta = read_state_meta(spark, state)
    assert meta == {"kind": "k", "params": {"a": 1, "b": "x"}}
    # matching probe passes; mismatched raises naming the key
    check_state_meta(spark, state, "k", {"a": 1, "b": "x"})
    with pytest.raises(ValueError, match="a: pinned=1 probed=2"):
        check_state_meta(spark, state, "k", {"a": 2, "b": "x"})
    # kind mismatch raises before any param comparison
    with pytest.raises(ValueError, match="kind"):
        check_state_meta(spark, state, "other", {"a": 1})


def test_sidecar_write_is_atomic_and_corruption_heals(spark, tmp_path):
    """Advisor r12 item 3: a truncated sidecar must not wedge the
    state path with a permanent JSONDecodeError — corrupt reads as
    missing, the legacy branch re-resolves, and a fresh sidecar is
    re-pinned. The write goes through a temp name + rename, so no
    .tmp residue and never a half-written visible sidecar."""
    state = str(tmp_path / "s")
    os.makedirs(state)
    pin_state_meta(spark, state, "k", {"a": 1})
    assert not os.path.exists(state_meta_path(state) + ".tmp")
    # simulate a crash-truncated sidecar (pre-atomic-write artifact)
    with open(state_meta_path(state), "w") as f:
        f.write('{"kind": "k", "par')
    assert read_state_meta(spark, state) is None  # corrupt == missing
    check_state_meta(spark, state, "k", {"a": 2})  # legacy: re-pin
    assert read_state_meta(spark, state) == {
        "kind": "k",
        "params": {"a": 2},
    }
    # non-dict / key-less JSON variants also read as missing
    for junk in ("null", "[]", '"x"', '{"params": {}}', '{"kind": "k"}'):
        with open(state_meta_path(state), "w") as f:
            f.write(junk)
        assert read_state_meta(spark, state) is None


def test_legacy_resolve_hook_refines_and_pins(spark, tmp_path):
    state = str(tmp_path / "s")
    os.makedirs(state)
    out = check_state_meta(
        spark, state, "k", {"a": 1}, legacy_resolve=lambda: {"a": 99}
    )
    assert out == {"a": 99}
    assert read_state_meta(spark, state)["params"] == {"a": 99}


def test_sidecar_property_roundtrip_and_junk_never_crashes(spark, tmp_path):
    """Property sweep (deterministic examples — the sidecar is pure
    JSON IO, no need for per-run generation): any JSON-scalar params
    dict round-trips bit-exactly through pin/read, a probe with any
    single key changed raises, and ARBITRARY junk bytes in the sidecar
    never crash read_state_meta — they read as missing (the
    self-healing contract)."""
    state = str(tmp_path / "s")
    os.makedirs(state)
    cases = [
        {},
        {"a": 0},
        {"n": -(2**62), "m": 2**62, "s": "", "t": "x" * 500},
        {"delim": "\r\n", "uni": "καλάνγκ—🙂", "b": True, "f": None},
        {"salt": '"};{\\', "w": 1024},
    ]
    for i, params in enumerate(cases):
        kind = f"k{i}"
        pin_state_meta(spark, state, kind, params)
        assert read_state_meta(spark, state) == {
            "kind": kind,
            "params": params,
        }
        check_state_meta(spark, state, kind, params)  # exact match passes
        for key in params:
            bad = dict(params)
            bad[key] = "___different___"
            with pytest.raises(ValueError):
                check_state_meta(spark, state, kind, bad)
    junk_cases = [
        b"", b"\x00\xff\xfe", b"{", b'{"kind"', b"[1,2,3]", b"true",
        b'{"kind": 7, "params": {}}', b'{"kind": "k", "params": 3}',
        "𝕜𝕠𝕝𝕒𝕟𝕘".encode(), b"\x80\x81",  # invalid utf-8
    ]
    for junk in junk_cases:
        with open(state_meta_path(state), "wb") as f:
            f.write(junk)
        assert read_state_meta(spark, state) is None, junk


# ---------- per-family mismatch guards (parametrized) ----------


def _mk_minhash(spark, state, **kw):
    from kolang_spark.llm import incremental_minhash_dedup

    incremental_minhash_dedup(spark, _docs(spark, 1), state, **kw)


def _mk_embedding(spark, state, **kw):
    from kolang_spark.llm import incremental_embedding_dedup

    incremental_embedding_dedup(spark, _vecs(spark, 1), state, dims=8, **kw)


def _mk_lines(spark, state, **kw):
    from kolang_spark.llm import incremental_line_dedup

    incremental_line_dedup(spark, _docs(spark, 1), state, **kw)


def _mk_cdc(spark, state, **kw):
    from kolang_spark.llm.dedup import incremental_cdc_ingest

    incremental_cdc_ingest(spark, _docs(spark, 1), state, **kw)


@pytest.mark.parametrize(
    "family,build,good,bad,err",
    [
        ("minhash", _mk_minhash, {"n": 5}, {"n": 4}, "n: pinned=5 probed=4"),
        (
            "minhash",
            _mk_minhash,
            {"num_hashes": 6},
            {"num_hashes": 8},
            "num_hashes",
        ),
        ("minhash", _mk_minhash, {"bands": 3}, {"bands": 2}, "bands"),
        (
            "embedding",
            _mk_embedding,
            {"planes_per_band": 8},
            {"planes_per_band": 4},
            "planes_per_band",
        ),
        ("embedding", _mk_embedding, {"bands": 2}, {"bands": 3}, "bands"),
        ("lines", _mk_lines, {"delim": "\n"}, {"delim": "\r\n"}, "delim"),
        (
            "cdc",
            _mk_cdc,
            {"mask_bits": 6},
            {"mask_bits": 5},
            "mask_bits: pinned=6 probed=5",
        ),
        ("cdc", _mk_cdc, {"window": 8}, {"window": 4}, "window"),
    ],
)
def test_state_family_mismatched_probe_raises(
    spark, tmp_path, family, build, good, bad, err
):
    """r11 verdict item 1, the core contract: for EVERY persisted
    state family, a probe with any mismatched construction parameter
    raises (keys built under different params never collide — the
    silent-accept failure mode), a matching probe keeps working and
    still catches the duplicate."""
    state = str(tmp_path / "state")
    build(spark, state, **good)
    with pytest.raises(ValueError, match=err):
        build(spark, state, **bad)
    # the matching probe still works AND flags the planted duplicate
    again_fn = {"minhash": _mk_minhash, "embedding": _mk_embedding}.get(family)
    if again_fn is not None:
        from kolang_spark.llm import (
            incremental_embedding_dedup,
            incremental_minhash_dedup,
        )

        if family == "minhash":
            m = incremental_minhash_dedup(spark, _docs(spark, 2), state, **good)
        else:
            m = incremental_embedding_dedup(
                spark, _vecs(spark, 2), state, dims=8, **good
            )
        assert m.collect()[0].is_near_duplicate is True
    elif family == "cdc":
        from kolang_spark.llm.dedup import incremental_cdc_ingest

        out = incremental_cdc_ingest(
            spark, _docs(spark, 2), state, **good
        ).collect()[0]
        assert out.n_chunks > 0 and out.n_novel_chunks == 0  # all stored
    else:
        from kolang_spark.llm import incremental_line_dedup

        out = incremental_line_dedup(
            spark, _docs(spark, 2), state, **good
        ).collect()[0]
        assert out.n_removed > 0  # every line already in state


def test_exact_state_kind_guard_catches_cross_family_probe(spark, tmp_path):
    """Pointing incremental_exact_dedup at another family's state dir
    would join fingerprints against band keys and accept everything —
    the kind stamp refuses it."""
    from kolang_spark.llm import incremental_exact_dedup, incremental_minhash_dedup

    mh_state = str(tmp_path / "mh")
    incremental_minhash_dedup(spark, _docs(spark, 1), mh_state)
    with pytest.raises(ValueError, match="kind"):
        incremental_exact_dedup(spark, _docs(spark, 2), mh_state)
    # and the reverse: a minhash probe of an exact state
    ex_state = str(tmp_path / "ex")
    incremental_exact_dedup(spark, _docs(spark, 1), ex_state)
    with pytest.raises(ValueError, match="kind"):
        incremental_minhash_dedup(spark, _docs(spark, 2), ex_state)


# ---------- the one state probe (BoundState.seen), per kind ----------


def _probe_ops():
    from kolang_spark.llm import (
        incremental_embedding_dedup,
        incremental_exact_dedup,
        incremental_line_dedup,
        incremental_minhash_dedup,
    )
    from kolang_spark.llm.dedup import incremental_cdc_ingest

    return {
        "exact": incremental_exact_dedup,
        "lines": incremental_line_dedup,
        "cdc": incremental_cdc_ingest,
        "minhash": incremental_minhash_dedup,
        "embedding": lambda spark, b, st: incremental_embedding_dedup(
            spark, b, st, dims=8
        ),
    }


_OTHER = "completely different content with many unique words inside"
_VA = [float(i) for i in range(8)]
_VC = [1.0, -1.0] * 4

# per kind: the batches' schema, batch 1 (written to state), batch 2
# (its first row hits batch 1's state keys, the others carry keys the
# state lacks), a summary of batch 2's output and its expected value
PROBE_KINDS = {
    "exact": (
        "doc_id long, text string",
        [(1, TEXT)],
        [(2, TEXT), (3, _OTHER)],
        lambda f: {r.doc_id: r.is_duplicate for r in f.collect()},
        {2: True, 3: False},
    ),
    "lines": (
        "doc_id long, text string",
        [(1, "alpha one\nshared line")],
        [(2, "shared line\nbeta two"), (3, "beta two\ngamma three")],
        lambda f: {
            r.doc_id: (r.text_deduped, r.n_kept, r.n_removed) for r in f.collect()
        },
        {2: ("beta two", 1, 1), 3: ("gamma three", 1, 1)},
    ),
    "cdc": (
        "doc_id long, text string",
        [(1, TEXT)],
        [(2, TEXT), (3, _OTHER)],
        lambda f: {r.doc_id: (r.novel_bytes, r.dup_bytes) for r in f.collect()},
        {2: (0, len(TEXT)), 3: (len(_OTHER), 0)},
    ),
    "minhash": (
        "doc_id long, text string",
        [(1, TEXT)],
        [(2, TEXT), (3, _OTHER)],
        lambda f: {r.doc_id: r.is_near_duplicate for r in f.collect()},
        {2: True, 3: False},
    ),
    "embedding": (
        "vec_id long, embedding array<double>",
        [(1, _VA)],
        [(2, _VA), (3, _VC)],
        lambda f: {r.vec_id: r.is_near_duplicate for r in f.collect()},
        {2: True, 3: False},
    ),
}


@pytest.mark.parametrize("kind", list(PROBE_KINDS))
def test_replay_doubled_state_changes_no_flag_or_count(spark, tmp_path, kind):
    """A crashed replay can leave every state file appended twice. The
    probe answers one row per batch row however many state rows match,
    so a doubled state gives output identical to the single one —
    every flag, every kept line and every byte count."""
    import shutil

    schema, b1, b2, summary, expect = PROBE_KINDS[kind]
    op = _probe_ops()[kind]
    once, twice = str(tmp_path / "once"), str(tmp_path / "twice")
    op(spark, spark.createDataFrame(b1, schema), once).collect()
    shutil.copytree(once, twice)
    for name in os.listdir(twice):
        if name.endswith(".parquet"):
            shutil.copy(
                os.path.join(twice, name), os.path.join(twice, "replay-" + name)
            )
    n_once = spark.read.parquet(once).count()
    assert n_once > 0 and spark.read.parquet(twice).count() == 2 * n_once

    outs = [op(spark, spark.createDataFrame(b2, schema), st) for st in (once, twice)]
    assert sorted(outs[1].collect()) == sorted(outs[0].collect())
    assert outs[1].count() == len(b2)
    # batch 2 really hits the doubled keys
    assert summary(outs[1]) == expect


_DUPS = [(1, TEXT), (2, TEXT), (3, _OTHER), (4, TEXT)]
_BANDS = ("band_id", "band_key")


@pytest.mark.parametrize(
    "kind, key, batch, n_keys",
    [
        ("exact", "fingerprint", _DUPS, 2),
        ("lines", "line_key",
         [(1, "alpha\nshared"), (2, "shared\nbeta"), (3, "alpha\nalpha")], 3),
        ("cdc", "chunk_key", _DUPS, 2),  # each text is one chunk
        ("minhash", _BANDS, _DUPS, 6),  # 3 bands per accepted doc
        ("embedding", _BANDS, [(1, _VA), (2, _VA), (3, _VC), (4, _VA)], 4),
    ],
)
def test_in_batch_duplicates_append_one_state_row_per_key(
    spark, tmp_path, kind, key, batch, n_keys
):
    """A batch's novel rows are the first occurrence of each key, so a
    batch holding its own duplicates appends exactly one state row per
    key, with no distinct() before the append."""
    state = str(tmp_path / "state")
    schema = PROBE_KINDS[kind][0]
    _probe_ops()[kind](spark, spark.createDataFrame(batch, schema), state).collect()
    key = [key] if isinstance(key, str) else list(key)
    keys = [tuple(r) for r in spark.read.parquet(state).select(*key).collect()]
    assert len(keys) == len(set(keys)) == n_keys


_NEW = "entirely fresh wording that neither earlier batch ever carried"
_VD = [-1.0, 2.0, -3.0, 4.0, -5.0, 6.0, -7.0, 8.0]

# per kind: a batch 2 (after PROBE_KINDS's batch 1) holding a NULL id
# and a repeated id, its output rows sorted by repr, and the state rows
# it appends as (rows, distinct keys). A NULL id sorts FIRST in the
# keyed kinds' first-wins order (doc 4 loses to it) and never wins in
# the banded kinds' (doc 4 keeps its flag); a NULL-id document is never
# flagged by the banded kinds and reads all zeros in the CDC report
NULL_REPEAT_KINDS = {
    "exact": (
        [(None, TEXT), (None, _NEW), (4, _NEW), (2, _OTHER), (2, _OTHER)],
        ("doc_id", "is_duplicate"),
        [(2, False), (2, True), (4, True), (None, False), (None, True)],
        (2, 2),
    ),
    "lines": (
        [(None, "shared line\nnew a"), (4, "new a\nnew b"), (2, "x\ny"),
         (2, "x\nz")],
        ("doc_id", "text_deduped", "n_kept", "n_removed"),
        [(2, "x\ny\nz", 3, 1), (4, "new b", 1, 1), (None, "new a", 1, 1)],
        (5, 5),
    ),
    "cdc": (
        [(None, _NEW), (4, _NEW), (2, _OTHER), (2, _OTHER), (5, TEXT)],
        ("doc_id", "n_chunks", "n_novel_chunks", "total_bytes",
         "novel_bytes", "dup_bytes"),
        [(2, 2, 1, 2 * len(_OTHER), len(_OTHER), len(_OTHER)),
         (4, 1, 0, len(_NEW), 0, len(_NEW)),
         (5, 1, 0, len(TEXT), 0, len(TEXT)),
         (None, 0, 0, 0, 0, 0)],
        (2, 2),
    ),
    # every accepted document appends its bands, so the NULL-id doc and
    # doc 4 (one text) append the same keys twice, as do the id-2 docs
    "minhash": (
        [(None, _NEW), (4, _NEW), (2, _OTHER), (2, _OTHER), (5, TEXT)],
        ("doc_id", "is_near_duplicate"),
        [(2, False), (2, False), (4, False), (5, True), (None, False)],
        (12, 6),
    ),
    "embedding": (
        [(None, _VD), (4, _VD), (2, _VC), (2, _VC), (5, _VA)],
        ("vec_id", "is_near_duplicate"),
        [(2, False), (2, False), (4, False), (5, True), (None, False)],
        (8, 4),
    ),
}


@pytest.mark.parametrize("kind", list(PROBE_KINDS))
def test_null_and_repeated_ids_flag_and_append(spark, tmp_path, kind):
    """The first-wins rule of each kind over a batch with a NULL id and
    a repeated id: its flags or counts, and the state rows it appends."""
    schema, b1 = PROBE_KINDS[kind][:2]
    batch, cols, expect, appended = NULL_REPEAT_KINDS[kind]
    op = _probe_ops()[kind]
    state = str(tmp_path / "state")

    def sizes():
        rows = spark.read.parquet(state)
        key = [c for c in rows.columns if c not in ("batch_id", "hash_fn", "n_bytes")]
        return rows.count(), rows.select(*key).distinct().count()

    op(spark, spark.createDataFrame(b1, schema), state).collect()
    n0, k0 = sizes()
    out = op(spark, spark.createDataFrame(batch, schema), state)
    got = sorted((tuple(r) for r in out.select(*cols).collect()), key=repr)
    assert got == expect
    n1, k1 = sizes()
    # appended keys are novel, so the distinct count grows by theirs
    assert (n1 - n0, k1 - k0) == appended


def test_minhash_r11_twin_sidecar_migrates(spark, tmp_path):
    """A state pinned only by the r11 `_ks_hashfn.json` (no
    `_ks_state.json`): a matching-hash probe works and upgrades the
    pin to the full params sidecar; a mismatched hash still raises
    through the twin."""
    from kolang_spark.llm import incremental_minhash_dedup
    from kolang_spark.llm.dedup import _hashfn_meta_path

    state = str(tmp_path / "mh")
    incremental_minhash_dedup(spark, _docs(spark, 1), state, hash_fn="md5")
    # strip the r12 sidecar, leave an r11-style twin
    os.remove(state_meta_path(state))
    with open(_hashfn_meta_path(state), "w") as f:
        json.dump({"hash_fn": "md5"}, f)
    with pytest.raises(ValueError, match="hash_fn"):
        incremental_minhash_dedup(spark, _docs(spark, 2), state)  # xxhash64
    m = incremental_minhash_dedup(
        spark, _docs(spark, 2), state, hash_fn="md5"
    )
    assert m.collect()[0].is_near_duplicate is True
    meta = read_state_meta(spark, state)
    assert meta["kind"] == "minhash_bands"
    assert meta["params"] == {
        "hash_fn": "md5",
        "n": 5,
        "num_hashes": 6,
        "bands": 3,
    }
    # now that the full sidecar exists, a NUMERIC mismatch raises too
    with pytest.raises(ValueError, match="bands"):
        incremental_minhash_dedup(
            spark, _docs(spark, 3), state, hash_fn="md5", bands=2
        )


def test_minhash_legacy_column_scan_sees_stamped_rows_mixed_schema(
    spark, tmp_path
):
    """Advisor r12 item 1: with unstamped pre-r11 files next to
    stamped early-r11 files and NO sidecar, the single-footer schema
    pick could nondeterministically hide the hash_fn column and pin a
    wrong explicit assertion. The mergeSchema scan must always see the
    stamped rows: an md5 assertion against xxhash64-stamped rows
    raises, deterministically, regardless of file order."""
    from kolang_spark.llm import incremental_minhash_dedup

    src = str(tmp_path / "src")
    incremental_minhash_dedup(spark, _docs(spark, 1), src, hash_fn="xxhash64")
    mixed = str(tmp_path / "mixed")
    # several unstamped files first (the footer-pick bait), then the
    # stamped rows
    stamped = spark.read.parquet(src)
    stamped.drop("hash_fn").repartition(4).write.parquet(mixed)
    stamped.write.mode("append").parquet(mixed)
    with pytest.raises(ValueError, match="hash_fn"):
        # md5 would be a WRONG explicit assertion — the guard must see
        # the xxhash64 stamps and refuse to pin it
        incremental_minhash_dedup(
            spark, _docs(spark, 2), mixed, hash_fn="md5"
        )
    # the unstamped rows count as md5 (r11 semantics), so this mixed
    # state reads as {md5, xxhash64} — genuinely unverifiable, and the
    # guard refuses EVERY probe rather than guess (conservative by
    # design). No sidecar was pinned by the failed probes:
    with pytest.raises(ValueError, match="hash_fn"):
        incremental_minhash_dedup(
            spark, _docs(spark, 2), mixed, hash_fn="xxhash64"
        )
    assert read_state_meta(spark, mixed) is None
    # the documented escape: a user who KNOWS the unstamped rows are
    # xxhash64 pins the sidecar manually, and probes resume
    pin_state_meta(
        spark,
        mixed,
        "minhash_bands",
        {"hash_fn": "xxhash64", "n": 5, "num_hashes": 6, "bands": 3},
    )
    ok = incremental_minhash_dedup(
        spark, _docs(spark, 2), mixed, hash_fn="xxhash64"
    )
    assert ok.collect()[0].is_near_duplicate is True


# ---------- one call per kind: zero-job guard + on-disk format ----------

STATE_KINDS = ["exact", "minhash", "embedding", "lines", "cdc", "cms"]


@pytest.fixture(scope="module", params=STATE_KINDS)
def one_call_state(request, spark, tmp_path_factory):
    """``(kind, state_path)`` after ONE call of the kind's writer."""
    from kolang_spark.llm import incremental_exact_dedup

    kind = request.param
    d = tmp_path_factory.mktemp(kind)
    if kind == "cms":
        _run_cms_sink(spark, d, "a", depth=3, width=64, salt="s1")
        return kind, str(d / "cms_state")
    state = str(d / "state")
    build = {
        "exact": lambda: incremental_exact_dedup(spark, _docs(spark, 1), state),
        "minhash": lambda: _mk_minhash(spark, state),
        "embedding": lambda: _mk_embedding(spark, state),
        "lines": lambda: _mk_lines(spark, state),
        "cdc": lambda: _mk_cdc(spark, state),
    }
    build[kind]()
    return kind, state


def _verified(store):
    store.verify()
    return store


def _guard(spark, kind, state):
    """The kind's probe-time verify entry point → its bound state."""
    from kolang_spark.llm.dedup import (
        _CDC_STATE,
        _EMBEDDING_STATE,
        _EXACT_STATE,
        _LINE_STATE,
        _check_and_pin_minhash_state,
    )
    from kolang_spark.streaming.sinks import _CMS_STATE

    if kind == "minhash":
        return _check_and_pin_minhash_state(spark, state, None, 5, 6, 3)
    store = {
        "exact": lambda: _EXACT_STATE.bind(spark, state),
        "embedding": lambda: _EMBEDDING_STATE.bind(spark, state, 8, 8, 2),
        "lines": lambda: _LINE_STATE.bind(spark, state, "\n"),
        "cdc": lambda: _CDC_STATE.bind(spark, state, 8, 6, 257, (1 << 31) - 1),
        "cms": lambda: _CMS_STATE.bind(spark, state, 3, 64, "s1"),
    }[kind]()
    return _verified(store)


def test_pinned_state_guard_runs_zero_spark_jobs(spark, one_call_state):
    """The A/B-backed performance contract (BASELINE.md r12), for
    every kind: once a state is pinned, both the probe-time verify and
    the post-append fast pin are pure driver-side metadata reads —
    ZERO Spark jobs. The r11 guard's column scan (and the first r12
    cut's post-append full re-check) each cost jobs on the sink hot
    path; this pins the fix structurally, not just in the bench
    record."""
    kind, state = one_call_state
    sc = spark.sparkContext
    group = f"ks_guard_probe_{kind}"
    sc.setJobGroup(group, "guard-only")
    try:
        _guard(spark, kind, state).pin()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == 0, f"guard ran Spark jobs: {jobs}"


# exact sidecar bytes and per-file parquet (column, type) lists written
# by one call of each kind, as the format stood before the kinds shared
# one state protocol: state dirs written by earlier versions must stay
# readable and verifiable
STATE_FORMAT = {
    "exact": (
        '{"kind": "exact_fingerprints", "params": {}}',
        [("fingerprint", "string")],
        [],
    ),
    "minhash": (
        '{"kind": "minhash_bands", "params": {"bands": 3, '
        '"hash_fn": "xxhash64", "n": 5, "num_hashes": 6}}',
        [("band_id", "int32"), ("band_key", "string"), ("hash_fn", "string")],
        [],
    ),
    "embedding": (
        '{"kind": "embedding_signlsh", "params": {"bands": 2, "dims": 8, '
        '"planes_per_band": 8}}',
        [("band_id", "int32"), ("band_key", "string")],
        [],
    ),
    "lines": (
        '{"kind": "line_hashes", "params": {"delim": "\\n"}}',
        [("line_key", "string")],
        [],
    ),
    "cdc": (
        '{"kind": "cdc_chunks", "params": {"base": 257, "mask_bits": 6, '
        '"mod": 2147483647, "window": 8}}',
        [("chunk_key", "string"), ("n_bytes", "int64")],
        [],
    ),
    "cms": (
        '{"kind": "cms", "params": {"depth": 3, "salt": "s1", "width": 64}}',
        [("row", "int32"), ("bucket", "int64"), ("cnt", "int64")],
        ["batch_id"],
    ),
}


def test_state_on_disk_format_is_stable(one_call_state):
    """The persisted format is byte-compatible across refactors of the
    state protocol: exact sidecar JSON, every parquet file's column
    names and physical types, and the hive partition columns."""
    import pyarrow.parquet as pq

    kind, state = one_call_state
    sidecar, columns, partitions = STATE_FORMAT[kind]
    with open(state_meta_path(state)) as f:
        assert f.read() == sidecar
    layouts, parts = set(), set()
    for root, _, files in os.walk(state):
        for name in files:
            if name.endswith(".parquet"):
                sch = pq.read_schema(os.path.join(root, name))
                layouts.add(tuple((c, str(sch.field(c).type)) for c in sch.names))
                if root != state:
                    parts.add(os.path.relpath(root, state).split("=")[0])
    assert layouts == {tuple(columns)}
    assert sorted(parts) == partitions


# ---------- CMS sink / reader ----------


def _run_cms_sink(spark, tmp_path, tag, **kw):
    from kolang_spark.streaming import cms_sink

    src = str(tmp_path / f"src_{tag}")
    spark.createDataFrame(
        [(f"u{i % 3}",) for i in range(30)], ["user"]
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("user string").parquet(src)
    q = cms_sink(
        stream,
        str(tmp_path / "cms_state"),
        "user",
        checkpoint=str(tmp_path / f"ckpt_{tag}"),
        **kw,
    )
    q.awaitTermination(60)
    return q


def test_cms_state_params_pinned_and_mismatch_raises(spark, tmp_path):
    """The CMS 'same depth/width/salt' contract was docstring-only
    (r11 verdict item 1): now a sink batch with mismatched params
    fails its query, cms_state verifies a reader's params, and
    cms_state_params hands back the pinned truth so readers never
    guess."""
    from kolang_spark.streaming import cms_state, cms_state_params

    state = str(tmp_path / "cms_state")
    _run_cms_sink(spark, tmp_path, "a", depth=3, width=64, salt="s1")
    assert cms_state_params(spark, state) == {
        "depth": 3,
        "width": 64,
        "salt": "s1",
    }
    # a reader probing with the wrong width raises; right one passes
    with pytest.raises(ValueError, match="width"):
        cms_state(spark, state, width=128)
    merged = cms_state(spark, state, depth=3, width=64, salt="s1")
    assert merged.agg(F.sum("cnt")).collect()[0][0] == 30 * 3
    # a second sink run with a different salt must fail its batch
    # (the guard raises inside foreachBatch -> the query terminates
    # with the error, surfaced by awaitTermination in the helper)
    with pytest.raises(Exception, match="salt"):
        _run_cms_sink(spark, tmp_path, "b", depth=3, width=64, salt="OTHER")


def test_cms_state_reader_never_pins(spark, tmp_path):
    """Review r12: a READER must verify-only. The first cut pinned the
    reader's partial probe onto an unstamped pre-r12 state, after
    which every correct full-params sink batch raised against the
    partial pin — and a mis-remembering reader could block the
    correct writer."""
    from kolang_spark.streaming import cms_state

    state = str(tmp_path / "cms_state")
    _run_cms_sink(spark, tmp_path, "a", depth=3, width=64, salt="s1")
    # simulate a pre-r12 unstamped state
    os.remove(state_meta_path(state))
    # reader probe (even a WRONG one) must neither raise nor pin
    cms_state(spark, state, width=128).count()
    assert read_state_meta(spark, state) is None
    # the next stamping writer pins the full truth and keeps working
    _run_cms_sink(spark, tmp_path, "b", depth=3, width=64, salt="s1")
    assert read_state_meta(spark, state)["params"] == {
        "depth": 3,
        "width": 64,
        "salt": "s1",
    }
    # with the sidecar back, a wrong reader probe DOES raise
    with pytest.raises(ValueError, match="width"):
        cms_state(spark, state, width=128)


def test_ensure_state_pinned_detects_concurrent_writer_conflict(
    spark, tmp_path
):
    """Review r12: two first-writers racing on a fresh state_path both
    pass the probe-time check (nothing existed), both append, one
    pins — the loser's post-append fast pin must RAISE on the
    conflicting sidecar, not no-op into a silently mixed state."""
    from kolang_spark.sources.state import ensure_state_pinned

    state = str(tmp_path / "s")
    os.makedirs(state)
    ensure_state_pinned(spark, state, "minhash_bands", {"hash_fn": "md5"})
    with pytest.raises(ValueError, match="concurrent"):
        ensure_state_pinned(
            spark, state, "minhash_bands", {"hash_fn": "xxhash64"}
        )
    with pytest.raises(ValueError, match="concurrent"):
        ensure_state_pinned(spark, state, "cms", {"hash_fn": "md5"})
    # same params: clean no-op
    ensure_state_pinned(spark, state, "minhash_bands", {"hash_fn": "md5"})


def test_cms_estimate_with_pinned_params_roundtrip(spark, tmp_path):
    """End-to-end: estimate frequencies using ONLY the pinned params —
    the reader-side workflow the sidecar exists for."""
    from kolang_spark.operators.sketches import cms_estimate
    from kolang_spark.streaming import cms_state, cms_state_params

    state = str(tmp_path / "cms_state")
    _run_cms_sink(spark, tmp_path, "a", depth=4, width=256, salt="z")
    p = cms_state_params(spark, state)
    items = spark.createDataFrame([("u0",), ("u1",)], ["user"])
    est = {
        r.item: r.est_count
        for r in cms_estimate(
            cms_state(spark, state, **p), items, "user", **p
        ).collect()
    }
    assert est["u0"] == 10 and est["u1"] == 10


def test_fs_rename_overwrite_atomic_swap(spark, tmp_path):
    """fs_rename_overwrite replaces an existing target in one metadata
    op (FileContext OVERWRITE rename locally) — target holds the new
    content, source is gone, and no intermediate 'missing' state is
    required (advisor r13 sidecar-window item)."""
    from kolang_spark.sources.io import fs_rename_overwrite, fs_read_text

    src = str(tmp_path / "_m.tmp")
    dst = str(tmp_path / "_m")
    open(src, "w").write("new")
    open(dst, "w").write("old")
    assert fs_rename_overwrite(spark, src, dst) is True
    assert fs_read_text(spark, dst) == "new"
    assert not os.path.exists(src)
    # a failed rename (the source is gone now) is False, not an error
    assert fs_rename_overwrite(spark, src, dst) is False


def test_pin_state_meta_replaces_existing_sidecar_no_tmp_residue(
    spark, tmp_path
):
    """Re-pinning over an existing sidecar lands the new params and
    leaves no .tmp residue; on the overwrite-rename path the old
    sidecar is never deleted ahead of the swap, so a concurrent prober
    can never observe 'no sidecar' and fall into legacy resolution."""
    state = str(tmp_path / "s")
    os.makedirs(state)
    pin_state_meta(spark, state, "k", {"n": 1})
    pin_state_meta(spark, state, "k", {"n": 2})
    assert read_state_meta(spark, state) == {"kind": "k", "params": {"n": 2}}
    sidecar = state_meta_path(state)
    assert not os.path.exists(sidecar + ".tmp")
