"""Real BPE (llm/bpe.py): trainer determinism, classic-corpus merge
sanity, and the exact-model property — the pure-Python replica of the
documented separator-string semantics must match the Column pipeline
byte-for-byte on arbitrary text (incl. the separator-byte and
whitespace adversarial classes the real-data oracle never exercises).
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import examples, jobs_started
from pyspark.sql import Row

from kolang_spark.llm.bpe import (
    BOUND,
    encode_text,
    FIXPOINT_PASSES,
    SEP,
    _apply_merge_str,
    _encode_word,
    bpe_encode,
    bpe_merges_df,
    bpe_token_count,
    bpe_train,
)


_encode_py = encode_text


def _train_df(spark, texts):
    return spark.createDataFrame([Row(text=t) for t in texts], "text string")


def test_train_classic_corpus(spark):
    # "low lower lowest": 'l'+'o' then 'lo'+'w' dominate
    df = _train_df(spark, ["low low low lower lowest"] * 2)
    merges = bpe_train(df, num_merges=2, max_words=100)
    assert merges[0] == ("l", "o")
    assert merges[1] == ("lo", "w")


def test_train_tiebreak_lexicographic(spark):
    # 'ab' and 'cd' both occur twice -> (a,b) wins lexicographically
    df = _train_df(spark, ["ab cd", "ab cd"])
    merges = bpe_train(df, num_merges=1, max_words=100)
    assert merges == [("a", "b")]


def test_train_deterministic_and_bounded(spark):
    texts = [f"alpha beta gamma{i % 3} delta" for i in range(50)]
    df = _train_df(spark, texts)
    m1 = bpe_train(df, num_merges=8, max_words=5)
    m2 = bpe_train(df, num_merges=8, max_words=5)
    assert m1 == m2 and len(m1) == 8


def test_train_stops_when_no_pairs(spark):
    # single-char words only -> no adjacent pairs, trainer stops early
    df = _train_df(spark, ["a b c", "a b"])
    assert bpe_train(df, num_merges=5, max_words=100) == []


def test_encode_matches_training_vocab(spark):
    df = _train_df(spark, ["low low low lower lowest"])
    merges = bpe_train(df, num_merges=3, max_words=100)
    out = bpe_encode(df, merges).head()
    # after (l,o),(lo,w),(low, e?) merges, every 'low' is one token
    assert out.bpe_tokens.count("low") >= 3


def test_encode_word_boundaries_not_crossed(spark):
    # merge (a,b) must not fire across the word gap in "xa bz"
    df = _train_df(spark, ["xa bz ab"])
    out = bpe_encode(df, [("a", "b")]).head()
    assert out.bpe_tokens == ["x", "a", "b", "z", "ab"]


def test_encode_empty_and_whitespace(spark):
    df = spark.createDataFrame(
        [Row(text=""), Row(text="   "), Row(text="\t\n")], "text string"
    )
    rows = bpe_encode(df, [("a", "b")]).collect()
    assert all(r.bpe_tokens == [] for r in rows)


def test_token_count_matches_encode(spark):
    df = _train_df(spark, ["low lower", "ab ab ab"])
    merges = [("l", "o"), ("a", "b")]
    got = df.select(
        bpe_token_count("text", merges).alias("n")
    ).collect()
    exp = [len(_encode_py(t, merges)) for t in ["low lower", "ab ab ab"]]
    assert [r.n for r in got] == exp


def test_merges_df_schema(spark):
    mdf = bpe_merges_df(spark, [("l", "o"), ("lo", "w")])
    rows = mdf.collect()
    assert [(r["rank"], r["left"], r["right"], r["merged"]) for r in rows] == [
        (0, "l", "o", "lo"),
        (1, "lo", "w", "low"),
    ]


def test_apply_merge_fixpoint_runs():
    # aaaa with (a,a): pass1 -> aa,aa (leftmost non-overlap); stable
    assert _apply_merge_str(_encode_word("aaaa"), "a", "a") == (
        SEP + "aa" + SEP + "aa" + SEP
    )
    # aaa -> aa,a
    assert _apply_merge_str(_encode_word("aaa"), "a", "a") == (
        SEP + "aa" + SEP + "a" + SEP
    )
    # alternating chain abab fully merges within the pass budget
    assert _apply_merge_str(_encode_word("abab"), "a", "b") == (
        SEP + "ab" + SEP + "ab" + SEP
    )


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab c\t\x1e\x1f.é "),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=4,
    ),
    num_merges=st.integers(min_value=0, max_value=6),
)
@settings(
    max_examples=examples(20),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_encode_exact_model_property(spark, texts, num_merges):
    """Column pipeline == pure-Python replica on adversarial text
    (separator bytes, whitespace runs, non-ASCII), with merges trained
    on the same corpus — and reconstruction: tokens concatenated per
    doc equal the normalized text minus spaces."""
    import re

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    merges = bpe_train(df, num_merges=num_merges, max_words=50)
    got = {
        r.doc_id: r.bpe_tokens
        for r in bpe_encode(df, merges).select("doc_id", "bpe_tokens").collect()
    }
    for i, t in enumerate(texts):
        exp = _encode_py(t, merges)
        assert got[i] == exp, (t, merges)
        norm = re.sub(
            r"\s+",
            " ",
            re.sub("[" + BOUND + SEP + "]", "", t.strip(" ")),
            flags=re.ASCII,
        )
        assert "".join(got[i]) == norm.replace(" ", "")


def test_encode_engines_agree_and_null_propagates(spark, monkeypatch):
    import kolang_spark.llm.bpe as B

    def encode(engine):
        # the engine is picked at plan time from the merge count: force
        # each form by moving the threshold past (or below) this table
        limit = {"column": 10**9, "arrow": 0}[engine]
        monkeypatch.setattr(B, "COLUMN_ENGINE_MAX_MERGES", limit)
        return bpe_encode(df, merges)

    texts = [
        "low lower lowest",
        "",
        "  spaced   out  ",
        None,
        "x y \x85z",
        "aaaa abab",
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        "doc_id long, text string",
    )
    merges = [("l", "o"), ("lo", "w"), ("a", "b"), ("ab", "ab")]
    col = {r.doc_id: r.bpe_tokens for r in encode("column").collect()}
    arr = {r.doc_id: r.bpe_tokens for r in encode("arrow").collect()}
    assert col == arr
    assert col[3] is None  # NULL in -> NULL out, both engines
    for i, t in enumerate(texts):
        assert col[i] == encode_text(t, merges), (i, t)
    # plan check: the column engine stays UDF-free, the arrow engine is
    # a single ArrowEvalPython (never a row-at-a-time BatchEvalPython)
    plan_col = encode("column")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_col and "BatchEvalPython" not in plan_col
    plan_arr = encode("arrow")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_arr and "BatchEvalPython" not in plan_arr


def test_encode_auto_switches_engines(spark):
    from kolang_spark.llm.bpe import COLUMN_ENGINE_MAX_MERGES

    df = _train_df(spark, ["some words here"])
    small = [("a", "b")]
    # a merge table past the threshold: synthetic non-firing merges
    big = [(f"q{i}", f"r{i}") for i in range(COLUMN_ENGINE_MAX_MERGES + 1)]
    plan_small = bpe_encode(df, small)._jdf.queryExecution().executedPlan().toString()
    plan_big = bpe_encode(df, big)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_small
    assert "ArrowEvalPython" in plan_big
    # and the big table still yields the plain char split
    assert bpe_encode(df, big).head().bpe_tokens == list("some") + list(
        "words"
    ) + list("here")


def test_encode_arrow_large_vocab_smoke(spark):
    """The production path: a merge table 4x past the column-engine
    threshold trained on a repetitive corpus; reconstruction invariant
    holds for every doc."""
    texts = [
        " ".join(f"w{j}vocabulary{(i + j) % 13}" for j in range(12))
        for i in range(40)
    ]
    df = _train_df(spark, texts)
    merges = bpe_train(df, num_merges=256, max_words=500)
    assert len(merges) > 64
    out = bpe_encode(df, merges)  # auto -> arrow
    for r in out.collect():
        assert "".join(r.bpe_tokens) == r.text.replace(" ", "")


def test_save_load_tokenizer_roundtrip(spark, tmp_path):
    """r10 persistence surface: save_tokenizer → one-file parquet
    artifact → load_tokenizer returns the identical rank-ordered merge
    list, and encoding with the loaded tokenizer equals the in-session
    encode token-for-token."""
    from kolang_spark.llm.bpe import load_tokenizer, save_tokenizer

    texts = ["low lower lowest", "new newer newest", "low low new"]
    df = _train_df(spark, texts)
    merges = bpe_train(df, num_merges=12, max_words=100)
    path = str(tmp_path / "tok")
    save_tokenizer(merges, path, spark=spark)
    # the artifact is read under its declared schema: the collect is
    # the only job
    loaded, n_jobs = jobs_started(spark, lambda: load_tokenizer(spark, path))
    assert n_jobs == 1
    assert loaded == merges
    a = [r.bpe_tokens for r in bpe_encode(df, merges).collect()]
    b = [r.bpe_tokens for r in bpe_encode(df, loaded).collect()]
    assert a == b
    # single-object artifact: exactly one parquet part file
    import pathlib

    parts = [p for p in pathlib.Path(path).iterdir() if p.suffix == ".parquet"]
    assert len(parts) == 1


def test_load_tokenizer_rejects_non_contiguous_ranks(spark, tmp_path):
    path = str(tmp_path / "tok_bad")
    spark.createDataFrame(
        [(0, "a", "b", "ab"), (2, "c", "d", "cd")],
        "rank int, left string, right string, merged string",
    ).write.parquet(path)
    with pytest.raises(ValueError, match="non-contiguous"):
        from kolang_spark.llm.bpe import load_tokenizer

        load_tokenizer(spark, path)


def test_bpe_vocab_induced_symbols():
    from kolang_spark.llm.bpe import bpe_vocab

    vocab = bpe_vocab([("l", "o"), ("lo", "w")])
    assert vocab == ["l", "o", "lo", "w", "low"]


def test_bpe_vocab_ids_and_encode_ids(spark):
    """Token-id pipeline shape: corpus-fixed dense vocabulary (token
    asc), broadcast-map lookup, OOV -> -1 for tokens the vocab never
    saw (e.g. a held-out document's unseen characters)."""
    from kolang_spark.llm.bpe import bpe_encode_ids, bpe_vocab_ids

    texts = ["low lower", "new newest", "low new"]
    df = _train_df(spark, texts)
    merges = bpe_train(df, num_merges=8, max_words=100)
    vocab = bpe_vocab_ids(df, merges)
    vrows = {r["token"]: r["token_id"] for r in vocab.collect()}
    # dense ids 0..n-1 in token-ascending order
    assert sorted(vrows.values()) == list(range(len(vrows)))
    assert [t for t, _ in sorted(vrows.items())] == sorted(vrows)
    assert [i for _, i in sorted(vrows.items())] == list(range(len(vrows)))

    out = {r.text: r.token_ids for r in bpe_encode_ids(df, merges, vocab).collect()}
    enc = {r.text: r.bpe_tokens for r in bpe_encode(df, merges).collect()}
    for t in texts:
        assert out[t] == [vrows[tok] for tok in enc[t]]

    # OOV: a document with characters the corpus never produced
    held = _train_df(spark, ["zzz low"])
    got = bpe_encode_ids(held, merges, vocab).head().token_ids
    assert -1 in got  # 'z' is outside the vocabulary
    assert all(i == -1 or i in vrows.values() for i in got)


def test_bpe_encode_ids_rejects_duplicate_vocab(spark):
    """A duplicate vocab token must fail fast with a clear error at
    call time, not an opaque duplicate-map-key RuntimeException
    mid-job (r10 review finding)."""
    from kolang_spark.llm.bpe import bpe_encode_ids

    df = _train_df(spark, ["ab"])
    merges = [("a", "b")]
    dup = spark.createDataFrame(
        [(0, "ab"), (1, "ab")], "token_id int, token string"
    )
    with pytest.raises(ValueError, match="duplicate token"):
        bpe_encode_ids(df, merges, dup)
