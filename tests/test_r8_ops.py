"""Round-8 operator tests: quality-aware dedup keep-policy, mojibake
detection/repair."""

import pytest
from hypothesis import given, settings, strategies as st

from tests.conftest import examples
from pyspark.sql import functions as F

from kolang_spark.llm.dedup import dedup_keep_best
from kolang_spark.llm.scrub import (
    _CP1252_BYTES,
    _CP1252_VISIBLE,
    fix_mojibake,
    mojibake_score,
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, score long")


def _pairs(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _run(spark, rows, pairs, **kw):
    out = dedup_keep_best(
        _mk(spark, rows), _pairs(spark, pairs), score="score", **kw
    )
    return {
        r["doc_id"]: (r["component"], r["score"], r["keep"])
        for r in out.collect()
    }


def test_keeps_highest_score_in_chain_cluster(spark):
    # 1-2 and 2-3 chain into one cluster even though 1-3 never paired
    got = _run(spark, [(1, 10), (2, 99), (3, 50), (9, 7)], [(1, 2), (2, 3)])
    assert got[2][2] is True and got[1][2] is False and got[3][2] is False
    assert got[1][0] == got[2][0] == got[3][0]
    assert got[9] == (9, 7, True)  # singleton keeps itself


def test_tie_breaks_to_min_id(spark):
    got = _run(spark, [(5, 40), (6, 40), (7, 10)], [(5, 6), (6, 7)])
    assert got[5][2] is True and got[6][2] is False and got[7][2] is False


def test_prefer_min_keeps_lowest(spark):
    got = _run(spark, [(1, 10), (2, 99)], [(1, 2)], prefer="min")
    assert got[1][2] is True and got[2][2] is False


def test_null_scores_lose_to_scored_rows(spark):
    rows = [(1, None), (2, 5), (3, None)]
    got = _run(spark, rows, [(1, 2), (2, 3)])
    assert got[2][2] is True and not got[1][2] and not got[3][2]


def test_all_null_cluster_falls_back_to_min_id(spark):
    got = _run(spark, [(4, None), (8, None)], [(4, 8)])
    assert got[4][2] is True and got[8][2] is False


def test_exactly_one_keeper_per_component(spark):
    rows = [(i, i % 3) for i in range(12)]
    pairs = [(i, i + 1) for i in range(0, 10, 2)]  # clusters {0,1},{2,3},...
    got = _run(spark, rows, pairs)
    by_comp = {}
    for doc, (comp, _, keep) in got.items():
        by_comp.setdefault(comp, 0)
        by_comp[comp] += int(keep)
    assert all(v == 1 for v in by_comp.values())


def test_invalid_prefer_raises(spark):
    with pytest.raises(ValueError):
        dedup_keep_best(
            _mk(spark, [(1, 1)]), _pairs(spark, []), score="score",
            prefer="median",
        )


def test_score_as_column_expression(spark):
    df = spark.createDataFrame(
        [(1, "short"), (2, "a much longer text")], "doc_id long, text string"
    )
    out = dedup_keep_best(
        df, _pairs(spark, [(1, 2)]), score=F.length("text"),
        score_col="n_chars",
    )
    got = {r["doc_id"]: r for r in out.collect()}
    assert got[2]["keep"] is True and got[2]["n_chars"] == 18


# ---------------------------------------------------------------------------
# mojibake
# ---------------------------------------------------------------------------

def _moji_latin1(s: str) -> str:
    """The corruption being repaired: UTF-8 bytes read back as Latin-1."""
    return s.encode("utf-8").decode("latin-1")


_TO_CP1252 = str.maketrans(_CP1252_BYTES, _CP1252_VISIBLE)


def _moji_cp1252(s: str) -> str:
    """Windows display flavor: C1 controls shown as cp1252 punctuation."""
    return _moji_latin1(s).translate(_TO_CP1252)


def _fix_many(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    rows = df.select(
        fix_mojibake("t").alias("f"), mojibake_score("t").alias("n")
    ).collect()
    return [(r["f"], r["n"]) for r in rows]


def test_repairs_both_flavors(spark):
    orig = "thé café — it’s “fine”…"
    got = _fix_many(spark, [_moji_latin1(orig), _moji_cp1252(orig)])
    assert got[0][0] == orig and got[1][0] == orig
    assert got[0][1] > 0 and got[1][1] > 0


def test_clean_text_untouched_and_scores_zero(spark):
    texts = ["plain ascii", "café naïve é", "", "Ã", "€5 price"]
    got = _fix_many(spark, texts)
    assert [f for f, _ in got] == texts  # no signature / invalid → as-is
    assert all(n == 0 for _, n in got[:3])


def test_cjk_rows_do_not_crash_the_guarded_encode(spark):
    # strict encode would raise on 日本 if the guard ever evaluated it;
    # mix CJK with a repairable row in ONE plan to prove conditionality
    orig = "thé"
    got = _fix_many(spark, ["日本語テキスト", _moji_latin1(orig),
                            "mixed 日本 with thÃ©"])
    assert got[0][0] == "日本語テキスト"
    assert got[1][0] == orig
    # mixed row HAS a signature but isn't Latin-1-representable → as-is
    assert got[2][0] == "mixed 日本 with thÃ©"


def test_double_mojibake_repairs_one_layer_per_call(spark):
    orig = "é"
    twice = _moji_latin1(_moji_latin1(orig))
    df = spark.createDataFrame([(twice,)], "t string")
    once = df.select(fix_mojibake("t").alias("f"))
    again = once.select(fix_mojibake("f").alias("f"))
    assert once.collect()[0]["f"] == _moji_latin1(orig)
    assert again.collect()[0]["f"] == orig


def test_null_passthrough(spark):
    df = spark.createDataFrame([(None,)], "t string")
    r = df.select(fix_mojibake("t").alias("f"),
                  mojibake_score("t").alias("n")).collect()[0]
    assert r["f"] is None and r["n"] is None


@settings(max_examples=examples(12), deadline=None)
@given(
    s=st.text(
        alphabet=st.characters(
            codec="latin-1", categories=("L", "N", "P", "Zs")
        ),
        min_size=1, max_size=40,
    ).filter(lambda s: any(" " <= ch <= "ÿ" for ch in s)),
)
def test_exact_model_roundtrip_latin1_strings(spark_session_global2, s):
    # any Latin-1 string with ≥1 high char: corrupt → repair == identity
    got = _fix_many(spark_session_global2, [_moji_latin1(s), _moji_cp1252(s)])
    assert got[0][0] == s and got[1][0] == s


@pytest.fixture(scope="module")
def spark_session_global2(spark):
    return spark


# ---------------------------------------------------------------------------
# corpus-wide keep-first line dedup
# ---------------------------------------------------------------------------

from kolang_spark.llm.dedup import dedup_lines_global  # noqa: E402


def _lines_replica(docs, delim="\n"):
    """Documented rule, verbatim: min (doc_id, pos) occurrence of each
    trimmed line survives; whitespace-only lines always survive.
    NOTE: Spark trim strips ONLY spaces — replica must use strip(' ')."""
    occ = []
    for did, text in docs:
        for pos, line in enumerate(text.split(delim)):
            occ.append((did, pos, line))
    first = {}
    for did, pos, line in sorted(occ):
        k = line.strip(" ")
        if k != "" and k not in first:
            first[k] = (did, pos)
    out = {}
    for did, text in docs:
        kept = [
            line
            for pos, line in enumerate(text.split(delim))
            if line.strip(" ") == "" or first[line.strip(" ")] == (did, pos)
        ]
        total = len(text.split(delim))
        out[did] = (delim.join(kept), len(kept), total - len(kept))
    return out


def _run_lines(spark, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    return {
        r["doc_id"]: (r["text_deduped"], r["n_kept"], r["n_removed"])
        for r in dedup_lines_global(df).collect()
    }


def test_line_dedup_keep_first_matches_replica(spark):
    docs = [
        (1, "alpha\nbeta\ngamma"),
        (2, "beta\ndelta\nalpha"),
        (3, "  beta \n\nepsilon"),   # trimmed match; blank line survives
        (4, ""),
        (5, "alpha\nalpha"),          # loses both to doc 1
        (0, "zeta\nbeta"),            # earliest id owns beta
    ]
    got = _run_lines(spark, docs)
    assert got == _lines_replica(docs)
    assert got[0] == ("zeta\nbeta", 2, 0)
    assert got[2] == ("delta", 1, 2)
    assert got[5] == ("", 0, 2)


def test_line_dedup_every_doc_returned_once(spark):
    docs = [(i, "same\nsame") for i in range(7)]
    got = _run_lines(spark, docs)
    assert sorted(got) == list(range(7))
    assert got[0] == ("same", 1, 1)          # keeps ONE copy
    assert all(got[i] == ("", 0, 2) for i in range(1, 7))


def test_line_dedup_custom_literal_delim(spark):
    # '|' is regex-special: the split must treat the delim literally
    df = spark.createDataFrame(
        [(1, "a|b"), (2, "b|c")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["text_deduped"]
        for r in dedup_lines_global(df, delim="|").collect()
    }
    assert got == {1: "a|b", 2: "c"}


@settings(max_examples=examples(12), deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", " aa", "", "aa bb"]),
            min_size=1, max_size=5,
        ).map("\n".join),
        min_size=1, max_size=6,
    ),
)
def test_line_dedup_exact_model_random(spark_session_global3, texts):
    docs = [(i, t) for i, t in enumerate(texts)]
    assert _run_lines(spark_session_global3, docs) == _lines_replica(docs)


@pytest.fixture(scope="module")
def spark_session_global3(spark):
    return spark


# ---------------------------------------------------------------------------
# incremental line dedup
# ---------------------------------------------------------------------------

import os  # noqa: E402
import shutil  # noqa: E402
import tempfile  # noqa: E402

from kolang_spark.llm.dedup import incremental_line_dedup  # noqa: E402


def _ingest_lines(spark, state, docs):
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = incremental_line_dedup(spark, df, state)
    return {r["doc_id"]: (r["text_deduped"], r["n_kept"], r["n_removed"])
            for r in out.collect()}


def test_incremental_lines_cross_batch_state(spark):
    base = tempfile.mkdtemp(prefix="ks_t_incr_ln_")
    try:
        state = os.path.join(base, "state")
        b1 = _ingest_lines(spark, state, [
            (1, "alpha\nbeta"), (2, "beta\ngamma"),
        ])
        assert b1[1] == ("alpha\nbeta", 2, 0)
        assert b1[2] == ("gamma", 1, 1)  # beta kept by doc 1
        # batch 2: alpha+gamma now in state; delta novel (kept once)
        b2 = _ingest_lines(spark, state, [
            (3, "alpha\ndelta\ngamma"), (4, "delta\n\nepsilon"),
        ])
        assert b2[3] == ("delta", 1, 2)
        # doc 3 owns delta (earlier id); blank line survives in doc 4
        assert b2[4] == ("\nepsilon", 2, 1)
        # re-ingesting everything again: all content lines are state hits
        b3 = _ingest_lines(spark, state, [(5, "alpha\ndelta\nepsilon")])
        assert b3[5] == ("", 0, 3)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_incremental_lines_state_path_via_hadoop_file_uri(spark):
    # exercise the Hadoop FileSystem probe route (file: URI), not the
    # os.path fallback — the object-store-correctness proof pattern
    base = tempfile.mkdtemp(prefix="ks_t_incr_ln_uri_")
    try:
        state = "file://" + os.path.join(base, "state")
        b1 = _ingest_lines(spark, state, [(1, "x\ny")])
        assert b1[1] == ("x\ny", 2, 0)
        b2 = _ingest_lines(spark, state, [(2, "y\nz")])
        assert b2[2] == ("z", 1, 1)  # state hit through the URI path
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_incremental_lines_matches_batch_operator_on_one_batch(spark):
    docs = [(1, "a\nb"), (2, "b\nc"), (3, "a\na")]
    base = tempfile.mkdtemp(prefix="ks_t_incr_ln_eq_")
    try:
        state = os.path.join(base, "state")
        inc = _ingest_lines(spark, state, docs)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    batch = _run_lines(spark, docs)
    assert inc == batch  # empty state ≡ the batch keep-first operator


# ---------------------------------------------------------------------------
# semantic decontamination
# ---------------------------------------------------------------------------

from kolang_spark.llm.decontam import semantic_contamination  # noqa: E402


def _vecs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, embedding array<double>"
    )


def test_semantic_contamination_flags_close_vectors(spark):
    ev = _vecs(spark, [(100, [1.0, 0.0]), (101, [0.0, 1.0])])
    tr = _vecs(spark, [
        (1, [2.0, 0.0]),      # cos 1.0 with eval 100
        (2, [1.0, 1.0]),      # cos ~0.707 with both
        (3, [-1.0, 0.0]),     # cos -1 / 0
    ])
    got = {r["doc_id"]: r for r in
           semantic_contamination(tr, ev, threshold=0.9).collect()}
    assert got[1]["contaminated"] is True and got[1]["n_over"] == 1
    assert got[1]["max_cos"] == 1.0
    assert got[2]["contaminated"] is False and got[2]["n_over"] == 0
    assert abs(got[2]["max_cos"] - 0.707107) < 1e-6
    assert got[3]["contaminated"] is False and got[3]["max_cos"] == 0.0


def test_semantic_contamination_threshold_counts(spark):
    ev = _vecs(spark, [(9, [1.0, 0.0]), (10, [0.6, 0.8])])
    tr = _vecs(spark, [(1, [1.0, 0.0])])
    got = semantic_contamination(tr, ev, threshold=0.5).collect()[0]
    assert got["n_over"] == 2 and got["contaminated"] is True


def test_semantic_contamination_empty_eval_set(spark):
    ev = _vecs(spark, [])
    tr = _vecs(spark, [(1, [1.0, 0.0])])
    got = semantic_contamination(tr, ev).collect()[0]
    assert got["max_cos"] is None
    assert got["n_over"] == 0 and got["contaminated"] is False


def test_semantic_contamination_train_side_never_shuffles(spark):
    ev = _vecs(spark, [(9, [1.0, 0.0])])
    tr = _vecs(spark, [(i, [float(i), 1.0]) for i in range(10)])
    plan = semantic_contamination(tr, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    import re as _re
    # the TRAIN side must not shuffle: no hash/range exchange anywhere.
    # The one allowed SinglePartition exchange is the EVAL pack (global
    # collect_list of the small benchmark set — bounded by design).
    hash_range = [
        ln for ln in plan.splitlines()
        if _re.search(r"\bExchange (hashpartitioning|rangepartitioning)", ln)
    ]
    assert not hash_range, hash_range
    singles = plan.count("Exchange SinglePartition")
    assert singles <= 1, plan


# ---------------------------------------------------------------------------
# temperature-scaled mixing
# ---------------------------------------------------------------------------

from kolang_spark.operators.sampling import (  # noqa: E402
    mix_datasets_temperature,
)


def _mix_df(spark, rows):
    return spark.createDataFrame(rows, "k long, dom string")


def test_mix_temperature_t1_keeps_everything(spark):
    rows = [(k, "ab"[k % 2]) for k in range(40)]
    got = mix_datasets_temperature(
        _mix_df(spark, rows), "dom", 1.0, "k"
    ).count()
    assert got == 40


def test_mix_temperature_invalid_args(spark):
    df = _mix_df(spark, [(1, "a")])
    with pytest.raises(ValueError):
        mix_datasets_temperature(df, "dom", 0.0, "k")
    with pytest.raises(ValueError):
        mix_datasets_temperature(df, "dom", 2.0, "k", domains=["a", "zz"])


def test_mix_temperature_discovery_equals_explicit(spark):
    from tests.conftest import jobs_started

    rows = [(k, "abc"[k % 3]) for k in range(60)]
    df = _mix_df(spark, rows)
    # the domain sizes are one aggregate collect, discovered or listed
    auto, n_auto = jobs_started(
        spark, lambda: mix_datasets_temperature(df, "dom", 2.0, "k")
    )
    expl, n_expl = jobs_started(
        spark,
        lambda: mix_datasets_temperature(
            df, "dom", 2.0, "k", domains=["a", "b", "c"]
        ),
    )
    _, n_one = jobs_started(spark, lambda: df.groupBy("dom").count().collect())
    assert (n_auto, n_expl) == (n_one, n_one)
    assert sorted(r.k for r in auto.collect()) == sorted(r.k for r in expl.collect())


def test_pow_half_equals_sqrt_assumption():
    # the oracle replays n**(1/2) as sqrt(n); pin the libm assumption
    import math
    for n in [1, 2, 3, 7, 10, 97, 500, 12345, 10**6, 10**9, 10**12]:
        assert n ** 0.5 == math.sqrt(n), n


@settings(max_examples=examples(15), deadline=None)
@given(
    n=st.integers(20, 120),
    n_domains=st.integers(2, 4),
    temp=st.sampled_from([1.0, 2.0, 4.0, 100.0]),
)
def test_mix_temperature_exact_membership_model(
    spark_session_global4, n, n_domains, temp
):
    """Exact pure-Python model of the whole chain: counts →
    unnormalized n^(1/T) weights → cap → fractions → 60-bit md5 gate."""
    import hashlib

    doms = [f"d{i}" for i in range(n_domains)]
    # skewed sizes: domain i gets rows where k % (i+2) == 0 pattern
    rows = [(k, doms[min(n_domains - 1, k % (n_domains + 2))])
            for k in range(n)]
    df = _mix_df(spark_session_global4, rows)
    got = sorted(
        r.k for r in mix_datasets_temperature(
            df, "dom", temp, "k", domains=doms
        ).collect()
    )
    counts: dict = {}
    for _, d in rows:
        counts[d] = counts.get(d, 0) + 1
    weights = {d: counts[d] ** (1.0 / temp) for d in doms}
    t = min(counts[d] / p for d, p in weights.items())
    thr = {d: int(min(1.0, t * p / counts[d]) * (1 << 60))
           for d, p in weights.items()}

    def h60(k):
        return int(hashlib.md5(str(k).encode()).hexdigest()[17:32], 16)

    want = sorted(k for k, d in rows if h60(k) < thr[d])
    assert got == want


@pytest.fixture(scope="module")
def spark_session_global4(spark):
    return spark


# ---------------------------------------------------------------------------
# confusable folding
# ---------------------------------------------------------------------------

from kolang_spark.llm.scrub import (  # noqa: E402
    _FOLD_DST,
    _FOLD_SRC,
    _LIGATURES,
    _ZERO_WIDTH_RE,
    fold_confusables,
)

_FOLD_TBL = str.maketrans(_FOLD_SRC, _FOLD_DST)


def _fold_replica(s):
    import re
    s = s.translate(_FOLD_TBL)
    s = re.sub(_ZERO_WIDTH_RE, "", s)
    for a, b in _LIGATURES:
        s = s.replace(a, b)
    return s


def _fold_many(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    return [r["f"] for r in df.select(fold_confusables("t").alias("f")).collect()]


def test_fold_confusables_known_cases(spark):
    cases = {
        "５ＧＢ　ﬁle": "5GB file",
        "“smart” – ‘quotes’…": '"smart" - \'quotes\'...',
        "zero​width­gone": "zerowidthgone",
        "Ａ-Ｚａ-ｚ０-９！？": "A-Za-z0-9!?",
        "plain ascii stays": "plain ascii stays",
        "": "",
    }
    got = _fold_many(spark, list(cases))
    assert got == [cases[k] for k in cases]


def test_fold_confusables_null(spark):
    df = spark.createDataFrame([(None,)], "t string")
    assert df.select(fold_confusables("t").alias("f")).collect()[0]["f"] is None


@settings(max_examples=examples(12), deadline=None)
@given(
    s=st.text(
        alphabet=st.sampled_from(
            list("ab 5…ﬁﬂ“”‘’–—　ＡＢｚ！​ ﻿")
        ),
        max_size=30,
    ),
)
def test_fold_confusables_exact_model(spark_session_global5, s):
    got = _fold_many(spark_session_global5, [s])[0]
    want = _fold_replica(s)
    assert got == want
    # idempotence on the folded output
    assert _fold_many(spark_session_global5, [got])[0] == got


@pytest.fixture(scope="module")
def spark_session_global5(spark):
    return spark


# ---------------------------------------------------------------------------
# domain blocklist filtering
# ---------------------------------------------------------------------------

from kolang_spark.llm.scrub import filter_blocked_domains  # noqa: E402


def _urls(spark, urls):
    return spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "id long, url string"
    )


def test_blocklist_exact_subdomain_and_substring(spark):
    df = _urls(spark, [
        "http://bad.com/page",            # exact
        "https://ads.Bad.COM:443/x",      # subdomain + case + port
        "http://notbad.com/y",            # substring, NOT a suffix
        "https://deep.a.b.bad.com/z",     # deep subdomain
        "http://good.org/",
        None,
        "not a url at all",
    ])
    got = {r["id"]: (r["blocked_domain"], r["is_blocked"])
           for r in filter_blocked_domains(df, "url", ["bad.com"]).collect()}
    assert got[0] == ("bad.com", True)
    assert got[1] == ("bad.com", True)
    assert got[2] == (None, False)
    assert got[3] == ("bad.com", True)
    assert got[4] == (None, False)
    assert got[5] == (None, False)
    assert got[6] == (None, False)


def test_blocklist_most_specific_entry_wins(spark):
    df = _urls(spark, ["http://ads.example.com/x"])
    got = filter_blocked_domains(
        df, "url", ["example.com", "ads.example.com"]
    ).collect()[0]
    assert got["blocked_domain"] == "ads.example.com"


def test_blocklist_dataframe_input_and_dedup(spark):
    bl = spark.createDataFrame(
        [("Bad.com ",), ("bad.com",), ("",), (None,)], "domain string"
    )
    df = _urls(spark, ["http://x.bad.com/1", "http://ok.net/2"])
    got = {r["id"]: r["is_blocked"]
           for r in filter_blocked_domains(df, "url", bl).collect()}
    assert got == {0: True, 1: False}


def test_blocklist_empty_blocks_nothing(spark):
    df = _urls(spark, ["http://bad.com/x"])
    got = filter_blocked_domains(df, "url", []).collect()[0]
    assert got["is_blocked"] is False and got["blocked_domain"] is None


def test_blocklist_max_entries_guard(spark):
    df = _urls(spark, ["http://a.com/"])
    with pytest.raises(ValueError, match="max_entries"):
        filter_blocked_domains(
            df, "url", ["d0.com", "d1.com", "d2.com"], max_entries=2
        )


def test_blocklist_corpus_side_never_shuffles(spark):
    df = _urls(spark, [f"http://h{i}.com/x" for i in range(6)])
    plan = (
        filter_blocked_domains(df, "url", ["h1.com"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    import re as _re
    # the blocklist's own distinct() may exchange on _d (bounded side);
    # the CORPUS columns (id/url) must never appear under an Exchange
    hash_range = [
        ln for ln in plan.splitlines()
        if _re.search(r"\bExchange (hashpartitioning|rangepartitioning)", ln)
        and _re.search(r"\b(id|url)#", ln)
    ]
    assert not hash_range, hash_range


# ---------------------------------------------------------------- CCNet
# perplexity bucketing (lmscore.perplexity_buckets)


def _ppl_docs(spark):
    # lang 'a': doc 1-2 share 'x x x' (typical), doc 3 is rare tokens
    # (surprising); lang 'b': three docs; doc 7 has no tokens at all
    rows = [
        (1, "x x x", "a"),
        (2, "x x y", "a"),
        (3, "q r s", "a"),
        (4, "m m m", "b"),
        (5, "m m n", "b"),
        (6, "u v w", "b"),
        (7, "   ", "a"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string, lang string")


def test_perplexity_buckets_per_lang_terciles(spark):
    from kolang_spark.llm import perplexity_buckets

    out = perplexity_buckets(_ppl_docs(spark), lang_col="lang")
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 7
    # per-lang: scores order doc1 < doc2 < doc3 (a), doc4 < doc5 < doc6
    # (b) -> with terciles each scored doc gets its own bucket
    for lo, mid, hi in [(1, 2, 3), (4, 5, 6)]:
        assert got[lo]["bucket"] == 1 and got[lo]["label"] == "head"
        assert got[mid]["bucket"] == 2 and got[mid]["label"] == "middle"
        assert got[hi]["bucket"] == 3 and got[hi]["label"] == "tail"
        assert got[lo]["score"] < got[mid]["score"] < got[hi]["score"]
    # zero-token doc: NULL score, bucket, label; n_tokens 0
    assert got[7]["n_tokens"] == 0
    assert got[7]["score"] is None
    assert got[7]["bucket"] is None and got[7]["label"] is None


def test_perplexity_buckets_global_and_label_validation(spark):
    import pytest as _pytest

    from kolang_spark.llm import perplexity_buckets

    df = _ppl_docs(spark).where("doc_id < 7")
    # non-tercile n_buckets with the DEFAULT labels must not raise:
    # head/middle/tail only applies to terciles, others go numeric
    out = perplexity_buckets(df, lang_col=None, n_buckets=2)
    got = {r["doc_id"]: r for r in out.collect()}
    assert {got[i]["bucket"] for i in got} == {1, 2}
    assert all(got[i]["label"] == str(got[i]["bucket"]) for i in got)
    with _pytest.raises(ValueError, match="labels"):
        perplexity_buckets(df, n_buckets=3, labels=("a", "b"))
