#!/usr/bin/env python
"""Generate the README API index (VERDICT r9 item 8): one line per
public callable — module, first docstring sentence, and the driver
queries (`__spark_entry__.queries()`) that exercise it — so the
200-query surface is navigable from one table.

The index is written between the ``<!-- API-INDEX:BEGIN/END -->``
markers in README.md. `tests/test_api_index.py` regenerates it and
fails on drift, so the table can never go stale against the code.

Callable → query mapping comes from the entry module's own source: each
``_q_*`` function imports what it drives (``from kolang_spark... import
X``), which is exactly the provenance a reader wants. Core Column
helpers used via module-level imports everywhere (col/percent/...) are
additionally matched by bare-name usage inside the query body.

Usage: ``python scripts/gen_api_index.py [--check]`` — ``--check``
exits 1 if README.md is out of date instead of rewriting it.
"""

from __future__ import annotations

import importlib
import inspect
import os
import pkgutil
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BEGIN = "<!-- API-INDEX:BEGIN (generated by scripts/gen_api_index.py — edit the code, not this table) -->"
END = "<!-- API-INDEX:END -->"

# Per-operator scale notes (VERDICT r10 item 6), sourced from the
# committed sweep records in BASELINE.md — each note cites the round
# whose sweep (disjoint replicated copies at 1x/4x/16x, now run by
# `scripts/perf.py sweep`) backs it. Only sweep-backed or plan-audited facts belong
# here; design intent without a measurement does not.
SCALE_NOTES = {
    "minhash_candidate_pairs": "band equi-join, no n²; xxhash64 default (r11 sweep: md5 tax grows with corpus)",
    "simhash_hamming_pairs": "pigeonhole band equi-join; xxhash64 default (r11 sweep)",
    "incremental_minhash_dedup": "batch × compact band-key state equi-join; hash_fn-stamped state (r11)",
    "minhash_dedup_sink": "streaming foreachBatch over the incremental band-key join; replay-idempotent (r9)",
    "incremental_exact_dedup": "one ExistenceJoin probe vs the fingerprint state (`BoundState.seen`); flat sweep to 240k docs (r7/r8)",
    "exact_dedup": "one hash-groupBy on the fingerprint (r7)",
    "embedding_near_dup_pairs": "labeled O(n²) exact baseline, size-guarded >100k — use the LSH variant at scale (r9)",
    "embedding_near_dup_pairs_lsh": "sign-LSH band equi-join; candidate cost tracks bands (r8)",
    "semantic_dedup": "Σ|cluster|² in-cluster equi-join with pair salts; bounded Lloyd (r9 plan audit)",
    "connected_components": "pointer-jumping, O(log diameter) rounds (r7)",
    "duplicate_spans": "positional-gram equi-join, Arrow verify kernel (r8)",
    "cdc_chunks": "content-defined chunking, per-doc Arrow kernel, no shuffle (r10)",
    "brute_force_topk": "brute-force cosine baseline; broadcast queries (r7)",
    "ivf_topk": "corpus bucketed once, queries broadcast; fixed-k sampled k-means coarse quantizer — 4.4x vs stride at 16x corpus (r10 sweep)",
    "ivf_pq_topk": "IVF + product quantization probe; plan size independent of k (r10 plan audit)",
    "lsh_topk": "sign-LSH bucket join (r8)",
    "kmeans_centroids": "fixed-point Lloyd, sample-capped init; linear past the centroid cap (r10 sweep)",
    "pca_fit": "one bounded sufficient-stat collect (d×d, not n) (r9)",
    "jl_project": "broadcast projection matrix, one map pass (r9)",
    "bpe_encode": "broadcast merge table; flat to 13.6M token ids at 16x (r10 sweep)",
    "bpe_encode_ids": "broadcast vocab map over bpe_encode; flat at 16x (r10 sweep)",
    "pack_balanced": "global length-rank via range-bucket two-pass — no single-partition window (r10 plan audit)",
    "pack_examples": "greedy bin pack per partition-bounded group (r9)",
    "decode_avi_frames": "sanctioned Arrow boundary, shuffle-free; flat to 240k frames at 16x (r10 sweep)",
    "decode_gif_frames": "per-row Arrow decode, shuffle-free (r9 sweep)",
    "cumulative_sum": "bucketed two-pass prefix sum at scale — no single-partition window (r8 sweep)",
    "percent": "broadcast-total rewrite (with_percent) keeps detail rows unshuffled (r8)",
    "with_percent": "grand total as a broadcast 1-row aggregate (r8)",
    "pagerank": "one edge pin with a marker row per node, no node spine; a broadcast round is 2 jobs, no shuffle stage (plan-audit job budget)",
    "label_propagation": "one edge pin with a self row per node, no node spine; a broadcast round is 2 jobs, no shuffle stage (plan-audit job budget)",
    "target_encode": "one map-side-combinable groupBy + broadcast re-attach; integer units mode replays bit-exact (r11)",
    "trailing_window_agg": "same-spec RANGE frames share ONE shuffle + sort — plan-pinned (r11 audit)",
    "bloom_semi_join": "16-KiB in-plan bitmask kills non-matches inside the scan (r9)",
    "hll_sketch": "mergeable register sketch, one groupBy (r8)",
    "cusum_shift": "sequential recursion via reflection closed form: two cumulative windows on one sort (r9)",
    "event_transitions": "one lead() window + map-side groupBy; output |states|² regardless of stream size (r9)",
    "as_of_join": "union + one per-key ordered window — no range cross product (r7)",
    "sessionize": "F.session_window aggregation, hash-partitioned state, batch==stream (r7)",
    "jaccard_near_dup_pairs": "shared-shingle inverted-index equi-join, never n² (r7)",
    "dedup_keep_best": "two-step argmax over components — no per-group sort (r8)",
    "hypertable_rollup": "epoch-aligned bucket groupBy, map-side combinable (r7)",
    "deterministic_sample": "stable keyed hash gate in the scan — no shuffle, engine-portable (r7)",
    "equi_depth_bin": "bounded quantile collect + broadcast bin edges (r9)",
    "mad_outliers": "per-group medians via one agg + broadcast re-attach (r9)",
    "k_anonymize": "one groupBy on the quasi-identifier + broadcast suppression set (r9)",
    "psi_drift": "two bucketed aggregates, term algebra in micro-units (r9)",
    "retention_cohorts": "groupBy user -> explode -> groupBy (cohort, offset); two map-side shuffles, no join (r9)",
    "bm25_topk": "postings equi-join; the vocabulary is never broadcast (r9)",
    "mmr_rerank": "per-query candidate pools, integer fixed-point selection — broadcast query side (r9)",
}


def public_callables():
    """{qualified_name: (module, name, one_line_doc)} from every
    kolang_spark module's __all__ (first definition wins — re-exports
    in __init__ collapse onto the defining module)."""
    import kolang_spark

    out = {}
    for m in pkgutil.walk_packages(kolang_spark.__path__, "kolang_spark."):
        try:
            mod = importlib.import_module(m.name)
        except Exception:
            continue
        for name in getattr(mod, "__all__", ()):
            obj = getattr(mod, name, None)
            if obj is None:
                continue
            home = getattr(obj, "__module__", m.name)
            if not home.startswith("kolang_spark"):
                home = m.name
            if home != m.name:
                continue  # re-export; the defining module will list it
            doc = (inspect.getdoc(obj) or "").strip()
            first = doc.split("\n\n")[0].replace("\n", " ")
            first = re.sub(r"\s+", " ", first)
            first = re.split(r"(?<=[.!?]) ", first)[0]
            if len(first) > 140:
                first = first[:137] + "..."
            first = first.replace("|", "\\|")
            out[f"{home.removeprefix('kolang_spark.')}.{name}"] = (
                home.removeprefix("kolang_spark."),
                name,
                first,
            )
    return out


def query_usage():
    """{callable_name: sorted set of driver query names that import or
    reference it}."""
    import __spark_entry__ as entry

    qs = entry.queries()
    usage: dict = {}
    entry_src = inspect.getsource(entry)

    def imported_names(src: str) -> set:
        """Names bound by `from kolang_spark... import ...` statements.
        Two distinct regexes — a greedy one-pattern version over-captured
        the statement's FOLLOWING lines for non-parenthesized imports
        and polluted the usage map (r10 review finding)."""
        names = set()
        # parenthesized: capture exactly up to the closing paren
        for m in re.finditer(
            r"from kolang_spark[.\w]* import \(([^)]*)\)", src
        ):
            for tok in re.split(r"[,\s]+", m.group(1)):
                if tok and tok.isidentifier():
                    names.add(tok)
        # single-line: capture to end of line only
        for m in re.finditer(
            r"from kolang_spark[.\w]* import ([^(\n][^\n]*)", src
        ):
            for tok in m.group(1).split(","):
                tok = tok.strip().split(" as ")[-1].strip()
                if tok and tok.isidentifier():
                    names.add(tok)
        return names

    # module-level kolang_spark imports are visible to every query body
    module_level = imported_names(
        "\n".join(
            ln for ln in entry_src.split("\n") if not ln.startswith((" ", "\t"))
        )
    )
    for qname, fn in qs.items():
        try:
            src = inspect.getsource(fn)
        except Exception:
            continue
        # strip the docstring before the bare-name matching below — a
        # callable merely MENTIONED in prose (e.g. "pack_examples(...)"
        # in a _q_* docstring) must not be credited as exercised by
        # that query (r10 advisor finding). ast round-trip rather than
        # regex: docstrings may contain any quoting.
        try:
            import ast
            import textwrap

            tree = ast.parse(textwrap.dedent(src))
            fdef = tree.body[0]
            if (
                fdef.body
                and isinstance(fdef.body[0], ast.Expr)
                and isinstance(fdef.body[0].value, ast.Constant)
                and isinstance(fdef.body[0].value.value, str)
            ):
                fdef.body = fdef.body[1:] or [ast.Pass()]
            code_src = ast.unparse(fdef)
        except Exception:
            code_src = src
        names = imported_names(code_src)
        for tok in module_level:
            if re.search(rf"\b{re.escape(tok)}\s*\(", code_src):
                names.add(tok)
        # `import kolang_spark as ks` style: ks.percent(...), ks.median(...)
        for m in re.finditer(r"\bks\.(\w+)", code_src):
            names.add(m.group(1))
        for n in names:
            usage.setdefault(n, set()).add(qname)
    return usage


def render() -> str:
    calls = public_callables()
    usage = query_usage()
    by_mod: dict = {}
    for qual, (mod, name, doc) in sorted(calls.items()):
        by_mod.setdefault(mod, []).append((name, doc))
    all_names = {n for _, (m, n, d) in calls.items()}
    unknown = sorted(set(SCALE_NOTES) - all_names)
    if unknown:
        raise SystemExit(
            f"SCALE_NOTES keys are not public callables: {unknown}"
        )
    lines = [BEGIN, ""]
    n_calls = len(calls)
    n_linked = sum(1 for _, (m, n, d) in calls.items() if usage.get(n))
    lines.append(
        f"_{n_calls} public callables across {len(by_mod)} modules; "
        f"{n_linked} are exercised directly by named driver queries "
        "(the rest are building blocks those queries compose). The "
        "scale-notes column carries only sweep-backed or plan-audited "
        "facts (BASELINE.md, cited by round)._"
    )
    lines.append("")
    for mod in sorted(by_mod):
        lines.append(f"### `kolang_spark.{mod}`")
        lines.append("")
        lines.append(
            "| callable | what it does | driver queries | scale notes |"
        )
        lines.append("|---|---|---|---|")
        for name, doc in sorted(by_mod[mod]):
            queries = sorted(usage.get(name, ()))
            shown = ", ".join(f"`{q}`" for q in queries[:4])
            if len(queries) > 4:
                shown += f" (+{len(queries) - 4})"
            note = SCALE_NOTES.get(name, "")
            lines.append(
                f"| `{name}` | {doc or '—'} | {shown or '—'} | {note} |"
            )
        lines.append("")
    lines.append(END)
    return "\n".join(lines)


def main() -> None:
    check = "--check" in sys.argv
    readme_path = os.path.join(ROOT, "README.md")
    readme = open(readme_path).read()
    block = render()
    pattern = re.compile(re.escape(BEGIN) + ".*?" + re.escape(END), re.S)
    if pattern.search(readme):
        new = pattern.sub(lambda _: block, readme)
    else:
        new = readme.rstrip("\n") + "\n\n## API index\n\n" + block + "\n"
    if check:
        if new != readme:
            print("README API index is stale — run scripts/gen_api_index.py")
            sys.exit(1)
        print("API index up to date")
        return
    open(readme_path, "w").write(new)
    print(f"wrote API index ({len(block.splitlines())} lines)")


if __name__ == "__main__":
    main()
