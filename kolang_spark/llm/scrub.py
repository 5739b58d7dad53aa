"""PII scrubbing and URL/domain analysis for training-data curation —
pure Column expressions (``regexp_replace`` / ``regexp_extract_all``),
no UDFs, no shuffle: the per-document work rides the scan.

Web-scale corpora must have contact PII redacted before training; URL
structure (domain mixture, link density) is a standard curation signal
(C4/RefinedWeb-style pipelines). Both are per-row regex algebra —
exactly what whole-stage codegen compiles well.

Engine portability: every pattern below restricts itself to the regex
subset Java (Spark) and RE2 (DuckDB) implement identically — character
classes, bounded repetition, alternation, ``\\b`` word boundaries; no
lookaround, no backreferences — so the DuckDB oracle reproduces
redactions and extractions bit-exact.

Scale posture: no joins, no aggregation inside the operators themselves
(callers group the extracted domains however they need); plans stay one
Project over the scan with pushdown/pruning intact.
"""

from __future__ import annotations

from typing import Dict, Iterable, Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from kolang_spark.functions.core import ColumnOrName, str_to_column

__all__ = [
    "PII_PATTERNS",
    "URL_PATTERN",
    "MOJIBAKE_SIGNATURE",
    "redact_pii",
    "pii_counts",
    "extract_urls",
    "url_domains",
    "canonicalize_url",
    "filter_blocked_domains",
    "flag_blocked_terms",
    "fold_confusables",
    "mojibake_score",
    "fix_mojibake",
]

# Ordered: emails are redacted before ipv4/phones so the digit runs
# inside an address-like email local part can't double-match. Patterns
# are the conservative high-precision core (curation wants few false
# redactions of ordinary prose, not forensic recall).
PII_PATTERNS: Dict[str, str] = {
    # local@domain.tld — tld 2+ alpha
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted quad, each octet 1-3 digits, word-bounded
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    # international-ish phone: +CC or bare, 9-15 digits with -/space/().
    # Requires a leading + or ( to stay precise (a bare 10-digit run in
    # prose is as likely an id as a phone number).
    "phone": r"[+(]\d[\d() -]{7,14}\d",
}

URL_PATTERN = r"https?://[^\s\"'<>]+"


def _tokens(kinds: Iterable[str]) -> Dict[str, str]:
    unknown = set(kinds) - set(PII_PATTERNS)
    if unknown:
        raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
    return {k: PII_PATTERNS[k] for k in PII_PATTERNS if k in set(kinds)}


def redact_pii(
    col: ColumnOrName,
    kinds: Optional[Iterable[str]] = None,
    token: str = "<{kind}>",
) -> Column:
    """Replace each PII match with a typed token (default ``<email>``,
    ``<ipv4>``, ``<phone>``) — chained ``regexp_replace``, one Project.

    ``kinds`` subsets/orders nothing: application order is the fixed
    precision-preserving order of :data:`PII_PATTERNS` regardless of the
    iterable's order, so output is deterministic.
    """
    out = str_to_column(col)
    for kind, pat in _tokens(kinds if kinds is not None else PII_PATTERNS).items():
        out = F.regexp_replace(out, pat, token.format(kind=kind))
    return out


def pii_counts(
    col: ColumnOrName, kinds: Optional[Iterable[str]] = None
) -> Dict[str, Column]:
    """Per-kind match counts (``size(regexp_extract_all(...))``) — the
    audit/reporting companion to :func:`redact_pii`. NULL text counts 0.
    """
    c = str_to_column(col)
    return {
        f"n_{kind}": F.size(F.regexp_extract_all(F.coalesce(c, F.lit("")), F.lit(pat), F.lit(0))).alias(
            f"n_{kind}"
        )
        for kind, pat in _tokens(kinds if kinds is not None else PII_PATTERNS).items()
    }


def extract_urls(col: ColumnOrName) -> Column:
    """All http(s) URLs in the text, in document order
    (``array<string>``; empty array for none/NULL)."""
    c = F.coalesce(str_to_column(col), F.lit(""))
    return F.regexp_extract_all(c, F.lit(URL_PATTERN), F.lit(0))


def url_domains(col: ColumnOrName, strip_www: bool = True) -> Column:
    """Lower-cased registrable-ish domains of every URL in the text
    (``array<string>``, document order, duplicates preserved — callers
    ``explode`` + ``groupBy`` for mixture stats).

    Domain = authority up to the first ``/``, ``:``, ``?`` or ``#``;
    credentials (``user@``) stripped; optional leading ``www.``
    stripped. Pure array algebra over :func:`extract_urls` — still no
    UDF, still one Project.
    """
    urls = extract_urls(col)

    def domain_of(u: Column) -> Column:
        # strip scheme, then cut the AUTHORITY at the first /?# — the
        # ':' must NOT be a cut character here: in 'user:pass@host' it
        # precedes the '@', and cutting on it first would leave the
        # USERNAME as the host (a blocklist/stats bypass). Credentials
        # are stripped at the last '@', then the ':port' suffix.
        rest = F.regexp_replace(u, r"^https?://", "")
        auth = F.split(rest, r"[/?#]").getItem(0)
        host = F.element_at(F.split(auth, "@"), -1)
        host = F.lower(F.regexp_replace(host, r":\d*$", ""))
        if strip_www:
            host = F.regexp_replace(host, r"^www\.", "")
        return host

    return F.transform(urls, domain_of)


def canonicalize_url(col: ColumnOrName) -> Column:
    """Canonical form of a URL column — THE dedup key for crawl
    frontiers and URL-level corpus dedup (the same page arrives as
    ``HTTP://WWW.Ex.com:80/a/?utm_source=x#frag`` and
    ``http://ex.com/a``; exact dedup on the raw string misses it).

    Normalization steps, each one Column expression:

    1. scheme + host lowercased (path/query case preserved — paths are
       case-sensitive);
    2. ``user:pass@`` credentials dropped;
    3. default ports stripped (``:80`` for http, ``:443`` for https);
    4. leading ``www.`` dropped;
    5. ``#fragment`` dropped (never sent to the server);
    6. tracking params dropped (``utm_*``, ``fbclid``, ``gclid``,
       ``ref``) with separator repair, empty ``?`` dropped;
    7. trailing ``/`` dropped from non-root paths and from the bare
       authority.

    NULL in → NULL out; non-http(s) strings pass through unchanged
    except whitespace trim (callers filter schemes upstream).
    """
    u = F.trim(str_to_column(col))
    is_http = u.rlike(r"(?i)^https?://")
    # 1-2: lowercase scheme+authority, drop credentials
    scheme = F.lower(F.regexp_extract(u, r"(?i)^(https?)://", 1))
    rest = F.regexp_replace(u, r"(?i)^https?://", "")
    auth = F.element_at(F.split(F.split(rest, r"[/?#]").getItem(0), "@"), -1)
    path = F.regexp_replace(rest, r"^[^/?#]*", "")
    host = F.lower(auth)
    # 3: default ports
    host = F.when(
        scheme == "http", F.regexp_replace(host, r":80$", "")
    ).otherwise(F.regexp_replace(host, r":443$", ""))
    # 4: www.
    host = F.regexp_replace(host, r"^www\.", "")
    # 5: fragment
    path = F.regexp_replace(path, r"#.*$", "")
    # 6: tracking params — each token must FOLLOW a '?'/'&' delimiter
    # (so `?a=ref=1` is untouched; RE2 has no lookbehind, so the
    # delimiter is captured and re-inserted — '$1' in Spark, '\\1' in
    # an RE2 oracle), then separators are collapsed and dangling
    # '?'/'&' stripped. Adjacent tracking params each match (nothing
    # beyond the token is consumed), so any run of them collapses.
    path = F.regexp_replace(
        path, r"(?i)([?&])(utm_[a-z0-9_]*|fbclid|gclid|ref)=[^&#]*", "$1"
    )
    path = F.regexp_replace(path, r"&&+", "&")
    path = F.regexp_replace(path, r"\?&+", "?")
    path = F.regexp_replace(path, r"[?&]+$", "")
    # 7: trailing slash of the path SEGMENT only — split at the first
    # '?' so query-parameter VALUES are never touched ('?q=a/' and
    # '?next=/?x' must survive verbatim; the old combined-string
    # rewrites collapsed distinct pages onto one dedup key, review r8).
    # Covers both end-of-URL ('/a/' → '/a', root '/' → '') and
    # before-query ('/p/?q=1' → '/p?q=1') positions.
    p_part = F.regexp_extract(path, r"^([^?]*)", 1)
    q_part = F.regexp_replace(path, r"^[^?]*", "")
    p_part = F.regexp_replace(p_part, r"/$", "")
    path = F.concat(p_part, q_part)
    return F.when(is_http, F.concat(scheme, F.lit("://"), host, path)).otherwise(
        u
    )


def filter_blocked_domains(
    df,
    url_col: ColumnOrName,
    blocklist,
    domain_col: str = "domain",
    max_entries: int = 1_000_000,
):
    """Domain-blocklist filtering — the C4/UT1-style URL filter every
    crawl-curation pipeline runs: flag rows whose URL's host matches a
    blocklist entry exactly OR is a subdomain of one
    (``ads.example.com`` is blocked by ``example.com``).

    ``blocklist`` is a DataFrame with a ``domain_col`` string column
    (or a plain list of strings); entries are lower-cased, trimmed, and
    de-duplicated. Returns ``df`` plus two columns: ``blocked_domain``
    (the MOST SPECIFIC matching entry — longest suffix — or NULL) and
    ``is_blocked``. Rows with NULL / non-URL values are never blocked.
    Callers ``filter(~col('is_blocked'))`` to drop.

    Scale shape — shuffle-free on the corpus side (the
    remove_boilerplate_lines hot-map pattern): the blocklist collapses
    to ONE ``map<domain,bool>`` row that rides a
    ``crossJoin(broadcast(...))`` to every partition; each row probes
    its ≤ #labels DNS suffixes against the map (O(1) hash probe each)
    inside one Project over the scan. ``max_entries`` guards the
    broadcast (default 1M ≈ the UT1 adult list's order of magnitude);
    beyond that, pre-join the exploded suffixes against a blocklist
    TABLE instead — the flag raises with that suggestion rather than
    silently building a multi-GB map row.
    """
    from pyspark.sql import DataFrame as _DF

    if not isinstance(blocklist, _DF):
        entries = sorted({str(x).strip().lower() for x in blocklist if x})
        blocklist = df.sparkSession.createDataFrame(
            [(e,) for e in entries] or [], f"{domain_col} string"
        )
    n = blocklist.count()  # bounded: blocklists are curated, not corpus
    if n > max_entries:
        raise ValueError(
            f"blocklist has {n} entries > max_entries={max_entries}; "
            "join exploded host suffixes against the blocklist table "
            "instead of the broadcast-map path"
        )
    packed = (
        blocklist.select(
            F.lower(F.trim(F.col(domain_col))).alias("_d")
        )
        .where(F.col("_d") != "")
        .distinct()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_d"), F.lit(True)))
            ).alias("_blocked")
        )
    )
    u = str_to_column(url_col)
    rest = F.regexp_replace(u, r"(?i)^https?://", "")
    # authority cut on [/?#] only — ':' would truncate at the password
    # separator in 'user:pass@host' and leave the USERNAME as host,
    # letting credential-bearing URLs bypass the blocklist entirely.
    # Credentials strip at the last '@', then the ':port' suffix.
    auth = F.split(rest, r"[/?#]").getItem(0)
    host = F.element_at(F.split(auth, "@"), -1)
    host = F.lower(F.regexp_replace(host, r":\d*$", ""))
    labels = F.split(host, r"\.")
    # suffixes, most specific first: full host, then each parent domain
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(
            F.slice(labels, i, F.size(labels) - i + 1), "."
        ),
    )
    matched = F.filter(
        suffixes, lambda s: F.try_element_at("_blocked", s).isNotNull()
    )
    return (
        df.join(F.broadcast(packed))
        .withColumn("_m", matched)
        .withColumn(
            "blocked_domain",
            F.when(F.size("_m") > 0, F.element_at("_m", 1)),
        )
        # NULL url → NULL suffix array → coalesce to "not blocked"
        .withColumn(
            "is_blocked", F.coalesce(F.size("_m") > 0, F.lit(False))
        )
        .drop("_blocked", "_m")
    )


# ---------------------------------------------------------------------------
# Mojibake (UTF-8/Latin-1 double-encoding) detection and repair
# ---------------------------------------------------------------------------

# Windows-1252 maps bytes 0x80-0x9F to visible punctuation (euro, curly
# quotes, dashes, dagger, trademark, ...) where ISO-8859-1 has C1
# control characters. Mojibake that traveled through cp1252 therefore
# shows those VISIBLE characters; mapping them back to the raw byte
# values first lets one ISO-8859-1 re-encode handle both flavors
# (ftfy's "sloppy windows-1252" trick). Order matches bytes 0x80..0x9F;
# undefined cp1252 bytes (0x81 8D 8F 90 9D) are omitted.
_CP1252_VISIBLE = (
    "€‚ƒ„…†‡ˆ‰Š"
    "‹ŒŽ‘’“”•–—"
    "˜™š›œžŸ"
)
_CP1252_BYTES = (
    "\x80\x82\x83\x84\x85\x86\x87\x88\x89\x8a"
    "\x8b\x8c\x8e\x91\x92\x93\x94\x95\x96\x97"
    "\x98\x99\x9a\x9b\x9c\x9e\x9f"
)

# A mojibake *signature*: a UTF-8 lead-byte character (U+00C2-U+00F4,
# 'Â Ã Ä ... ô') immediately followed by something that decodes to a
# UTF-8 continuation byte — either the raw range U+0080-U+00BF or one
# of the cp1252 visible stand-ins. Correct text essentially never
# contains these bigrams ('Ã©', 'â€™'); lone accented letters
# ('café') don't match.
MOJIBAKE_SIGNATURE = (
    "[\u00c2-\u00f4][\u0080-\u00bf" + _CP1252_VISIBLE + "]"
)


# 1:1 foldings, applied with one translate(): fullwidth ASCII block
# (U+FF01-U+FF5E → 0x21-0x7E), ideographic/no-break spaces → space,
# curly single/double quotes → straight, dash family → '-',
# fraction slash → '/'
_FOLD_SRC = (
    "".join(chr(c) for c in range(0xFF01, 0xFF5F))
    + "　 ‘’‚‛“”„‟"
    + "‐‑‒–—―−⁄"
)
_FOLD_DST = (
    "".join(chr(c) for c in range(0x21, 0x7F))
    + "  ''''\"\"\"\""
    + "-------/"
)

# removed entirely: zero-width space/joiners, BOM, soft hyphen
_ZERO_WIDTH_RE = "[​‌‍﻿­]"

# 1:n foldings (translate can't grow): common Latin ligatures, ellipsis
_LIGATURES = [
    ("ﬀ", "ff"), ("ﬁ", "fi"), ("ﬂ", "fl"),
    ("ﬃ", "ffi"), ("ﬄ", "ffl"), ("Œ", "OE"),
    ("œ", "oe"), ("…", "..."),
]


def fold_confusables(col: ColumnOrName) -> Column:
    """NFKC-lite text normalization as pure Column algebra — the
    canonical-form folding crawl pipelines apply before tokenizing and
    fingerprinting (fullwidth '５ＧＢ' and halfwidth '5GB' must hash
    the same):

    - fullwidth ASCII block → ASCII; ideographic and no-break spaces →
      plain space;
    - curly quotes → straight, the dash family → '-', '…' → '...';
    - Latin ligatures (ﬁ ﬂ ﬀ ﬃ ﬄ Œ œ) expanded;
    - zero-width space/joiners, BOM, and soft hyphens removed.

    One ``translate`` (all 1:1 maps), one ``regexp_replace`` (the
    removals), and a short literal ``replace`` chain (1:n ligatures) —
    a single Project riding the scan, replayable verbatim in any SQL
    engine with translate/replace. Deliberately NOT full NFKC (no
    decomposition tables); it covers the high-frequency confusables
    that actually occur in web text. NULL in → NULL out.
    """
    out = F.translate(str_to_column(col), _FOLD_SRC, _FOLD_DST)
    out = F.regexp_replace(out, _ZERO_WIDTH_RE, "")
    for src_ch, dst in _LIGATURES:
        out = F.replace(out, F.lit(src_ch), F.lit(dst))
    return out


def mojibake_score(col: ColumnOrName) -> Column:
    """Count of mojibake signature bigrams (see
    :data:`MOJIBAKE_SIGNATURE`) — 0 for clean text; each corrupted
    non-ASCII character contributes at least 1. Pure Column regex (one
    ``regexp_count``), rides the scan."""
    return F.regexp_count(str_to_column(col), F.lit(MOJIBAKE_SIGNATURE)).cast(
        "long"
    )


def fix_mojibake(col: ColumnOrName) -> Column:
    """Repair UTF-8-bytes-read-as-Latin-1/cp1252 mojibake ('thÃ©' →
    'thé', 'isnâ€™t' → 'isn’t') — the ftfy core transform as pure
    Column algebra: map cp1252 visible stand-ins back to their byte
    values (``translate``), re-encode as ISO-8859-1 (identity on
    bytes), and decode as UTF-8.

    Row-granular and conservative — a row is repaired only when ALL of:

    - it contains a mojibake signature bigram (clean text, including
      legitimately accented text like 'café', passes through untouched
      and never pays the encode);
    - after the cp1252 back-map it is entirely Latin-1 representable
      (Spark 4's strict ``encode`` raises on unmappable characters —
      rows mixing mojibake with e.g. CJK are left unchanged rather
      than crashing the job);
    - the recovered bytes are valid UTF-8 (``is_valid_utf8``) — a lone
      'Ã' that never was a UTF-8 lead byte stays as-is instead of
      becoming U+FFFD.

    A doubly-mojibake'd string repairs one layer per call (compose
    twice for two layers — matches ftfy's iterative behavior). NULL in
    → NULL out. The whole expression is UDF-free whole-stage-codegen
    Column algebra; the encode/decode pair only executes on rows whose
    guard matched (nested CASE WHEN keeps it conditional)."""
    c = str_to_column(col)
    mapped = F.translate(c, _CP1252_VISIBLE, _CP1252_BYTES)
    guard = c.rlike(MOJIBAKE_SIGNATURE) & mapped.rlike("^[\\x00-\\xff]*$")
    recovered = F.encode(mapped, "ISO-8859-1")
    # inner WHEN: encode/is_valid_utf8 evaluate ONLY under the outer
    # guard (Latin-1-representable rows), so strict encode cannot raise
    return F.when(
        guard,
        F.when(F.is_valid_utf8(recovered), F.decode(recovered, "UTF-8"))
        .otherwise(c),
    ).otherwise(c)


def flag_blocked_terms(
    df,
    terms,
    id_col: str = "doc_id",
    text_col: str = "text",
    term_col: str = "term",
    lowercase: bool = True,
):
    """Blocked-words/phrases gate — the C4 rule that drops any page
    containing an entry of a bad-word list (Raffel et al. 2020 used
    the "List of Dirty, Naughty ..." blocklist): count word-boundary
    occurrences of every blocklist entry per document, multi-word
    phrases included.

    Matching is token-exact, not substring: single-word entries match
    tokens, L-word phrases match contiguous L-grams — so "ass" never
    hits "class" (the classic substring-filter false positive) and
    "click here" matches only as adjacent words. ``terms`` is a plain
    list of strings or a DataFrame with ``term_col``; entries are
    trimmed (lower-cased when ``lowercase``) and de-duplicated.

    Scale shape: one exploded n-gram frame per DISTINCT phrase length
    in the list (almost always 1-3), unioned, then ONE broadcast
    equi-join against the term table and a map-side-combinable per-doc
    aggregate — the corpus never shuffles on a non-key, and the gram
    explode is bounded by the lengths actually present in the list.

    Returns one row per distinct id (a NULL id is one group):
    ``(id_col, n_hits, n_terms, is_blocked)`` — total occurrences,
    distinct blocklist entries present, and the C4 drop flag
    ``n_hits > 0``; a document with no hits gets ``(0, 0, false)``.
    """
    from pyspark.sql import DataFrame as _DF

    from kolang_spark.llm.textstats import _words, word_ngrams

    if isinstance(terms, _DF):
        entries = [
            r[0]
            for r in terms.select(term_col).where(
                F.col(term_col).isNotNull()
            ).distinct().collect()
        ]  # bounded by construction: a curated blocklist is ≤ ~10^4 rows
    else:
        entries = list(terms)
    norm = []
    for t in entries:
        t = " ".join(str(t).split())
        if lowercase:
            t = t.lower()
        if t:
            norm.append(t)
    norm = sorted(set(norm))
    if not norm:
        raise ValueError("blocklist is empty after normalization")
    lengths = sorted({len(t.split()) for t in norm})

    spark = df.sparkSession
    tdf = spark.createDataFrame([(t, True) for t in norm], ["g", "__hit__"])

    toks = F.filter(_words(text_col, lowercase), lambda t: t != "")

    gram_frames = []
    for ln in lengths:
        grams = toks if ln == 1 else word_ngrams(toks, ln)
        gram_frames.append(
            df.select(F.col(id_col), F.explode_outer(grams).alias("g"))
        )
    all_grams = gram_frames[0]
    for gf in gram_frames[1:]:
        all_grams = all_grams.unionByName(gf)

    hits = (
        all_grams.join(F.broadcast(tdf), "g", "left")
        .groupBy(id_col)
        .agg(
            F.count("__hit__").cast("long").alias("n_hits"),
            F.count_distinct(F.when(F.col("__hit__"), F.col("g")))
            .cast("long")
            .alias("n_terms"),
        )
    )
    return hits.select(
        id_col, "n_hits", "n_terms", (F.col("n_hits") > 0).alias("is_blocked")
    )
