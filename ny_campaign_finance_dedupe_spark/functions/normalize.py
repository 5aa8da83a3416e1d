"""Text normalization — the "byte-identical extraction" contract.

Reference analogs (SURVEY.md §2.3): lowercase+trim on every field
(init_postgres_db.py:114-121), period strip (clean_donors.py:94-100),
address-abbreviation canonicalization with longest-form-wins
(clean_donors.py:53-91), whitespace collapse + punctuation strip that
``StringPredicate`` applies before every blocking key
(dedupe/predicates.py:76-82), and empty->NULL (init_postgres_db.py:114).

All of it is native Catalyst expressions (lower/trim/regexp_replace) so
normalization stays inside whole-stage codegen; determinism is trivial
because no Python executes per row. HTML->text extraction is the one
pandas UDF, and it is pure-Python/regex only (no version-drifting C
libs) so extracted ``text`` is byte-identical per ``url`` on every
executor (input_hint invariant).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# The reference's full 20-group address-abbreviation table, canonical
# form first (clean_donors.py:57-78 address_words, verbatim).
ABBREV_GROUPS: list[tuple[str, list[str]]] = [
    ("street", ["str", "st"]),
    ("avenue", ["ave"]),
    ("drive", ["dr"]),
    ("road", ["rd"]),
    ("suite", ["ste"]),
    ("lane", ["ln"]),
    ("boulevard", ["blvd"]),
    ("heights", ["hgts"]),
    ("highway", ["hwy"]),
    ("turnpike", ["tpke"]),
    ("terrace", ["terr"]),
    ("parkway", ["pkwy"]),
    ("place", ["plc", "pl"]),
    ("court", ["ct"]),
    ("route", ["rte"]),
    ("circle", ["cir"]),
    ("plaza", ["plz"]),
    ("extension", ["ext"]),
    ("square", ["sq"]),
    ("post office box", ["po box", "p o box"]),
]

# N5 org-name expansion (clean_donors.py:102-111 name_cleaning):
# most-specific-first so 'nyc' never half-matches as 'ny'+c.
ORG_EXPANSIONS: list[tuple[str, str]] = [
    ("nyc", "new york city"),
    ("nys", "new york state"),
    ("ny", "new york"),
]


def normalize_text(col: Column | str) -> Column:
    """lower -> strip punctuation -> collapse whitespace -> trim; '' -> NULL.

    Equivalent composition of init_postgres_db.py:114-121 (LOWER/TRIM/
    NULLIF), clean_donors.py:94-100 (period strip) and predicates.py:76-82
    (``\\W+`` split/rejoin). Applied identically at every use site so
    blocking keys and scoring features see the same bytes.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, r"[^\w\s]+", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    c = F.trim(c)
    return F.nullif(c, F.lit(""))


def _group_pattern(alts: list[str]) -> str:
    return r"\b(?:" + "|".join(sorted(alts, key=len, reverse=True)) + r")\b"


def canonicalize_abbrev(col: Column | str) -> Column:
    """Map every synonym to its longest form (clean_donors.py:57-95).

    Chain of word-boundary regexp_replace — native, order-stable,
    longest-alternative-first within each group so 'p o box' wins over
    'po'-prefix accidents. Mirrors the reference's guarded UPDATE
    (``AND street not like '%canonical%'``): a field already containing
    the canonical form is left untouched for that group. Apply to
    ALREADY-LOWERCASED text (the reference cleans processed_donors,
    which is lowercased at load, init_postgres_db.py:114-121).

    Shape: ONE ``F.aggregate`` fold over a literal (pattern, canonical)
    array — naively chaining 20 guarded ``when(contains).otherwise``
    steps nests the input 3^20 times (each step references it thrice)
    and OOMs the driver at plan build; the fold's lambda body is a
    single shared tree, so the plan stays linear in the group count."""
    c = F.col(col) if isinstance(col, str) else col
    groups = F.array(
        *[
            F.struct(
                F.lit(_group_pattern(alts)).alias("pat"),
                F.lit(canon).alias("canon"),
            )
            for canon, alts in ABBREV_GROUPS
        ]
    )
    return F.aggregate(
        groups,
        c,
        lambda acc, g: F.when(acc.contains(g["canon"]), acc).otherwise(
            F.regexp_replace(acc, g["pat"], g["canon"])
        ),
    )


def canonicalize_udf():
    """Arrow-batched UDF form of
    ``expand_org_names(canonicalize_abbrev(x))`` — THE form for
    dataframe pipelines.

    Why a UDF when the Catalyst fold exists: the 23-step guarded chain
    is optimizer-toxic in every native shape. As one Column fold it is
    a large expression that projection-collapse replicates into every
    downstream use; as a withColumn chain, Catalyst's CollapseProject
    spends MINUTES single-threaded deciding whether to merge the
    projects (measured 345 s of optimizer time on a 3k-page drive,
    jstack-confirmed in CollapseProject.mergeProjectExpressions). A
    pandas UDF is opaque: CollapseProject refuses to merge through it,
    the plan tree stays tiny, and the per-row work is ~23 precompiled
    re.sub calls behind a single combined-pattern gate. Pure stdlib
    `re` with re.ASCII (ntext is ASCII after normalize_text — Java's
    ASCII-only \\w already stripped anything else), so output is
    byte-identical to the Catalyst fold and the DuckDB CTE chain —
    pinned by test_canonicalize_udf_matches_fold."""
    import re

    gate = re.compile(any_abbrev_pattern(), re.ASCII)
    groups = [
        (canon, re.compile(_group_pattern(alts), re.ASCII))
        for canon, alts in ABBREV_GROUPS
    ]
    orgs = [
        (re.compile(rf"\b{abbr}\b", re.ASCII), full)
        for abbr, full in ORG_EXPANSIONS
    ]

    def one(s):
        if s is None or not gate.search(s):
            return s
        for canon, pat in groups:
            if canon in s:
                continue
            s = pat.sub(canon, s)
        for pat, full in orgs:
            s = pat.sub(full, s)
        return s

    def batch(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(one)

    return F.pandas_udf(batch, "string")


def any_abbrev_pattern() -> str:
    """One combined word-boundary alternation over every abbreviation the
    canonicalization fold could touch — a cheap single-regex gate: a page
    matching nothing is untouched by the fold (each group replace and
    each expansion is identity), so gating is semantics-preserving and
    skips ~23 interpreted regex passes on the (typical) clean page."""
    alts: list[str] = []
    for _, group_alts in ABBREV_GROUPS:
        alts.extend(group_alts)
    alts.extend(abbr for abbr, _ in ORG_EXPANSIONS)
    return r"\b(?:" + "|".join(sorted(alts, key=len, reverse=True)) + r")\b"


def expand_org_names(col: Column | str) -> Column:
    """N5 (clean_donors.py:102-111): nyc/nys/ny -> spelled-out forms,
    word-boundary, most-specific-first, unconditional (the reference's
    name_cleaning REPLACE has no canonical-form guard)."""
    c = F.col(col) if isinstance(col, str) else col
    for abbr, full in ORG_EXPANSIONS:
        c = F.regexp_replace(c, rf"\b{abbr}\b", full)
    return c


def sql_canonicalize_ctes(
    base: str, col: str = "t", prefix: str = "nrm"
) -> tuple[str, str]:
    """DuckDB twin of ``expand_org_names(canonicalize_abbrev(col))`` as a
    LINEAR chain of CTEs (one ``SELECT * REPLACE`` per synonym group —
    nesting the expression instead would grow 3^20). Returns
    (cte_fragment, final_cte_name); splice the fragment into a WITH list
    after ``base``."""
    parts = []
    prev = base
    i = 0
    for canon, alts in ABBREV_GROUPS:
        pat = _group_pattern(alts)
        name = f"{prefix}{i}"
        parts.append(
            f"{name} AS (SELECT * REPLACE ((CASE WHEN {col} LIKE '%{canon}%'"
            f" THEN {col} ELSE regexp_replace({col}, '{pat}', '{canon}', 'g')"
            f" END) AS {col}) FROM {prev})"
        )
        prev = name
        i += 1
    for abbr, full in ORG_EXPANSIONS:
        name = f"{prefix}{i}"
        parts.append(
            f"{name} AS (SELECT * REPLACE (regexp_replace({col},"
            f" '\\b{abbr}\\b', '{full}', 'g') AS {col}) FROM {prev})"
        )
        prev = name
        i += 1
    return ",\n".join(parts), prev


def empty_to_null(col: Column | str) -> Column:
    """CASE LOWER(TRIM(x)) WHEN '' THEN NULL (init_postgres_db.py:114-121)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.trim(c), F.lit(""))


def name_concat(*cols: Column | str) -> Column:
    """CONCAT_WS(' ', first, middle, last) (init_postgres_db.py:480-483)."""
    return F.concat_ws(" ", *[F.col(c) if isinstance(c, str) else c for c in cols])


# --- HTML -> text extraction (the graft's N7) --------------------------------

_TAG_RE = r"<[^>]*>"


def _extract_batch(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    import re

    tag = re.compile(_TAG_RE, re.S)
    ws = re.compile(r"\s+")
    for s in it:
        def one(b):
            if b is None:
                return None
            txt = tag.sub(" ", bytes(b).decode("utf-8", "replace"))
            return ws.sub(" ", txt).strip() or None

        yield s.map(one)


def extract_text_udf():
    """Arrow-batched pandas UDF: html binary -> extracted text.

    Pure stdlib (re) so every executor produces byte-identical output for
    the same input bytes — the input_hint per-row invariant. At 100 TB
    this runs once per page and is checkpointed (plans/pipeline.py), never
    recomputed downstream.
    """
    return F.pandas_udf(_extract_batch, "string")


def with_ntext(pages: DataFrame) -> DataFrame:
    """pages(text, html, ...) + ``ntext``: THE page-text chain that batch
    extract, the ingest content key and the crawl match all run — html
    fallback -> normalize_text -> gated N4 + N5 canonicalization.

    pandas-UDF arguments are evaluated unconditionally, so both UDF
    inputs are gated JVM-side: extraction sees html only where ``text``
    is null, canonicalize_udf only pages matching any_abbrev_pattern.
    ``_nt`` is its own projection so the normalize chain runs once for
    its three uses (gate, UDF argument, coalesce fallback)."""
    txt = F.coalesce(
        F.col("text"),
        extract_text_udf()(F.when(F.col("text").isNull(), F.col("html"))),
    )
    c = F.col("_nt")
    gated = canonicalize_udf()(F.when(c.rlike(any_abbrev_pattern()), c))
    return (
        pages.withColumn("_nt", normalize_text(txt))
        .withColumn("ntext", F.coalesce(gated, c))
        .drop("_nt")
    )


# URL canonicalization (web-pipeline dedup prefilter): params whose whole
# name matches are dropped before the query string is sorted. Shared by
# the Catalyst expression below and the DuckDB oracle mirror.
TRACKING_PARAM_RE = r"^(utm_[^=&]*|fbclid|gclid|msclkid|ref)(=.*)?$"
_SCHEME_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"


def canonical_url(col: Column | str) -> Column:
    """Canonical form of a web URL, as one pure Catalyst expression —
    the standard Common-Crawl-style URL dedup prefilter (exact dedup on
    canonical_url collapses scheme/host-case, www, default-port,
    trailing-slash, fragment, tracking-param, and query-order variants
    before any content hashing runs).

    Rules (each mirrored token-for-token in the url_dedup oracle SQL):
    scheme lowercased, http folded to https; host lowercased, leading
    ``www.`` and default ``:80``/``:443`` ports stripped; path keeps its
    case (case-sensitive per RFC 3986) but loses trailing slashes (root
    becomes empty); the fragment is dropped; query params drop tracking
    names (TRACKING_PARAM_RE), then sort lexicographically and rejoin.
    Non-URL strings (no ``scheme://``) pass through lower+trim.

    Whole-stage-codegen friendly: regexp + array ops only, no UDF — at
    10^12 rows this runs inside the scan projection.
    """
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    scheme = F.when(scheme == "http", F.lit("https")).otherwise(scheme)
    rest = F.regexp_replace(u, _SCHEME_RE, "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.regexp_replace(host, r":(80|443)$", "")
    tail = F.regexp_replace(rest, r"^[^/?#]*", "")
    nofrag = F.regexp_replace(tail, r"#.*$", "")
    path = F.regexp_extract(nofrag, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    query = F.regexp_extract(nofrag, r"\?(.*)$", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qs = F.array_join(params, "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)),
    )
    return F.when(u.rlike(_SCHEME_RE), canon).otherwise(F.lower(F.trim(u)))


# PII scrubbing (training-data compliance prefilter). Patterns are
# deliberately RE2-compatible (no lookaround/backrefs) so the DuckDB
# oracle applies the IDENTICAL strings; replacement order matters (ip
# before phone — the phone pattern would otherwise eat dotted quads).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
# whitespace spelled out, not \s: Java's \s includes vertical tab
# (\x0B), RE2's does not — the identical-pattern invariant must hold
# character-for-character on both engines (\t/\n/\f/\r are regex
# escapes both engines parse the same way)
PII_PHONE_RE = r"\+?[0-9][0-9().\t\n\f\r -]{6,}[0-9]"


def redact_pii(col: Column | str) -> Column:
    """Replace emails, IPv4 addresses, and phone-shaped digit runs with
    typed placeholders — the standard web-corpus PII scrub applied
    before text ships to training. One narrow regexp_replace chain
    (whole-stage codegen; runs inside the scan projection at 10^12
    rows); recall-oriented (a phone-shaped number that is not a phone
    still redacts) — the cheap, auditable tradeoff corpus pipelines
    make."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4_RE, "<IP>")
    c = F.regexp_replace(c, PII_PHONE_RE, "<PHONE>")
    return c
