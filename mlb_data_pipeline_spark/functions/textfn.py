"""Text scalar functions (SURVEY §2.6) — all JVM-side built-ins.

Covers the reference's string surface: cleanup regexes for TTS text
(reference ``pipeline.py:268-281``), dictionary replacement
(``config.py:224-233``), key:value extraction from semi-structured text
(``orchestrator.py:218-247``), tokenization and heuristics for the
north-star text-analysis operators. Everything compiles into whole-stage
codegen except the Unicode-hygiene section at the bottom — Spark has no
built-in Unicode normalizer, so NFC/mojibake are Arrow-vectorized pandas
UDFs (the documented exception, never row-at-a-time).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# Whitespace tokenizer — the canonical token table builder (T17).
TOKEN_SPLIT_RE = r"\s+"

# A BPE-ish subword proxy: split on non-alphanumerics, then count
# 4-char chunks; cheap deterministic stand-in for a real tokenizer.
WORD_RE = r"[A-Za-z0-9]+"


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), TOKEN_SPLIT_RE)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Approximate subword count: ceil(len(word)/4) summed over words.

    Computed as the COUNT of greedy 1-4-char word chunks: a maximal
    ``[A-Za-z0-9]+`` run of length L tokenizes under ``{1,4}`` greedy
    matching into exactly ceil(L/4) pieces (floor(L/4) full chunks plus
    one remainder chunk iff L % 4), so ``size(regexp_extract_all(..))``
    is the identical integer to the per-word ceil sum — without the
    ``aggregate`` higher-order lambda, which Catalyst evaluates
    INTERPRETED per array element (guide §4.1: prefer codegen'd
    built-ins). Equality is pinned on crafted edges and whole-corpus
    sweeps in tests; NULL input stays NULL through both forms."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z0-9]{1,4}"), 0))


def clean_tts_lines(col: Column | str) -> Column:
    """Reference TTS cleanup semantics (pipeline.py:268-281): drop
    horizontal-rule lines of 3+ ``* - _ =`` chars, collapse blank runs."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    kept = F.filter(lines, lambda ln: ~ln.rlike(r"^[*\-_=]{3,}\s*$"))
    return F.array_join(F.filter(kept, lambda ln: F.length(F.trim(ln)) > 0), "\n")


def dict_replace(col: Column | str, mapping: dict[str, str]) -> Column:
    """Chained literal replacement (config.py:224-233 format_replacements)."""
    c = F.col(col) if isinstance(col, str) else col
    for k, v in mapping.items():
        c = F.replace(c, F.lit(k), F.lit(v))
    return c


# Reference spoken-form replacements (config.py:224-233
# format_replacements; same dict in the evident-intent full TTS cleanup,
# pipeline.py:238-249) plus the ordinal rule (\d+)(st|nd|rd|th)
# (pipeline.py:256-258). Insertion order matters: "vs." before "vs".
TTS_SPOKEN_FORMS = {
    "MLB": "M L B",
    "HR": "home run",
    "RBI": "R B I",
    "ERA": "E R A",
    "AL": "A L",
    "NL": "N L",
    "vs.": "versus",
    "vs": "versus",
}

ORDINAL_RE = r"(\d+)(st|nd|rd|th)"


def _bounded(term: str) -> str:
    """Regex for a whole-term occurrence: word boundaries where the term
    edge is a word char (the reference approximates this by replacing
    ' term ' — boundaries are the intent without eating the spaces).
    ``\\b`` after a trailing '.' never matches, so 'vs.' gets no
    trailing boundary. Same regex dialect in Spark (Java) and DuckDB
    (RE2): plain \\b, escaped literals."""
    pat = re.escape(term)
    if term[0].isalnum():
        pat = r"\b" + pat
    if term[-1].isalnum():
        pat = pat + r"\b"
    return pat


def expand_ordinals(col: Column | str) -> Column:
    """'3rd' -> '3 rd' (pipeline.py:256-258): spacing the suffix makes
    TTS engines read the number and suffix separately."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, ORDINAL_RE, "$1 $2")


def tts_spoken_form(col: Column | str, mapping: dict[str, str] | None = None) -> Column:
    """Full TTS spoken-form pass: word-boundary abbreviation expansion
    (T5 over ``TTS_SPOKEN_FORMS``) chained with ordinal spacing."""
    c = F.col(col) if isinstance(col, str) else col
    # `is None`, not falsy: an explicitly-passed {} means "no replacements"
    for term, spoken in (TTS_SPOKEN_FORMS if mapping is None else mapping).items():
        c = F.regexp_replace(c, _bounded(term), spoken)
    return expand_ordinals(c)


def tts_spoken_form_sql(expr: str, mapping: dict[str, str] | None = None) -> str:
    """DuckDB mirror of ``tts_spoken_form`` for oracle SQL: identical
    patterns, identical chain order, 'g' flag (Spark replaces all
    occurrences by default; DuckDB needs the flag)."""
    for term, spoken in (TTS_SPOKEN_FORMS if mapping is None else mapping).items():
        expr = f"regexp_replace({expr}, '{_bounded(term)}', '{spoken}', 'g')"
    return f"regexp_replace({expr}, '{ORDINAL_RE}', '\\1 \\2', 'g')"


def extract_field(col: Column | str, label: str) -> Column:
    """``Topic: xyz`` style key:value extraction (orchestrator.py:218-247)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, rf"{label}:\s*([^\n]*)", 1)


# --- URL curation (Common-Crawl-style corpus hygiene) ---------------------
#
# The reference keys its vector store by raw article URL
# (pipeline.py:69 id=url), which makes http/https, www., trailing-slash
# and fragment variants of the SAME page distinct documents — the
# classic URL-dedup failure. Normalization below is the standard
# pretraining-pipeline form; patterns are anchored or single-match, so
# Spark's replace-all and DuckDB's replace-first semantics agree, and
# the chain is mirrored verbatim in q27's oracle SQL
# (plans/curation_queries.py).

_URL_STEPS = [
    (r"#.*$", ""),         # fragment
    (r"^https?://", ""),   # scheme
    (r"^www\.", ""),       # www prefix
    (r"/$", ""),           # trailing slash
]


def normalize_url(col: Column | str) -> Column:
    """Canonical page key: lowercase, fragment/scheme/www/trailing-slash
    stripped. Query strings are KEPT (they select content on many
    sites; dropping them is a site-specific policy, not a default)."""
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    for pat, repl in _URL_STEPS:
        c = F.regexp_replace(c, pat, repl)
    return c


def url_domain(col: Column | str) -> Column:
    """Host of a normalized URL (everything before the first '/', minus
    any :port). This is the HOST, not the registrable domain — public-
    suffix-list reduction is policy data, not engine logic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.regexp_extract(c, r"^([^/]+)", 1), r":\d+$", "")


# ---------------------------------------------------------------------------
# Unicode hygiene (round 7): NFC normalization + mojibake repair. Spark
# has no built-in Unicode normalizer, so this is one of the few
# legitimate Python-kernel spots — Arrow-vectorized pandas UDFs, never
# row-at-a-time. DuckDB's nfc_normalize() oracles the NFC path
# bit-for-bit (r17); mojibake repair has no SQL mirror and is pinned by
# pytest round-trips instead.
# ---------------------------------------------------------------------------


@F.pandas_udf(StringType())
def nfc_normalize(s: pd.Series) -> pd.Series:
    """Unicode NFC normalization (canonical composition) — the first
    pass of any multilingual corpus cleanup: decomposed e+COMBINING
    ACUTE and precomposed é must dedup/tokenize/hash identically."""
    import unicodedata

    return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else None)


@F.pandas_udf(StringType())
def fix_mojibake(s: pd.Series) -> pd.Series:
    """Repair the classic double-encoding (UTF-8 bytes re-decoded as
    Latin-1/cp1252, e.g. 'Ã©' for 'é'): re-encode as Latin-1 and decode
    as UTF-8 when that round-trip succeeds AND the result survives the
    reverse check (so plain Latin-1 text that merely LOOKS re-encodable
    is left alone unless it decodes cleanly). Idempotent on clean text:
    clean ASCII re-encodes to itself, and genuine non-ASCII text fails
    the Latin-1 encode or the UTF-8 decode and passes through."""

    def fix(x):
        if x is None:
            return None
        try:
            repaired = x.encode("latin-1").decode("utf-8")
        except (UnicodeEncodeError, UnicodeDecodeError):
            return x
        return repaired

    return s.map(fix)
