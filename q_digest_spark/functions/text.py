"""Text analysis functions for web-scale document pipelines.

The reference repo has no text layer at all (its input is a synthetic
int array, /root/reference/mpi-implementation/src/main.c:31-39); these
functions exist because BASELINE.json's input_hint makes the engine's
primary input a Common-Crawl-style pages table and requires
"byte-identical extracted text per url".

Design split:
- anything expressible with built-in pyspark.sql.functions stays
  JVM-side (whole-stage codegen): domain_of, token_count,
  content_fingerprint (md5), quality counters;
- extract_text / lang_id are Arrow-batched pandas UDFs
  operating on whole Series with vectorized pandas .str ops — no
  per-row Python loops.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F, types as T

# ----------------------------------------------------------- extract_text
# Deterministic by construction: a fixed, ordered regex pipeline with no
# locale/environment dependence. Pinned by golden SHA-256 in tests
# (BASELINE.md target "byte-identical extract_text(html) per url").
_SCRIPT_RE = re.compile(r"(?is)<(script|style|noscript)\b.*?</\1>")
_COMMENT_RE = re.compile(r"(?s)<!--.*?-->")
_BLOCK_RE = re.compile(
    r"(?i)</?(p|div|br|li|ul|ol|h[1-6]|tr|td|th|table|section|article|header|footer|nav|blockquote)\b[^>]*>"
)
_TAG_RE = re.compile(r"(?s)<[^>]+>")
# whitespace normalization (see _normalize_ws): equivalent to the
# original _WS_RE -> " ?\n ?" -> _NL_RE regex sequence but built from
# C-speed str.translate/split/join — the regex passes spent most of
# their time failing at every single space
_HTRANS = str.maketrans({"\t": " ", "\r": " ", "\f": " ", "\v": " "})

_ENTITIES = {
    "&amp;": "&",
    "&lt;": "<",
    "&gt;": ">",
    "&quot;": '"',
    "&#39;": "'",
    "&apos;": "'",
    "&nbsp;": " ",
}
# single-pass, NON-recursive entity decode. This differs from a
# sequential per-entity replace loop on nested escapes: '&amp;lt;'
# decodes to '&lt;' here (the HTML-correct reading), where sequential
# replacement would double-decode it to '<'. Intentional; the golden
# hashes pin this behavior.
_ENTITY_RE = re.compile("|".join(re.escape(e) for e in _ENTITIES))


def _normalize_ws(x: str) -> str:
    """Collapse every whitespace run: runs containing a newline become
    one "\\n", horizontal runs one " ", blank(-ish) lines vanish —
    the semantics of the historical _WS_RE / " ?\\n ?" / _NL_RE regex
    sequence (segments of only unicode whitespace count as blank, as
    _NL_RE's \\s did), at str.translate/split/join speed."""
    x = x.translate(_HTRANS)
    segs = []
    for part in x.split("\n"):
        cleaned = " ".join(t for t in part.split(" ") if t) if " " in part else part
        if cleaned and not cleaned.isspace():
            segs.append(cleaned)
    return "\n".join(segs)


def extract_text_series(html: pd.Series) -> pd.Series:
    """Vectorized HTML -> text: drop script/style/comments, turn block
    tags into newlines, strip remaining tags, decode the common
    entities, normalize whitespace. Deterministic; pure function of
    the input bytes."""
    s = html
    if len(s) and isinstance(s.iloc[0], (bytes, bytearray)):
        s = s.map(lambda b: b.decode("utf-8", "replace") if b is not None else None)
    s = s.astype("string")
    s = s.str.replace(_SCRIPT_RE, " ", regex=True)
    s = s.str.replace(_COMMENT_RE, " ", regex=True)
    s = s.str.replace(_BLOCK_RE, "\n", regex=True)
    s = s.str.replace(_TAG_RE, " ", regex=True)
    s = s.str.replace(_ENTITY_RE, lambda m: _ENTITIES[m.group()], regex=True)
    s = s.map(_normalize_ws, na_action="ignore")
    return s.str.strip().astype(object)


@F.pandas_udf(T.StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return extract_text_series(html)


# ------------------------------------------------------------- built-ins
def domain_of(url) -> Column:
    """Registrable host part of a url — pure built-in regexp (JVM)."""
    c = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(c, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1))


def token_count(text) -> Column:
    """Whitespace token count, JVM-side; matches DuckDB
    len(list_filter(string_split_regex(text,'\\s+'), x -> x != ''))."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(c, r"\s+"), lambda x: x != F.lit("")))


def content_fingerprint(text) -> Column:
    """Deterministic content fingerprint both engines can compute:
    md5 of whitespace-normalized, lower-cased text."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.md5(norm)


# BPE-ish token estimate: alternating letter-runs / digit-runs /
# single punctuation, the common pre-tokenizer shape.
_BPEISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpeish_token_count(text) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(_BPEISH), 0))


# ------------------------------------------------------------- quality
def quality_flags(text) -> Column:
    """Integer-threshold quality filter (Gopher-style rules reduced to
    integer counts so the oracle reproduces them exactly):
    pass = n_chars in [64, 100000] and token_count >= 16 and
    alnum_chars * 2 >= n_chars."""
    c = F.col(text) if isinstance(text, str) else text
    n_chars = F.length(c)
    n_alnum = F.length(F.regexp_replace(c, r"[^A-Za-z0-9]", ""))
    return (
        n_chars.between(64, 100000)
        & (token_count(c) >= 16)
        & (n_alnum * 2 >= n_chars)
    )


# ----------------------------------------------------------- redaction
# PII scrub — the standard training-data pipeline stage before text
# ships to a tokenizer. Patterns are deliberately dialect-identical
# (explicit classes, no \s/\b/lookaround) so the SAME string runs in
# Java regex (Spark, JVM-side regexp_replace) and RE2 (DuckDB oracle).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"[0-9]{1,3}(\.[0-9]{1,3}){3}"
PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(text) -> Column:
    """Replace emails, dotted-quad IPs, and NNN-NNN-NNNN phones with
    typed placeholder tokens; JVM-side regexp_replace (replaces every
    occurrence — note DuckDB needs the 'g' flag for parity)."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, PII_EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4, "<IP>")
    c = F.regexp_replace(c, PII_PHONE, "<PHONE>")
    return c


def pii_counts(text, pattern: str) -> Column:
    """Occurrences of one PII pattern (JVM regexp_extract_all; DuckDB
    mirror: len(regexp_extract_all(text, pattern)))."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(pattern), 0))


# -------------------------------------------------------------- lang id
# Tiny stopword inventories; enough signal for the synthetic fixture.
# Scoring is token membership after stripping leading/trailing
# punctuation (tokens split on the explicit whitespace class
# _WS_CLASS), so stopwords adjacent to punctuation — 'the,' '(the'
# — still score on real corpora, and a SQL engine reproduces the
# argmax bit-for-bit: DuckDB
#   len(list_filter(string_split_regex(lower(text),'[ \t\n\r\f]+'),
#                   x -> list_contains([...], trim(x, '<punct>'))))
# computes the identical per-lang score (trim strips any chars of the
# set from both ends, exactly what the [punct]* regex wings consume).
# An explicit class (not \s) because Java regex \s and RE2 \s
# disagree on \x0B and Unicode spaces; an explicit punctuation set
# (not \p{Punct}) for the same dialect-portability reason.
_WS_CLASS = r"[ \t\n\r\f]"
_PUNCT_CHARS = ".,;:!?\"'()[]{}<>«»-"
_PUNCT_CLASS = "[" + "".join("\\" + c for c in _PUNCT_CHARS) + "]"
_LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von", "zu"],
    "it": ["il", "di", "che", "la", "per", "una", "sono", "con", "non", "del"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que", "avec"],
    "es": ["el", "la", "los", "que", "una", "por", "con", "para", "las", "es"],
    "pt": ["o", "de", "que", "uma", "para", "com", "os", "das", "mais", "por"],
}
_LANGS = list(_LANG_STOPWORDS)


def _lang_scores(text: pd.Series) -> np.ndarray:
    """(n_rows, n_langs) token stopword-hit matrix, vectorized via
    pandas str.count per language (one regex pass per language, not
    per row). A hit = a whitespace-delimited token equal to a
    stopword after stripping leading/trailing _PUNCT_CHARS — the
    (?:^|ws)punct*word punct*(?=$|ws) pattern counts exactly the
    tokens list_contains(trim(x)) would, including adjacent
    stopwords (the trailing boundary is a non-consuming
    lookahead)."""
    t = text.astype("string").str.lower().fillna("")
    scores = np.zeros((len(t), len(_LANGS)), dtype=np.int64)
    for j, lang in enumerate(_LANGS):
        alt = "|".join(_LANG_STOPWORDS[lang])
        pat = (
            rf"(?:^|{_WS_CLASS}){_PUNCT_CLASS}*(?:{alt})"
            rf"{_PUNCT_CLASS}*(?=$|{_WS_CLASS})"
        )
        scores[:, j] = t.str.count(pat).to_numpy(dtype=np.int64, na_value=0)
    return scores


@F.pandas_udf(T.StringType())
def lang_id(text: pd.Series) -> pd.Series:
    """N-gram-heuristic language id: argmax of stopword hits; 'other'
    when nothing matches."""
    scores = _lang_scores(text)
    best = scores.argmax(axis=1)
    hit = scores.max(axis=1) > 0
    out = np.where(hit, np.array(_LANGS, dtype=object)[best], "other")
    return pd.Series(out, dtype=object)


# ------------------------------------------------ shared normalization
def norm_ws(col):
    """THE canonical whitespace/lower normalization every dual-sided
    (Spark + DuckDB oracle) tokenizer shares: lower, collapse the
    explicit class [ \t\n\r\f]+ to one space, trim. Defined ONCE so
    the two consumers (operators/contamination.py, operators/tfidf.py)
    and their generated SQL mirrors cannot drift — the SQL form is
    trim(regexp_replace(lower(x), '[ \t\n\r\f]+', ' ', 'g'))."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[ \t\n\r\f]+", " "))


# ------------------------------------------------------ repetition stats
def line_repetition_stats(df, text_col: str, id_col: str):
    """Per-document line-repetition statistics — the Gopher-style
    repetition filters (public methodology: Rae et al. 2021 §A1.1)
    reduced to exact integer counts both engines compute identically:
    n_lines (non-empty, whitespace-trimmed), n_distinct_lines, and
    top_line_n (occurrences of the most frequent line, ties
    irrelevant to the count). Boilerplate-heavy docs show
    n_distinct << n_lines or a dominant top line.

    One explode + two aggregations, all JVM; returns
    (id, n_lines, n_distinct_lines, top_line_n)."""
    lines = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), "\n")).alias("line"),
        )
        .select("id", F.trim(F.col("line")).alias("line"))
        .where(F.col("line") != "")
    )
    per_line = lines.groupBy("id", "line").agg(F.count(F.lit(1)).alias("c"))
    return per_line.groupBy("id").agg(
        F.sum("c").alias("n_lines"),
        F.count(F.lit(1)).alias("n_distinct_lines"),
        F.max("c").alias("top_line_n"),
    )


def repetition_flags(df, text_col: str, id_col: str, max_dup_line_frac: float = 0.3):
    """(id, keep boolean): drop documents whose duplicate-line
    fraction (n_lines - n_distinct) / n_lines exceeds the bound —
    exact-integer comparison (n_lines - n_distinct) * 1000 >
    n_lines * round(1000 * frac) so the SQL mirror is bit-identical.
    The threshold resolves to 1/1000 (0.25 -> 250, 0.333 -> 333);
    finer fractions quantize to the nearest per-mille."""
    scale = int(round(max_dup_line_frac * 1000))
    st = line_repetition_stats(df, text_col, id_col)
    return st.select(
        "id",
        (
            (F.col("n_lines") - F.col("n_distinct_lines")) * 1000
            <= F.col("n_lines") * scale
        ).alias("keep"),
    )


# --------------------------------------------------------- url canonical
# tracking-parameter names stripped by canonical_url (one shared list,
# the SQL mirror is generated from it)
URL_TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "utm_term",
                       "utm_content", "gclid", "fbclid", "ref")


def canonical_url(url) -> Column:
    """Crawl-dedup URL canonicalization, pure JVM regexp: lowercase
    scheme+host, drop the fragment, strip common tracking query
    params (URL_TRACKING_PARAMS), drop an empty trailing '?', and
    remove a trailing '/' from a path. Deterministic and
    dialect-identical (explicit classes only) so a SQL engine
    reproduces it byte-for-byte."""
    c = F.col(url) if isinstance(url, str) else url
    # lowercase scheme://host (everything up to the path/query/frag)
    scheme_host = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"
    c = F.concat(
        F.lower(F.regexp_extract(c, scheme_host, 1)),
        F.regexp_replace(c, scheme_host, ""),
    )
    c = F.regexp_replace(c, r"#.*$", "")  # fragment
    alt = "|".join(URL_TRACKING_PARAMS)
    # RUN of tracking params mid-query (the +-quantified group eats
    # consecutive ones — 'utm_source=a&utm_medium=b&' — in one match;
    # a non-run pattern would skip every second param because the
    # scan resumes after each match)
    c = F.regexp_replace(c, r"([?&])(?:(?:" + alt + r")=[^&#]*&)+", r"$1")
    # tracking param at end of query
    c = F.regexp_replace(c, r"[?&](?:" + alt + r")=[^&#]*$", "")
    c = F.regexp_replace(c, r"\?$", "")
    # trailing slash of a non-root path only ('http://a.b/' keeps its
    # root slash: the pattern needs >=1 path char between host and /)
    c = F.regexp_replace(c, r"(://[^/]+/.+)/$", r"$1")
    return c
