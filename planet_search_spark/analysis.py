"""Text analysis chain — the engine's invariant surface.

Re-implements, from scratch and Spark-first, the semantics of the
reference's Elasticsearch analyzer chain (planet-search
``ElasticsearchHelper.java:72-127``):

* char_filter ``hebrew_niqqud``      — delete niqqud marks ``[\\u05B0-\\u05C7]``
  (``ElasticsearchHelper.java:74-78``)
* char_filter ``hebrew_matres_vav``/``_yod`` — fold doubled ``וו``→``ו`` and
  ``יי``→``י`` (doubled only; ``ElasticsearchHelper.java:79-88``)
* char_filter ``latin_apostrophes``  — delete ``' ‘ ’ ʼ``
  (``ElasticsearchHelper.java:89-93``)
* tokenizer ``standard``             — Unicode word segmentation
  (``ElasticsearchHelper.java:101``); frozen here as runs of ``[\\p{L}\\p{N}]+``
* token filters ``asciifolding`` + ``lowercase``
  (``ElasticsearchHelper.java:97,102``) — via an explicit, frozen 1:1
  ``translate`` character map plus a few multi-char folds (ß→ss, æ→ae, œ→oe)
* ``universal_normalizer`` keyword   — whole-string normalize, no tokenization
  (``ElasticsearchHelper.java:94-97``); frozen here as the space-join of tokens
* ``edge_ngram_2_15`` prefix field   — index-time edge n-grams, min 2 max 15
  (``ElasticsearchHelper.java:115-127``); the search analyzer omits it

Two equivalent implementations, golden-tested against each other:

1. :func:`py_tokens` / :func:`py_keyword` — pure Python, used on the driver
   for query-string analysis (tiny input); :func:`py_kw_hash` is the
   exact-match hash both query paths look up.
2. :func:`tokens_col` / :func:`keyword_col` — native Spark Column
   expressions (JVM-side, whole-stage-codegen; the fast path for the index
   build — zero Python in the hot loop).

Plus :func:`sql_tokens_expr` / :func:`sql_keyword_expr` which emit the exact
same chain as ANSI/DuckDB SQL, so the driver's DuckDB oracle applies the
identical frozen analyzer. Every piece of the chain uses only functions with
identical semantics in Spark SQL and DuckDB (``regexp_replace``, ``replace``,
``lower``, ``translate``, ``regexp_extract_all``).
"""
from __future__ import annotations

import hashlib
import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Frozen constants
# ---------------------------------------------------------------------------

NIQQUD_RE = "[ְ-ׇ]"          # Hebrew points incl. shin/sin dots
DOUBLE_VAV = "וו"            # וו
SINGLE_VAV = "ו"
DOUBLE_YOD = "יי"            # יי
SINGLE_YOD = "י"
APOSTROPHES = "['‘’ʼ]"  # ' ‘ ’ ʼ
TOKEN_RE = r"[\p{L}\p{N}]+"            # same semantics in Java regex & RE2

# Edge n-gram bounds (ElasticsearchHelper.java:115-117)
EDGE_NGRAM_MIN = 2
EDGE_NGRAM_MAX = 15

# Multi-char ascii folds applied after lowercase (1:N, can't go in translate)
MULTI_FOLDS = [("ß", "ss"), ("æ", "ae"), ("œ", "oe")]


def _build_translate_map() -> tuple[str, str]:
    """Frozen 1:1 asciifold map: NFKD base letters for U+00C0..U+024F plus
    manual entries for non-decomposable letters. Computed once; the result is
    a pure data constant shared verbatim by the Spark and DuckDB expressions,
    so both engines fold identically by construction."""
    src, dst = [], []
    for cp in range(0x00C0, 0x0250):
        ch = chr(cp)
        decomp = unicodedata.normalize("NFKD", ch)
        base = "".join(c for c in decomp if not unicodedata.combining(c))
        if len(base) == 1 and base.isascii() and base.isalpha():
            src.append(ch)
            dst.append(base)
    for ch, base in [("ø", "o"), ("Ø", "O"), ("đ", "d"),
                     ("Đ", "D"), ("ł", "l"), ("Ł", "L"),
                     ("ð", "d"), ("Ð", "D")]:
        if ch not in src:
            src.append(ch)
            dst.append(base)
    return "".join(src), "".join(dst)


FOLD_FROM, FOLD_TO = _build_translate_map()

# ---------------------------------------------------------------------------
# 1. Pure-Python analyzer (driver-side query analysis; golden reference)
# ---------------------------------------------------------------------------

_PY_NIQQUD = re.compile(NIQQUD_RE)
_PY_APOS = re.compile(APOSTROPHES)
_PY_FOLD = str.maketrans(FOLD_FROM, FOLD_TO)


def py_normalize(text: str) -> str:
    """Char filters + lowercase + asciifold on a whole string (pre-token)."""
    s = _PY_NIQQUD.sub("", text)
    s = s.replace(DOUBLE_VAV, SINGLE_VAV).replace(DOUBLE_YOD, SINGLE_YOD)
    s = _PY_APOS.sub("", s)
    s = s.lower()
    for a, b in MULTI_FOLDS:
        s = s.replace(a, b)
    return s.translate(_PY_FOLD)


def py_tokens(text: str) -> list[str]:
    """Full analyzer: normalized token stream (positions = list index).

    Tokenization is a manual category scan over ``[\\p{L}\\p{N}]+`` runs --
    combining marks (\\p{M}) break tokens, exactly as in Java regex and RE2
    (Python's ``\\w`` would include marks, so no regex here).
    """
    if text is None:
        return []
    out: list[str] = []
    cur: list[str] = []
    for ch in py_normalize(text):
        if unicodedata.category(ch)[0] in ("L", "N"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def py_keyword(text: str) -> str:
    """Normalized keyword: space-join of tokens (exact-match surface)."""
    return " ".join(py_tokens(text))


def py_kw_hash(text: str) -> str:
    """md5 hex of :func:`py_keyword`: the ``kw_hash`` a query matches in
    ``doc_store`` (the build hashes the same space-join of its tokens)."""
    return hashlib.md5(py_keyword(text).encode()).hexdigest()


def py_edge_ngrams(token: str) -> list[str]:
    """Edge n-grams 2..15 of one token (index-time prefix field, B7)."""
    n = len(token)
    return [token[:i] for i in range(EDGE_NGRAM_MIN, min(n, EDGE_NGRAM_MAX) + 1)]


# ---------------------------------------------------------------------------
# 2. Native Spark Column expressions (JVM, codegen — the hot path)
# ---------------------------------------------------------------------------


def normalize_col(col: Column) -> Column:
    c = F.regexp_replace(col, NIQQUD_RE, "")
    c = F.replace(c, F.lit(DOUBLE_VAV), F.lit(SINGLE_VAV))
    c = F.replace(c, F.lit(DOUBLE_YOD), F.lit(SINGLE_YOD))
    c = F.regexp_replace(c, APOSTROPHES, "")
    c = F.lower(c)
    for a, b in MULTI_FOLDS:
        c = F.replace(c, F.lit(a), F.lit(b))
    return F.translate(c, FOLD_FROM, FOLD_TO)


def tokens_col(col: Column) -> Column:
    """ArrayType(String) of analyzed tokens — pure JVM expressions."""
    return F.regexp_extract_all(normalize_col(col), F.lit(TOKEN_RE), 0)


def keyword_col(col: Column) -> Column:
    return F.array_join(tokens_col(col), " ")


def edge_ngrams_col(token_col: Column) -> Column:
    """Array of edge n-grams (2..15) for one token column."""
    return F.when(
        F.length(token_col) >= EDGE_NGRAM_MIN,
        F.transform(
            F.sequence(F.lit(EDGE_NGRAM_MIN),
                       F.least(F.length(token_col), F.lit(EDGE_NGRAM_MAX))),
            lambda i: token_col.substr(F.lit(1), i),
        ),
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# 3. DuckDB/ANSI SQL emitters (oracle side — same frozen chain)
# ---------------------------------------------------------------------------


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def sql_normalize_expr(col: str) -> str:
    # NB: raw characters, not \uXXXX escapes — DuckDB string literals do not
    # interpret backslash escapes.
    c = f"regexp_replace({col}, {_sql_quote(NIQQUD_RE)}, '', 'g')"
    c = f"replace({c}, {_sql_quote(DOUBLE_VAV)}, {_sql_quote(SINGLE_VAV)})"
    c = f"replace({c}, {_sql_quote(DOUBLE_YOD)}, {_sql_quote(SINGLE_YOD)})"
    c = f"regexp_replace({c}, {_sql_quote(APOSTROPHES)}, '', 'g')"
    c = f"lower({c})"
    for a, b in MULTI_FOLDS:
        c = f"replace({c}, {_sql_quote(a)}, {_sql_quote(b)})"
    return f"translate({c}, {_sql_quote(FOLD_FROM)}, {_sql_quote(FOLD_TO)})"


def sql_tokens_expr(col: str) -> str:
    return f"regexp_extract_all({sql_normalize_expr(col)}, '[\\p{{L}}\\p{{N}}]+')"


def sql_keyword_expr(col: str) -> str:
    # coalesce: DuckDB returns NULL (not '') when the token array is empty
    return f"coalesce(array_to_string({sql_tokens_expr(col)}, ' '), '')"
