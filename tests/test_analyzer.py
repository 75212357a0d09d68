"""Golden tests for the analyzer chain (SURVEY.md §2B B1-B7) and
three-way equivalence: pure Python == Spark expression == DuckDB SQL.

The analyzer is the engine's per-row invariant surface (per-turn text
equality under stable turn ordering), so these goldens freeze it.
"""
from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from planet_search_spark import analysis as A
from planet_search_spark.transcripts import synthesize_transcripts

# (raw, expected tokens) goldens covering every filter in the chain,
# the analogue of the reference's parameterized golden unit tests
# (OsmFeatureClassifierTest.java:34+, OsmNumberParserTest.java:15-40).
GOLDENS = [
    # B1 niqqud removal (ElasticsearchHelper.java:74-78)
    ("שָׁלוֹם", ["שלום"]),
    ("ירוּשָׁלַיִם", ["ירושלים"]),
    # B2 doubled vav/yod fold — doubled ONLY (ElasticsearchHelper.java:79-88)
    ("וואדי", ["ואדי"]),
    ("מיים", ["מים"]),
    ("ואדי", ["ואדי"]),          # single vav untouched
    ("וווו", ["וו"]),            # single-pass non-overlapping replace: 4→2
    # B3 apostrophes (ElasticsearchHelper.java:89-93)
    ("Pike's", ["pikes"]),
    ("O’Brien", ["obrien"]),
    ("ʼokina", ["okina"]),
    # B4 standard tokenizer: [\p{L}\p{N}]+ runs
    ("foo_bar baz-qux 3.14", ["foo", "bar", "baz", "qux", "3", "14"]),
    ("", []),
    ("   ", []),
    ("!!!", []),
    # B5 asciifolding + lowercase
    ("café NAÏVE Müller", ["cafe", "naive", "muller"]),
    ("STRASSE straße", ["strasse", "strasse"]),
    ("Ærø Œuvre", ["aero", "oeuvre"]),
    ("Łódź", ["lodz"]),
    # non-Latin scripts pass through lowercased
    ("Ωμέγα ПРИВЕТ مرحبا", ["ωμέγα", "привет", "مرحبا"]),
    # mixed
    ("The QUICK brown_fox 42x", ["the", "quick", "brown", "fox", "42x"]),
]


@pytest.mark.parametrize("raw,expected", GOLDENS)
def test_py_tokens_golden(raw, expected):
    assert A.py_tokens(raw) == expected


def test_py_keyword():
    assert A.py_keyword("Hello,  World!") == "hello world"
    assert A.py_keyword("") == ""


def test_edge_ngrams():
    assert A.py_edge_ngrams("spark") == ["sp", "spa", "spar", "spark"]
    assert A.py_edge_ngrams("a") == []
    assert A.py_edge_ngrams("x" * 20) == ["x" * i for i in range(2, 16)]


def test_spark_expr_matches_python(spark):
    texts = [g[0] for g in GOLDENS] + ["שָׁלוֹם וואדי Pike's café 42"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select("text", A.tokens_col(F.col("text")).alias("tok"),
                    A.keyword_col(F.col("text")).alias("kw")).collect()
    for row in got:
        assert list(row.tok) == A.py_tokens(row.text), row.text
        assert row.kw == A.py_keyword(row.text), row.text


def test_duckdb_sql_matches_python():
    texts = [g[0] for g in GOLDENS]
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"text": texts}))
    got = con.sql(f"SELECT text, {A.sql_tokens_expr('text')} AS tok, "
                  f"{A.sql_keyword_expr('text')} AS kw FROM t").df()
    for _, r in got.iterrows():
        assert list(r.tok) == A.py_tokens(r.text), r.text
        assert r.kw == A.py_keyword(r.text), r.text


def test_threeway_on_synthetic_corpus(spark):
    """Adversarial seed-stable corpus: Spark == Python == DuckDB."""
    tx = synthesize_transcripts(spark, n_convs=20)
    pdf = tx.select("text", A.tokens_col(F.col("text")).alias("tok")).toPandas()
    con = duckdb.connect()
    con.register("t", pdf[["text"]])
    duck = con.sql(f"SELECT {A.sql_tokens_expr('text')} AS tok FROM t").df()
    for i in range(len(pdf)):
        py = A.py_tokens(pdf.text[i])
        assert list(pdf.tok[i]) == py
        assert list(duck.tok[i]) == py


def test_edge_ngrams_col_matches_python(spark):
    toks = ["spark", "a", "xy", "x" * 20, "prefix"]
    df = spark.createDataFrame([(t,) for t in toks], "tok string")
    got = df.select("tok", A.edge_ngrams_col(F.col("tok")).alias("g")).collect()
    for row in got:
        assert list(row.g) == A.py_edge_ngrams(row.tok)
