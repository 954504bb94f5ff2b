"""Analyzer parity: pure-Python spec == Spark JVM exprs.

Mirrors the reference analyzer golden tests
(test/Lucene.Net.Test/Analysis/TestStandardAnalyzer.cs style)."""

import pytest
from pyspark.sql import functions as F

from lucenenet_spark.analysis import tokenizers as tk
from lucenenet_spark.analysis import exprs
from lucenenet_spark.sources.corpus import gen_corpus_rows


def test_stop_set_is_exact_reference_list():
    # src/Lucene.Net/Analysis/StopAnalyzer.cs:134
    assert len(tk.ENGLISH_STOP_WORDS) == 33
    assert "the" in tk.ENGLISH_STOP_WORDS
    assert "into" in tk.ENGLISH_STOP_WORDS
    assert "search" not in tk.ENGLISH_STOP_WORDS


def test_standard_tokenizer_positions_have_holes():
    # "words of the world": stopwords `of`/`the` occupy positions 1,2
    toks = tk.tokenize_standard("words of the world")
    assert toks == [("words", 0), ("world", 3)]


def test_standard_tokenizer_golden():
    assert tk.tokenize_standard("The Quick-Brown FOX2; jumps") == [
        ("quick", 1), ("brown", 2), ("fox2", 3), ("jumps", 4),
    ]
    assert tk.tokenize_standard("") == []
    assert tk.tokenize_standard(None) == []


def test_code_tokenizer_splits_identifiers():
    toks = [t for t, _ in tk.tokenize_code("getFooBar snake_case_name MAX_VALUE x2")]
    assert toks == ["get", "foo", "bar", "snake", "case", "name",
                    "max", "value", "x2"]


def test_jvm_exprs_match_python_spec(spark):
    rows = gen_corpus_rows(100, seed=7)
    texts = [r[4] for r in rows] + ["", "THE the THE", "a b c", "x" * 300]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    got = (
        df.select("i", F.posexplode(
            exprs.standard_tokens(F.col("text"))).alias("pos", "term"))
        .where(exprs.is_indexed_token(F.col("term")))
        .orderBy("i", "pos")
        .collect()
    )
    spark_toks = {}
    for r in got:
        spark_toks.setdefault(r["i"], []).append((r["term"], r["pos"]))
    for i, t in enumerate(texts):
        assert spark_toks.get(i, []) == tk.tokenize_standard(t), f"mismatch on row {i}"


# ---- full StandardTokenizer token classes (round 3) -------------------

STD_CASES = [
    # (text, expected (term, pos) stream after the full chain)
    ("please Email John.Doe@Example-Site.com today",
     [("please", 0), ("email", 1), ("john.doe@example-site.com", 2),
      ("today", 3)]),
    ("O'Reilly's book and you're it's fine",
     # "it's" -> StandardFilter strips 's -> "it" -> stopword (hole at 4)
     [("o'reilly", 0), ("book", 1), ("you're", 3), ("fine", 5)]),
    ("The U.S.A. and I.B.M. are big",
     [("usa", 1), ("ibm", 3), ("big", 5)]),
    # no trailing dot -> HOST (dots kept); trailing-dot multi-char
    # segments -> ACRONYM_DEP repaired to HOST minus the dot
    ("u.s.a stays dotted foo.bar. here",
     [("u.s.a", 0), ("stays", 1), ("dotted", 2), ("foo.bar", 3),
      ("here", 4)]),
    ("AT&T and Excite@Home merged",
     [("at&t", 0), ("excite@home", 2), ("merged", 3)]),
    ("model wi-fi2.5 serial 1.2.3.4 and 1,000 units",
     [("model", 0), ("wi-fi2.5", 1), ("serial", 2), ("1.2.3.4", 3),
      ("1,000", 5), ("units", 6)]),
    ("price 3.14 on 10/20/2026 ok",
     [("price", 0), ("3.14", 1), ("10/20/2026", 3), ("ok", 4)]),
]


@pytest.mark.parametrize("text,want", STD_CASES,
                         ids=[t[:18] for t, _ in STD_CASES])
def test_standard_token_classes_python(text, want):
    assert tk.tokenize_standard(text) == want


def test_standard_token_classes_cross_engine(spark):
    """The SAME alternation + transform must tokenize identically in
    Python re, Spark's Java regex, and DuckDB RE2 (the three leftmost-
    first engines the spec is written for)."""
    import duckdb

    from lucenenet_spark.oracle import sqlgen

    texts = [t for t, _ in STD_CASES]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    jv = {r["doc_id"]: list(r["toks"]) for r in df.select(
        "doc_id", exprs.standard_tokens(F.col("text")).alias("toks")
    ).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO d VALUES (?, ?)", [i, t])
    sql = ("WITH " + sqlgen.base_ctes("d")
           + " SELECT doc_id, term, pos FROM tk ORDER BY doc_id, pos")
    dd = {}
    for doc, term, pos in con.sql(sql).fetchall():
        dd.setdefault(doc, []).append(term)

    for i, t in enumerate(texts):
        py = [tk._std_transform(m)
              for m in tk.STANDARD_TOKEN_RE.findall(t.lower())]
        assert jv[i] == py, f"jvm row {i}"
        assert dd[i] == py, f"duckdb row {i}"
