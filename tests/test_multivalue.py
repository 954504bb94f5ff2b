"""Multi-valued fields + positionIncrementGap (Analyzer.cs:108-126):
array<string> text columns index all instances into one field; the gap
controls whether phrases can match across instance boundaries."""

import pytest

from lucenenet_spark.analysis.tokenizers import tokenize_values
from lucenenet_spark.index.segments import build_segmented_index
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher

DOCS = [
    (0, ["big red fox", "lazy brown dog"]),
    (1, ["red fox lazy dog in one value"]),
    (2, ["unrelated words entirely", "more filler text"]),
]


def _build(spark, gap):
    docs = spark.createDataFrame(DOCS, "doc_id long, text array<string>")
    return Searcher(build_segmented_index(
        spark, docs, text_col="text", field_name="text",
        position_increment_gap=gap))


def test_tokenize_values_positions():
    toks = tokenize_values(["big red fox", "lazy brown dog"], gap=100)
    assert toks == [("big", 0), ("red", 1), ("fox", 2),
                    ("lazy", 103), ("brown", 104), ("dog", 105)]
    # gap=0: successive positions (the reference default)
    toks0 = tokenize_values(["big red fox", "lazy brown dog"], gap=0)
    assert toks0[3] == ("lazy", 3)


def test_gap_blocks_cross_instance_phrase(spark):
    s = _build(spark, gap=100)
    hits = {r["doc_id"] for r in
            s.search(ast.Phrase(("fox", "lazy")), 10).collect()}
    assert hits == {1}  # doc 0's boundary is gapped; doc 1 matches in-value
    within = {r["doc_id"] for r in
              s.search(ast.Phrase(("red", "fox")), 10).collect()}
    assert within == {0, 1}  # in-instance phrases unaffected


def test_gap_zero_allows_cross_instance_phrase(spark):
    s = _build(spark, gap=0)
    hits = {r["doc_id"] for r in
            s.search(ast.Phrase(("fox", "lazy")), 10).collect()}
    assert hits == {0, 1}


def test_multivalue_stats(spark):
    s = _build(spark, gap=100)
    idx = s.index
    # dl counts tokens across ALL instances ("in" is a stopword in doc 1)
    rows = {r["doc_id"]: r["dl"] for r in
            idx.postings_nopos.where("term = 'fox'").collect()}
    assert rows == {0: 6, 1: 6}
    assert idx.n_docs == 3


def test_trailing_stopword_hole_survives_boundary():
    """Regression pin for the DOCUMENTED deviation
    (analysis/tokenizers.tokenize_values docstring): the position base
    advances by the RAW token count, so a trailing stopword's hole
    survives the value boundary at gap=0.  The reference drops
    position increments pending at end-of-stream
    (src/Lucene.Net/Analysis/Analyzer.cs position counter), which would
    put 'fox' at position 2 here; we pin OUR chosen semantics (3) so
    any accidental change is caught and the deviation stays deliberate."""
    from lucenenet_spark.analysis.tokenizers import tokenize_values

    toks = tokenize_values(["big red the", "fox ran"], gap=0)
    assert toks == [("big", 0), ("red", 1), ("fox", 3), ("ran", 4)]
    # a non-trailing stopword hole behaves identically on both sides
    toks2 = tokenize_values(["big the red", "fox"], gap=0)
    assert toks2 == [("big", 0), ("red", 2), ("fox", 3)]


def test_analyzer_runs_on_every_value(spark):
    """With analyzer=, each value of an array<string> column goes
    through the analyzer, not the built-in chain — also for the rows an
    update adds.  A tokenizer + term chain analyzer advances the next
    value's base by the value's RAW token count (trailing stopword holes
    survive, as in tokenize_values); a stream analyzer by its highest
    emitted position + 1."""
    from lucenenet_spark.analysis.snowball import english_snowball_analyzer
    from lucenenet_spark.index.segments import update_documents

    def postings(idx):
        return sorted((r["term"], r["doc_id"], tuple(r["positions"]))
                      for r in idx.postings.collect())

    stem = english_snowball_analyzer()
    schema = "doc_id long, key string, text array<string>"
    rows = [(0, "k0", ["running dogs the", "jumping"]),
            (1, "k1", ["plain words"])]
    idx = build_segmented_index(
        spark, spark.createDataFrame(rows, schema), text_col="text",
        field_name="text", analyzer=stem, position_increment_gap=10)
    assert ("run", 0, (0,)) in postings(idx)
    assert ("jump", 0, (13,)) in postings(idx)   # 3 raw tokens + gap 10

    new = spark.createDataFrame([("k1", ["cats running"])],
                                "key string, text array<string>")
    updated = update_documents(idx, new, ["key"])
    rebuilt = build_segmented_index(
        spark, spark.createDataFrame(
            rows[:1] + [(2, "k1", ["cats running"])], schema),
        text_col="text", field_name="text", analyzer=stem,
        position_increment_gap=10)
    assert ("cat", 2, (0,)) in postings(updated)
    # the replaced doc 1 keeps its postings until an expunge
    assert postings(updated) == sorted(postings(rebuilt) + [
        ("plain", 1, (0,)), ("word", 1, (1,))])

    def no_the(text):  # a stream analyzer: no tokenizer to count with
        return [(w, i) for i, w in enumerate(text.split()) if w != "the"]

    ws = build_segmented_index(
        spark, spark.createDataFrame(rows, schema), text_col="text",
        field_name="text", analyzer=no_the, position_increment_gap=10)
    assert ("jumping", 0, (12,)) in postings(ws)  # highest pos 1 + 1 + 10


def test_converted_chain_advances_base_by_raw_count(spark):
    """A contrib language chain is a tokenizer + term chain too, so a
    value ending in a dropped stopword advances the next value's base
    by its raw token count: "chien" lands at 3 + gap, not at the
    highest emitted position + 1 (2 + gap)."""
    from lucenenet_spark.analysis.french import french_analyzer

    rows = [(0, ["chat noir le", "chien"])]
    idx = build_segmented_index(
        spark, spark.createDataFrame(rows, "doc_id long, text array<string>"),
        text_col="text", field_name="text", analyzer=french_analyzer(),
        position_increment_gap=10)
    got = sorted((r["term"], tuple(r["positions"]))
                 for r in idx.postings.collect())
    assert got == [("chat", (0,)), ("chien", (13,)), ("noir", (1,))]
