"""ParallelReader (Index/ParallelReader.cs): vertical composition of
indexes over the same docs / different fields answers exactly like one
combined build, and the reference's Add() checks hold."""

from __future__ import annotations

import pytest

from lucenenet_spark.index.segments import (build_segmented_index,
                                            parallel_reader)
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher


@pytest.fixture(scope="module")
def corpus(spark):
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    return with_doc_ids(corpus_df(spark, 200, partitions=6),
                        ("repo", "path")).cache()


@pytest.fixture(scope="module")
def combined(spark, corpus):
    return build_segmented_index(spark, corpus, text_col="content",
                                 lang_col="lang",
                                 keyword_cols={"repo": "repo"})


@pytest.fixture(scope="module")
def composed(spark, corpus):
    text_part = build_segmented_index(spark, corpus, text_col="content",
                                      lang_col="lang")
    # keyword part: whole value = one term, tf=1, dl=1 (KeywordAnalyzer)
    kw_part = build_segmented_index(spark, corpus, text_col="repo",
                                    field_name="repo",
                                    analyzer=lambda t: [(t, 0)])
    return parallel_reader(text_part, kw_part, ignore_stored=(1,))


def _hits(idx, q, k=10):
    return [(r["doc_id"], r["score"])
            for r in Searcher(idx).search(q, k).collect()]


def test_parity_with_combined_build(spark, corpus, combined, composed):
    repo0 = corpus.select("repo").orderBy("repo").first()["repo"]
    queries = [
        ast.Term("index", field="content"),
        ast.Term(repo0, field="repo"),
        ast.Bool(must=(ast.Term("index", field="content"),
                       ast.Term(repo0, field="repo"))),
        ast.Phrase(("doc", "id"), field="content"),
    ]
    for q in queries:
        assert _hits(composed, q) == _hits(combined, q), q
    assert composed.n_docs == combined.n_docs
    assert composed.avgdl == pytest.approx(combined.avgdl)
    assert set(composed.fields) == set(combined.fields)


def test_doc_count_mismatch_rejected(spark, corpus):
    a = build_segmented_index(spark, corpus, text_col="content")
    b = build_segmented_index(spark, corpus.limit(50), text_col="repo",
                              field_name="repo")
    with pytest.raises(ValueError, match="same doc count"):
        parallel_reader(a, b)


def test_overlapping_fields_rejected(spark, corpus):
    a = build_segmented_index(spark, corpus, text_col="content")
    b = build_segmented_index(spark, corpus, text_col="content")
    with pytest.raises(ValueError, match="overlapping fields"):
        parallel_reader(a, b)


def test_parallel_term_enum(spark, combined, composed):
    """TestParallelTermEnum behavior: enumerating terms over the
    composed reader walks BOTH parts' fields, identically to the
    combined build."""
    a = [(r["field"], r["term"]) for r in
         composed.enumerate_terms().collect()]
    b = [(r["field"], r["term"]) for r in
         combined.enumerate_terms().collect()]
    assert a == b
    assert {f for f, _ in a} == {"content", "repo"}


def test_expunge_reaches_every_part(spark):
    """Both parts of a parallel_reader cover the same documents, so a
    dead id lives in a segment of each: after expunge_deletes no field's
    postings hold a dead doc, and both fields answer like a fresh
    parallel build over the live documents."""
    from lucenenet_spark.index.segments import expunge_deletes

    docs = spark.createDataFrame(
        [(i, f"alpha w{i % 5} beta", f"name{i % 3} alias") for i in range(40)],
        "doc_id long, text string, alias string")

    def parts(frame):
        return parallel_reader(
            build_segmented_index(spark, frame, text_col="text"),
            build_segmented_index(spark, frame, text_col="alias"))

    dead = spark.createDataFrame([(3,), (4,)], "doc_id long")
    purged = expunge_deletes(parts(docs).with_deletes(dead))
    assert not purged.postings.where("doc_id IN (3, 4)").count()
    fresh = parts(docs.where("doc_id NOT IN (3, 4)"))
    assert purged.n_docs == fresh.n_docs == 38
    assert purged.avgdl == pytest.approx(fresh.avgdl)
    for q in (ast.Term("alpha"), ast.Term("w3"),
              ast.Term("alias", field="alias"),
              ast.Term("name0", field="alias"),
              ast.Bool(should=(ast.Term("w4"),
                               ast.Term("name1", field="alias")))):
        assert _hits(purged, q, 50) == _hits(fresh, q, 50), q
