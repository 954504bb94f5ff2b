"""Engine vs pure-Python oracle golden tests (FIXTURES.md F2/F3/F4/F5 style,
mirroring test/Lucene.Net.Test/Search/TestBooleanQuery.cs, TestPhraseQuery.cs,
TestSimilarity.cs, TestFuzzyQuery.cs, TestWildcard.cs, TestTermRangeQuery.cs).

The same queries run through the Spark Searcher and the OracleIndex; top-k
(doc_id, score) lists must be identical (scores rounded to 6 decimals, ties
by ascending doc_id per src/Lucene.Net/Search/HitQueue.cs:87-93)."""

import math

import pytest

from lucenenet_spark.index.segments import (build_segmented_index,
                                            parallel_reader)
from lucenenet_spark.oracle.pybm25 import OracleIndex
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher

# F2-style corpus: docs over alphabet a..k incl. exact duplicates (ties)
DOCS = [
    "aa b c d",       # 0
    "aa b c d e",     # 1
    "aa b",           # 2
    "b c d",          # 3
    "aa",             # 4
    "aa aa b",        # 5
    "x y z",          # 6
    "aa b c d",       # 7  duplicate of 0 -> score tie, docID break
    "c d e f g",      # 8
    "b b b b",        # 9
    "words foo world wide",   # 10
    "words of the world",     # 11  stopword hole between words..world
    "one two three four",     # 12
    "one three two",          # 13
    "foo bar foo bar",        # 14
    "apple apples applied banana metal metals hello",  # 15
]

QUERIES = [
    ("term_a", ast.Term("aa")),
    ("term_b", ast.Term("b")),
    ("term_missing", ast.Term("zzz")),
    ("and_ab", ast.Bool(must=(ast.Term("aa"), ast.Term("b")))),
    ("or_ab", ast.Bool(should=(ast.Term("aa"), ast.Term("b")))),
    ("a_not_b", ast.Bool(must=(ast.Term("aa"),), must_not=(ast.Term("b"),))),
    ("msm2", ast.Bool(should=(ast.Term("aa"), ast.Term("b"), ast.Term("c")),
                      min_should_match=2)),
    ("must_plus_should", ast.Bool(must=(ast.Term("aa"),),
                                  should=(ast.Term("e"), ast.Term("c")))),
    ("boost", ast.Bool(should=(ast.Term("aa", boost=2.0), ast.Term("b")))),
    ("dismax", ast.DisMax((ast.Term("aa"), ast.Term("c")), tie=0.1)),
    ("dismax_tie0", ast.DisMax((ast.Term("b"), ast.Term("e")), tie=0.0)),
    ("phrase_exact", ast.Phrase(("b", "c", "d"))),
    ("phrase_nomatch_order", ast.Phrase(("d", "c"))),
    ("phrase_hole", ast.Phrase(("words", "world"), offsets=(0, 3))),
    ("phrase_hole_wrong", ast.Phrase(("words", "world"))),
    ("phrase_repeat", ast.Phrase(("foo", "bar", "foo"))),
    ("phrase_slop1", ast.Phrase(("one", "three"), slop=1)),
    ("phrase_slop2", ast.Phrase(("two", "one"), slop=2)),
    ("prefix", ast.Prefix("app")),
    ("wildcard", ast.Wildcard("met*l")),
    ("wildcard_q", ast.Wildcard("h?llo")),
    ("range", ast.TermRange("b", "d")),
    ("range_excl", ast.TermRange("b", "d", include_lower=True, include_upper=False)),
    ("fuzzy", ast.Fuzzy("metals", min_similarity=0.5)),
    ("matchall", ast.MatchAll()),
    ("constant_prefix", ast.ConstantScore(ast.Prefix("wor"), boost=2.5)),
    ("nested_bool", ast.Bool(
        must=(ast.Bool(should=(ast.Term("aa"), ast.Term("e"))),),
        should=(ast.Term("c"),), must_not=(ast.Term("x"),))),
    ("one_clause_collapse", ast.Bool(must=(ast.Term("aa", boost=1.5),), boost=2.0)),
    # sloppy phrases, any arity (SloppyPhraseScorer.cs:56 analogue)
    ("phrase3_slop0", ast.Phrase(("one", "two", "three"), slop=0)),
    ("phrase3_slop2", ast.Phrase(("one", "two", "three"), slop=2)),
    ("phrase3_reordered", ast.Phrase(("three", "two", "one"), slop=4)),
    ("phrase4_slop3", ast.Phrase(("one", "two", "three", "four"), slop=3)),
    # regex multiterm (contrib Regex)
    ("regex", ast.Regex("^met.l")),
    ("regex_partial", ast.Regex("ppl")),
    # span queries (Search/Spans/)
    ("span_term", ast.SpanTerm("b")),
    ("span_near_ord", ast.SpanNear((ast.SpanTerm("b"), ast.SpanTerm("d")),
                                   slop=2, in_order=True)),
    ("span_near_unord", ast.SpanNear((ast.SpanTerm("three"), ast.SpanTerm("one")),
                                     slop=3, in_order=False)),
    ("span_near_3", ast.SpanNear((ast.SpanTerm("aa"), ast.SpanTerm("b"),
                                  ast.SpanTerm("c")), slop=1, in_order=True)),
    ("span_or", ast.SpanOr((ast.SpanTerm("aa"), ast.SpanTerm("foo")))),
    ("span_first", ast.SpanFirst(ast.SpanTerm("b"), end=2)),
    ("span_not", ast.SpanNot(
        ast.SpanNear((ast.SpanTerm("b"), ast.SpanTerm("c")), slop=1),
        ast.SpanTerm("aa"))),
    ("span_nested", ast.SpanNear(
        (ast.SpanOr((ast.SpanTerm("aa"), ast.SpanTerm("one"))),
         ast.SpanOr((ast.SpanTerm("b"), ast.SpanTerm("two")))),
        slop=2, in_order=True)),
]


@pytest.fixture(scope="module")
def engine(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string"
    )
    idx = build_segmented_index(spark, docs, text_col="text").cache()
    return Searcher(idx)


@pytest.fixture(scope="module")
def oracle():
    oi = OracleIndex()
    for i, t in enumerate(DOCS):
        oi.add(i, {"text": t})
    return oi


@pytest.mark.parametrize("name,q", QUERIES, ids=[n for n, _ in QUERIES])
@pytest.mark.parametrize("k", [3, 10])
def test_topk_matches_oracle(engine, oracle, name, q, k):
    got = [(r["doc_id"], r["score"]) for r in engine.search(q, k).collect()]
    want = oracle.top_k(q, k)
    assert got == want, f"{name}: {got} != {want}"


def test_scores_match_closed_form(engine, oracle):
    """F4-style: single-term BM25 equals the closed-form formula."""
    n, avgdl = oracle.n_docs, oracle.avgdl
    df = len(oracle.post["text"]["aa"])
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    rows = {r["doc_id"]: r["score"] for r in engine.search(ast.Term("aa"), 16).collect()}
    # doc 5: "aa aa b" -> tf=2, dl=3
    tfn = 2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / avgdl))
    assert rows[5] == round(idf * tfn, 6)


def test_count_totalhits(engine, oracle):
    assert engine.count(ast.Term("aa")) == len(oracle.score_map(ast.Term("aa")))
    assert engine.count(ast.MatchAll()) == len(DOCS)


def test_field_masking_span(spark):
    """FieldMaskingSpanQuery (Search/Spans/FieldMaskingSpanQuery.cs:30-67):
    spans from a PARALLEL field (same positions, separately indexed)
    compose inside a text-field SpanNear.  `alias` indexes the same source
    column (a second build, joined to the `text` build by
    parallel_reader), so masking its spans as 'text' must reproduce the
    single-field result exactly — scores included (leaf stats come from
    the real field, which is statistically identical here)."""
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string")
    idx = parallel_reader(
        build_segmented_index(spark, docs, text_col="text"),
        build_segmented_index(spark, docs, text_col="text",
                              field_name="alias")).cache()
    s = Searcher(idx)
    masked = ast.SpanNear(
        (ast.SpanTerm("b"),
         ast.FieldMaskingSpan(ast.SpanTerm("d", field="alias"), "text")),
        slop=3, in_order=True)
    plain = ast.SpanNear((ast.SpanTerm("b"), ast.SpanTerm("d")),
                         slop=3, in_order=True)
    got = [(r["doc_id"], r["score"]) for r in s.search(masked, 10).collect()]
    want = [(r["doc_id"], r["score"]) for r in s.search(plain, 10).collect()]
    assert got == want
    assert got  # non-empty: the masked compose actually matched


def test_partitioning_invariance(spark, oracle):
    """F7: same corpus indexed under 1, 4, 17 partitions -> identical top-k
    (global-stats lemma, src/Lucene.Net/Search/MultiSearcher.cs:355-390)."""
    q = ast.Bool(should=(ast.Term("aa"), ast.Term("c"), ast.Term("e")))
    want = oracle.top_k(q, 10)
    for parts in (1, 4, 17):
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(DOCS)], "doc_id long, text string"
        ).repartition(parts)
        s = Searcher(build_segmented_index(spark, docs, text_col="text"))
        got = [(r["doc_id"], r["score"]) for r in s.search(q, 10).collect()]
        assert got == want, f"partitions={parts}"


# ---- contrib + numeric operators (MultiPhrase, NumericRange, Boosting,
# ---- DuplicateFilter) over a corpus with stored key/numeric columns


@pytest.fixture(scope="module")
def engine2(spark):
    rows = [(i, t, f"src{i % 3}", len(t)) for i, t in enumerate(DOCS)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, n_chars long")
    idx = build_segmented_index(spark, docs, text_col="text").cache()
    return Searcher(idx)


@pytest.fixture(scope="module")
def oracle2():
    oi = OracleIndex()
    for i, t in enumerate(DOCS):
        oi.add(i, {"text": t})
        oi.docs[i]["source"] = f"src{i % 3}"
        oi.docs[i]["n_chars"] = len(t)
    return oi


QUERIES2 = [
    ("multiphrase", ast.MultiPhrase((("b", "x"), ("c", "y")))),
    ("multiphrase_single", ast.MultiPhrase((("b",), ("c",)))),
    ("multiphrase_hole", ast.MultiPhrase(
        (("words",), ("world", "wide")), offsets=(0, 3))),
    ("numeric_range", ast.NumericRange("n_chars", 5, 12)),
    ("numeric_range_excl", ast.NumericRange(
        "n_chars", 5, 12, include_lower=False, include_upper=False)),
    ("numeric_open_upper", ast.NumericRange("n_chars", lower=15)),
    ("boosting_demote", ast.Boosting(ast.Term("b"), ast.Term("c"), 0.5)),
    ("boosting_neutral", ast.Boosting(ast.Term("b"), ast.Term("zzz"), 0.5)),
    ("dedup_by_source", ast.DedupByKey(ast.Term("b"), "source")),
    ("dedup_in_bool", ast.Bool(must=(
        ast.DedupByKey(ast.Term("aa"), "source"),))),
]


@pytest.mark.parametrize("name,q", QUERIES2, ids=[n for n, _ in QUERIES2])
@pytest.mark.parametrize("k", [3, 10])
def test_contrib_ops_match_oracle(engine2, oracle2, name, q, k):
    got = [(r["doc_id"], r["score"]) for r in engine2.search(q, k).collect()]
    want = oracle2.top_k(q, k)
    assert got == want, f"{name}: {got} != {want}"


def test_unknown_node_raises(engine):
    with pytest.raises(NotImplementedError, match="^Query$"):
        engine.score_frame(ast.Query())


def test_multiphrase_rewrites_to_phrase():
    q = ast.rewrite(ast.MultiPhrase((("b",), ("c",), ("d",))))
    assert isinstance(q, ast.Phrase) and q.terms == ("b", "c", "d")


# ---- Explanation tree (CheckHits.CheckExplanations analogue)


EXPLAIN_QUERIES = [
    ast.Term("aa"),
    ast.Bool(must=(ast.Term("aa"), ast.Term("b"))),
    ast.Bool(should=(ast.Term("aa", boost=2.0), ast.Term("c")),
             must_not=(ast.Term("x"),)),
    ast.DisMax((ast.Term("aa"), ast.Term("c")), tie=0.1),
]


@pytest.mark.parametrize("qi", range(len(EXPLAIN_QUERIES)))
def test_explain_matches_score(engine, qi):
    q = EXPLAIN_QUERIES[qi]
    hits = engine.search(q, 5).collect()
    assert hits
    for r in hits[:3]:
        e = engine.explain(q, r["doc_id"])
        assert e["value"] == r["score"], (qi, r["doc_id"], e)
        assert e["details"] or e["description"]


def test_explain_nonmatching_doc(engine):
    e = engine.explain(ast.Bool(must=(ast.Term("aa"), ast.Term("x"))), 0)
    assert e["value"] == 0.0


@pytest.mark.parametrize("qi", range(len(EXPLAIN_QUERIES)))
def test_explain_classic_similarity(engine, qi):
    """explain() follows the ACTIVE similarity (Searcher.SetSimilarity,
    Similarity.cs:560): under ClassicSimilarity the root value equals the
    search score within the CheckExplanations tolerance
    (test/Lucene.Net.Test/Search/CheckHits.cs:42, 0.00025) and the term
    leaves render the DefaultSimilarity.cs decomposition
    (queryWeight = boost*idf, fieldWeight = sqrt(tf)*idf/sqrt(dl))."""
    from lucenenet_spark.functions.similarity import ClassicSimilarity

    s = Searcher(engine.index, similarity=ClassicSimilarity())
    q = EXPLAIN_QUERIES[qi]
    hits = s.search(q, 5).collect()
    assert hits
    for r in hits[:3]:
        e = s.explain(q, r["doc_id"])
        assert abs(e["value"] - r["score"]) < 0.00025, (qi, r["doc_id"], e)

    def walk(node):
        yield node
        for d in node["details"]:
            yield from walk(d)

    e = s.explain(ast.Term("aa"), hits[0]["doc_id"]) if qi == 0 else None
    if e is not None:
        descs = [n["description"] for n in walk(e)]
        assert any("queryWeight" in d for d in descs)
        assert any("fieldWeight" in d for d in descs)
        assert any("idf(docFreq=" in d for d in descs)
        # and the BM25 default still renders its own tree
        eb = engine.explain(ast.Term("aa"), hits[0]["doc_id"])
        assert any("tfNorm" in n["description"] for n in walk(eb))
