"""Once-per-query df resolution and the fused Boolean term scan.

Searcher.search resolves every (field, term) leaf's df with one lookup
over the cached term dictionary (the CachedDfSource analogue,
MultiSearcher.cs:87-118), memoized per Searcher; a Boolean query whose
MUST/SHOULD clauses are all distinct Terms scores them in one posting
scan.  These tests pin the Spark job budget of that plan and check every
edge of the fused and driver-resolved paths against the OracleIndex."""

from __future__ import annotations

import pytest

from lucenenet_spark.index.segments import (build_segmented_index,
                                            update_documents)
from lucenenet_spark.oracle.pybm25 import OracleIndex
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher

DOCS = [
    ("red", "alpha beta gamma delta"),
    ("red", "alpha alpha beta"),
    ("blue", "beta gamma gamma epsilon"),
    ("blue", "alpha delta delta delta zeta"),
    ("green", "gamma delta alpha beta alpha"),
    ("red", "zeta eta theta alpha"),
    ("green", "words of the world"),
    ("blue", "foo bar foo bar"),
    ("green", "bar foo bar foo alpha"),
    ("red", "epsilon beta alpha gamma beta"),
    ("blue", "words world wide"),
    ("green", "theta eta zeta"),
]


def T(term, **kw):
    return ast.Term(term, field="content", **kw)


def build(spark):
    docs = spark.createDataFrame(
        [(i, src, text) for i, (src, text) in enumerate(DOCS)],
        "doc_id long, source string, content string")
    idx = build_segmented_index(spark, docs, text_col="content",
                                keyword_cols={"source": "source"}).cache()
    idx.term_stats().count()
    return idx


@pytest.fixture(scope="module")
def index(spark):
    return build(spark)


def oracle_over(rows) -> OracleIndex:
    o = OracleIndex()
    o.primary_field = "content"
    for i, src, text in rows:
        o.add(i, {"content": text}, keyword_fields={"source": src})
    return o


@pytest.fixture(scope="module")
def oracle():
    return oracle_over((i, s, t) for i, (s, t) in enumerate(DOCS))


def top(searcher, q, k=20):
    return [(r["doc_id"], r["score"]) for r in searcher.search(q, k).collect()]


def jobs_of(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


# ----------------------------------------------------------- job budget

@pytest.mark.parametrize("name,q", [
    ("or4", ast.Bool(should=(T("alpha"), T("beta"), T("gamma"),
                             T("delta")))),
    ("and2", ast.Bool(must=(T("alpha"), T("beta")))),
    ("phrase2", ast.Phrase(("alpha", "beta"), field="content")),
])
def test_jobs_per_query(spark, index, name, q):
    """At most 3 Spark jobs per query, the df lookup included; the same
    query again on the same Searcher skips the lookup (memo hit)."""
    s = Searcher(index)
    first = jobs_of(spark, lambda: s.search(q, 10).collect(), f"qs-{name}-1")
    again = jobs_of(spark, lambda: s.search(q, 10).collect(), f"qs-{name}-2")
    assert first <= 3, (name, first)
    assert again == first - 1, (name, first, again)


def test_df_lookup_is_one_collect_and_memoized(spark, index, oracle):
    s = Searcher(index)
    pairs = [("content", "alpha"), ("content", "zeta"), ("source", "red"),
             ("content", "nosuchterm")]
    assert jobs_of(spark, lambda: s.term_dfs(pairs), "qs-dfs-1") == 1
    assert s.term_dfs(pairs) == {
        (f, t): len(oracle.post[f].get(t, {})) for f, t in pairs}
    assert jobs_of(spark, lambda: s.term_dfs(pairs[:2]), "qs-dfs-2") == 0


# ------------------------------------------------- fused Boolean path

def _spy_fused(searcher):
    calls = []
    inner = searcher._term_clause_rows

    def spy(clauses):
        calls.append(clauses)
        return inner(clauses)

    searcher._term_clause_rows = spy
    return calls


FUSED = [
    ("boosts", ast.Bool(should=(T("alpha", boost=2.0), T("beta"),
                                T("zeta", boost=0.5)))),
    ("must_boosted", ast.Bool(must=(T("alpha", boost=3.0), T("beta")),
                              should=(T("gamma", boost=0.25),))),
    ("absent_should", ast.Bool(should=(T("alpha"), T("nosuchterm")))),
    ("absent_must", ast.Bool(must=(T("alpha"), T("nosuchterm")),
                             should=(T("beta"),))),
    ("all_absent", ast.Bool(should=(T("nosuch1"), T("nosuch2")))),
    ("msm2", ast.Bool(should=(T("alpha"), T("beta"), T("gamma"),
                              T("delta")), min_should_match=2)),
    ("msm_with_must", ast.Bool(must=(T("alpha"),),
                               should=(T("beta"), T("delta")),
                               min_should_match=1)),
    ("must_not", ast.Bool(should=(T("alpha"), T("beta")),
                          must_not=(T("gamma"),))),
    ("must_not_absent", ast.Bool(must=(T("alpha"), T("beta")),
                                 must_not=(T("nosuchterm"),))),
    ("mixed_fields", ast.Bool(must=(ast.Term("red", field="source"),),
                              should=(T("alpha"), T("beta")))),
    ("same_term_two_fields", ast.Bool(should=(
        ast.Term("red", field="source"), T("red"), T("alpha")))),
    ("bool_boost", ast.Bool(should=(T("alpha"), T("eta")), boost=1.5)),
]


@pytest.mark.parametrize("name,q", FUSED, ids=[n for n, _ in FUSED])
def test_fused_bool_matches_oracle(index, oracle, name, q):
    s = Searcher(index)
    calls = _spy_fused(s)
    assert top(s, q) == oracle.top_k(q, 20), name
    assert len(calls) == 1, name


# (name, query, fused scans: only an inner all-distinct-Term Bool fuses)
UNION = [
    ("foo_foo", ast.Bool(should=(T("foo"), T("foo"))), 0),
    ("plus_foo_foo", ast.Bool(must=(T("foo"),), should=(T("foo"),)), 0),
    ("dup_with_other", ast.Bool(should=(T("alpha"), T("alpha", boost=2.0),
                                        T("beta"))), 0),
    ("phrase_clause", ast.Bool(should=(
        ast.Phrase(("foo", "bar"), field="content"), T("alpha"))), 0),
    ("nested", ast.Bool(must=(ast.Bool(should=(T("alpha"), T("zeta"))),),
                        should=(T("beta"),)), 1),
]


@pytest.mark.parametrize("name,q,fused", UNION,
                         ids=[n for n, _, _ in UNION])
def test_other_clause_mixes_take_union_path(index, oracle, name, q, fused):
    s = Searcher(index)
    calls = _spy_fused(s)
    assert top(s, q) == oracle.top_k(q, 20), name
    assert len(calls) == fused, name


# ------------------------------------------- driver-resolved phrases

PHRASES = [
    ("repeat", ast.Phrase(("foo", "bar", "foo"), field="content")),
    ("repeat_adjacent", ast.Phrase(("bar", "foo", "bar", "foo"),
                                   field="content")),
    ("stopword_hole", ast.Phrase(("words", "world"), field="content",
                                 offsets=(0, 3))),
    ("hole_wrong", ast.Phrase(("words", "world"), field="content")),
    ("absent", ast.Phrase(("alpha", "nosuchterm"), field="content")),
    ("sloppy", ast.Phrase(("alpha", "gamma"), field="content", slop=2)),
    ("boosted", ast.Phrase(("alpha", "beta"), field="content", boost=2.0)),
]


@pytest.mark.parametrize("name,q", PHRASES, ids=[n for n, _ in PHRASES])
def test_phrase_matches_oracle(index, oracle, name, q):
    assert top(Searcher(index), q) == oracle.top_k(q, 20), name


def test_absent_phrase_term_skips_the_scan(spark, index):
    s = Searcher(index)
    q = ast.Phrase(("alpha", "nosuchterm"), field="content")
    s.term_dfs(ast.term_leaves(q))
    assert jobs_of(spark, lambda: s.search(q, 10).collect(),
                   "qs-absent-phrase") == 0


# ------------------------------------------------ memo vs generations

def test_new_searcher_after_update_sees_new_df(spark):
    """The df memo lives on the Searcher, and an update derives a new
    index generation: a Searcher made after update_documents scores with
    the new df, the old Searcher keeps answering for the old generation."""
    index = build(spark)  # update_documents releases its term_stats cache
    before = Searcher(index)
    q = ast.Bool(should=(T("alpha"), T("omega")))
    old_top = top(before, q)
    assert before.term_dfs([("content", "omega")])[("content", "omega")] == 0

    new_docs = spark.createDataFrame(
        [("red", "omega alpha omega"), ("blue", "omega beta")],
        "source string, content string")
    updated = update_documents(index, new_docs, ["source"], "content",
                               keyword_cols={"source": "source"})
    after = Searcher(updated)
    assert after.term_dfs([("content", "omega")])[("content", "omega")] == 2

    # deleted docs keep counting in df and N until a purge, so the oracle
    # holds every document ever added and the tombstoned ones are dropped
    # from its answer
    fresh = (updated.stored.where(f"doc_id >= {len(DOCS)}")
             .select("doc_id", "source", "content").collect())
    dead = {r["doc_id"] for r in updated.tombstones.collect()}
    o = oracle_over([(i, s, t) for i, (s, t) in enumerate(DOCS)]
                    + [tuple(r) for r in fresh])
    want = sorted(((d, round(v, 6)) for d, v in o.score_map(q).items()
                   if d not in dead), key=lambda x: (-x[1], x[0]))[:20]
    assert top(after, q) == want
    assert top(before, q) == old_top
