"""Once-per-query df resolution and the fused Boolean term scan.

Searcher.search resolves every (field, term) leaf's df with one lookup
over the cached term dictionary (the CachedDfSource analogue,
MultiSearcher.cs:87-118), memoized per Searcher; a Boolean query whose
MUST/SHOULD clauses are all distinct Terms scores them in one posting
scan.  These tests pin the Spark job and gateway round-trip budgets of
that plan, check every edge of the fused and driver-resolved paths
against the OracleIndex, check that the read path runs no Python worker,
and check that values inlined into the SQL-text plans stay literals."""

from __future__ import annotations

import pytest

from lucenenet_spark.functions.sqltext import lit
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

#: the query classes the search benchmark runs
CLASSES = [
    ("or4", ast.Bool(should=(T("alpha"), T("beta"), T("gamma"),
                             T("delta")))),
    ("and2", ast.Bool(must=(T("alpha"), T("beta")))),
    ("phrase2", ast.Phrase(("alpha", "beta"), field="content")),
    ("term", T("alpha")),
    ("prefix", ast.Prefix("al", field="content")),
]


@pytest.mark.parametrize("name,q", CLASSES)
def test_jobs_per_query(spark, index, name, q):
    """At most 3 Spark jobs per query, the df lookup included; the same
    query again on the same Searcher skips the lookup (memo hit).  A
    prefix query has no term leaves, so it never looks a df up."""
    s = Searcher(index)
    lookups = 1 if ast.term_leaves(ast.rewrite(q)) else 0
    first = jobs_of(spark, lambda: s.search(q, 10).collect(), f"qs-{name}-1")
    again = jobs_of(spark, lambda: s.search(q, 10).collect(), f"qs-{name}-2")
    assert first <= 3, (name, first)
    assert again == first - lookups, (name, first, again)


#: py4j commands Searcher.search may send while it builds one plan.  The
#: plans are SQL text (one parse per plan node): 29-64 for these classes.
#: Plans built from Column operators, each costing several round trips,
#: take 200-1,300.
ROUND_TRIP_CEILING = 150


@pytest.mark.parametrize("name,q", CLASSES, ids=[n for n, _ in CLASSES])
def test_plan_round_trip_budget(spark, index, oracle, monkeypatch, name,
                                q):
    """With the df memo warm, building the plan costs a bounded number of
    gateway round trips, whatever the query class, and the plan answers
    like the OracleIndex."""
    s = Searcher(index)
    s.term_dfs(ast.term_leaves(ast.rewrite(q)))
    client = spark.sparkContext._gateway._gateway_client
    send, sent = client.send_command, []

    def counting(command, *args, **kwargs):
        sent.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    hits = s.search(q, 10)
    monkeypatch.undo()
    assert len(sent) <= ROUND_TRIP_CEILING, (name, len(sent))
    assert [(r["doc_id"], r["score"]) for r in hits.collect()] \
        == oracle.top_k(q, 10)


def test_df_lookup_is_one_collect_and_memoized(spark, index, oracle):
    s = Searcher(index)
    pairs = [("content", "alpha"), ("content", "zeta"), ("source", "red"),
             ("content", "nosuchterm")]
    assert jobs_of(spark, lambda: s.term_dfs(pairs), "qs-dfs-1") == 1
    assert s.term_dfs(pairs) == {
        (f, t): len(oracle.post[f].get(t, {})) for f, t in pairs}
    assert jobs_of(spark, lambda: s.term_dfs(pairs[:2]), "qs-dfs-2") == 0


# --------------------------------------------- no Python on the read path

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "FlatMapGroupsInPandas", "ArrowWindowPython")


def _plan_nodes(node):
    """Every physical operator a query runs, depth first.  Walks through
    adaptive plans and query stages, but not into the plan that filled a
    cached relation (InMemoryTableScan is a leaf): that ran once, at
    build time."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_nodes(node.executedPlan())
        return
    if name.endswith("QueryStage"):
        yield from _plan_nodes(node.plan())
        return
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


@pytest.mark.parametrize("name,q", [
    ("term", T("alpha")),
    ("and2", ast.Bool(must=(T("alpha"), T("beta")))),
    ("or4", ast.Bool(should=(T("alpha"), T("beta"), T("gamma"),
                             T("delta")))),
    ("phrase2", ast.Phrase(("alpha", "beta"), field="content")),
    ("prefix", ast.Prefix("al", field="content")),
    ("fuzzy", ast.Fuzzy("alpah", field="content")),
])
def test_read_path_runs_no_python(index, oracle, name, q):
    """Postings are array columns exploded in the JVM: the executed plan
    has no Python-worker node, and the (field, term) selection (a filter,
    or the fuzzy candidate join) sits below every Generate, so only the
    query terms' posting lists are expanded."""
    hits = Searcher(index).search(q, 20)
    assert [(r["doc_id"], r["score"]) for r in hits.collect()] \
        == oracle.top_k(q, 20)
    nodes = list(_plan_nodes(hits._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n in nodes]
    assert "InMemoryTableScan" in names, names
    assert not [n for n in names
                if any(p in n for p in PYTHON_NODES)], names
    generates = [n for n in nodes if n.nodeName() == "Generate"]
    assert generates, names
    for g in generates:
        below = [n.simpleString(1000) for n in _plan_nodes(g)][1:]
        assert any((s.startswith("Filter") and "term#" in s
                    and "field#" in s)
                   or (s.startswith("BroadcastHashJoin") and "term#" in s)
                   for s in below), below


def _fill_nodes(node, filled):
    """_plan_nodes, continued into the plans that filled cached relations,
    except relations built by the cache builders in `filled`."""
    for n in _plan_nodes(node):
        yield n
        if n.nodeName() == "InMemoryTableScan":
            rel = n.relation()
            if not any(rel.cacheBuilder().equals(b) for b in filled):
                yield from _fill_nodes(rel.cachedPlan(), filled)


def test_expunge_runs_no_python(spark):
    """expunge_deletes rewrites the segment rows in the JVM: the plans
    that fill the expunged generation — walked into every cache they
    fill, not into the index's own segment rows, filled at build time —
    have no Python-worker node, and the result answers like the
    OracleIndex over the live documents."""
    from lucenenet_spark.index.segments import expunge_deletes

    index = build(spark)  # expunge releases its term_stats cache
    built = [n.relation().cacheBuilder() for n in _plan_nodes(
        index.segments._jdf.queryExecution().executedPlan())
        if n.nodeName() == "InMemoryTableScan"]
    assert built
    dead = {0, 4, 9}
    purged = expunge_deletes(index.with_deletes(spark.createDataFrame(
        [(d,) for d in dead], "doc_id long")))
    names = [n.nodeName() for n in _fill_nodes(
        purged.segments._jdf.queryExecution().executedPlan(), built)]
    assert not [n for n in names
                if any(p in n for p in PYTHON_NODES)], names
    assert "Generate" in names, names  # the touched lists were rebuilt
    live = oracle_over((i, s, t) for i, (s, t) in enumerate(DOCS)
                       if i not in dead)
    for q in (T("alpha"), ast.Bool(should=(T("alpha"), T("beta"))),
              ast.Phrase(("alpha", "beta"), field="content")):
        assert top(Searcher(purged), q) == live.top_k(q, 20), q


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


# ------------------------------------------------- SQL-literal safety

#: keyword values (indexed verbatim, one term each) that are SQL syntax
#: or escapes when pasted into a plan unquoted
ODD = ["o'reilly", "back\\slash", "trailing\\", "50%", "50%_off",
       "50xyoff", "a_b", "axb", 'say "hi"', "tick`tock", "café", "日本語",
       "x' OR term <> '", "x\\' OR 1=1 --"]
ODD_TEXT = ["o'reilly media books", "books by o'reilly", "media café books",
            "plain words here"]


@pytest.fixture(scope="module")
def odd(spark):
    rows = [(i, v, ODD_TEXT[i % len(ODD_TEXT)]) for i, v in enumerate(ODD)]
    docs = spark.createDataFrame(rows, "doc_id long, tag string, "
                                       "content string")
    idx = build_segmented_index(spark, docs, text_col="content",
                                keyword_cols={"tag": "tag"}).cache()
    o = OracleIndex()
    o.primary_field = "content"
    for i, v, text in rows:
        o.add(i, {"content": text}, keyword_fields={"tag": v})
    return idx, o


def G(term):
    return ast.Term(term, field="tag")


ODD_QUERIES = [
    *[(f"term[{v}]", G(v)) for v in ODD],
    ("term_text", T("o'reilly")),
    ("or_terms", ast.Bool(should=(G("o'reilly"), G("x' OR term <> '"),
                                  G("trailing\\"), T("o'reilly")))),
    ("and_terms", ast.Bool(must=(T("o'reilly"),),
                           should=(G("50%"), G("back\\slash")))),
    ("phrase", ast.Phrase(("o'reilly", "media"), field="content")),
    ("phrase_nonascii", ast.Phrase(("media", "café"), field="content")),
    ("prefix_pct", ast.Prefix("50%", field="tag")),
    ("prefix_underscore", ast.Prefix("a_", field="tag")),
    ("prefix_quote", ast.Prefix("x'", field="tag")),
    ("prefix_backslash", ast.Prefix("trailing\\", field="tag")),
    ("prefix_text", ast.Prefix("o'", field="content")),
    ("wildcard_quote", ast.Wildcard("*'*", field="tag")),
    ("wildcard_pct", ast.Wildcard("50%?off", field="tag")),
    ("wildcard_backslash", ast.Wildcard("*\\*", field="tag")),
    ("range_quote", ast.TermRange("x'", "x\\", field="tag")),
    ("range_exclusive", ast.TermRange("50%", "a_b", field="tag",
                                      include_lower=False,
                                      include_upper=False)),
    ("range_nonascii", ast.TermRange("café", "日本語", field="tag")),
]


@pytest.mark.parametrize("name,q", ODD_QUERIES,
                         ids=[n for n, _ in ODD_QUERIES])
def test_odd_terms_stay_literals(odd, name, q):
    """Quotes, backslashes, LIKE wildcards, backticks, non-ASCII text and
    an injection string in terms are matched as themselves: the top-k
    equals the OracleIndex's.  A prefix holding `%` or `_` matches only
    terms that start with those characters."""
    idx, o = odd
    assert top(Searcher(idx), q, 20) == o.top_k(q, 20), name


def test_odd_term_dfs(odd):
    idx, o = odd
    pairs = [("tag", v) for v in ODD] + [
        ("content", "o'reilly"), ("tag", "nosuch'"), ("tag", "50_")]
    assert Searcher(idx).term_dfs(pairs) == {
        (f, t): len(o.post[f].get(t, {})) for f, t in pairs}


@pytest.mark.parametrize("value", ODD + ["", "\n", "\\'", "--"])
def test_string_literal_round_trips(spark, value):
    assert spark.sql(f"SELECT {lit(value)} AS v").first()["v"] == value


@pytest.mark.parametrize("value", [
    0.0, -0.0, 1.0, -2.5, 0.1, 1 / 3, 1e-300, 5e-324, 1e16, -1e22,
    1.7976931348623157e308, 2.2])
def test_double_literal_is_exact(spark, value):
    """A double is written as a DOUBLE literal (never DECIMAL) that parses
    back to the same bits, sign of zero included; negatives are
    parenthesized so `x - -1` cannot become a `--` comment."""
    text = lit(value)
    assert text.endswith("D") or text.endswith("D)"), text
    row = spark.sql(f"SELECT {text} AS v, typeof({text}) AS t, "
                    f"1 - {text} AS d").first()
    assert row["t"] == "double"
    assert row["v"] == value and str(row["v"]) == str(value)
    assert row["d"] == 1 - value


@pytest.mark.parametrize("value", [float("nan"), float("inf"),
                                   float("-inf")])
def test_nonfinite_double_literal_raises(value):
    with pytest.raises(ValueError, match="no SQL literal"):
        lit(value)
