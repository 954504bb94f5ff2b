"""df from the scanned segment rows, and the fused Boolean term scan.

Term, Bool and Phrase queries score from the term_df column the postings
views carry (a window over the term's segment rows, the TermInfo df read
with the postings), so a fresh query runs no df-lookup job and its
generated code holds no per-query number; the nodes that need df on the
driver resolve it with one lookup over the cached term dictionary (the
CachedDfSource analogue, MultiSearcher.cs:87-118), memoized per
Searcher.  A Boolean query whose MUST/SHOULD clauses are all distinct
Terms scores them in one posting scan.  A query's matched segment rows
meet in one partition, so it runs as one Spark stage of one task on
any generation, while the reads of every posting list keep one task per
cached partition.  These tests pin the Spark job, task, gateway
round-trip and code-compile budgets of those plans, check that
df is global across segments, generations and shards, check every edge
of the fused and phrase paths against the OracleIndex, check that the
read path runs no Python worker, and check that values inlined into the
SQL-text plans stay literals."""

from __future__ import annotations

import pytest

from lucenenet_spark.functions.similarity import ClassicSimilarity
from lucenenet_spark.functions.sqltext import lit
from lucenenet_spark.index.segments import (build_segmented_index,
                                            update_documents)
from lucenenet_spark.index.shards import build_sharded_index
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


def docs_frame(spark):
    return spark.createDataFrame(
        [(i, src, text) for i, (src, text) in enumerate(DOCS)],
        "doc_id long, source string, content string")


def build(spark, docs=None, **kw):
    docs = docs_frame(spark) if docs is None else docs
    idx = build_segmented_index(spark, docs, text_col="content",
                                keyword_cols={"source": "source"},
                                **kw).cache()
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


#: Spark jobs a query may run.  Every class scores in one stage: its
#: matched segment rows are funneled into one partition, which satisfies
#: the df window, groupBy(doc_id), distinct and the top-k without an
#: exchange.  Fuzzy also runs its candidate top-1024 and the broadcast of
#: the candidates it joins, each a job of its own.
JOB_BUDGET = {"term": 1, "or4": 1, "and2": 1, "phrase2": 1, "prefix": 1,
              "fuzzy": 3}

BUDGETED = CLASSES + [("fuzzy", ast.Fuzzy("alpah", field="content"))]


def stages_of(spark, fn, group) -> tuple[int, list[int]]:
    """(Spark jobs, tasks run per stage in submission order) of fn(), by
    job group; a stage skipped because its shuffle output was reused runs
    no task.  Once a session has run spark.ui.retainedStages stages, the
    status store evicts skipped stages first (their completion time is
    -1), so a stage whose info is gone is one of those."""
    sc = spark.sparkContext
    jobs = jobs_of(spark, fn, group)
    st = sc.statusTracker()
    infos = [st.getStageInfo(sid)
             for j in sorted(st.getJobIdsForGroup(group))
             for sid in sorted(st.getJobInfo(j).stageIds)]
    return jobs, [i.numCompletedTasks for i in infos
                  if i is not None and i.numCompletedTasks]


def assert_one_stage(spark, searcher, name, q, group):
    """A fresh query runs JOB_BUDGET[name] jobs, one task each for the
    one-stage classes, and the same query again on the same Searcher
    costs the same."""
    first, tasks = stages_of(
        spark, lambda: searcher.search(q, 10).collect(), f"{group}-1")
    again, _ = stages_of(
        spark, lambda: searcher.search(q, 10).collect(), f"{group}-2")
    assert 1 <= first <= JOB_BUDGET[name], (name, first)
    assert again == first, (name, first, again)
    if JOB_BUDGET[name] == 1:
        assert tasks == [1], (name, tasks)


@pytest.mark.parametrize("name,q", BUDGETED)
def test_jobs_per_query(spark, index, name, q):
    """df comes with the scanned segment rows and the matched rows meet
    in one partition, so a fresh query runs one Spark job of one task:
    no df-lookup job, and no second job after a groupBy(doc_id) or
    distinct exchange."""
    assert_one_stage(spark, Searcher(index), name, q, f"qs-{name}")


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    """The shared index saved and loaded back: its rows are
    range-partitioned by (field, term) into term-range files, not
    hash-partitioned as merge_wave leaves them."""
    from lucenenet_spark.index.segments import SegmentedIndex

    path = str(tmp_path_factory.mktemp("qs") / "index")
    build(spark).save(path)
    idx = SegmentedIndex.load(spark, path).cache()
    idx.term_stats().count()
    return idx


@pytest.fixture(scope="module")
def added(spark):
    """Two halves of DOCS built apart and joined by add_indexes: the
    segment rows are a union of two cached generations."""
    from lucenenet_spark.index.segments import add_indexes

    docs = docs_frame(spark)
    return add_indexes(build(spark, docs.where(f"doc_id < {len(DOCS) // 2}")),
                       build(spark, docs.where(f"doc_id >= {len(DOCS) // 2}")))


@pytest.mark.parametrize("gen", ["loaded", "added"])
@pytest.mark.parametrize("name,q", BUDGETED, ids=[n for n, _ in BUDGETED])
def test_jobs_per_query_on_derived_generations(spark, oracle, request, gen,
                                               name, q):
    """A loaded or add_indexes generation is not hash-partitioned by
    (field, term), and the one-partition funnel needs no exchange for the
    df window either: the same one-job budget as a built generation, and
    the same answers as the OracleIndex."""
    idx = request.getfixturevalue(gen)
    s = Searcher(idx)
    assert top(s, q) == oracle.top_k(q, 20), (gen, name)
    assert_one_stage(spark, s, name, q, f"qs-{gen}-{name}")


#: py4j commands Searcher.search may send while it builds one plan.  The
#: plans are SQL text (one parse per plan node): 29-64 for these classes.
#: Plans built from Column operators, each costing several round trips,
#: take 200-1,300.
ROUND_TRIP_CEILING = 150


@pytest.mark.parametrize("name,q", CLASSES, ids=[n for n, _ in CLASSES])
def test_plan_round_trip_budget(index, oracle, gateway_commands, name, q):
    """With the df memo and the index's posting views warm, building the
    plan costs a bounded number of gateway round trips, whatever the
    query class, and the plan answers like the OracleIndex.  Proxy
    releases are not counted: garbage collection of earlier tests'
    proxies sends them at any time."""
    s = Searcher(index)
    s.term_dfs(ast.driver_df_leaves(ast.rewrite(q)))
    _ = index.postings, index.postings_nopos  # built once per index
    sent, hits = gateway_commands(lambda: s.search(q, 10))
    assert sent <= ROUND_TRIP_CEILING, (name, sent)
    assert [(r["doc_id"], r["score"]) for r in hits.collect()] \
        == oracle.top_k(q, 10)


#: per query class, a warm-up query and a second query of the same shape
#: with other terms (and other dfs)
SHAPES = [
    ("term", T("alpha"), T("zeta")),
    ("and2", ast.Bool(must=(T("alpha"), T("beta"))),
     ast.Bool(must=(T("gamma"), T("delta")))),
    ("or4", ast.Bool(should=(T("alpha"), T("beta"), T("gamma"),
                             T("delta"))),
     ast.Bool(should=(T("zeta"), T("eta"), T("theta"), T("foo")))),
    ("phrase2", ast.Phrase(("alpha", "beta"), field="content"),
     ast.Phrase(("foo", "bar"), field="content")),
]


def compilations(spark) -> int:
    """Whole-stage and expression classes Spark has compiled so far."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


@pytest.mark.parametrize("name,warm,q", SHAPES,
                         ids=[n for n, _, _ in SHAPES])
def test_second_query_of_a_shape_compiles_nothing(spark, index, oracle,
                                                  name, warm, q):
    """The generated code of a Term, Bool or Phrase plan holds no
    per-query number (df comes as a column, terms are referenced
    literals), so once one query of a shape ran, another of the same
    shape reuses the compiled code: no compilation, same answer as the
    OracleIndex."""
    s = Searcher(index)
    assert top(s, warm) == oracle.top_k(warm, 20)
    before = compilations(spark)
    assert top(s, q) == oracle.top_k(q, 20)
    assert compilations(spark) == before, name


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
    adaptive plans and query stages; a generation's rows are a Scan
    ExistingRDD leaf, and the plan that filled it ran once, when the
    generation was made."""
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


def quantized_classic_top(oracle, term, k=20):
    """ClassicSimilarity(quantize_norms=True) term scores by hand:
    idf^2 * sqrt(tf) * decode(encode(1/sqrt(dl)))."""
    import math

    from lucenenet_spark.functions.smallfloat import (byte315_to_float,
                                                      float_to_byte315)

    def norm(dl):
        return byte315_to_float(float_to_byte315(1.0 / math.sqrt(dl)))
    post = oracle.post["content"][term]
    idf = math.log(oracle.n_docs / (len(post) + 1.0)) + 1.0
    return sorted(((d, round(idf * idf * math.sqrt(tf)
                             * norm(oracle.dl["content"][d]), 6))
                   for d, tf in post.items()),
                  key=lambda x: (-x[1], x[0]))[:k]


@pytest.mark.parametrize("name,q", [
    ("term", T("alpha")),
    ("and2", ast.Bool(must=(T("alpha"), T("beta")))),
    ("or4", ast.Bool(should=(T("alpha"), T("beta"), T("gamma"),
                             T("delta")))),
    ("phrase2", ast.Phrase(("alpha", "beta"), field="content")),
    ("prefix", ast.Prefix("al", field="content")),
    ("fuzzy", ast.Fuzzy("alpah", field="content")),
    ("classic_quantized_term", T("alpha")),
])
def test_read_path_runs_no_python(index, oracle, name, q):
    """Postings are array columns exploded in the JVM: the executed plan
    has no Python-worker node, and the (field, term) selection (a filter,
    or the fuzzy candidate join) sits below every Generate, so only the
    query terms' posting lists are expanded.  Term, Bool and Phrase read
    df from the window over the built generation's cached rows, with no
    exchange; the others do not read it, and their plans have no
    window.  ClassicSimilarity's quantized norm is a SQL lookup too."""
    if name == "classic_quantized_term":
        hits = Searcher(index, ClassicSimilarity(quantize_norms=True)) \
            .search(q, 20)
        want = quantized_classic_top(oracle, q.term)
    else:
        hits = Searcher(index).search(q, 20)
        want = oracle.top_k(q, 20)
    assert [(r["doc_id"], r["score"]) for r in hits.collect()] == want
    nodes = list(_plan_nodes(hits._jdf.queryExecution().executedPlan()))
    names = [n.nodeName() for n in nodes]
    assert_scans_leaf(nodes, index)
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
    if name in ("prefix", "fuzzy"):
        # neither reads term_df: column pruning drops the df window
        assert "Window" not in names, names
    else:
        assert_df_window_on_leaf(hits, index)


def leaf_rdd_id(index) -> int:
    """The id of the RDD that holds the generation's materialized segment
    rows: its segments frame is a checkpointed leaf."""
    plan = index.segments._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD", plan.toString()
    assert plan.rdd().isCheckpointed()
    return plan.rdd().id()


def assert_scans_leaf(nodes, index):
    """Among the physical operators `nodes` is a scan of the generation's
    leaf: its segment rows are read as materialized, not through a
    cached relation over the build's plan."""
    assert leaf_rdd_id(index) in [n.rdd().id() for n in nodes
                                  if n.nodeName() == "Scan ExistingRDD"], \
        [n.nodeName() for n in nodes]


def assert_df_window_on_leaf(hits, index):
    """The executed plan reads term_df from a Window over the
    generation's leaf with no Exchange in between (the rows are funneled
    into one partition, whatever the generation's partitioning), and the
    (field, term) Filter sits below that Window."""
    windows = [n for n in _plan_nodes(
        hits._jdf.queryExecution().executedPlan())
        if n.nodeName() == "Window"]
    assert windows
    for w in windows:
        below = list(_plan_nodes(w))[1:]
        names = [n.nodeName() for n in below]
        assert_scans_leaf(below, index)
        assert "Exchange" not in names, names
        assert any(n.nodeName() == "Filter"
                   and "term#" in n.simpleString(1000)
                   and "field#" in n.simpleString(1000)
                   for n in below), names


#: the classes that read term_df (prefix does not: no window)
WINDOWED = [(n, q) for n, q in CLASSES if n != "prefix"]


@pytest.mark.parametrize("name,q", WINDOWED, ids=[n for n, _ in WINDOWED])
def test_df_window_on_loaded_generation(loaded, oracle, name, q):
    """A loaded generation is range-partitioned by its term-range files,
    so a Window clustered by (field, term) would add an Exchange over
    it; the funnel leaves none, and df is still the global df."""
    hits = Searcher(loaded).search(q, 20)
    assert [(r["doc_id"], r["score"]) for r in hits.collect()] \
        == oracle.top_k(q, 20), name
    assert_df_window_on_leaf(hits, loaded)


# ------------------------------------ whole-index reads stay parallel

#: the reads that expand every posting list: name -> frame builder
WHOLE_INDEX_READS = {
    "term_vectors": lambda idx: idx.term_vectors(),
    "enumerate_terms": lambda idx: idx.enumerate_terms(
        field="content", include_docs=True),
    "term_vector_enumerator": lambda idx: idx.term_vector_enumerator(),
    # reads the source document's terms when called, then plans the
    # (funneled) query over them
    "more_like_this": lambda idx: Searcher(idx).more_like_this(
        4, max_terms=3, k=10, field="content", term_vectors=None),
}


@pytest.mark.parametrize("name", list(WHOLE_INDEX_READS))
def test_whole_index_reads_stay_parallel(spark, index, oracle, name):
    """The reads that expand every posting list are not funneled: their
    plan holds no single-partition Coalesce, the posting scan runs one
    task per core (the partitions of the built generation's leaf; for
    more_like_this, its first job, the read of the source document's
    terms), and the results equal the OracleIndex's."""
    read = WHOLE_INDEX_READS[name]
    if name != "more_like_this":
        nodes = list(_plan_nodes(
            read(index)._jdf.queryExecution().executedPlan()))
        names = [n.nodeName() for n in nodes]
        assert_scans_leaf(nodes, index)
        assert not [n for n in names if "Coalesce" in n], names
    got = {}
    _, tasks = stages_of(spark, lambda: got.update(rows=read(index).collect()),
                         f"qs-whole-{name}")
    cores = spark.sparkContext.defaultParallelism
    assert max(tasks) == cores, tasks
    rows = got["rows"]
    vec = {(d, f): sorted((t, p[d]) for t, p in oracle.post[f].items()
                          if d in p)
           for d in range(len(DOCS)) for f in ("content", "source")}
    if name == "enumerate_terms":
        assert {r["term"]: (r["df"], sorted(r["doc_ids"])) for r in rows} \
            == {t: (len(p), sorted(p))
                for t, p in oracle.post["content"].items()}
    elif name == "more_like_this":
        assert tasks[0] == cores, tasks
        src = [t for t, _ in sorted(
            ((t, tf * oracle.idf("content", t))
             for t, tf in vec[(4, "content")]),
            key=lambda x: (-x[1], x[0]))[:3]]
        q = ast.Bool(should=tuple(T(t) for t in src))
        assert [(r["doc_id"], r["score"]) for r in rows] \
            == [(d, v) for d, v in oracle.top_k(q, 20) if d != 4][:10]
    else:  # term vectors, per (doc, field)
        assert {(r["doc_id"], r["field"]):
                sorted((v["term"], v["tf"]) for v in r["vec"])
                for r in rows} == vec


def test_expunge_runs_no_python(spark, monkeypatch):
    """expunge_deletes rewrites the segment rows in the JVM: the plans
    of the frames it materializes (the dead ids and the expunged
    generation's rows, both read from the leaves the build and the
    deletes filled) have no Python-worker node, and the result answers
    like the OracleIndex over the live documents."""
    from lucenenet_spark.index import segments

    index = build(spark)  # expunge releases its term_stats cache
    dead = {0, 4, 9}
    deleted = index.with_deletes(spark.createDataFrame(
        [(d,) for d in dead], "doc_id long"))
    filled, materialize = [], segments._materialize

    def spy(df):
        filled.append(df)
        return materialize(df)

    monkeypatch.setattr(segments, "_materialize", spy)
    purged = segments.expunge_deletes(deleted)
    assert len(filled) == 2, filled
    names = [n.nodeName() for df in filled for n in _plan_nodes(
        df._jdf.queryExecution().executedPlan())]
    assert not [n for n in names
                if any(p in n for p in PYTHON_NODES)], names
    assert "Generate" in names, names  # the touched lists were rebuilt
    live = oracle_over((i, s, t) for i, (s, t) in enumerate(DOCS)
                       if i not in dead)
    for q in (T("alpha"), ast.Bool(should=(T("alpha"), T("beta"))),
              ast.Phrase(("alpha", "beta"), field="content")):
        assert top(Searcher(purged), q) == live.top_k(q, 20), q


# ------------------------------------------- generations are leaves

#: what a query plan shows when it reads a cache over the build's lineage
#: instead of the generation's materialized rows: the cached relation and
#: the invert and merge operators below it
BUILD_NODES = ("InMemoryRelation", "MapInArrow", "ObjectHashAggregate")

#: the documents update_documents writes over every red and blue one
REPLACEMENTS = [("red", "alpha beta omega alpha"),
                ("blue", "foo bar foo beta gamma")]


def answers(rows, dead=()):
    """q -> the OracleIndex top-20 over `rows`, the `dead` ids dropped
    from the answer but still counted in df and N."""
    o = oracle_over(rows)
    return lambda q: sorted(
        ((d, round(v, 6)) for d, v in o.score_map(q).items()
         if d not in dead), key=lambda x: (-x[1], x[0]))[:20]


@pytest.fixture(scope="module")
def updated(spark):
    """DOCS with its red and blue documents replaced by update_documents,
    and the oracle answers for that generation."""
    new_docs = spark.createDataFrame(REPLACEMENTS,
                                     "source string, content string")
    idx = update_documents(build(spark), new_docs, ["source"])
    fresh = [tuple(r) for r in idx.stored.where(f"doc_id >= {len(DOCS)}")
             .select("doc_id", "source", "content").collect()]
    dead = {r["doc_id"] for r in idx.tombstones.collect()}
    assert len(fresh) == 2 and len(dead) == 8, (fresh, dead)
    every = [(i, s, t) for i, (s, t) in enumerate(DOCS)] + fresh
    return idx, every, dead


@pytest.fixture(scope="module")
def expunged(updated):
    """The updated generation with its deletes expunged."""
    from lucenenet_spark.index.segments import expunge_deletes

    idx, every, dead = updated
    return expunge_deletes(idx), [r for r in every if r[0] not in dead]


@pytest.fixture
def generation(request, oracle):
    """(index, q -> expected top-20) for one kind of generation."""
    kind = request.param
    if kind == "updated":
        idx, every, dead = request.getfixturevalue(kind)
        return idx, answers(every, dead)
    if kind == "expunged":
        idx, live = request.getfixturevalue(kind)
        return idx, answers(live)
    return request.getfixturevalue(kind), lambda q: oracle.top_k(q, 20)


@pytest.mark.parametrize(
    "generation", ["index", "loaded", "added", "updated", "expunged"],
    indirect=True)
@pytest.mark.parametrize("name,q", CLASSES, ids=[n for n, _ in CLASSES])
def test_queries_read_the_generation_rows(generation, name, q):
    """Every kind of generation holds its segment rows and tombstones as
    leaves: a query's plans (parsed, analyzed, optimized and physical)
    hold no cached relation over the build, none of the build's invert
    or merge operators, and the answers equal the OracleIndex's.  (The
    phrase scorer's own position collect is an ObjectHashAggregate.)"""
    idx, want = generation
    hits = Searcher(idx).search(q, 20)
    plans = hits._jdf.queryExecution().toString()
    build_nodes = [n for n in BUILD_NODES
                   if not (name == "phrase2" and n == "ObjectHashAggregate")]
    assert not [n for n in build_nodes if n in plans], (name, plans)
    assert [(r["doc_id"], r["score"]) for r in hits.collect()] == want(q)


def test_dropped_generation_frees_its_rows(spark, oracle):
    """A generation's rows live as long as something references them:
    once generation A is dropped and the JVM collects garbage, Spark's
    ContextCleaner removes A's blocks, and generation B, built after A,
    still answers like the OracleIndex."""
    import gc
    import time

    def stored_rdds():
        return {i.id() for i in
                spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    a = build_segmented_index(spark, docs_frame(spark), text_col="content",
                              keyword_cols={"source": "source"})
    a_rows = leaf_rdd_id(a)
    b = build(spark)
    assert {a_rows, leaf_rdd_id(b)} <= stored_rdds()
    del a
    deadline = time.monotonic() + 10
    while a_rows in stored_rdds() and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.2)
    assert a_rows not in stored_rdds()
    assert leaf_rdd_id(b) in stored_rdds()
    s = Searcher(b)
    for name, q in CLASSES:
        assert top(s, q) == oracle.top_k(q, 20), name


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


@pytest.mark.parametrize("q", [
    ast.Phrase(("alpha", "nosuchterm"), field="content"),
    ast.Bool(must=(T("alpha"), T("nosuchterm")), should=(T("beta"),)),
], ids=["phrase", "must"])
def test_absent_required_term_finds_nothing(spark, index, oracle, q):
    """A phrase or MUST term absent from the index is not short-cut on
    the driver (that would need its df first): the scan runs, finds no
    document holding every required term and returns nothing, like the
    OracleIndex, in one Spark job."""
    s = Searcher(index)
    assert oracle.top_k(q, 10) == []
    assert jobs_of(spark, lambda: s.search(q, 10).collect(),
                   f"qs-absent-{type(q).__name__}") == 1
    assert top(s, q, 10) == []


# ---------------------------------------- global df across segment rows

#: queries whose df must be the generation's global df
GLOBAL = [
    ("term", T("alpha")),
    ("and", ast.Bool(must=(T("alpha"), T("beta")))),
    ("or", ast.Bool(should=(T("alpha"), T("zeta"), T("foo"),
                            ast.Term("red", field="source")))),
    ("phrase", ast.Phrase(("alpha", "beta"), field="content")),
    ("phrase_repeat", ast.Phrase(("foo", "bar", "foo"), field="content")),
]


@pytest.fixture(scope="module")
def four_segments(spark):
    """12 docs inverted in 8 doc ranges, merged (fan_in 2) to 4
    segments, so most terms have several segment rows."""
    idx = build(spark, docs_frame(spark).repartitionByRange(8, "doc_id"),
                target_segments=4)
    assert idx.n_segments() > 1
    return idx


@pytest.mark.parametrize("name,q", GLOBAL, ids=[n for n, _ in GLOBAL])
def test_multi_segment_df_is_global(four_segments, oracle, name, q):
    """A merged multi-segment generation sums a term's df over all its
    segment rows, in a window that needs no exchange."""
    hits = Searcher(four_segments).search(q, 20)
    assert [(r["doc_id"], r["score"]) for r in hits.collect()] \
        == oracle.top_k(q, 20), name
    assert_df_window_on_leaf(hits, four_segments)


@pytest.fixture(scope="module")
def sharded(spark):
    return build_sharded_index(spark, docs_frame(spark), n_shards=3,
                               keyword_cols={"source": "source"})


@pytest.mark.parametrize("name,q", GLOBAL, ids=[n for n, _ in GLOBAL])
def test_sharded_union_df_is_global(sharded, oracle, name, q):
    """The union view of 3 range shards scores with the df summed over
    every shard's segment rows (the MultiSearcher global-df lemma)."""
    assert top(sharded.searcher(), q) == oracle.top_k(q, 20), name


def test_updated_generation_df_is_global(spark):
    """After update_documents the old and new segment rows of a term sum
    into one df; deleted documents keep counting until a purge."""
    index = build(spark)
    new_docs = spark.createDataFrame(
        [("red", "alpha beta omega alpha"), ("blue", "foo bar foo beta")],
        "source string, content string")
    updated = update_documents(index, new_docs, ["source"], "content",
                               keyword_cols={"source": "source"})
    fresh = (updated.stored.where(f"doc_id >= {len(DOCS)}")
             .select("doc_id", "source", "content").collect())
    dead = {r["doc_id"] for r in updated.tombstones.collect()}
    o = oracle_over([(i, s, t) for i, (s, t) in enumerate(DOCS)]
                    + [tuple(r) for r in fresh])
    s = Searcher(updated)
    for name, q in GLOBAL:
        want = sorted(((d, round(v, 6)) for d, v in o.score_map(q).items()
                       if d not in dead), key=lambda x: (-x[1], x[0]))[:20]
        assert top(s, q) == want, name


# -------------------------------------------------- ClassicSimilarity

def test_classic_phrase_score_by_hand(index, four_segments, oracle):
    """ClassicSimilarity phrase score boost · idf_sum² · √freq / √dl with
    idf = ln(N / (df + 1)) + 1 summed over the query positions (a term at
    two offsets counts twice).  The matches are read off DOCS: "alpha
    beta" occurs once in docs 0, 1 and 4; "foo bar foo" once in docs 7
    and 8."""
    import math

    n = len(DOCS)

    def idf(t):
        return math.log(n / (len(oracle.post["content"][t]) + 1.0)) + 1.0

    def dl(d):
        return oracle.dl["content"][d]

    cases = [
        (ast.Phrase(("alpha", "beta"), field="content", boost=2.0),
         idf("alpha") + idf("beta"), {0: 1, 1: 1, 4: 1}, 2.0),
        (ast.Phrase(("foo", "bar", "foo"), field="content"),
         2 * idf("foo") + idf("bar"), {7: 1, 8: 1}, 1.0),
    ]
    for q, idf_sum, freqs, boost in cases:
        want = sorted(((d, round(boost * idf_sum ** 2 * math.sqrt(f)
                                 / math.sqrt(dl(d)), 6))
                       for d, f in freqs.items()),
                      key=lambda x: (-x[1], x[0]))
        for idx in (index, four_segments):
            got = top(Searcher(idx, similarity=ClassicSimilarity()), q)
            assert got == want, q


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
