"""Payload queries (Search/Payloads/, ~1.2k LoC in the reference):
DelimitedPayloadTokenFilter analysis, the pay column path (build,
merge, expunge), and PayloadTerm/PayloadNear scoring vs hand-computed
values on a fixture corpus."""

import math

import pytest

from lucenenet_spark.analysis.payloads import (
    delimited_payload_analyzer, delimited_payload_tokens)
from lucenenet_spark.functions.bm25 import B, K1
from lucenenet_spark.index.segments import build_segmented_index
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher

DOCS = [
    # (doc_id, "token|payload ..." text)
    (0, "cat|2.0 dog|1.0 cat|4.0"),
    (1, "dog|3.0 fish|1.5 cat|0.5 dog|2.0"),
    (2, "bird|9.0 plain nope|x"),          # no/invalid delimiter cases
    (3, "cat|1.0 big|0.0 dog|5.0"),
]


def _tok_parse():
    return {d: delimited_payload_tokens(t) for d, t in DOCS}


def test_delimited_parse_semantics():
    toks = delimited_payload_tokens(DOCS[2][1])
    # plain token -> payload 0.0; non-numeric suffix -> whole token kept
    assert toks == [("bird", 0, 9.0), ("plain", 1, 0.0), ("nope|x", 2, 0.0)]
    assert delimited_payload_tokens(None) == []
    assert delimited_payload_tokens("") == []


@pytest.fixture(scope="module")
def pay_index(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    # 3 invert partitions -> 2 target segments: the build exercises the
    # cross-segment merge of pay alongside pos, and the
    # query path reads payloads across multiple segments
    return build_segmented_index(
        spark, df.repartition(3), text_col="text", id_col="doc_id",
        field_name="text", analyzer=delimited_payload_analyzer(),
        target_segments=2)


def _bm25(tf, dl, df, n, avgdl):
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    return idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))


def _expected_payload_term(term, fn):
    toks = _tok_parse()
    n = len(DOCS)
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / n
    per_doc = {}
    for d, t in toks.items():
        pays = [p for tm, _, p in t if tm == term]
        if pays:
            per_doc[d] = pays
    out = {}
    for d, pays in per_doc.items():
        agg = {"avg": sum(pays) / len(pays), "min": min(pays),
               "max": max(pays)}[fn]
        span = _bm25(0.5 * len(pays), dls[d], len(per_doc), n, avgdl)
        out[d] = round(span * agg, 6)
    return out


@pytest.mark.parametrize("fn", ["avg", "min", "max"])
def test_payload_term_scores(spark, pay_index, fn):
    got = {r.doc_id: r.score for r in
           Searcher(pay_index).search(
               ast.PayloadTerm("cat", fn=fn), 10).collect()}
    want = _expected_payload_term("cat", fn)
    assert got.keys() == want.keys()
    for d in want:
        assert got[d] == pytest.approx(want[d], abs=2e-6)


def test_payload_term_without_span_score(spark, pay_index):
    got = {r.doc_id: r.score for r in
           Searcher(pay_index).search(
               ast.PayloadTerm("cat", fn="max", include_span_score=False,
                               boost=2.0), 10).collect()}
    # doc0 payloads (2.0, 4.0) -> max 4.0 * boost; doc1 (0.5); doc3 (1.0)
    assert got == {0: pytest.approx(8.0), 1: pytest.approx(1.0),
                   3: pytest.approx(2.0)}


def test_payload_near_scores(spark, pay_index):
    # ordered "cat dog" slop 1: doc0 tuples (0->1): w=2; doc1 (2->3): w=2;
    # doc3 (0->2): w=3
    got = {r.doc_id: r.score for r in
           Searcher(pay_index).search(
               ast.PayloadNear(("cat", "dog"), slop=1, fn="avg"),
               10).collect()}
    toks = _tok_parse()
    n = len(DOCS)
    dls = {d: len(t) for d, t in toks.items()}
    avgdl = sum(dls.values()) / n
    dfs = {"cat": 3, "dog": 3}
    idf_sum = sum(math.log(1 + (n - df + 0.5) / (df + 0.5))
                  for df in dfs.values())
    expect = {}
    for d, tuples, pays in [
        (0, [(0, 2)], [2.0, 1.0]),
        (1, [(2, 4)], [0.5, 2.0]),
        (3, [(0, 3)], [1.0, 5.0]),
    ]:
        freq = sum(1.0 / (1.0 + (e - s)) for s, e in tuples)
        tfn = (freq * (K1 + 1)) / (freq + K1 * (1 - B + B * dls[d] / avgdl))
        expect[d] = round(idf_sum * tfn * (sum(pays) / len(pays)), 6)
    assert got.keys() == expect.keys()
    for d in expect:
        assert got[d] == pytest.approx(expect[d], abs=2e-6)


def test_payloads_survive_force_merge(spark, pay_index):
    """pay concat / doc-ordered merge parity: scores identical after
    merging the 2-segment fixture down to one segment."""
    from dataclasses import replace

    from lucenenet_spark.index.segments import merge_wave
    merged = replace(pay_index,
                     segments=merge_wave(pay_index.segments, fan_in=8),
                     _postings=None, _postings_nopos=None,
                     _postings_pay=None, _term_stats=None)
    assert merged.segments.select("seg_id").distinct().count() == 1
    q = ast.PayloadNear(("cat", "dog"), slop=1, fn="min")
    a = sorted(map(tuple, Searcher(pay_index).search(q, 10).collect()))
    b = sorted(map(tuple, Searcher(merged).search(q, 10).collect()))
    assert a == b and len(a) > 0


def test_payloads_survive_expunge(spark, pay_index):
    from lucenenet_spark.index.segments import expunge_deletes
    dead = spark.createDataFrame([(1,)], "doc_id long")
    purged = expunge_deletes(pay_index.with_deletes(dead))
    got = {r.doc_id: r.score for r in
           Searcher(purged).search(
               ast.PayloadTerm("cat", fn="max",
                               include_span_score=False), 10).collect()}
    assert got == {0: pytest.approx(4.0), 3: pytest.approx(1.0)}


def test_payload_near_walk_vs_tuples(spark, pay_index):
    """spec="lucene" (NearSpansOrdered walk) vs "all_tuples" on doc 0
    ("cat dog cat"): for query (dog, cat) the walk uses only the chosen
    positions' payloads; here both specs match the same single span, so
    scores agree — and on query (cat, dog) over doc 1 (two dogs) they
    agree too; the span-level divergence witness lives in
    tests/test_spanwalk.py."""
    for spec in ("lucene", "all_tuples"):
        got = {r.doc_id: r.score for r in Searcher(pay_index).search(
            ast.PayloadNear(("dog", "cat"), slop=0, fn="avg", spec=spec),
            10).collect()}
        # doc 0: dog@1 cat@2 (pays 1.0, 4.0); doc 1: dog@0 fish cat -> slop
        # 0 fails (gap 1); dog@3 after cat. doc 3: dog after cat only.
        assert sorted(got) == [0], (spec, got)


def test_payload_near_walk_repeats(spark):
    """Repeated first term: the walk shrinks to the tightest alignment
    and counts ONE match ("a a b"-style), while all_tuples counts both —
    payload aggregates follow the chosen positions."""
    from lucenenet_spark.analysis.payloads import delimited_payload_analyzer
    df = spark.createDataFrame(
        [(0, "cat|1.0 cat|7.0 dog|2.0")], "doc_id long, text string")
    idx = build_segmented_index(
        spark, df, text_col="text", id_col="doc_id", field_name="text",
        analyzer=delimited_payload_analyzer())
    lucene = Searcher(idx).search(
        ast.PayloadNear(("cat", "dog"), slop=1, fn="avg",
                        include_span_score=False), 10).collect()
    tuples = Searcher(idx).search(
        ast.PayloadNear(("cat", "dog"), slop=1, fn="avg",
                        include_span_score=False, spec="all_tuples"),
        10).collect()
    # walk: one match, chosen cat@1 (pay 7.0) + dog@2 (2.0) -> avg 4.5
    assert lucene[0].score == pytest.approx(4.5)
    # tuples: matches (0,2)+(1,2): pays 1+2+7+2 over 4 -> avg 3.0
    assert tuples[0].score == pytest.approx(3.0)


def test_checkindex_clean_with_payloads(spark, pay_index):
    from lucenenet_spark.index.checkindex import check_index
    rep = check_index(pay_index)
    assert rep["clean"], rep["issues"]


def test_checkindex_flags_misaligned_pay_blob(spark, pay_index):
    from pyspark.sql import functions as F

    from dataclasses import replace

    from lucenenet_spark.index.checkindex import check_index
    bad = replace(
        pay_index,
        segments=pay_index.segments.withColumn(
            "pay", F.when(F.col("term") == "cat",
                          F.expr("transform(pay, p -> slice(p, 1, 0))"))
            .otherwise(F.col("pay"))),
        _postings=None, _postings_nopos=None, _postings_pay=None,
        _term_stats=None)
    rep = check_index(bad)
    assert not rep["clean"]
    assert any("I9" in i[-1] for i in rep["issues"])


def test_plain_index_rejects_payload_query(spark):
    df = spark.createDataFrame([(0, "cat dog")], "doc_id long, text string")
    idx = build_segmented_index(spark, df, text_col="text",
                                id_col="doc_id", field_name="text")
    # indexed without payloads: decode view yields null payload arrays ->
    # PayloadFunction sees none and DocScore falls back to 1.0
    got = {r.doc_id: r.score for r in
           Searcher(idx).search(
               ast.PayloadTerm("cat", fn="max",
                               include_span_score=False), 10).collect()}
    assert got == {0: pytest.approx(1.0)}


def test_payloads_for_query(spark, pay_index):
    """PayloadSpanUtil.GetPayloadsForQuery: payloads only at positions
    the query's spans cover — term query collects that term's payloads
    per doc; a phrase restricts to the matched window."""
    from lucenenet_spark.plans.lowering import Searcher

    s = Searcher(pay_index)
    got = {r["doc_id"]: r["payloads"] for r in
           s.payloads_for_query(ast.Term("cat", field="text")).collect()}
    assert got[0] == pytest.approx([2.0, 4.0])      # positions 0, 2
    assert got[1] == pytest.approx([0.5])
    assert got[3] == pytest.approx([1.0])
    assert 2 not in got                             # no 'cat' in doc 2

    # phrase "cat dog": doc 0 matches at (0,2), doc 1 at (2,4); doc 3
    # has 'big' between them — no span, no payloads.  Only positions
    # INSIDE the span contribute (doc 0's trailing cat|4.0 at pos 2 is
    # outside the (0,2) window and stays out).
    ph = {r["doc_id"]: r["payloads"] for r in
          s.payloads_for_query(
              ast.Phrase(("cat", "dog"), field="text")).collect()}
    assert set(ph) == {0, 1}
    assert ph[0] == pytest.approx([2.0, 1.0])
    assert ph[1] == pytest.approx([0.5, 2.0])


def test_to_span_query_conversion():
    """QueryToSpanQuery shapes (PayloadSpanUtil.cs:80-140)."""
    sq = ast.to_span_query(ast.Term("cat", field="f"))
    assert sq == ast.SpanTerm("cat", "f")
    ph = ast.to_span_query(ast.Phrase(("a", "b"), field="f", slop=2))
    assert isinstance(ph, ast.SpanNear) and ph.slop == 2 and not ph.in_order
    bq = ast.to_span_query(ast.Bool(
        must=(ast.Term("a", field="f"),),
        should=(ast.Term("b", field="f"),),
        must_not=(ast.Term("c", field="f"),)))
    assert isinstance(bq, ast.SpanOr)
    assert {t.term for t in ast.span_leaves(bq)} == {"a", "b"}  # c dropped


def test_payloads_for_query_only_prohibited_is_empty(spark, pay_index):
    """Regression (round-4 advice): a Bool of ONLY prohibited clauses
    converts to SpanOr(()) — the reference simply finds no spans
    (PayloadSpanUtil drops prohibited clauses); no crash, empty frame."""
    s = Searcher(pay_index)
    q = ast.Bool(must_not=(ast.Term("cat", field="text"),))
    out = s.payloads_for_query(q)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["doc_id", "payloads"]
