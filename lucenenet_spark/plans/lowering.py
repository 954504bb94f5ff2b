"""Lowering: Query AST -> Spark DataFrame plans (the Weight/Scorer layer).

The reference's doc-at-a-time scorer tree (SURVEY.md §3.2) re-expressed
set-oriented:

- TermQuery/TermScorer  -> postings filter on (field,term) [parquet pushdown]
                           scored from the term_df column the matching
                           segment rows carry (the TermInfo{df, freqPtr,
                           proxPtr} entry, TermInfo.cs:28-32: global df,
                           a window over the term's segment rows) with
                           N and avgdl inlined — no df lookup job, and
                           no per-query number in the generated code
- BooleanScorer2        -> tagged clause rows + ONE groupBy(doc_id):
                           MUST = HAVING n_must == #musts (ConjunctionScorer),
                           SHOULD = sum + HAVING n_should >= minShouldMatch
                           (DisjunctionSumScorer), MUST_NOT = left_anti
                           (ReqExclScorer).  BM25 drops coord.  When every
                           MUST/SHOULD clause is a distinct Term the rows
                           come from ONE posting scan, tagged by
                           (field, term) IN (...); otherwise from the
                           union of the clause frames; all in the scan's
                           one task, no exchange.
- PhraseQuery           -> positions-array alignment with higher-order
                           functions (array_intersect of offset-shifted
                           position lists) — all JVM-side; the idf sum
                           is summed per doc from the rows' term_df, and
                           a doc holding every query offset passes the
                           all-terms-present gate.
- MultiPhrase, span and -> idf from driver-resolved dfs: ONE lookup per
  payload queries          query (Searcher.term_dfs, the CachedDfSource
                           of MultiSearcher.cs:87-118,355-390).
- MultiTermQuery family -> term-dictionary predicate; CONSTANT_SCORE
                           rewrite = semi-join (no term enumeration),
                           SCORING_BOOLEAN (fuzzy) = driver-collected
                           expansion capped at 1024 clauses
                           (src/Lucene.Net/Search/MultiTermQuery.cs:79-118).
- top-k                 -> orderBy(score desc, doc_id asc).limit(k) ==
                           TakeOrderedAndProject: one heap in the query's
                           one task (TopScoreDocCollector.cs:47-66),
                           tie-break identical to
                           src/Lucene.Net/Search/HitQueue.cs:87-93.

Scores are doubles rounded to SCORE_DECIMALS before ordering so rank order
is reproducible across partitionings and engines (float-sum associativity).

One stage per query.  The query views (SegmentedIndex.postings,
postings_nopos, postings_payloads) coalesce the segment rows a query's
(field, term) predicate selects into one partition, which satisfies
every distribution the rest of the plan asks for: Term, Bool, Phrase,
MultiPhrase, span leaves and the multi-term match sets each run as one
Spark job of one task, with no exchange, on every index generation —
IndexSearcher scoring on the calling thread into one top-k heap
(IndexSearcher.cs:218-243).  Fuzzy keeps its candidate and broadcast
jobs; reads of every posting list use SegmentedIndex.all_postings, one
task per cached partition.  A very heavy query loses parallelism.
Measured warm on 4 cores over the benchmark's synthetic corpus (about
12k segment rows at every size, so posting lists grow with the files),
two processes per side, parallel plan -> one task:

  files    mean of class p50s, ms    phrase p50, ms
  2,000    121, 115 -> 100, 93       166, 146 -> 131, 134
  20,000   125, 129 -> 102, 107      193, 199 -> 161, 165
  100,000  160, 168 -> 136, 136      292, 314 -> 272, 274
  100,000  143, 143 -> 122, 121      268, 258 -> 263, 252  (10 rounds)

and/or/prefix gain 20-30 % at every size and term holds; phrase, whose
one task aligns the most positions, gains least and is at parity by
100,000 files, so a heavier phrase query would run slower in one task.

Plans are SQL text.  Each plan node of the query paths is one
``where(str)``, ``selectExpr(...)`` or ``F.expr(...)`` over SQL expression
text with the query's values (terms, df, N, avgdl, boosts, offsets)
inlined as literals, and the similarity kernels (functions/bm25.py,
functions/similarity.py) emit their formulas as text too: a plan costs a
few parses in the JVM, not one gateway round trip per Column operator.
Every inlined value goes through functions/sqltext.lit:

- strings are quoted with backslash-escaped ``\\`` and ``'``, so a term
  is always one literal, never SQL syntax;
- doubles are ``repr(x) + "D"`` (exact, and DOUBLE, not DECIMAL); NaN and
  ±inf raise ValueError;
- a prefix matches with ``startswith``, never ``LIKE``, so ``%`` and
  ``_`` stay literal.

Column code remains only where a node runs a Python kernel (the
lucene-spec sloppy phrase and ordered-span walks) or is off the query
hot path.
"""

from __future__ import annotations

import math
import re
from functools import reduce

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.bm25 import B, K1, SCORE_DECIMALS
from ..functions.similarity import BM25Similarity
from ..functions.sqltext import lit
from ..index.cache import SegmentCache
from ..index.segments import SegmentedIndex
from . import ast

#: CachingSpanFilter backing store (CachingSpanFilter.cs `cache` keyed by
#: reader) — one process-wide SegmentCache, weak per index generation
_SPAN_FILTER_CACHE: SegmentCache = SegmentCache()


#: the rounded score column every top-k orders by
_ROUNDED_SCORE = f"round(score, {SCORE_DECIMALS}) AS score"


def _in(values) -> str:
    return ", ".join(map(lit, sorted(values)))


def _term_filter(field: str, term: str) -> str:
    return f"field = {lit(field)} AND term = {lit(term)}"


def _top(frame: DataFrame, k: int) -> DataFrame:
    """TopDocs order (HitQueue.cs:87-93): score desc, ties by ascending
    doc_id."""
    return frame.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def wildcard_to_regex(pattern: str) -> str:
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"


class TimeExceededError(RuntimeError):
    """TimeLimitingCollector.TimeExceededException analogue."""


class Searcher:
    """IndexSearcher analogue over a SegmentedIndex
    (src/Lucene.Net/Search/IndexSearcher.cs)."""

    def __init__(self, index: SegmentedIndex, similarity=None):
        """similarity: a functions.similarity strategy object
        (Searcher.SetSimilarity analogue, src/Lucene.Net/Search/
        Searcher.cs / Similarity.cs:560,644).  Default BM25; pass
        ClassicSimilarity for the reference's TF-IDF.  `explain` renders
        the ACTIVE similarity's detail tree (BM25 tfNorm/idf, or the
        DefaultSimilarity queryWeight*fieldWeight decomposition)."""
        self.index = index
        self.spark = index.spark
        self.sim = similarity if similarity is not None else BM25Similarity()
        self._filter_cache: dict = {}
        self._df_memo: dict[tuple[str, str], int] = {}

    # ------------------------------------------------------------------ api

    def _live(self, frame: DataFrame) -> DataFrame:
        """Apply deletes: anti-join the index's tombstone frame, its one
        delete representation (the query-time .del check,
        src/Lucene.Net/Index/SegmentTermDocs.cs deletedDocs.Get)."""
        t = self.index.tombstones
        if t is None:
            return frame
        return frame.join(t, "doc_id", "left_anti")

    def term_dfs(self, pairs) -> dict[tuple[str, str], int]:
        """Global df per (field, term), 0 when absent — the CachedDfSource
        analogue (MultiSearcher.cs:87-118), for the nodes that need df on
        the driver: MultiPhrase (its idf sums over alternatives a doc may
        lack), span and payload scorers, explain and more_like_this.
        Term, Bool and Phrase score from the postings views' term_df
        column instead.  Pairs not seen before are fetched with ONE
        collect over the cached term dictionary (index.term_stats():
        segment-row metadata, no posting read) and memoized.  The memo is
        safe because a Searcher is bound to one index generation:
        update/add_indexes/expunge derive a new index object, so a new
        Searcher sees the new df."""
        pairs = set(pairs)
        missing = pairs - self._df_memo.keys()
        if missing:
            rows = (self.index.term_stats()
                    .where(f"field IN ({_in({f for f, _ in missing})}) AND "
                           f"term IN ({_in({t for _, t in missing})})")
                    .collect())
            got = {(r["field"], r["term"]): int(r["df"]) for r in rows}
            self._df_memo.update({p: got.get(p, 0) for p in missing})
        return {p: self._df_memo[p] for p in pairs}

    def _hits(self, q: ast.Query) -> DataFrame:
        """Live (doc_id, score) rows of a query: rewrite, resolve in one
        lookup the df of every leaf scored on the driver
        (MultiSearcher.CreateWeight, MultiSearcher.cs:355-390; none for
        Term, Bool and Phrase), lower, apply deletes."""
        q = ast.rewrite(q)
        self.term_dfs(ast.driver_df_leaves(q))
        return self._live(self.score_frame(q))

    def search(self, q: ast.Query, k: int = 10,
               positive_only: bool = False) -> DataFrame:
        """TopDocs analogue: (doc_id, score) rows, score desc, ties by
        ascending doc_id (HitQueue.cs:87-93).  positive_only drops
        score <= 0 hits (PositiveScoresOnlyCollector,
        src/Lucene.Net/Search/PositiveScoresOnlyCollector.cs)."""
        out = self._hits(q).selectExpr("doc_id", _ROUNDED_SCORE)
        if positive_only:
            out = out.where("score > 0")
        return _top(out, k)

    def span_filter_result(self, q: ast.Query) -> DataFrame:
        """SpanQueryFilter.BitSpans (src/Lucene.Net/Search/
        SpanQueryFilter.cs:61-87): the DocIdSet PLUS per-doc match
        positions — one row per matching doc, ``positions`` =
        sorted [(start, end)] (SpanFilterResult.PositionInfo,
        SpanFilterResult.cs:59-94).  Costs the position read above a
        QueryWrapperFilter, exactly the trade the reference documents;
        deletes are applied like every filter path."""
        spans = self._live(self._spans(ast.rewrite(q)))
        return (spans.groupBy("doc_id")
                .agg(F.sort_array(F.collect_list(F.struct(
                    F.col("s").alias("start"), F.col("e").alias("end"))))
                    .alias("positions")))

    def cached_span_filter_result(self, q: ast.Query) -> DataFrame:
        """CachingSpanFilter (src/Lucene.Net/Search/
        CachingSpanFilter.cs): the same result memoized per (index
        generation, query) in a contrib/Core SegmentCache — the weak
        outer key retires entries with their index generation."""
        return _SPAN_FILTER_CACHE.get(self.index, repr(ast.rewrite(q)),
                                      lambda: self.span_filter_result(q))

    def payloads_for_query(self, q: ast.Query) -> DataFrame:
        """PayloadSpanUtil.GetPayloadsForQuery (src/Lucene.Net/Search/
        Payloads/PayloadSpanUtil.cs:70-180): every payload at a position
        covered by one of the query's span matches.  The reference
        converts the query to spans (QueryToSpanQuery, :80-140 —
        ast.to_span_query here) and walks TermSpans collecting payload
        bytes; here the span frame and the payload view join on
        (doc, position-inside-span) — one semi-join, positions only of
        the query's own leaf terms are ever read.  Returns
        (doc_id, payloads: array<float> in position order)."""
        sq = ast.to_span_query(ast.rewrite(q))
        spans = (self._live(self._spans(sq))
                 .select("doc_id", "s", "e"))
        leaves = ast.span_leaves(sq)
        pp = self.index.postings_payloads
        cond = " OR ".join(f"({_term_filter(f, t)})" for f, t in
                           sorted({(le.field, le.term) for le in leaves}))
        if not cond:
            # no convertible span leaves (e.g. all clauses prohibited):
            # the reference finds no spans -> no payloads
            return self.index.spark.createDataFrame(
                [], "doc_id long, payloads array<float>")
        rows = (pp.where(cond)
                .select("doc_id", F.explode(F.arrays_zip(
                    F.col("positions").alias("pos"),
                    F.col("payloads").alias("pay"))).alias("z"))
                .select("doc_id", F.col("z.pos").alias("pos"),
                        F.col("z.pay").alias("pay"))
                .where(F.col("pay").isNotNull()))
        inside = ((rows["doc_id"] == spans["doc_id"])
                  & (rows["pos"] >= spans["s"])
                  & (rows["pos"] < spans["e"]))
        hit = rows.join(spans, inside, "left_semi")
        return (hit.groupBy("doc_id")
                .agg(F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "pay"))),
                    lambda x: x["pay"]).alias("payloads")))

    def search_with_timeout(self, q: ast.Query, k: int = 10,
                            timeout_sec: float = 30.0) -> list:
        """TimeLimitingCollector analogue (src/Lucene.Net/Search/
        TimeLimitingCollector.cs): abort the search when the time budget
        expires.  Set-oriented equivalent: the collection runs as a Spark
        job group on a helper thread and is CANCELLED at the deadline
        (job groups are thread-local, so only this search's jobs die);
        like the reference's default (greedy=false) no partial result is
        returned — TimeExceededError is raised."""
        import threading
        import uuid

        group = f"tlc-{uuid.uuid4().hex[:8]}"
        sc = self.spark.sparkContext
        box: dict = {}

        def run():
            sc.setJobGroup(group, "time-limited search",
                           interruptOnCancel=True)
            try:
                box["rows"] = self.search(q, k).collect()
            except Exception as e:  # cancellation surfaces as a Py4J error
                box["err"] = e
            finally:
                sc.setJobGroup(None, None)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout_sec)
        if t.is_alive():
            sc.cancelJobGroup(group)
            t.join(30.0)
            raise TimeExceededError(
                f"search exceeded {timeout_sec}s (job group {group} "
                f"cancelled)")
        if "err" in box:
            raise box["err"]
        return box["rows"]

    def cached_filter(self, q: ast.Query) -> DataFrame:
        """CachingWrapperFilter analogue (src/Lucene.Net/Search/
        CachingWrapperFilter.cs): the filter's doc-id set is computed
        once per Searcher, cached (Spark block cache), and reused by
        every later query that wraps the same filter — keyed on the
        (frozen dataclass) query value."""
        key = q
        hit = self._filter_cache.get(key)
        if hit is None:
            hit = self.match_frame(ast.rewrite(q)).cache()
            self._filter_cache[key] = hit
        return hit

    def count(self, q: ast.Query) -> int:
        """totalHits analogue."""
        return self._hits(q).count()

    def more_like_this(self, doc_id: int, max_terms: int = 5, k: int = 10,
                       field: str | None = None,
                       term_vectors: DataFrame | None = None) -> DataFrame:
        """MoreLikeThis (src/contrib/Queries/Similar/MoreLikeThis.cs):
        extract the source doc's top tf*idf terms, run them as a
        disjunctive BM25 query, exclude the source doc itself.
        Term selection: tf * idf desc, term asc, top max_terms.

        term_vectors: a (materialized) index.term_vectors() frame — the
        forward-index fast path: the source doc's terms come from ONE row
        lookup instead of a posting-table scan (which on the segmented
        path would expand every posting list of the field)."""
        field = field or self.index.fields[0]
        n = self.index.n_docs
        if term_vectors is not None:
            doc_terms = (
                term_vectors
                .where(f"field = {lit(field)} AND "
                       f"doc_id = {lit(int(doc_id))}")
                .select(F.explode("vec").alias("tv"))
                .select(F.col("tv.term").alias("term"),
                        F.col("tv.tf").alias("tf"))
                .collect()
            )
        else:
            doc_terms = (
                self.index.all_postings
                .where(f"field = {lit(field)} AND "
                       f"doc_id = {lit(int(doc_id))}")
                .selectExpr("term", "tf").collect()
            )
        if not doc_terms:
            return self._empty_frame()
        dfs = self.term_dfs([(field, r["term"]) for r in doc_terms])
        idf = BM25Similarity().idf
        ranked = sorted(
            ((r["tf"] * idf(dfs[(field, r["term"])], n), r["term"])
             for r in doc_terms),
            key=lambda x: (-x[0], x[1]),
        )[:max_terms]
        q = ast.Bool(should=tuple(
            ast.Term(t, field=field) for _, t in ranked))
        hits = self.score_frame(ast.rewrite(q)).where(
            f"doc_id != {lit(int(doc_id))}")
        return _top(self._live(hits).selectExpr("doc_id", _ROUNDED_SCORE), k)

    def explain(self, q: ast.Query, doc_id: int) -> dict:
        """Explanation tree for one (query, doc) — the reference's
        Weight.Explain (src/Lucene.Net/Search/TermQuery.cs Explain,
        CheckHits.CheckExplanations tolerance discipline): a nested
        {value, description, details} whose root value equals the doc's
        search score (rounded to SCORE_DECIMALS)."""
        q = ast.rewrite(q)
        node = self._explain(q, doc_id)
        node["value"] = round(node["value"], SCORE_DECIMALS)
        return node

    def _explain(self, q: ast.Query, doc_id: int) -> dict:
        def leaf(value, desc, details=()):
            return {"value": float(value), "description": desc,
                    "details": list(details)}

        if isinstance(q, ast.Term):
            row = (
                self.index.postings_nopos
                .where(f"{_term_filter(q.field, q.term)} AND "
                       f"doc_id = {lit(int(doc_id))}")
                .collect()
            )
            if not row:
                return leaf(0.0, f"no match on term {q.field}:{q.term}")
            tf, dl = int(row[0]["tf"]), int(row[0]["dl"])
            df = self.term_dfs([(q.field, q.term)])[(q.field, q.term)]
            n, avgdl = self.index.n_docs, self.index.avgdl
            from ..functions.similarity import ClassicSimilarity
            if isinstance(self.sim, ClassicSimilarity):
                # DefaultSimilarity explanation tree (TermQuery.cs
                # Explain :160-220): score = queryWeight * fieldWeight
                # with queryWeight = idf * boost (queryNorm omitted, a
                # per-query constant) and fieldWeight = tf * idf * norm
                idf = self.sim.idf(df, n)
                tfv = math.sqrt(tf)
                norm = 1.0 / math.sqrt(dl)
                return leaf(
                    q.boost * idf * idf * tfv * norm,
                    f"weight({q.field}:{q.term} in {doc_id}) [Classic], "
                    f"product of:",
                    [leaf(q.boost * idf, "queryWeight, product of:",
                          [leaf(q.boost, "boost"),
                           leaf(idf, f"idf(docFreq={df}, maxDocs={n})")]),
                     leaf(tfv * idf * norm, "fieldWeight, product of:",
                          [leaf(tfv, f"tf(termFreq={tf})=sqrt(freq)"),
                           leaf(idf, f"idf(docFreq={df}, maxDocs={n})"),
                           leaf(norm, f"fieldNorm(dl={dl})=1/sqrt(dl)")])])
            idf = BM25Similarity().idf(df, n)
            tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
            return leaf(
                q.boost * idf * tfn,
                f"weight({q.field}:{q.term} in {doc_id}) [BM25]",
                [leaf(q.boost, "boost"),
                 leaf(idf, f"idf(df={df}, N={n})"),
                 leaf(tfn, f"tfNorm(tf={tf}, dl={dl}, avgdl={avgdl:.3f})")])
        if isinstance(q, ast.Bool):
            # one _explain per clause (memo — each clause's tree may cost
            # a Spark job; CheckIndex.cs-style debug API, but no need to
            # pay twice)
            sub = {c: self._explain(c, doc_id) for c in q.must + q.should}
            details = list(sub.values())
            total = sum(e["value"] for e in sub.values())
            for c in q.must:
                if sub[c]["value"] == 0.0:
                    return leaf(0.0, "failure to match required clause",
                                details)
            matched_should = sum(
                1 for c in q.should if sub[c]["value"] > 0.0)
            msm = q.min_should_match
            if q.should and not q.must and msm < 1:
                msm = 1
            if matched_should < msm:
                return leaf(0.0, f"minShouldMatch {msm} not met", details)
            for c in q.must_not:
                if self._explain(c, doc_id)["value"] != 0.0:
                    return leaf(0.0, "match on prohibited clause", details)
            return leaf(total * q.boost, "sum of clauses", details)
        if isinstance(q, ast.DisMax):
            subs = [self._explain(c, doc_id) for c in q.queries]
            vals = [e["value"] for e in subs if e["value"] > 0.0]
            if not vals:
                return leaf(0.0, "no matching clause", subs)
            v = (max(vals) + q.tie * (sum(vals) - max(vals))) * q.boost
            return leaf(v, f"max plus {q.tie} times others", subs)
        if isinstance(q, ast.MatchAll):
            return leaf(q.boost, "MatchAllDocsQuery")
        # generic fallback: pull the doc's score from the lowered frame
        row = (self.score_frame(q).where(f"doc_id = {lit(int(doc_id))}")
               .collect())
        v = float(row[0]["score"]) if row else 0.0
        return leaf(v, f"{type(q).__name__} (score via plan)")

    def facet_counts(self, q: ast.Query, facet_col: str) -> DataFrame:
        """SimpleFacetedSearch analogue: facet counts over matching docs
        (src/contrib/SimpleFacetedSearch/SimpleFacetedSearch.cs)."""
        hits = self._hits(q).selectExpr("doc_id")
        stored = self.index.stored
        return (
            stored.join(hits, stored[self.index.id_col] == hits["doc_id"], "left_semi")
            .groupBy(facet_col)
            .agg(F.count("*").alias("facet_count"))
        )

    def search_sorted(self, q: ast.Query, sort_exprs: list, k: int = 10) -> DataFrame:
        """TopFieldCollector analogue: sort hits by stored-field expressions
        (src/Lucene.Net/Search/TopFieldCollector.cs)."""
        hits = self._hits(q).selectExpr("doc_id")
        stored = self.index.stored
        joined = stored.join(
            hits, stored[self.index.id_col] == hits["doc_id"], "left_semi"
        )
        return joined.orderBy(*sort_exprs).limit(k)

    # ------------------------------------------------------- frame builders

    def score_frame(self, q: ast.Query) -> DataFrame:
        """(doc_id, score) for every matching doc."""
        build = _FRAME_BUILDERS.get(type(q))
        if build is None:
            raise NotImplementedError(type(q).__name__)
        return build(self, q)

    def match_frame(self, q: ast.Query) -> DataFrame:
        """doc_id set only (Filter/DocIdSet analogue) — skips scoring where
        the plan allows (constant-score semi-joins)."""
        if isinstance(q, (ast.Prefix, ast.Wildcard, ast.TermRange, ast.Regex)):
            return self._expand_match_ids(q)
        if isinstance(q, ast.BooleanFilter):
            return self._boolean_filter_ids(q)
        if isinstance(q, ast.ChainedFilter):
            return self._chained_filter_ids(q)
        return self.score_frame(q).selectExpr("doc_id")

    def _chained_filter_ids(self, q: "ast.ChainedFilter") -> DataFrame:
        """ChainedFilter.GetDocIdSet as DataFrame set algebra (see
        ast.ChainedFilter).  Each step is one semi/anti join or
        union-distinct on doc_id; XOR = (a ∪ b) − (a ∩ b).  The ANDNOT
        seed complements over the stored-doc universe (the MaxDoc bitset
        flip, ChainedFilter.cs:137-140)."""
        ops = q.resolved_ops()
        sets = [self.match_frame(f).selectExpr("doc_id").distinct()
                for f in q.filters]
        if ops[0] == "ANDNOT":
            universe = self.index.stored.select(
                F.col(self.index.id_col).alias("doc_id"))
            result = universe.join(sets[0], "doc_id", "left_anti")
        else:  # AND seeds with the set itself; OR/XOR fold from empty
            result = sets[0]
        for s, op in zip(sets[1:], ops[1:]):
            if op == "OR":
                result = result.unionByName(s).distinct()
            elif op == "AND":
                result = result.join(s, "doc_id", "left_semi")
            elif op == "ANDNOT":
                result = result.join(s, "doc_id", "left_anti")
            else:  # XOR: symmetric difference
                both = result.join(s, "doc_id", "left_semi")
                result = (result.unionByName(s).distinct()
                          .join(both, "doc_id", "left_anti"))
        return result

    # ---- leaves

    def _term_frame(self, q: ast.Term) -> DataFrame:
        """TermScorer: postings filter on (field, term), pushed below the
        df window and the posting explode, scored from the term_df the
        rows carry.  The score text holds only N, avgdl and the boost, so
        a term query of a seen shape reuses its compiled code; an absent
        term scans no rows."""
        score = self.sim.term_score_sql(
            "tf", "dl", "term_df", self.index.n_docs, self.index.avgdl,
            q.boost)
        return (self.index.postings_nopos
                .where(_term_filter(q.field, q.term))
                .selectExpr("doc_id", f"{score} AS score"))

    def _matchall_frame(self, q: ast.MatchAll) -> DataFrame:
        stored = self.index.stored
        if stored is not None:
            ids = stored.select(F.col(self.index.id_col).alias("doc_id"))
        else:
            ids = self.index.all_postings.selectExpr("doc_id").distinct()
        return ids.select("doc_id", F.lit(float(q.boost)).alias("score"))

    # ---- boolean composition: ONE groupBy(doc_id) over tagged clause rows

    def _bool_frame(self, q: ast.Bool) -> DataFrame:
        clauses = [(c, 1, 0) for c in q.must] + [(c, 0, 1) for c in q.should]
        if not clauses:
            return self._empty_frame()
        keys = {(c.field, c.term) for c, _, _ in clauses
                if isinstance(c, ast.Term)}
        if len(keys) == len(clauses):
            u = self._term_clause_rows(clauses)
        else:
            u = reduce(DataFrame.unionByName, [self.score_frame(c).selectExpr(
                "doc_id", "score", f"{m} AS m", f"{s} AS s")
                for c, m, s in clauses])
        g = u.groupBy("doc_id").agg(F.expr("sum(score) AS score"),
                                    F.expr("sum(m) AS n_must"),
                                    F.expr("sum(s) AS n_should"))
        having = [f"n_must = {len(q.must)}"] if q.must else []
        msm = q.min_should_match
        if q.should and not q.must and msm < 1:
            msm = 1  # pure-disjunction: at least one SHOULD must match
        if msm > 0:
            having.append(f"n_should >= {lit(msm)}")
        if having:
            g = g.where(" AND ".join(having))
        out = g.selectExpr("doc_id", f"score * {lit(float(q.boost))} AS score")
        for c in q.must_not:
            out = out.join(
                self.match_frame(c).selectExpr("doc_id"), "doc_id",
                "left_anti")
        return out

    def _term_clause_rows(self, clauses: list) -> DataFrame:
        """Tagged (doc_id, score, m, s) rows for MUST/SHOULD clauses that
        are all distinct Terms, from ONE postings scan: the OR'd
        (field, term) predicate lands below the df window and the posting
        explode, each row scores with the term_df it carries, and
        `(field, term) IN (...)` tags it MUST or SHOULD.  The boost is one
        literal, or a CASE when the clauses' boosts differ; each
        expression is read once per row.  An absent term scans no rows:
        an absent SHOULD term drops out, an absent MUST term leaves n_must
        short, so nothing matches."""
        def among(cs) -> str:
            keys = ", ".join(f"({lit(c.field)}, {lit(c.term)})" for c in cs)
            return f"(field, term) IN ({keys})"

        def tag(cs) -> str:
            if len(cs) == len(clauses):
                return "1"
            return f"CAST({among(cs)} AS INT)" if cs else "0"

        by_boost: dict[float, list] = {}
        for c, _, _ in clauses:
            by_boost.setdefault(float(c.boost), []).append(c)
        if len(by_boost) == 1:
            boost: str | float = next(iter(by_boost))
        else:
            *cases, (last, _) = by_boost.items()
            boost = ("CASE " + " ".join(
                f"WHEN {among(cs)} THEN {lit(b)}" for b, cs in cases)
                + f" ELSE {lit(last)} END")
        score = self.sim.term_score_sql(
            "tf", "dl", "term_df", self.index.n_docs, self.index.avgdl,
            boost)
        preds = " OR ".join(f"({_term_filter(c.field, c.term)})"
                            for c, _, _ in clauses)
        return (self.index.postings_nopos.where(preds)
                .selectExpr("doc_id", f"{score} AS score",
                            f"{tag([c for c, m, _ in clauses if m])} AS m",
                            f"{tag([c for c, _, s in clauses if s])} AS s"))

    def _dismax_frame(self, q: ast.DisMax) -> DataFrame:
        frames = [self.score_frame(c).selectExpr("doc_id", "score")
                  for c in q.queries]
        if not frames:
            return self._empty_frame()
        g = reduce(DataFrame.unionByName, frames).groupBy("doc_id").agg(
            F.expr("max(score) AS mx"), F.expr("sum(score) AS sm"))
        return g.selectExpr(
            "doc_id", f"(mx + {lit(float(q.tie))} * (sm - mx)) * "
                      f"{lit(float(q.boost))} AS score")

    # ---- phrase

    def _leaf_stats(self, leaves: list[tuple[str, str, int]]
                    ) -> tuple[float, int]:
        """(idf_sum, n_present) of a query's (field, term, qoff) leaves
        from the driver-resolved dfs (MultiPhrase, span and payload
        scorers): idf sums over every present leaf
        (a term repeated at two offsets counts twice; PhraseWeight /
        MultiPhraseWeight / SpanWeight.ExtractTerms), n_present counts the
        query positions holding at least one present term."""
        dfs = self.term_dfs([(f, t) for f, t, _ in leaves])
        present = [(dfs[(f, t)], o) for f, t, o in leaves if dfs[(f, t)]]
        n = self.index.n_docs
        return (sum(self.sim.idf(df, n) for df, _ in present),
                len({o for _, o in present}))

    def _with_qoff(self, field: str, pairs: list[tuple[str, int]]
                   ) -> DataFrame:
        """Positional postings of a query's (term, qoff) pairs with qoff
        attached.  The static (field, term IN ...) predicate comes FIRST so
        Catalyst pushes it below the posting explode (only the query
        terms' lists are expanded); a literal term -> array<qoff> map + explode
        then gives a term at k query positions k rows."""
        qoffs: dict[str, list[int]] = {}
        for t, o in pairs:
            qoffs.setdefault(t, []).append(int(o))
        m = ", ".join(f"{lit(t)}, array({', '.join(map(lit, os))})"
                      for t, os in sorted(qoffs.items()))
        return (self.index.postings
                .where(f"field = {lit(field)} AND term IN ({_in(qoffs)})")
                .selectExpr("*", f"explode(map({m})[term]) AS qoff"))

    def _phrase_frame(self, q: ast.Phrase) -> DataFrame:
        """PhraseScorer: the query terms' positions aligned by their query
        offsets in one positional scan + one groupBy(doc_id).  A doc
        passes the all-terms-present gate when it holds every query
        offset, and its idf sum adds the idf of each offset's term_df in
        qoff order (a term at two offsets counts twice), so a phrase with
        an absent term matches nothing."""
        offsets = q.resolved_offsets()
        pairs = list(zip(q.terms, offsets))
        p = self._with_qoff(q.field, pairs)
        # distinct offsets counted from the collected list, not with
        # countDistinct, whose distinct-aggregate rewrite adds a shuffle
        per_doc = (
            p.groupBy("doc_id", "dl")
            .agg(F.expr("collect_list(struct(qoff, positions, term_df)) "
                        "AS plists"))
            .where(f"size(array_distinct(plists.qoff)) = {len(pairs)}")
        )
        idf_sum = (f"aggregate(sort_array(plists), {lit(0.0)}, (a, e) -> "
                   f"a + {self.sim.idf_sql('e.term_df', self.index.n_docs)})")
        shifted, exact = self._aligned(len(pairs))
        if q.slop == 0:
            freq = exact
        elif q.slop_spec == "lucene":
            # reference semantics: the greedy minimal-window walk of
            # SloppyPhraseScorer.cs:56-96 (repeats included) — a stateful
            # priority-queue traversal no declarative fold expresses, so
            # it runs as an Arrow-batched kernel over the per-doc
            # position lists.  Only docs containing ALL query terms reach
            # this point (offset gate above), so the Python cost is
            # per-candidate, not per-corpus-row.
            from ..functions.sloppy import lucene_sloppy_freq

            slop = int(q.slop)

            @F.pandas_udf("double")
            def _lucene_freq(pl: pd.Series) -> pd.Series:
                vals = []
                for entries in pl:
                    plists = [[int(x) for x in e["positions"]]
                              for e in entries]
                    offs = [int(e["qoff"]) for e in entries]
                    vals.append(lucene_sloppy_freq(plists, offs, slop))
                return pd.Series(vals, dtype="float64")

            per_doc = per_doc.withColumn(
                "freq", _lucene_freq(F.sort_array(F.col("plists"))))
            freq = "freq"
        else:
            # slop_spec="all_tuples": every tuple of shifted positions
            # (one per query position) with spread d = max - min <= slop
            # contributes sloppyFreq(d) = 1/(1+d)
            # (src/Lucene.Net/Search/DefaultSimilarity.cs:71).  This is
            # the SQL-expressible superset of the reference walk (see
            # ast.Phrase.slop_spec); the contract entries use it so their
            # DuckDB oracles stay exact.  Lowered as NESTED higher-order
            # folds over the n position arrays — tuple enumeration happens
            # inside one JVM expression per doc row, no extra join or
            # explode (tuple count = Π tf_i, query-term-bounded).
            def fold(i, mn, mx):
                if i == len(pairs):
                    d = f"{mx} - {mn}"
                    return (f"CASE WHEN {d} <= {lit(q.slop)} THEN {lit(1.0)}"
                            f" / ({lit(1.0)} + CAST({d} AS DOUBLE))"
                            f" ELSE {lit(0.0)} END")
                p = f"p{i}"
                lo, hi = ((f"least({mn}, {p})", f"greatest({mx}, {p})")
                          if i else (p, p))
                return (f"aggregate(element_at({shifted}, {i + 1}), "
                        f"{lit(0.0)}, (acc{i}, {p}) -> acc{i} + "
                        f"{fold(i + 1, lo, hi)})")

            freq = fold(0, None, None)
        return self._freq_scored(per_doc, freq, idf_sum, q.boost)

    @staticmethod
    def _aligned(n: int) -> tuple[str, str]:
        """(shifted, exact freq) over a doc's `plists`: the struct list
        sorted by qoff with each positions list shifted by its offset, and
        the count of positions common to all n shifted lists."""
        shifted = ("transform(sort_array(plists), "
                   "e -> transform(e.positions, x -> x - e.qoff))")
        inter = (f"aggregate(slice({shifted}, 2, {n - 1}), "
                 f"element_at({shifted}, 1), "
                 f"(acc, xs) -> array_intersect(acc, xs))"
                 if n > 1 else f"element_at({shifted}, 1)")
        return shifted, f"CAST(size({inter}) AS DOUBLE)"

    def _freq_scored(self, per_doc: DataFrame, freq: str,
                     idf_sum: str | float, boost: float) -> DataFrame:
        """(doc_id, score) of the candidate docs with freq > 0; freq (and
        a str idf_sum) is SQL text over per_doc's columns."""
        score = self.sim.freq_score_sql(f"({freq})", "dl", idf_sum,
                                        self.index.avgdl, boost)
        return (per_doc.where(f"({freq}) > 0")
                .selectExpr("doc_id", f"{score} AS score"))

    def _multiphrase_frame(self, q: ast.MultiPhrase) -> DataFrame:
        """MultiPhraseQuery (src/Lucene.Net/Search/MultiPhraseQuery.cs):
        per query position, the UNION of the alternatives' position lists
        stands in for a single term's positions; alignment then proceeds
        exactly like the exact-phrase intersection. idf sums over every
        alternative term (MultiPhraseWeight)."""
        offsets = q.resolved_offsets()
        pairs = [(t, o) for alts, o in zip(q.terms_at, offsets) for t in alts]
        # idf sums over the PRESENT alternative terms; n_present counts
        # positions with >=1 present alternative (MultiPhraseWeight)
        idf_sum, n_present = self._leaf_stats(
            [(q.field, t, o) for t, o in pairs])
        if n_present != len(offsets):
            return self._empty_frame()
        p = self._with_qoff(q.field, pairs)
        # union the alternatives' positions per (doc, qoff) first
        per_off = (
            p.groupBy("doc_id", "dl", "qoff")
            .agg(F.expr("array_sort(array_distinct(flatten("
                        "collect_list(positions)))) AS positions"))
        )
        per_doc = (
            per_off.groupBy("doc_id", "dl")
            .agg(F.expr("count(*) AS n_off"),
                 F.expr("collect_list(struct(qoff, positions)) AS plists"))
            .where(f"n_off = {len(offsets)}")
        )
        _, freq = self._aligned(len(offsets))
        return self._freq_scored(per_doc, freq, idf_sum, q.boost)

    def _numeric_range_frame(self, q: ast.NumericRange) -> DataFrame:
        """Native BETWEEN on the stored column (NumericRangeQuery ->
        Catalyst predicate pushdown; no trie terms needed, SURVEY §2.6).
        Constant score, like the reference's CONSTANT_SCORE_FILTER mode."""
        stored = self.index.stored
        c = F.col(q.column)
        pred = F.lit(True)
        if q.lower is not None:
            pred = pred & (c >= q.lower if q.include_lower else c > q.lower)
        if q.upper is not None:
            pred = pred & (c <= q.upper if q.include_upper else c < q.upper)
        return stored.where(pred).select(
            F.col(self.index.id_col).alias("doc_id"),
            F.lit(float(q.boost)).alias("score"))

    def _boosting_frame(self, q: ast.Boosting) -> DataFrame:
        """contrib BoostingQuery: demote (or promote) docs matching the
        context query; the context never contributes score of its own."""
        m = self.score_frame(q.match)
        ctx = self.match_frame(q.context).select(
            "doc_id", F.lit(True).alias("_ctx"))
        joined = m.join(ctx, "doc_id", "left")
        factor = F.when(F.col("_ctx"), float(q.context_boost)).otherwise(1.0)
        return joined.select(
            "doc_id",
            (F.col("score") * factor * F.lit(float(q.boost))).alias("score"))

    def _dedup_frame(self, q: ast.DedupByKey) -> DataFrame:
        """contrib DuplicateFilter: one doc per key among the matches —
        lowest doc_id wins (KM_USE_FIRST_OCCURRENCE)."""
        from pyspark.sql import Window
        hits = self.score_frame(q.query)
        stored = self.index.stored
        keyed = hits.join(
            stored.select(F.col(self.index.id_col).alias("doc_id"),
                          F.col(q.key_col).alias("_key")),
            "doc_id")
        w = Window.partitionBy("_key").orderBy(F.col("doc_id").asc())
        return (
            keyed.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("doc_id",
                    (F.col("score") * F.lit(float(q.boost))).alias("score"))
        )

    # ---- multi-term expansion

    def _term_predicate(self, q: ast.Query) -> str:
        """The multi-term query's predicate on the term column, as SQL
        text.  A prefix is `startswith`, never LIKE: `%` and `_` in it
        stay literal."""
        if isinstance(q, ast.Prefix):
            return f"startswith(term, {lit(q.prefix)})"
        if isinstance(q, ast.Wildcard):
            return f"term RLIKE {lit(wildcard_to_regex(q.pattern))}"
        if isinstance(q, ast.Regex):
            return f"term RLIKE {lit(q.pattern)}"
        if isinstance(q, ast.TermRange):
            t, lo, hi = "term", q.lower, q.upper
            if q.collation == "folded":
                # collated compare (TermRangeTermEnum.cs:35-41): both the
                # dictionary term and the bounds map through the collation
                # key — still one JVM predicate on the term dictionary
                from ..analysis.folding import fold_ascii_py, fold_sql
                t = f"lower({fold_sql(t)})"
                lo = fold_ascii_py(lo).lower() if lo is not None else None
                hi = fold_ascii_py(hi).lower() if hi is not None else None
            elif q.collation is not None:
                raise NotImplementedError(
                    f"collation {q.collation!r} (supported: 'folded')")
            conds = []
            if lo is not None:
                conds.append(f"{t} {'>=' if q.include_lower else '>'} "
                             f"{lit(lo)}")
            if hi is not None:
                conds.append(f"{t} {'<=' if q.include_upper else '<'} "
                             f"{lit(hi)}")
            return " AND ".join(conds) or "true"
        raise NotImplementedError(type(q).__name__)

    def _expand_match_ids(self, q: ast.Query) -> DataFrame:
        """CONSTANT_SCORE_FILTER rewrite: no term enumeration, direct
        predicate on the postings term column -> distinct doc set."""
        return (
            self.index.postings_nopos
            .where(f"field = {lit(q.field)} AND ({self._term_predicate(q)})")
            .selectExpr("doc_id")
            .distinct()
        )

    def _constant_frame(self, q: ast.Query, boost: float) -> DataFrame:
        ids = self.match_frame(q)
        return ids.selectExpr("doc_id", f"{lit(float(boost))} AS score")

    def _fuzzy_frame(self, q: ast.Fuzzy) -> DataFrame:
        """SCORING_BOOLEAN rewrite, fully in-plan: the candidate
        (field, term, df, tboost) frame — term-dictionary scan, Levenshtein
        predicate, top-1024 by (sim desc, term asc) — broadcast-joins the
        postings ONCE, with the similarity boost riding as a column.  No
        driver collect, no per-term plan fan-out; on the segmented path
        the join lands below the posting explode so only candidate lists
        are expanded (FuzzyTermEnum.cs:135-183 semantics, MultiTermQuery
        SCORING_BOOLEAN rewrite at plan scale)."""
        cand = self.index.term_stats().where(f"field = {lit(q.field)}")
        if q.prefix_length > 0:
            cand = cand.where(
                f"startswith(term, {lit(q.term[: q.prefix_length])})")
        sim = (f"{lit(1.0)} - CAST(levenshtein(term, {lit(q.term)}) AS "
               f"DOUBLE) / CAST(least(length(term), {len(q.term)}) AS "
               f"DOUBLE)")
        ms = float(q.min_similarity)
        tboost = (f"((sim - {lit(ms)}) / {lit(1.0 - ms)}) * "
                  f"{lit(float(q.boost))}")
        cand = (
            cand.selectExpr("field", "term", "df", f"{sim} AS sim")
            .where(f"sim >= {lit(ms)}")
            .orderBy(F.desc("sim"), F.asc("term"))
            .limit(ast.MAX_CLAUSE_COUNT)  # FuzzyQuery top-1024 expansion
            .selectExpr("field", "term", "df", f"{tboost} AS tboost")
        )
        score = self.sim.term_score_sql(
            "tf", "dl", "df", self.index.n_docs, self.index.avgdl, "tboost")
        return (
            self.index.postings_for_terms(cand)
            .selectExpr("doc_id", f"{score} AS score")
            .groupBy("doc_id").agg(F.expr("sum(score) AS score"))
        )

    # ---- span queries (SURVEY §2.4, src/Lucene.Net/Search/Spans/)

    def _spans(self, q: ast.Query) -> DataFrame:
        """(doc_id, dl, s, e) span rows for a span query tree.  SpanTerm
        leaves carry a static (field, term) predicate, so on the segmented
        path only the leaf terms' position lists are read; composites
        are joins/unions over those already-tiny frames."""
        if isinstance(q, ast.SpanTerm):
            return (self.index.postings
                    .where(_term_filter(q.field, q.term))
                    .selectExpr("doc_id", "dl", "explode(positions) AS s")
                    .selectExpr("*", "s + 1 AS e"))
        if isinstance(q, ast.SpanOr):
            if not q.clauses:
                # a Bool of only prohibited/unconvertible clauses converts
                # to SpanOr(()) — the reference simply finds no spans
                # (PayloadSpanUtil.cs drops prohibited clauses)
                return self.index.spark.createDataFrame(
                    [], "doc_id long, dl int, s int, e int")
            frames = [self._spans(c) for c in q.clauses]
            u = frames[0]
            for fr in frames[1:]:
                u = u.unionByName(fr)
            return u.distinct()
        if isinstance(q, ast.SpanFirst):
            return self._spans(q.match).where(F.col("e") <= q.end)
        if isinstance(q, ast.FieldMaskingSpan):
            # positions pass through; only the advertised field changes,
            # which matters to the CALLER composing across parallel fields
            return self._spans(q.inner)
        if isinstance(q, ast.SpanNot):
            inc = self._spans(q.include)
            exc = self._spans(q.exclude).select(
                F.col("doc_id").alias("xdoc"), F.col("s").alias("xs"),
                F.col("e").alias("xe"))
            overlap = ((inc["doc_id"] == exc["xdoc"])
                       & (inc["s"] < exc["xe"]) & (inc["e"] > exc["xs"]))
            return inc.join(exc, overlap, "left_anti")
        if isinstance(q, ast.SpanNear):
            if q.in_order and q.spec == "lucene":
                return self._span_near_walk(q)
            n = len(q.clauses)
            frames = []
            for i, c in enumerate(q.clauses):
                fr = self._spans(c).select(
                    "doc_id", *(["dl"] if i == 0 else []),
                    F.col("s").alias(f"s{i}"), F.col("e").alias(f"e{i}"))
                frames.append(fr)
            j = frames[0]
            for i in range(1, n):
                j = j.join(frames[i], "doc_id")
                if q.in_order:
                    # strictly ordered, non-overlapping (NearSpansOrdered)
                    j = j.where(F.col(f"s{i}") >= F.col(f"e{i - 1}"))
            if not q.in_order:
                for i in range(n):
                    for m in range(i + 1, n):
                        j = j.where((F.col(f"e{i}") <= F.col(f"s{m}"))
                                    | (F.col(f"e{m}") <= F.col(f"s{i}")))
            start = F.least(*[F.col(f"s{i}") for i in range(n)])
            end = F.greatest(*[F.col(f"e{i}") for i in range(n)])
            widths = sum((F.col(f"e{i}") - F.col(f"s{i}")) for i in range(n))
            slack = (end - start) - widths
            return (j.where(slack <= q.slop)
                    .select("doc_id", "dl", start.alias("s"),
                            end.alias("e"))
                    .distinct())
        raise NotImplementedError(type(q).__name__)

    def _span_near_walk(self, q: "ast.SpanNear") -> DataFrame:
        """NearSpansOrdered enumeration (NearSpansOrdered.cs) — the
        reference semantics for ordered spans.  Clause span frames union
        with a clause index, group per doc (shuffle bounded by the query
        terms' postings, never the corpus), and an Arrow-batched UDF runs
        the stretch/shrink walk per doc (functions/spanwalk.py);
        cross-checked against an independent bisect re-derivation
        (oracle/pybm25.ordered_spans_ref, tests/test_spanwalk.py)."""
        from ..functions.spanwalk import ordered_spans
        n = len(q.clauses)
        slop = int(q.slop)
        frames = []
        for i, c in enumerate(q.clauses):
            frames.append(self._spans(c).select(
                "doc_id", *(["dl"] if i == 0 else []),
                F.lit(i).alias("ci"), "s", "e"))
        dl_map = frames[0].select("doc_id", "dl").distinct()
        u = frames[0].drop("dl")
        for fr in frames[1:]:
            u = u.unionByName(fr)

        @F.pandas_udf(T.ArrayType(T.StructType([
            T.StructField("s", T.IntegerType()),
            T.StructField("e", T.IntegerType())])))
        def walk(col: pd.Series) -> pd.Series:
            out = []
            for rows in col:
                per = [[] for _ in range(n)]
                for r in rows:
                    per[int(r["ci"])].append((int(r["s"]), int(r["e"])))
                for lst in per:
                    lst.sort()
                out.append([{"s": s, "e": e}
                            for s, e, _ in ordered_spans(per, slop)])
            return pd.Series(out)

        grouped = (u.groupBy("doc_id")
                   .agg(F.collect_list(F.struct("ci", "s", "e")).alias("sp"),
                        F.count_distinct("ci").alias("nc"))
                   .where(F.col("nc") == n))
        matches = (grouped.select("doc_id",
                                  F.explode(walk(F.col("sp"))).alias("m"))
                   .select("doc_id", F.col("m.s").alias("s"),
                           F.col("m.e").alias("e")))
        return matches.join(dl_map, "doc_id")

    def _span_score_frame(self, q: ast.Query) -> DataFrame:
        """SpanScorer analogue: freq(doc) = Σ_spans 1/(1 + (e - s))
        (sloppyFreq of the span width, SpanScorer.cs SetFreqCurrentDoc);
        idf sums over the leaf terms (SpanWeight.ExtractTerms)."""
        idf_sum, _ = self._leaf_stats(
            [(t.field, t.term, i) for i, t in enumerate(ast.span_leaves(q))])
        per_doc = (self._spans(q).groupBy("doc_id", "dl")
                   .agg(F.expr(f"sum({lit(1.0)} / ({lit(1.0)} + "
                               f"CAST(e - s AS DOUBLE))) AS freq")))
        return self._freq_scored(per_doc, "freq", idf_sum, q.boost)

    # ---- payload queries (SURVEY §2.4, Search/Payloads/)

    @staticmethod
    def _payload_doc_score(fn: str, pay_sum: str, pay_min: str,
                           pay_max: str, pay_cnt: str) -> str:
        """PayloadFunction.DocScore (Search/Payloads/{Average,Min,Max}
        PayloadFunction.cs) as SQL text: aggregate over every payload seen
        in the doc; 1.0 when none were seen (all three concrete functions
        guard on numPayloadsSeen > 0)."""
        agg = {"avg": f"({pay_sum}) / ({pay_cnt})", "min": pay_min,
               "max": pay_max}[fn]
        return f"CASE WHEN {pay_cnt} > 0 THEN {agg} ELSE {lit(1.0)} END"

    def _payload_score(self, q, freq: str, idf_sum: float,
                       pay_score: str) -> str:
        """span score x payload DocScore, or the DocScore alone when the
        query excludes the span score — both boosted."""
        if not q.include_span_score:
            return f"{pay_score} * {lit(float(q.boost))}"
        span = self.sim.freq_score_sql(freq, "dl", idf_sum,
                                       self.index.avgdl, q.boost)
        return f"{span} * {pay_score}"

    def _payload_postings(self, field: str, term: str) -> DataFrame:
        return self.index.postings_payloads.where(_term_filter(field, term))

    def _payload_positions(self, field: str, term: str) -> DataFrame:
        """(doc_id, dl, pos, pay) per occurrence of a term."""
        z = F.explode(F.arrays_zip(F.col("positions").alias("pos"),
                                   F.col("payloads").alias("pay"))).alias("_z")
        return (self._payload_postings(field, term)
                .select("doc_id", "dl", z)
                .select("doc_id", "dl", F.col("_z.pos").alias("pos"),
                        F.col("_z.pay").cast("double").alias("pay")))

    def _payload_term_frame(self, q: ast.PayloadTerm) -> DataFrame:
        """PayloadTermQuery (PayloadTermQuery.cs:124-199): span-term freq
        (each occurrence is a width-1 span -> sloppyFreq contribution
        1/(1+1) per the engine's span convention, _span_score_frame) times
        the PayloadFunction aggregate of the occurrences' payloads."""
        p = self._payload_postings(q.field, q.term)
        df = self.term_dfs([(q.field, q.term)])[(q.field, q.term)]
        if df == 0:
            return self._empty_frame()
        has = "payloads IS NOT NULL AND size(payloads) > 0"
        pay_cnt = f"CASE WHEN {has} THEN size(payloads) ELSE 0 END"
        pay_sum = (f"CASE WHEN {has} THEN aggregate(payloads, {lit(0.0)}, "
                   f"(a, x) -> a + CAST(x AS DOUBLE)) ELSE {lit(0.0)} END")
        pay_score = self._payload_doc_score(
            q.fn, pay_sum, "CAST(array_min(payloads) AS DOUBLE)",
            "CAST(array_max(payloads) AS DOUBLE)", pay_cnt)
        score = self._payload_score(
            q, f"CAST(tf AS DOUBLE) * {lit(0.5)}",
            self.sim.idf(df, self.index.n_docs), pay_score)
        return p.selectExpr("doc_id", f"{score} AS score")

    def _payload_near_frame(self, q: ast.PayloadNear) -> DataFrame:
        """PayloadNearQuery (PayloadNearQuery.cs:38-52, scorer at
        :200-261): SpanNear over term leaves; every matching span feeds
        its leaf payloads to the PayloadFunction; score = span score x
        payload DocScore.  spec="lucene" sources matches from the
        NearSpansOrdered walk (payloads at each match's chosen positions,
        ShrinkToAfterShortestMatch :329-405); spec="all_tuples" enumerates
        every clause-position combination meeting order+slop, mirrored
        exactly by the DuckDB oracle."""
        if q.in_order and q.spec == "lucene":
            return self._payload_near_walk(q)
        n = len(q.terms)
        frames = [self._payload_positions(q.field, t).select(
            "doc_id", *(["dl"] if i == 0 else []),
            F.col("pos").alias(f"s{i}"), F.col("pay").alias(f"p{i}"))
            for i, t in enumerate(q.terms)]
        j = frames[0]
        for i in range(1, n):
            j = j.join(frames[i], "doc_id")
            if q.in_order:
                j = j.where(F.col(f"s{i}") >= F.col(f"s{i - 1}") + 1)
        if not q.in_order:
            for i in range(n):
                for m in range(i + 1, n):
                    j = j.where(F.col(f"s{i}") != F.col(f"s{m}"))
        scols = [F.col(f"s{i}") for i in range(n)]
        start = F.least(*scols) if n > 1 else scols[0]
        end = (F.greatest(*scols) if n > 1 else scols[0]) + F.lit(1)
        j = j.where((end - start) - F.lit(n) <= q.slop)
        contrib = F.lit(1.0) / (F.lit(1.0) + (end - start).cast("double"))
        pay_row = sum(F.col(f"p{i}") for i in range(n))
        mins = [F.min(f"p{i}") for i in range(n)]
        maxs = [F.max(f"p{i}") for i in range(n)]
        per_doc = (j.groupBy("doc_id", "dl").agg(
            F.sum(contrib).alias("freq"),
            F.sum(pay_row).alias("pay_sum"),
            (F.least(*mins) if n > 1 else mins[0]).alias("pay_min"),
            (F.greatest(*maxs) if n > 1 else maxs[0]).alias("pay_max"),
            (F.count(F.lit(1)) * n).alias("pay_cnt")))
        return self._payload_near_scored(q, per_doc)

    def _payload_near_scored(self, q: ast.PayloadNear,
                             per_doc: DataFrame) -> DataFrame:
        """score = span score x PayloadFunction DocScore of the per-doc
        (freq, dl, pay_sum, pay_min, pay_max, pay_cnt) rows; idf sums over
        the query terms from the driver-resolved dfs."""
        idf_sum, _ = self._leaf_stats(
            [(q.field, t, i) for i, t in enumerate(q.terms)])
        pay_score = self._payload_doc_score(
            q.fn, "pay_sum", "pay_min", "pay_max", "pay_cnt")
        score = self._payload_score(q, "freq", idf_sum, pay_score)
        return per_doc.selectExpr("doc_id", f"{score} AS score")

    def _payload_near_walk(self, q: ast.PayloadNear) -> DataFrame:
        """NearSpansOrdered-sourced PayloadNear: per doc, run the walk
        over the clause position lists and collect each match's chosen
        positions' payloads (the PayloadNearSpanScorer path)."""
        from ..functions.spanwalk import ordered_spans
        n = len(q.terms)
        slop = int(q.slop)
        frames = [self._payload_positions(q.field, t).select(
            "doc_id", *(["dl"] if i == 0 else []), F.lit(i).alias("ci"),
            "pos", "pay")
            for i, t in enumerate(q.terms)]
        dl_map = frames[0].select("doc_id", "dl").distinct()
        u = reduce(DataFrame.unionByName, [frames[0].drop("dl"), *frames[1:]])

        @F.pandas_udf(T.StructType([
            T.StructField("freq", T.DoubleType()),
            T.StructField("pay_sum", T.DoubleType()),
            T.StructField("pay_min", T.DoubleType()),
            T.StructField("pay_max", T.DoubleType()),
            T.StructField("pay_cnt", T.LongType())]))
        def walk(col: pd.Series) -> pd.DataFrame:
            rows_out = []
            for rows in col:
                per = [[] for _ in range(n)]
                paymap: dict[tuple[int, int], float] = {}
                for r in rows:
                    ci, pos = int(r["ci"]), int(r["pos"])
                    per[ci].append((pos, pos + 1))
                    paymap[(ci, pos)] = float(r["pay"])
                for lst in per:
                    lst.sort()
                freq = ps = 0.0
                pmin, pmax, cnt = None, None, 0
                for s, e, chosen in ordered_spans(per, slop):
                    freq += 1.0 / (1.0 + (e - s))
                    for ci, p in enumerate(chosen):
                        v = paymap[(ci, p)]
                        ps += v
                        pmin = v if pmin is None else min(pmin, v)
                        pmax = v if pmax is None else max(pmax, v)
                        cnt += 1
                rows_out.append((freq, ps, pmin, pmax, cnt))
            return pd.DataFrame(rows_out, columns=[
                "freq", "pay_sum", "pay_min", "pay_max", "pay_cnt"])

        grouped = (u.groupBy("doc_id")
                   .agg(F.collect_list(F.struct("ci", "pos", "pay"))
                        .alias("sp"),
                        F.count_distinct("ci").alias("nc"))
                   .where(F.col("nc") == n)
                   .select("doc_id", walk(F.col("sp")).alias("w"))
                   .select("doc_id", "w.*")
                   .where(F.col("freq") > 0)
                   .join(dl_map, "doc_id"))
        return self._payload_near_scored(q, grouped)

    # ---- function queries (score from field values)

    def _field_score_frame(self, q: ast.FieldScore) -> DataFrame:
        """FieldScoreQuery: the ValueSource is literally the stored column
        (src/Lucene.Net/Search/Function/FieldScoreQuery.cs:63) — on Spark
        the FieldCache un-inversion is a no-op because the column exists."""
        stored = self.index.stored
        return stored.select(
            F.col(self.index.id_col).alias("doc_id"),
            (F.expr(q.column).cast("double") * F.lit(float(q.boost)))
            .alias("score"))

    def _ord_score_frame(self, q: ast.OrdFieldScore) -> DataFrame:
        """Ord/ReverseOrdFieldSource (Function/OrdFieldSource.cs:121:
        FieldCache.GetStringIndex order array).  The FieldCache un-invert
        is replaced by ranking the DISTINCT values — vocabulary-scale, not
        corpus-scale — with the partition-rank + base-offset trick
        (sources/corpus.with_doc_ids), so no single-reducer window ever
        sees the full corpus; the rank table then hash-joins back to the
        doc store.  Missing values keep ord 0, which under reverse yields
        the MAX score (ReverseOrdFieldSource.cs:85 ``end - arr[doc]``
        with arr[doc]=0) — reference quirk preserved."""
        from ..sources.corpus import with_doc_ids
        stored = self.index.stored
        vals = (stored.select(F.col(q.column).alias("_v"))
                .where(F.col("_v").isNotNull()).distinct())
        ranked = (with_doc_ids(vals, ("_v",), range_partition=True)
                  .select("_v", (F.col("doc_id") + 1).alias("_ord")))
        joined = stored.join(ranked, stored[q.column] == ranked["_v"],
                             "left")
        ordc = F.coalesce(F.col("_ord"), F.lit(0)).cast("double")
        if q.reverse:
            # `end` = lookup.Length = nDistinct + 1, computed in-plan as a
            # broadcast 1-row agg (no driver action)
            end = ranked.agg((F.max("_ord") + 1).alias("_end"))
            joined = joined.crossJoin(F.broadcast(end))
            score = F.col("_end").cast("double") - ordc
        else:
            score = ordc
        return joined.select(
            F.col(self.index.id_col).alias("doc_id"),
            (score * F.lit(float(q.boost))).alias("score"))

    def _custom_score_frame(self, q: ast.CustomScore) -> DataFrame:
        """CustomScoreQuery default combination: subQueryScore x PRODUCT of
        value sources (src/Lucene.Net/Search/Function/CustomScoreQuery.cs:50,
        CustomScoreProvider.CustomScore) — column arithmetic after one join
        of the subquery hits against the stored table."""
        inner = self.score_frame(q.query)
        stored = self.index.stored
        vals = stored.select(
            F.col(self.index.id_col).alias("doc_id"),
            *[F.expr(e).cast("double").alias(f"_v{i}")
              for i, e in enumerate(q.value_exprs)])
        joined = inner.join(vals, "doc_id")
        s = F.col("score")
        for i in range(len(q.value_exprs)):
            s = s * F.col(f"_v{i}")
        return joined.select(
            "doc_id", (s * F.lit(float(q.boost))).alias("score"))

    # ---- filtered

    def _filtered_frame(self, q: ast.Filtered) -> DataFrame:
        inner = self.score_frame(q.query)
        if isinstance(q.predicate, ast.Query):
            # FilteredQuery(query, Filter) with a composed filter (e.g.
            # BooleanFilter): the filter's doc set semi-joins the hits
            keep = self.match_frame(q.predicate)
        else:
            stored = self.index.stored
            keep = stored.where(q.predicate).select(
                F.col(self.index.id_col).alias("doc_id")
            )
        out = inner.join(keep, "doc_id", "left_semi")
        if q.boost != 1.0:
            out = out.select("doc_id", (F.col("score") * q.boost).alias("score"))
        return out

    def _boolean_filter_ids(self, q: "ast.BooleanFilter") -> DataFrame:
        """BooleanFilter.GetDocIdSet (src/contrib/Queries/BooleanFilter.cs:
        39-92) as DataFrame set algebra: SHOULD union, MUST intersect,
        MUST_NOT subtract — semi/anti joins on doc_id, so each clause's
        own plan (multiterm predicate, range, term) stays intact below."""
        ids: DataFrame | None = None
        for c in q.must:
            m = self.match_frame(c)
            ids = m if ids is None else ids.join(m, "doc_id", "left_semi")
        if q.should:
            u = self.match_frame(q.should[0])
            for c in q.should[1:]:
                u = u.unionByName(self.match_frame(c))
            u = u.distinct()
            ids = u if ids is None else ids.join(u, "doc_id", "left_semi")
        if ids is None:
            # only MUST_NOT clauses: base = all documents
            ids = self.match_frame(ast.MatchAll())
        for c in q.must_not:
            ids = ids.join(self.match_frame(c), "doc_id", "left_anti")
        return ids

    def _empty_frame(self) -> DataFrame:
        """No hits, as a plan the optimizer folds to an empty local
        relation: collecting it (sorted, limited) runs no Spark job."""
        return self.spark.range(1).selectExpr(
            "CAST(NULL AS BIGINT) AS doc_id",
            "CAST(NULL AS DOUBLE) AS score").where("false")


#: score_frame's dispatch: AST node type -> builder(searcher, node)
_FRAME_BUILDERS = {
    ast.Term: Searcher._term_frame,
    ast.Bool: Searcher._bool_frame,
    ast.Phrase: Searcher._phrase_frame,
    ast.MultiPhrase: Searcher._multiphrase_frame,
    ast.NumericRange: Searcher._numeric_range_frame,
    ast.Boosting: Searcher._boosting_frame,
    ast.DedupByKey: Searcher._dedup_frame,
    ast.DisMax: Searcher._dismax_frame,
    ast.MatchAll: Searcher._matchall_frame,
    ast.ConstantScore: lambda s, q: s._constant_frame(q.query, q.boost),
    ast.Filtered: Searcher._filtered_frame,
    ast.Fuzzy: Searcher._fuzzy_frame,
    ast.FieldScore: Searcher._field_score_frame,
    ast.OrdFieldScore: Searcher._ord_score_frame,
    ast.CustomScore: Searcher._custom_score_frame,
    ast.PayloadTerm: Searcher._payload_term_frame,
    ast.PayloadNear: Searcher._payload_near_frame,
    **dict.fromkeys((ast.Prefix, ast.Wildcard, ast.TermRange, ast.Regex,
                     ast.BooleanFilter),
                    lambda s, q: s._constant_frame(q, q.boost)),
    **dict.fromkeys(ast.SPAN_NODES, Searcher._span_score_frame),
}
