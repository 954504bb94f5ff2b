"""Query AST — the logical plan layer.

Mirrors the reference Query tree (SURVEY.md §2.4-2.6): TermQuery,
BooleanQuery (MUST/SHOULD/MUST_NOT + minimumNumberShouldMatch,
src/Lucene.Net/Search/BooleanQuery.cs), PhraseQuery (exact + sloppy,
src/Lucene.Net/Search/PhraseQuery.cs), DisjunctionMaxQuery, the
MultiTermQuery family (Prefix/Wildcard/Fuzzy/TermRange,
src/Lucene.Net/Search/MultiTermQuery.cs), MatchAllDocsQuery,
ConstantScoreQuery and FilteredQuery.  Construction-time rewrites the
reference does during Query.Rewrite (1-clause boolean collapse
BooleanQuery.cs:454-471, 1-term phrase fold PhraseQuery.cs:283-291) are
applied by `rewrite()`.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields, replace

DEFAULT_FIELD = "text"
MAX_CLAUSE_COUNT = 1024  # src/Lucene.Net/Search/BooleanQuery.cs:63


class Query:
    boost: float = 1.0

    def boosted(self, factor: float) -> "Query":
        return replace(self, boost=self.boost * factor)


@dataclass(frozen=True)
class Term(Query):
    term: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class Phrase(Query):
    """terms[i] sits at query position offsets[i] (holes allowed: a removed
    stopword leaves a gap, mirroring query-side analysis)."""
    terms: tuple[str, ...]
    field: str = DEFAULT_FIELD
    slop: int = 0
    offsets: tuple[int, ...] | None = None
    boost: float = 1.0
    # slop>0 frequency spec: "lucene" (default) = the reference's greedy
    # minimal-window walk (SloppyPhraseScorer.cs:56-96, repeats included;
    # functions/sloppy.py); "all_tuples" = every position tuple with
    # spread <= slop counts 1/(1+spread) — a SQL-expressible superset
    # used where a declarative DuckDB oracle is required.  The two agree
    # whenever no query term occurs more than once inside a candidate
    # window; they diverge on docs like "a b c b a f g" for "c b"~2
    # (lucene: one match; all_tuples: two).
    slop_spec: str = "lucene"

    def resolved_offsets(self) -> tuple[int, ...]:
        return self.offsets if self.offsets is not None else tuple(range(len(self.terms)))


@dataclass(frozen=True)
class MultiPhrase(Query):
    """Phrase with term ALTERNATIVES per position
    (src/Lucene.Net/Search/MultiPhraseQuery.cs): terms_at[i] is the set of
    acceptable terms at query position offsets[i]; a doc matches where
    every position has one of its alternatives at the aligned spot.
    idf = sum over ALL alternative terms (MultiPhraseWeight ctor)."""
    terms_at: tuple[tuple[str, ...], ...]
    field: str = DEFAULT_FIELD
    offsets: tuple[int, ...] | None = None
    boost: float = 1.0

    def resolved_offsets(self) -> tuple[int, ...]:
        return (self.offsets if self.offsets is not None
                else tuple(range(len(self.terms_at))))


@dataclass(frozen=True)
class Bool(Query):
    must: tuple[Query, ...] = ()
    should: tuple[Query, ...] = ()
    must_not: tuple[Query, ...] = ()
    min_should_match: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class DisMax(Query):
    queries: tuple[Query, ...]
    tie: float = 0.0
    boost: float = 1.0


@dataclass(frozen=True)
class Prefix(Query):
    prefix: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class Wildcard(Query):
    """`*` = any run, `?` = one char (src/Lucene.Net/Search/WildcardTermEnum.cs)."""
    pattern: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class Fuzzy(Query):
    """similarity = 1 - edit_dist/min(len(term),len(candidate)), keep
    candidates with similarity >= min_similarity; each expanded term scored
    as a Term with boost (sim - min)/(1 - min)
    (src/Lucene.Net/Search/FuzzyTermEnum.cs:135-183, FuzzyQuery.cs:46-50)."""
    term: str
    field: str = DEFAULT_FIELD
    min_similarity: float = 0.5
    prefix_length: int = 0
    boost: float = 1.0


@dataclass(frozen=True)
class TermRange(Query):
    """TermRangeQuery.  collation=None compares raw codepoints
    (TermRangeTermEnum.cs default); collation="folded" compares on the
    ASCII-folded casefolded key — the pluggable-Collator seam
    (TermRangeTermEnum.cs:35-41; the reference accepts any
    java.text.Collator, here a named strategy selects the comparison
    key expression so the range stays a JVM predicate on the term
    dictionary)."""
    lower: str | None
    upper: str | None
    field: str = DEFAULT_FIELD
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0
    collation: str | None = None


@dataclass(frozen=True)
class Regex(Query):
    """contrib Regex query (src/contrib/Regex/RegexQuery.cs): multiterm
    with a regex term predicate, CONSTANT_SCORE_FILTER rewrite like
    Prefix/Wildcard."""
    pattern: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class MatchAll(Query):
    boost: float = 1.0


@dataclass(frozen=True)
class FieldScore(Query):
    """FieldScoreQuery (src/Lucene.Net/Search/Function/FieldScoreQuery.cs:63):
    every doc matches; score = numeric stored-field value x boost (the
    ValueSource is a plain column expression on Spark)."""
    column: str
    boost: float = 1.0


@dataclass(frozen=True)
class OrdFieldScore(Query):
    """Ord/ReverseOrdFieldSource as a query (src/Lucene.Net/Search/
    Function/OrdFieldSource.cs:26-35: terms lexicographically ordered,
    numbered from 1; ReverseOrdFieldSource.cs:85 scores ``end - ord``
    with end = nDistinct + 1).  Docs without a value carry ord 0 — which
    makes their REVERSE score the maximum, the reference's own quirk."""
    column: str
    reverse: bool = False
    boost: float = 1.0


@dataclass(frozen=True)
class CustomScore(Query):
    """CustomScoreQuery (src/Lucene.Net/Search/Function/CustomScoreQuery.cs:50):
    score = subquery score x PRODUCT of value-source scores (the default
    CustomScoreProvider combination); value sources are SQL expressions
    over the stored table's columns."""
    query: Query
    value_exprs: tuple[str, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class ConstantScore(Query):
    """Uniform score = boost for every matching doc
    (src/Lucene.Net/Search/ConstantScoreQuery.cs)."""
    query: Query = field(default_factory=MatchAll)
    boost: float = 1.0


@dataclass(frozen=True)
class Filtered(Query):
    """query AND an unscored filter (FilteredQuery.cs); predicate is
    either a SQL boolean expression over the stored table's columns
    (QueryWrapperFilter-of-a-range style) or a Query node whose match
    set filters the hits (e.g. a BooleanFilter)."""
    query: Query
    predicate: "str | Query"
    boost: float = 1.0


@dataclass(frozen=True)
class BooleanFilter(Query):
    """contrib BooleanFilter (src/contrib/Queries/BooleanFilter.cs):
    boolean algebra over filter DocIdSets — result = (union of SHOULD,
    when any) AND every MUST, minus every MUST_NOT; with only MUST_NOT
    clauses the base set is all documents (BooleanFilter.GetDocIdSet's
    missing-bits path).  Matching docs score a constant `boost` when
    used as a query (filters don't score, FilterClause.cs)."""
    should: tuple[Query, ...] = ()
    must: tuple[Query, ...] = ()
    must_not: tuple[Query, ...] = ()
    boost: float = 1.0


@dataclass(frozen=True)
class ChainedFilter(Query):
    """contrib ChainedFilter (src/contrib/Analyzers/Filters/
    ChainedFilter.cs:91-215): left-fold of filter DocIdSets under
    OR/AND/ANDNOT/XOR.  Seeding follows InitialResult (:124-147): AND
    seeds with the FIRST filter's set, ANDNOT with its complement over
    the live-doc universe, OR/XOR with the empty set (so the first fold
    step yields the first filter's set).  `logic` is one op for the
    whole chain or a per-step tuple (len == len(filters)); scores are
    constant like every Filter."""
    filters: tuple[Query, ...]
    logic: tuple[str, ...] | str = "OR"
    boost: float = 1.0

    def resolved_ops(self) -> tuple[str, ...]:
        ops = ((self.logic,) * len(self.filters)
               if isinstance(self.logic, str) else tuple(self.logic))
        if len(ops) != len(self.filters):
            raise ValueError("logic array must match filters length")
        bad = set(ops) - {"OR", "AND", "ANDNOT", "XOR"}
        if bad:
            raise ValueError(f"unknown chain logic {bad}")
        return ops


@dataclass(frozen=True)
class NumericRange(Query):
    """Constant-score numeric range over a stored column. The reference
    decomposes ranges into trie terms (src/Lucene.Net/Search/
    NumericRangeQuery.cs, Util/NumericUtils.cs:369-414); on Spark the
    column already exists, so this lowers to a native BETWEEN predicate
    (Catalyst pushdown) — SURVEY §2.6."""
    column: str
    lower: float | None = None
    upper: float | None = None
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class Boosting(Query):
    """contrib BoostingQuery (src/contrib/Queries/BoostingQuery.cs):
    score docs by `match`; docs ALSO matching `context` are multiplied by
    context_boost (<1 demotes them; context itself contributes no score)."""
    match: Query
    context: Query
    context_boost: float = 0.5
    boost: float = 1.0


@dataclass(frozen=True)
class DedupByKey(Query):
    """contrib DuplicateFilter (src/contrib/Queries/DuplicateFilter.cs):
    among matching docs, keep one per stored key value (KM_USE_FIRST_
    OCCURRENCE analogue: the lowest doc_id wins)."""
    query: Query
    key_col: str
    boost: float = 1.0


# ---- span queries (position-exposing composition, SURVEY §2.4;
# src/Lucene.Net/Search/Spans/). A span is (doc, start, end) over token
# positions; composition semantics (exactly specified, mirrored by the
# Spark lowering, the pure-Python oracle and the SQL oracle):
#   SpanTerm t         -> one span (p, p+1) per occurrence
#   SpanOr(cs)         -> union of clause spans (dedup)
#   SpanFirst(m, end)  -> spans of m with e <= end (SpanFirstQuery.cs)
#   SpanNot(inc, exc)  -> spans of inc overlapping NO span of exc
#   SpanNear(cs, slop, in_order) -> one span per clause, combined span =
#     (min s, max e); in_order requires s_{i+1} >= e_i (strictly ordered,
#     non-overlapping — NearSpansOrdered.cs); unordered requires pairwise
#     non-overlap; match iff (e - s) - sum(clause widths) <= slop
#     (the total-gap slop rule of SpanNearQuery.cs:39-49).
# Scoring (SpanScorer.cs SetFreqCurrentDoc): freq(doc) = sum over matching
# spans of sloppyFreq(e - s) = 1/(1 + (e - s)); idf sums over every leaf
# term (SpanWeight ExtractTerms); BM25 tf_norm as elsewhere.


@dataclass(frozen=True)
class SpanTerm(Query):
    term: str
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class SpanOr(Query):
    clauses: tuple[Query, ...]
    boost: float = 1.0


@dataclass(frozen=True)
class SpanNear(Query):
    """spec selects the ordered-span enumeration:
    - "lucene" (default): the reference NearSpansOrdered walk
      (NearSpansOrdered.cs StretchToOrder/ShrinkToAfterShortestMatch) —
      successive minimal matches, fewer spans than tuples on repeated
      terms; functions/spanwalk.py.
    - "all_tuples": every distinct (s, e) over clause-span tuples meeting
      order+slop — the SQL-expressible superset used by entries that need
      an exact DuckDB oracle.
    Unordered (in_order=False) always enumerates tuples; the reference's
    NearSpansUnordered heap walk is not ported (documented deviation —
    identical on non-repeating clause sets)."""
    clauses: tuple[Query, ...]
    slop: int = 0
    in_order: bool = True
    boost: float = 1.0
    spec: str = "lucene"


@dataclass(frozen=True)
class SpanNot(Query):
    include: Query
    exclude: Query
    boost: float = 1.0


@dataclass(frozen=True)
class SpanFirst(Query):
    match: Query
    end: int
    boost: float = 1.0


@dataclass(frozen=True)
class FieldMaskingSpan(Query):
    """FieldMaskingSpanQuery (src/Lucene.Net/Search/Spans/
    FieldMaskingSpanQuery.cs:30-67): wraps a span query and advertises
    `field` instead of the wrapped query's real field so spans over
    PARALLEL fields (same token positions, different analyzers) can
    compose inside one SpanNear/SpanOr.  Span generation passes through
    untouched; extracted leaf terms keep their real field (the reference
    builds the weight from the wrapped query)."""
    inner: Query
    field: str = DEFAULT_FIELD
    boost: float = 1.0


@dataclass(frozen=True)
class PayloadTerm(Query):
    """PayloadTermQuery (src/Lucene.Net/Search/Payloads/
    PayloadTermQuery.cs:50-64): a SpanTermQuery whose score multiplies in
    the per-position payloads at the match positions, aggregated by a
    PayloadFunction (`fn`: avg | min | max, the three shipped concrete
    functions).  include_span_score=False returns the payload score alone
    (PayloadTermQuery.cs Score())."""
    term: str
    field: str = DEFAULT_FIELD
    fn: str = "avg"
    include_span_score: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class PayloadNear(Query):
    """PayloadNearQuery (src/Lucene.Net/Search/Payloads/
    PayloadNearQuery.cs:38-52): SpanNear over term clauses; every payload
    under each matching span feeds the PayloadFunction; final score =
    span score x payload score.  Clauses are (term) strings — the
    reference constructor takes SpanTermQuery[] for one field."""
    terms: tuple[str, ...]
    slop: int = 0
    in_order: bool = True
    field: str = DEFAULT_FIELD
    fn: str = "avg"
    include_span_score: bool = True
    boost: float = 1.0
    # "lucene": NearSpansOrdered walk (the reference scorer's actual span
    # source) with payloads collected at each match's chosen positions;
    # "all_tuples": SQL-expressible tuple enumeration (exact DuckDB
    # oracle).  Ordered queries only; unordered always enumerates tuples.
    spec: str = "lucene"


SPAN_NODES = (SpanTerm, SpanOr, SpanNear, SpanNot, SpanFirst,
              FieldMaskingSpan)


def span_leaves(q: Query) -> list[SpanTerm]:
    """Every SpanTerm leaf (SpanWeight.ExtractTerms analogue)."""
    if isinstance(q, SpanTerm):
        return [q]
    if isinstance(q, SpanOr):
        return [t for c in q.clauses for t in span_leaves(c)]
    if isinstance(q, SpanNear):
        return [t for c in q.clauses for t in span_leaves(c)]
    if isinstance(q, SpanNot):
        return span_leaves(q.include)  # exclude terms don't contribute idf
    if isinstance(q, SpanFirst):
        return span_leaves(q.match)
    if isinstance(q, FieldMaskingSpan):
        return span_leaves(q.inner)  # terms keep their real field
    raise TypeError(f"not a span query: {type(q).__name__}")


def term_leaves(q: Query) -> set[tuple[str, str]]:
    """Every (field, term) whose df some node of the tree scores with —
    the term gathering of MultiSearcher.CreateWeight (MultiSearcher.cs:
    355-390), so a searcher can resolve them all in one lookup."""
    if isinstance(q, (Term, SpanTerm, PayloadTerm)):
        return {(q.field, q.term)}
    if isinstance(q, (Phrase, PayloadNear)):
        return {(q.field, t) for t in q.terms}
    if isinstance(q, MultiPhrase):
        return {(q.field, t) for alts in q.terms_at for t in alts}
    out: set[tuple[str, str]] = set()
    for f in fields(q):
        v = getattr(q, f.name)
        for c in (v if isinstance(v, tuple) else (v,)):
            if isinstance(c, Query):
                out |= term_leaves(c)
    return out


def rewrite(q: Query) -> Query:
    """Reference construction-time rewrites, to fixpoint-in-one-pass."""
    if isinstance(q, Bool):
        must = tuple(rewrite(c) for c in q.must)
        should = tuple(rewrite(c) for c in q.should)
        must_not = tuple(rewrite(c) for c in q.must_not)
        # 1-clause collapse with boost folding (BooleanQuery.cs:454-471)
        if len(must) == 1 and not should and not must_not:
            return rewrite(must[0].boosted(q.boost))
        if len(should) == 1 and not must and not must_not and q.min_should_match <= 1:
            return rewrite(should[0].boosted(q.boost))
        n_clauses = len(must) + len(should) + len(must_not)
        if n_clauses > MAX_CLAUSE_COUNT:
            raise ValueError(f"TooManyClauses: {n_clauses} > {MAX_CLAUSE_COUNT}")
        return replace(q, must=must, should=should, must_not=must_not)
    if isinstance(q, Phrase) and len(q.terms) == 1 and q.offsets is None:
        # 1-term phrase -> TermQuery (PhraseQuery.cs:283-291)
        return Term(q.terms[0], q.field, q.boost)
    if isinstance(q, MultiPhrase) and all(len(a) == 1 for a in q.terms_at):
        # no alternatives anywhere -> plain PhraseQuery
        return rewrite(Phrase(tuple(a[0] for a in q.terms_at), q.field,
                              0, q.offsets, q.boost))
    if isinstance(q, DisMax):
        return replace(q, queries=tuple(rewrite(c) for c in q.queries))
    if isinstance(q, (ConstantScore, Filtered, DedupByKey, CustomScore)):
        return replace(q, query=rewrite(q.query))
    if isinstance(q, Boosting):
        return replace(q, match=rewrite(q.match), context=rewrite(q.context))
    return q


def to_span_query(q: Query) -> Query:
    """Query -> SpanQuery conversion
    (Search/Payloads/PayloadSpanUtil.cs:80-140 QueryToSpanQuery):
    Term -> SpanTerm; Phrase -> SpanNear(slop, in_order = slop==0);
    Bool -> SpanOr over MUST+SHOULD clauses (prohibited clauses are
    dropped, like the reference); DisMax -> SpanOr; span nodes pass
    through.  Multi-term expansions are not convertible pre-rewrite —
    same as the reference, which simply finds no spans for them."""
    if isinstance(q, SPAN_NODES):
        return q
    if isinstance(q, Term):
        return SpanTerm(q.term, q.field, q.boost)
    if isinstance(q, Phrase):
        terms = tuple(t for t in q.terms if t is not None)
        return SpanNear(tuple(SpanTerm(t, q.field) for t in terms),
                        slop=q.slop, in_order=(q.slop == 0))
    if isinstance(q, Bool):
        clauses = tuple(to_span_query(c) for c in q.must + q.should)
        if len(clauses) == 1:
            return clauses[0]
        return SpanOr(clauses)
    if isinstance(q, DisMax):
        return SpanOr(tuple(to_span_query(c) for c in q.queries))
    if isinstance(q, (ConstantScore, Filtered)):
        return to_span_query(q.query)
    raise NotImplementedError(
        f"no span conversion for {type(q).__name__}")
