"""Lucene-syntax query parser -> plans.ast Query tree.

Re-creates the surface of the reference's JavaCC QueryParser
(src/Lucene.Net/QueryParser/QueryParser.cs, grammar QueryParser.JJ):

    field:term          per-clause field override
    a AND b / && / +a   required clauses
    NOT a / ! / -a      prohibited clauses
    a OR b / || / a b   optional clauses (default operator OR,
                        QueryParser.cs:143-146)
    "a b"~slop          phrase with optional slop (GetFieldQuery :494,725)
    [a TO b] / {a TO b} inclusive/exclusive term range (GetRangeQuery :743)
    pre*                prefix (GetPrefixQuery :1031)
    w?ld*card           wildcard (GetWildcardQuery :989)
    term~ / term~0.6    fuzzy, default minSim 0.5 (GetFuzzyQuery :1057)
    term^2 / (...)^2    boost
    \\ escapes           + - && || ! ( ) { } [ ] ^ " ~ * ? : \\

Semantics choices mirrored from the reference:
- AND promotes the PRECEDING clause from SHOULD to MUST (the classic
  addClause conjunction rule, QueryParser.cs:929-951).
- Plain terms are run through the field's analyzer; a clause whose text
  analyzes to nothing (pure stopwords) is dropped; multi-token analysis
  of a single query term yields a Phrase (QueryParser.cs:494ff).
- Wildcard/prefix/fuzzy/range terms are NOT analyzed, only lowercased
  (lowercaseExpandedTerms default true).
- A 1-clause boolean collapses via ast.rewrite (BooleanQuery.cs:454-471).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from ..analysis.tokenizers import tokenize_standard
from ..plans import ast

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<and>AND\b|&&)
  | (?P<or>OR\b|\|\|)
  | (?P<not>NOT\b|!)
  | (?P<plus>\+)
  | (?P<minus>-)
  | (?P<lparen>\()
  | (?P<rparen>\))
  | (?P<lbrack>\[)
  | (?P<lbrace>\{)
  | (?P<rbrack>\])
  | (?P<rbrace>\})
  | (?P<quoted>"(?:\\.|[^"\\])*")
  | (?P<caret>\^(?P<boostval>[0-9]+(?:\.[0-9]+)?))
  | (?P<fuzzy>~(?P<fuzzval>[0-9]+(?:\.[0-9]+)?)?)
  | (?P<colon>:)
  | (?P<to>TO\b)
  | (?P<term>(?:\\.|[^\s+\-&|!(){}\[\]^"~:\\])+)
    """,
    re.VERBOSE,
)


@dataclass
class _Tok:
    kind: str
    text: str
    boost: float = 1.0
    fuzz: float | None = None


class ParseError(ValueError):
    pass


# range interior: a separate lexical state like the reference grammar's
# <RangeIn>/<RangeOut> (QueryParser.JJ RANGEIN_GOOP: anything but space
# and the closing bracket) — so `[2024-01-01 TO 2024-01-31]` keeps its
# bounds whole instead of splitting on the prohibition operator '-'
_GOOP_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<to>TO\b)
  | (?P<rbrack>\])
  | (?P<rbrace>\})
  | (?P<quoted>"(?:\\.|[^"\\])*")
  | (?P<term>(?:\\.|[^\s\]}"\\])+)
    """,
    re.VERBOSE,
)


def _lex(s: str) -> list[_Tok]:
    out: list[_Tok] = []
    i = 0
    in_range = False
    while i < len(s):
        rx = _GOOP_RE if in_range else _TOKEN_RE
        m = rx.match(s, i)
        if m is None:
            raise ParseError(f"cannot lex at {i}: {s[i:i + 12]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind in ("lbrack", "lbrace"):
            in_range = True
        elif kind in ("rbrack", "rbrace"):
            in_range = False
        if kind == "ws":
            continue
        if kind == "caret":
            out.append(_Tok("boost", m.group("boostval")))
        elif kind == "fuzzy":
            out.append(_Tok("fuzzy", m.group("fuzzval") or ""))
        elif kind == "quoted":
            out.append(_Tok("quoted", m.group("quoted")[1:-1]))
        elif kind == "boostval" or kind == "fuzzval":
            continue
        else:
            out.append(_Tok(kind, m.group(kind)))
    return out


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", r"\1", s)


#: the exact char set QueryParser.Escape backslashes
#: (QueryParser.cs:1175-1190)
_ESCAPE_CHARS = set('\\+-!():^[]"{}~*?|&')


def escape(s: str) -> str:
    """QueryParser.Escape analogue (QueryParser.cs:1175-1190): prefix
    every query-syntax character with a backslash so arbitrary user text
    can be embedded in a query string verbatim."""
    return "".join(("\\" + c) if c in _ESCAPE_CHARS else c for c in s)


class QueryParser:
    """Parser instance bound to a default field + per-field analyzers.

    analyzers maps field -> callable(text) -> [(term, pos)]; fields absent
    from the map use the standard analyzer; `keyword_fields` pass the raw
    (lowercased) text through as a single term (KeywordAnalyzer analogue).
    """

    def __init__(self, default_field: str = ast.DEFAULT_FIELD,
                 analyzers: dict | None = None,
                 keyword_fields: set[str] | frozenset[str] = frozenset(),
                 slop_spec: str = "lucene",
                 date_resolution: str | None = None,
                 field_date_resolutions: dict[str, str] | None = None,
                 range_collation: str | None = None,
                 allow_leading_wildcard: bool = False,
                 date_formats: tuple[str, ...] | None = None,
                 default_operator: str = "OR",
                 phrase_slop: int = 0,
                 fuzzy_min_sim: float = 0.5):
        self.default_field = default_field
        self.analyzers = analyzers or {}
        self.keyword_fields = set(keyword_fields)
        # sloppy-phrase frequency spec forwarded to ast.Phrase (see there)
        self.slop_spec = slop_spec
        # date ranges (GetRangeQuery, QueryParser.cs:743-798): with a
        # resolution set (SetDateResolution / per-field overload), range
        # bounds that parse as dates rewrite to DateTools index strings;
        # the reference's pre-1.9 legacy DateField fallback (no resolution
        # set) is intentionally not reproduced — bounds then stay
        # lexicographic.
        self.date_resolution = date_resolution
        self.field_date_resolutions = field_date_resolutions or {}
        # collator forwarded to TermRange (SetRangeCollator,
        # QueryParser.cs rangeCollator / TermRangeTermEnum.cs:35)
        self.range_collation = range_collation
        # reference default FALSE (QueryParser.cs:289 AllowLeadingWildcard;
        # a leading * / ? forces a full term-dictionary scan)
        self.allow_leading_wildcard = allow_leading_wildcard
        # locale date patterns for range bounds (SetLocale analogue,
        # QueryParser.cs:302 / :765-772); None = the documented defaults
        self.date_formats = date_formats
        # SetDefaultOperator (QueryParser.cs AND_OPERATOR/OR_OPERATOR):
        # under AND, an unmodified clause is REQUIRED unless introduced
        # by OR — and an OR demotes the preceding clause to optional
        # (the AddClause rules, QueryParser.cs:486-520)
        if default_operator not in ("OR", "AND"):
            raise ValueError("default_operator must be 'OR' or 'AND'")
        self.default_operator = default_operator
        # SetPhraseSlop (QueryParser.cs:276): slop for quoted phrases
        # with no explicit ~n
        self.phrase_slop = int(phrase_slop)
        # FuzzyQuery.defaultMinSimilarity stand-in (QueryParser.cs:163)
        self.fuzzy_min_sim = float(fuzzy_min_sim)

    # ---- public

    def parse(self, s: str) -> ast.Query:
        self._toks = _lex(s)
        self._i = 0
        q = self._parse_query(None)
        if self._i != len(self._toks):
            raise ParseError(f"trailing input at token {self._i}")
        if q is None:
            return ast.MatchAll()
        return ast.rewrite(q)

    # ---- field resolution (MultiFieldQueryParser override point)

    def _fields_for(self, scope: str | None) -> list[tuple[str, float]]:
        """(field, boost) targets for a clause: the explicit `field:` scope
        when present, else the parser's default.  MultiFieldQueryParser
        overrides the unqualified case to expand across its field list
        (src/Lucene.Net/QueryParser/MultiFieldQueryParser.cs)."""
        return [(scope or self.default_field, 1.0)]

    def _expand(self, scope: str | None, build) -> ast.Query | None:
        """Build one leaf per target field via `build(field, field_boost)`
        and OR them together (MultiFieldQueryParser combines the per-field
        clauses as SHOULD into one BooleanQuery); a single target passes
        through unwrapped."""
        parts = [q for f, bf in self._fields_for(scope)
                 if (q := build(f, bf)) is not None]
        if not parts:
            return None
        if len(parts) == 1:
            return parts[0]
        return ast.Bool(should=tuple(parts))

    # ---- token helpers

    def _peek(self) -> _Tok | None:
        return self._toks[self._i] if self._i < len(self._toks) else None

    def _next(self) -> _Tok:
        if self._i >= len(self._toks):
            raise ParseError("unexpected end of input")
        t = self._toks[self._i]
        self._i += 1
        return t

    def _opt_boost(self, default: float = 1.0) -> float:
        t = self._peek()
        if t is not None and t.kind == "boost":
            self._next()
            return float(t.text)
        return default

    # ---- grammar

    def _parse_query(self, scope: str | None) -> ast.Query | None:
        """clause sequence with Lucene conjunction/modifier rules; `scope`
        is the enclosing `field:` prefix (Lucene applies it to every clause
        of a parenthesized group, QueryParser.JJ Clause production)."""
        must: list[ast.Query] = []
        should: list[ast.Query] = []
        must_not: list[ast.Query] = []

        pending_conj = None  # "AND" | "OR" | None
        while True:
            t = self._peek()
            if t is None or t.kind in ("rparen",):
                break
            if t.kind == "and":
                self._next()
                pending_conj = "AND"
                continue
            if t.kind == "or":
                self._next()
                pending_conj = "OR"
                continue
            mod = None
            if t.kind in ("plus", "minus", "not"):
                self._next()
                mod = "MUST" if t.kind == "plus" else "MUST_NOT"
            c = self._parse_clause(scope)
            if pending_conj == "AND":
                # promote the preceding optional clause (addClause rule)
                if should:
                    must.append(should.pop())
                if mod is None:
                    mod = "MUST"
            elif pending_conj == "OR" and self.default_operator == "AND":
                # under AND_OPERATOR an OR demotes the preceding clause
                # to optional (QueryParser.cs AddClause: "if this term is
                # introduced by OR, make the preceding term optional")
                if must:
                    should.append(must.pop())
            if (mod is None and self.default_operator == "AND"
                    and pending_conj != "OR"):
                # AND_OPERATOR: required unless prohibited or OR-introduced
                mod = "MUST"
            if c is None:  # analyzed away (stopwords)
                pending_conj = None
                continue
            if mod == "MUST":
                must.append(c)
            elif mod == "MUST_NOT":
                must_not.append(c)
            else:
                should.append(c)
            pending_conj = None

        if not must and not should and not must_not:
            return None
        return ast.Bool(must=tuple(must), should=tuple(should),
                        must_not=tuple(must_not))

    def _parse_clause(self, scope: str | None) -> ast.Query | None:
        t = self._peek()
        if t is None:
            raise ParseError("unexpected end of input")
        # field:... prefix overrides any enclosing group scope
        if (t.kind == "term" and self._i + 1 < len(self._toks)
                and self._toks[self._i + 1].kind == "colon"):
            scope = _unescape(t.text)
            self._next()
            self._next()
            t = self._peek()
            if t is None:
                raise ParseError(f"field '{scope}:' without a value")
        return self._parse_primary(scope)

    def _term_or_phrase(self, field: str, text: str, boost: float,
                        slop: int = 0) -> ast.Query | None:
        toks = self._analyze(field, text)
        if not toks:
            return None
        if len(toks) == 1:
            return ast.Term(toks[0][0], field, boost)
        base = toks[0][1]
        return ast.Phrase(
            terms=tuple(tm for tm, _ in toks), field=field, slop=slop,
            offsets=tuple(p - base for _, p in toks), boost=boost,
            slop_spec=self.slop_spec)

    def _parse_primary(self, scope: str | None) -> ast.Query | None:
        t = self._next()
        if t.kind == "lparen":
            # the group inherits the field scope: title:(foo bar) applies
            # `title` to every inner clause (QueryParser.cs Clause/Query)
            inner = self._parse_query(scope)
            if self._peek() is None or self._peek().kind != "rparen":
                raise ParseError("missing ')'")
            self._next()
            boost = self._opt_boost()
            if inner is None:
                return None
            return inner.boosted(boost) if boost != 1.0 else inner

        if t.kind == "quoted":
            text = _unescape(t.text)
            slop = self.phrase_slop  # SetPhraseSlop default
            nt = self._peek()
            if nt is not None and nt.kind == "fuzzy":
                self._next()
                slop = int(float(nt.text)) if nt.text else 0
            boost = self._opt_boost()
            return self._expand(scope, lambda f, bf: self._term_or_phrase(
                f, text, boost * bf, slop))

        if t.kind in ("lbrack", "lbrace"):
            include_lower = t.kind == "lbrack"
            lo = self._range_bound()
            to = self._next()
            if to.kind != "to":
                raise ParseError("range without TO")
            hi = self._range_bound()
            close = self._next()
            if close.kind not in ("rbrack", "rbrace"):
                raise ParseError("unterminated range")
            include_upper = close.kind == "rbrack"
            boost = self._opt_boost()
            return self._expand(scope, lambda f, bf: ast.TermRange(
                *self._range_parts(f, lo, hi, include_upper),
                f, include_lower, include_upper, boost * bf,
                collation=self.range_collation))

        if t.kind == "term":
            raw = t.text
            nt = self._peek()
            if nt is not None and nt.kind == "fuzzy":
                self._next()
                min_sim = float(nt.text) if nt.text else self.fuzzy_min_sim
                boost = self._opt_boost()
                return self._expand(scope, lambda f, bf: ast.Fuzzy(
                    _unescape(raw).lower(), f, min_similarity=min_sim,
                    boost=boost * bf))
            boost = self._opt_boost()
            has_wild = re.search(r"(?<!\\)[*?]", raw) is not None
            if has_wild:
                if (not self.allow_leading_wildcard
                        and re.match(r"[*?]", raw)):
                    # GetWildcardQuery (QueryParser.cs:989-1001): leading
                    # wildcard rejected unless explicitly enabled
                    raise ParseError(
                        "'*' or '?' not allowed as first character in "
                        "WildcardQuery (set allow_leading_wildcard)")
                pat = _unescape_keep_wild(raw).lower()
                if pat.endswith("*") and "*" not in pat[:-1] and "?" not in pat:
                    return self._expand(scope, lambda f, bf: ast.Prefix(
                        pat[:-1], f, boost * bf))
                return self._expand(scope, lambda f, bf: ast.Wildcard(
                    pat, f, boost * bf))
            text = _unescape(raw)
            return self._expand(scope, lambda f, bf: self._term_or_phrase(
                f, text, boost * bf))

        raise ParseError(f"unexpected token {t.kind}")

    def _range_parts(self, field: str, lo: str | None, hi: str | None,
                     include_upper: bool) -> tuple[str | None, str | None]:
        """GetRangeQuery's date path (QueryParser.cs:743-798): when a date
        resolution is configured for the field and BOTH present bounds
        parse as dates, rewrite them to DateTools strings (inclusive upper
        bound -> end of that day); otherwise pass through lexicographic."""
        res = self.field_date_resolutions.get(field, self.date_resolution)
        if res is None:
            return lo, hi
        from . import datetools as dt
        d_lo = (dt.range_bound(lo, res, False, self.date_formats)
                if lo is not None else None)
        d_hi = (dt.range_bound(hi, res, include_upper, self.date_formats)
                if hi is not None else None)
        if (lo is not None and d_lo is None) or \
                (hi is not None and d_hi is None):
            return lo, hi  # not dates: plain term range
        return d_lo, d_hi

    def _range_bound(self) -> str | None:
        t = self._next()
        if t.kind == "term":
            v = _unescape(t.text).lower()
            return None if v == "*" else v
        if t.kind == "quoted":
            return _unescape(t.text).lower()
        raise ParseError(f"bad range bound: {t.kind}")

    def _analyze(self, field: str, text: str) -> list[tuple[str, int]]:
        if field in self.keyword_fields:
            return [(text, 0)]
        an = self.analyzers.get(field, tokenize_standard)
        return an(text)


class MultiFieldQueryParser(QueryParser):
    """MultiFieldQueryParser (src/Lucene.Net/QueryParser/
    MultiFieldQueryParser.cs): clauses WITHOUT an explicit `field:` prefix
    expand across the configured field list with optional per-field boosts,
    combined as SHOULD clauses of one BooleanQuery (the parameterless-
    boosts GetFieldQuery loop); explicitly-qualified clauses behave exactly
    like the single-field parser.
    """

    def __init__(self, fields: list[str] | dict[str, float],
                 analyzers: dict | None = None,
                 keyword_fields: set[str] | frozenset[str] = frozenset()):
        boosts = (fields if isinstance(fields, dict)
                  else {f: 1.0 for f in fields})
        if not boosts:
            raise ValueError("MultiFieldQueryParser needs at least one field")
        first = next(iter(boosts))
        super().__init__(first, analyzers, keyword_fields)
        self.field_boosts = dict(boosts)

    def _fields_for(self, scope: str | None) -> list[tuple[str, float]]:
        if scope is not None:
            return [(scope, 1.0)]
        return list(self.field_boosts.items())


def _unescape_keep_wild(s: str) -> str:
    """Unescape, but keep unescaped * and ? as wildcards; escaped ones
    become literals (which our regex translation then escapes again)."""
    return re.sub(r"\\([^*?])", r"\1", s)


def parse(s: str, default_field: str = ast.DEFAULT_FIELD, **kw) -> ast.Query:
    return QueryParser(default_field, **kw).parse(s)
