"""Tokenization — the single source of truth for analyzer semantics.

Re-creates the reference analysis chain (StandardTokenizer -> StandardFilter
-> LowerCaseFilter -> StopFilter; reference:
src/Lucene.Net/Analysis/Standard/StandardAnalyzer.cs:107-115) with
simplified-but-exactly-specified token rules so that THREE independent
implementations agree token-for-token:

  1. pure-Python (this module)        -- oracle, tests, and the segment
                                         invert kernel (index/segments.py),
                                         which runs an Analyzer's two
                                         parts apart
  2. Spark JVM column expressions     -- highlight / percolate / textstats
     (analysis/exprs.py)
  3. DuckDB SQL fragments (oracle/sqlgen.py) -- driver correctness gate

One chain type: every analysis chain that emits one term (or a dropped
token's hole) per raw token is an `Analyzer` — a tokenizer plus a pure
raw-token -> term function.  That covers the chains here, the Snowball
and Lovins chains, the contrib language chains (german, french, dutch,
brazilian, intl) and the reverse/pattern/auto-stop/unaccented chains of
misc.  Only chains that emit something else (shingles, n-grams,
synonyms, compounds, CJK, Thai, single chars, hunspell, payloads, char
filter mappings) stay plain text -> [(term, pos)] callables.

Semantics (the spec):
- standard analyzer: lowercase the text, tokens = maximal runs of [a-z0-9],
  positions assigned over ALL tokens (0-based), then drop tokens longer than
  255 chars (reference max token length,
  src/Lucene.Net/Analysis/Standard/StandardAnalyzer.cs:124) and the 33-word
  English stop set (src/Lucene.Net/Analysis/StopAnalyzer.cs:134).  Stop
  removal KEEPS position holes (StopFilter with enablePositionIncrements,
  src/Lucene.Net/Analysis/StopFilter.cs:128-140) so phrase queries cannot
  match across a removed stopword.
- doc length (the BM25 norm, analogue of .nrm byte counts,
  src/Lucene.Net/Index/NormsWriter.cs:159-186) counts tokens EMITTED by the
  chain, i.e. after stop removal.
- code analyzer (lang-keyed, the north-rule "code-aware tokenizer"):
  identifiers = maximal runs of [A-Za-z0-9_]; each identifier is split on
  snake_case and camelCase boundaries and digit runs; sub-tokens are
  lowercased and each occupies one position; no stop removal (code corpora
  should keep `if`/`in`/`for`).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

# The exact 33-word English stop set of the reference
# (src/Lucene.Net/Analysis/StopAnalyzer.cs:134).
ENGLISH_STOP_WORDS: frozenset[str] = frozenset(
    {
        "a", "an", "and", "are", "as", "at", "be", "but", "by", "for",
        "if", "in", "into", "is", "it", "no", "not", "of", "on", "or",
        "such", "that", "the", "their", "then", "there", "these", "they",
        "this", "to", "was", "will", "with",
    }
)
assert len(ENGLISH_STOP_WORDS) == 33

MAX_TOKEN_LENGTH = 255  # StandardAnalyzer.cs:124

# ---- full StandardTokenizer token classes ----------------------------
# Re-derivation of the JFlex grammar
# (src/Lucene.Net/Analysis/Standard/StandardTokenizerImpl.jflex, type ids
# StandardTokenizer.cs:64-81), ASCII subset (LETTER=[a-z], digit=[0-9];
# THAI/CJ classes out of scope for this corpus), expressed as ONE
# leftmost-first regex alternation so the SAME pattern runs identically
# in Python re, Java regex (Spark JVM) and RE2 (DuckDB) — none of which
# implement JFlex's longest-match rule, so alternation ORDER encodes it:
#
#   EMAIL       alnum(.-_alnum)* @ alnum(.-alnum)+
#   APOSTROPHE  alpha('alpha)+            -- O'Reilly, you're
#   COMPANY     alpha[&@]alpha            -- AT&T, Excite@Home
#   NUM         P-joined segments, alternating HAS_DIGIT anchors
#   DOTTED      alnum(.alnum)+ optional trailing '.' -- HOST, ACRONYM,
#               ACRONYM_DEP folded into one branch; classified after the
#               match by shape (see _std_transform)
#   ALPHANUM    alnum run
#
# Known deviations from JFlex longest-match (documented, rare):
#   - "1.2-3": JFlex NUM wins over HOST prefix; here NUM is ordered
#     before DOTTED so it also wins — but mixed-P runs whose digit lies
#     only beyond a non-dot separator may segment differently
#     (e.g. "a-b-c2" -> [a, b-c2] here AND in JFlex — verified).
#   - HOST vs NUM type labels for all-dotted digit runs ("1.2.3.4")
#     differ (NUM here, HOST in JFlex); the emitted TERM is identical.
_P = r"[_\-/.,]"
_HD = r"[a-z]*[0-9][a-z0-9]*"  # HAS_DIGIT segment
STANDARD_ALTERNATION = (
    r"[a-z0-9]+(?:[._-][a-z0-9]+)*@[a-z0-9]+(?:[.-][a-z0-9]+)+"   # EMAIL
    r"|[a-z]+(?:'[a-z]+)+"                                        # APOSTROPHE
    r"|[a-z]+[&@][a-z]+"                                          # COMPANY
    rf"|(?:[a-z0-9]+{_P})?{_HD}(?:{_P}[a-z0-9]+{_P}{_HD})*(?:{_P}[a-z0-9]+)?"  # NUM
    r"|[a-z0-9]+(?:\.[a-z0-9]+)+\.?"                              # DOTTED
    r"|[a-z0-9]+"                                                 # ALPHANUM
)
STANDARD_TOKEN_RE = re.compile(STANDARD_ALTERNATION)
# dotted single letters ending '.' == ACRONYM (dots removed by
# StandardFilter, StandardFilter.cs:66-78); other trailing-dot DOTTED
# matches are ACRONYM_DEP -> HOST with the trailing dot stripped
# (replaceInvalidAcronym, StandardTokenizer.cs:182-193)
ACRONYM_RE = re.compile(r"(?:[a-z]\.){2,}")


def _std_transform(tok: str) -> str:
    """StandardFilter + invalid-acronym repair for one raw token."""
    if tok.endswith("'s"):
        tok = tok[:-2]  # possessive strip (StandardFilter.cs:61-65)
    if ACRONYM_RE.fullmatch(tok):
        return tok.replace(".", "")
    if tok.endswith("."):
        return tok[:-1]
    return tok


# ---- surface tokens: the simple [a-z0-9]+ spec, used by the DEDUP and
# TEXTSTATS operators (they analyze surface text, not index terms) and
# mirrored by oracle/sqlgen._raw_tok_cte.
SURFACE_SPLIT_PATTERN = "[^a-z0-9]+"         # for Spark F.split(lower(x), ...)

# Code camel/snake/digit sub-tokens (see tokenize_code).
CODE_SUBTOKEN_RE = re.compile(r"[A-Z]+(?![a-z])|[A-Z][a-z0-9]*|[a-z0-9]+")

# Languages routed to the code analyzer (PerFieldAnalyzerWrapper analogue,
# src/Lucene.Net/Analysis/PerFieldAnalyzerWrapper.cs, keyed on `lang`).
CODE_LANGS: frozenset[str] = frozenset(
    {"python", "java", "csharp", "c", "cpp", "go", "rust", "js",
     "javascript", "typescript", "scala", "kotlin", "ruby", "php"}
)


@dataclass(frozen=True)
class Analyzer:
    """An analysis chain in its two parts: `tokens`, the tokenizer
    (text -> raw tokens; a token's position is its index), and `term`,
    the term->term chain (raw token -> indexed term, or None to drop it
    and keep its position as a hole).

    Called, it is the text -> [(term, position)] stream every caller
    reads (query side, oracle, tests).  The segment invert kernel
    (index/segments._invert_partition) runs the same two parts apart:
    `tokens` per document and `term` once per unique raw token of a
    partition, so the two forms cannot drift."""
    tokens: Callable[[str], list[str]]
    term: Callable[[str], str | None]

    def __call__(self, text: str) -> list[tuple[str, int]]:
        if text is None:
            return []
        return [(t, p) for p, t in enumerate(map(self.term, self.tokens(text)))
                if t is not None]


def _standard_tokens(text: str) -> list[str]:
    """StandardTokenizer over the lowercased text (LowerCaseFilter folded
    into the pre-pass): the raw token classes, before StandardFilter."""
    return STANDARD_TOKEN_RE.findall(text.lower())


def standard_analyzer(stop: frozenset[str] = ENGLISH_STOP_WORDS,
                      stem: Callable[[str], str] | None = None) -> Analyzer:
    """StandardTokenizer -> StandardFilter -> LowerCase -> length filter
    -> StopFilter(stop, holes kept) -> optional stemmer: the chain of
    StandardAnalyzer and, with `stem`, of SnowballAnalyzer
    (SnowballAnalyzer.cs TokenStream)."""
    def term(tok: str) -> str | None:
        tok = _std_transform(tok)
        if len(tok) > MAX_TOKEN_LENGTH or tok in stop:
            return None
        return stem(tok) if stem is not None else tok
    return Analyzer(_standard_tokens, term)


def _code_term(sub: str) -> str | None:
    # length test on the RAW sub-token, lowercase on emit
    return sub.lower() if len(sub) <= MAX_TOKEN_LENGTH else None


#: the built-in chains the lang-keyed dispatch picks from
STANDARD = standard_analyzer()
CODE = Analyzer(CODE_SUBTOKEN_RE.findall, _code_term)


def tokenize_standard(text: str) -> list[tuple[str, int]]:
    """(term, position) pairs after the standard chain; holes preserved.

    Full chain: StandardTokenizer type classes (EMAIL/APOSTROPHE/COMPANY/
    NUM/HOST/ACRONYM/ALPHANUM) -> StandardFilter ('s strip, acronym dot
    removal) -> LowerCaseFilter (folded into the lower() pre-pass) ->
    length filter -> StopFilter with position holes."""
    return STANDARD(text)


def _len_preserving_lower(text: str) -> str:
    """Lowercase without changing string length, so token character
    offsets computed on the lowered text index the STORED text too.
    The rare chars whose Unicode lowercase expands (e.g. İ) are kept
    as-is — a documented deviation affecting the term, not the offsets
    (ASCII corpora are unaffected)."""
    low = text.lower()
    if len(low) == len(text):
        return low
    return "".join(c if len(cl := c.lower()) != 1 else cl for c in text)


def tokenize_standard_offsets(
        text: str) -> list[tuple[str, int, int, int]]:
    """(term, position, start_offset, end_offset) after the standard
    chain — the WITH_POSITIONS_OFFSETS token stream
    (src/Lucene.Net/Documents/Field.cs:100, OffsetAttribute): offsets
    span the RAW tokenizer match in the stored text (the reference keeps
    tokenizer offsets even when StandardFilter rewrites the term)."""
    if text is None:
        return []
    low = _len_preserving_lower(text)
    out: list[tuple[str, int, int, int]] = []
    for pos, m in enumerate(STANDARD_TOKEN_RE.finditer(low)):
        tok = STANDARD.term(m.group(0))
        if tok is not None:
            out.append((tok, pos, m.start(), m.end()))
    return out


def tokenize_code_offsets(text: str) -> list[tuple[str, int, int, int]]:
    """Code-analyzer twin of tokenize_standard_offsets (sub-token spans
    come straight from the raw text — no case pre-pass needed)."""
    if text is None:
        return []
    out: list[tuple[str, int, int, int]] = []
    for pos, m in enumerate(CODE_SUBTOKEN_RE.finditer(text)):
        tok = CODE.term(m.group(0))
        if tok is not None:
            out.append((tok, pos, m.start(), m.end()))
    return out


def tokenize_code(text: str) -> list[tuple[str, int]]:
    """Code-aware: identifier extraction + camel/snake split, no stop set.

    Single-pass: CODE_SUBTOKEN_RE applied to the raw text yields exactly
    the per-identifier sub-tokens, because every character it can match is
    also an identifier character — `_`, whitespace and punctuation separate
    matches under both the two-pass (identifier, then sub-split) and the
    one-pass formulation, and positions increment once per sub-token
    either way. One findall per doc instead of one per identifier."""
    return CODE(text)


def _keep(tok: str) -> str:
    return tok


_LETTER_RE = re.compile(r"[^\W\d_]+", re.UNICODE)

#: WhitespaceTokenizer (src/Lucene.Net/Analysis/WhitespaceTokenizer.cs):
#: maximal non-whitespace runs, case preserved, no filtering
tokenize_whitespace = Analyzer(re.compile(r"\S+").findall, _keep)
#: LetterTokenizer (CharTokenizer on IsLetter,
#: src/Lucene.Net/Analysis/LetterTokenizer.cs): maximal letter runs,
#: case preserved
tokenize_letter = Analyzer(_LETTER_RE.findall, _keep)
#: LowerCaseTokenizer = LetterTokenizer + LowerCaseFilter
#: (src/Lucene.Net/Analysis/LowerCaseTokenizer.cs)
tokenize_lowercase = Analyzer(_LETTER_RE.findall, str.lower)


def guarded_stem(stem: Callable[[str], str | None],
                 exclusions: frozenset[str]) -> Callable[[str], str]:
    """The stem filter of the contrib language chains: a token in
    `exclusions` passes unstemmed, and so does one the stemmer declines
    (returns None for)."""
    def run(tok: str) -> str:
        if tok in exclusions:
            return tok
        s = stem(tok)
        return tok if s is None else s
    return run


def analyzer_for(lang: str | None) -> Analyzer:
    """The lang-keyed chain (PerFieldAnalyzerWrapper analogue): CODE for
    CODE_LANGS (case-insensitive), STANDARD otherwise."""
    if lang is not None and lang.lower() in CODE_LANGS:
        return CODE
    return STANDARD


def tokenize(text: str, lang: str | None = None) -> list[tuple[str, int]]:
    """Analyzer dispatch keyed on lang (PerFieldAnalyzerWrapper analogue)."""
    return analyzer_for(lang)(text)


def doc_length(text: str, lang: str | None = None) -> int:
    """Number of emitted tokens == BM25 doc length (norm analogue)."""
    return len(tokenize(text, lang))


def tokenize_values(values, lang: str | None = None,
                    gap: int = 0) -> list[tuple[str, int]]:
    """Multi-valued field analysis (Analyzer.GetPositionIncrementGap,
    src/Lucene.Net/Analysis/Analyzer.cs:108-126): value i+1's positions
    start `gap` past value i's position space, so a gap larger than any
    phrase slop blocks phrase matches across instance boundaries
    (gap=0 = the reference default: successive positions, exact phrases
    CAN match across the boundary).

    Deviation note: the base advances by value i's RAW token count, so
    trailing stopword holes survive the boundary (the reference's
    position counter drops increments pending at stream end) — only
    observable for cross-boundary sloppy phrases over trailing
    stopwords, and only at gap=0."""
    a = analyzer_for(lang)
    out: list[tuple[str, int]] = []
    base = 0
    for v in values or []:
        if v is None:
            continue
        raw = a.tokens(v)
        out.extend((t, base + p) for p, t in enumerate(map(a.term, raw))
                   if t is not None)
        base += len(raw) + gap
    return out
