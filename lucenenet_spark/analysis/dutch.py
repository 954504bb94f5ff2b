"""contrib Dutch analyzer — DutchStemmer/DutchStemFilter/DutchAnalyzer.

Exact statement-level port of the reference's pre-snowball Dutch
stemmer (src/contrib/Analyzers/Nl/DutchStemmer.cs), preserving its
documented deviations from snowball (its own test file pins e.g.
"opheffen" -> "ophef" "versus snowball 'opheff'"), validated against
all 81 golden pairs of test/contrib/Analyzers/Nl/TestDutchStemmer.cs
(tests/test_legacy_stemmers.py).

Quirks kept bit-for-bit:
- R1 is clamped to >= 3 BEFORE step1; R2 is computed only AFTER step2
  on the already-modified buffer (DutchStemmer.cs Stem()).
- step1's "heden" rule replaces EVERY occurrence of "heden" inside the
  R1 zone with "heid", not just the suffix.
- step3b's "lijk" rule recurses into step2, whose _removedE flag then
  gates the "bar" rule.
- getRIndex returns len+1 (not len) when no vowel/non-vowel boundary
  exists, so "null region" tests are `R >= len`.

Chain (DutchAnalyzer.cs TokenStream): StandardTokenizer ->
StandardFilter -> StopFilter(DUTCH_STOP_WORDS) -> DutchStemFilter with
a default stem-override dict of 4 entries.  Documented deviation: the
engine lowercases before tokenizing (shared analysis contract), so
upper-case stopword forms ("De") are also stopped, where the
reference's case-sensitive stop set would keep them.
"""

from __future__ import annotations

from .intl import intl_tokens
from .tokenizers import Analyzer, guarded_stem, standard_analyzer

# DUTCH_STOP_WORDS (DutchAnalyzer.cs:58-70), transcribed verbatim.
DUTCH_STOP_WORDS: frozenset[str] = frozenset("""
de en van ik te dat die in een hij het niet zijn is was op aan met als
voor had er maar om hem dan zou of wat mijn men dit zo door over ze
zich bij ook tot je mij uit der daar haar naar heb hoe heeft hebben
deze u want nog zal me zij nu ge geen omdat iets worden toch al waren
veel meer doen toen moet ben zonder kan hun dus alles onder ja eens
hier wie werd altijd doch wordt wezen kunnen ons zelf tegen na reeds
wil kon niets uw iemand geweest andere
""".split())

# DutchAnalyzer's default stem-override dict (DutchAnalyzer.cs ctor)
DEFAULT_STEM_DICT = {"fiets": "fiets", "bromfiets": "bromfiets",
                     "ei": "eier", "kind": "kinder"}

_VOWELS = frozenset("eaoiuyè")  # isVowel (è included)


def _get_r_index(s: list[str], start: int) -> int:
    if start == 0:
        start = 1
    i = start
    while i < len(s):
        if s[i] not in _VOWELS and s[i - 1] in _VOWELS:
            return i + 1
        i += 1
    return i + 1


def _un_double(s: list[str], end: int) -> None:
    head = "".join(s[:end])
    if head.endswith(("kk", "tt", "dd", "nn", "mm", "ff")):
        del s[end - 1]


class _NlState:
    __slots__ = ("s", "r1", "r2", "removed_e")

    def __init__(self, term: str):
        self.s = list(term)
        self.r1 = 0
        self.r2 = 0
        self.removed_e = False


def _valid_s_ending(s: list[str], index: int) -> bool:
    c = s[index]
    return not (c in _VOWELS or c == "j")


def _valid_en_ending(s: list[str], index: int) -> bool:
    c = s[index]
    if c in _VOWELS:
        return False
    # gem-ending guard (DutchStemmer.cs isValidEnEnding); index >= 2 is
    # guaranteed by the enclosing index >= R1 >= 3 checks
    if c == "m" and s[index - 2] == "g" and s[index - 1] == "e":
        return False
    return True


def _en_ending(st: _NlState) -> bool:
    for end in ("ene", "en"):
        s = "".join(st.s)
        index = len(s) - len(end)
        if (s.endswith(end) and index >= st.r1
                and _valid_en_ending(st.s, index - 1)):
            del st.s[index:index + len(end)]
            _un_double(st.s, index)
            return True
    return False


def _step1(st: _NlState) -> None:
    if st.r1 >= len(st.s):
        return
    s = "".join(st.s)
    if s.endswith("heden"):
        zone = s[st.r1:].replace("heden", "heid")
        st.s = list(s[:st.r1] + zone)
        return
    if _en_ending(st):
        return
    index = len(s) - 2
    if s.endswith("se") and index >= st.r1 \
            and _valid_s_ending(st.s, index - 1):
        del st.s[index:index + 2]
        return
    index = len(s) - 1
    if s.endswith("s") and index >= st.r1 \
            and _valid_s_ending(st.s, index - 1):
        del st.s[index]


def _step2(st: _NlState) -> None:
    st.removed_e = False
    if st.r1 >= len(st.s):
        return
    s = "".join(st.s)
    index = len(s) - 1
    if index >= st.r1 and s.endswith("e") and st.s[index - 1] not in _VOWELS:
        del st.s[index]
        _un_double(st.s, len(st.s))
        st.removed_e = True


def _step3a(st: _NlState) -> None:
    if st.r2 >= len(st.s):
        return
    s = "".join(st.s)
    index = len(s) - 4
    if s.endswith("heid") and index >= st.r2 and st.s[index - 1] != "c":
        del st.s[index:index + 4]
        _en_ending(st)


def _step3b(st: _NlState) -> None:
    if st.r2 >= len(st.s):
        return
    s = "".join(st.s)
    if s.endswith(("end", "ing")):
        index = len(s) - 3
        if index >= st.r2:
            del st.s[index:index + 3]
            if st.s[index - 2] == "i" and st.s[index - 1] == "g":
                if st.s[index - 3] != "e" and index - 2 >= st.r2:
                    index -= 2
                    del st.s[index:index + 2]
            else:
                _un_double(st.s, index)
            return
    if s.endswith("ig"):
        index = len(s) - 2
        if index >= st.r2:
            if st.s[index - 1] != "e":
                del st.s[index:index + 2]
            return
    if s.endswith("lijk"):
        index = len(s) - 4
        if index >= st.r2:
            del st.s[index:index + 4]
            _step2(st)
            return
    if s.endswith("baar"):
        index = len(s) - 4
        if index >= st.r2:
            del st.s[index:index + 4]
            return
    if s.endswith("bar"):
        index = len(s) - 3
        if index >= st.r2:
            if st.removed_e:
                del st.s[index:index + 3]
            return


def _step4(st: _NlState) -> None:
    # undouble CVVD ending (maan -> man); D may not be 'I'
    if len(st.s) < 4:
        return
    c, v1, v2, d = st.s[-4:]
    if (v1 == v2 and d != "I" and v1 != "i" and v1 in _VOWELS
            and d not in _VOWELS and c not in _VOWELS):
        del st.s[len(st.s) - 2]


def _substitute(s: list[str]) -> None:
    for i, c in enumerate(s):
        if c in "äá":
            s[i] = "a"
        elif c in "ëé":
            s[i] = "e"
        elif c in "üú":
            s[i] = "u"
        elif c == "ï":
            s[i] = "i"
        elif c in "öó":
            s[i] = "o"


def _store_y_and_i(s: list[str]) -> None:
    if s[0] == "y":
        s[0] = "Y"
    last = len(s) - 1
    for i in range(1, last):
        if s[i] == "i":
            if s[i - 1] in _VOWELS and s[i + 1] in _VOWELS:
                s[i] = "I"
        elif s[i] == "y":
            if s[i - 1] in _VOWELS:
                s[i] = "Y"
    if last > 0 and s[last] == "y" and s[last - 1] in _VOWELS:
        s[last] = "Y"


def dutch_stem(term: str, stem_dict: dict[str, str] | None = None) -> str:
    """DutchStemmer.Stem (DutchStemmer.cs:62-87)."""
    term = term.lower()
    if not term or not all(c.isalpha() for c in term):
        return term
    if stem_dict is not None and term in stem_dict:
        return stem_dict[term]
    st = _NlState(term)
    _substitute(st.s)
    _store_y_and_i(st.s)
    st.r1 = max(3, _get_r_index(st.s, 0))
    _step1(st)
    _step2(st)
    st.r2 = _get_r_index(st.s, st.r1)
    _step3a(st)
    _step3b(st)
    _step4(st)
    return "".join(st.s).replace("I", "i").replace("Y", "y")


def dutch_analyzer(stopwords: frozenset[str] = DUTCH_STOP_WORDS,
                   exclusions: frozenset[str] = frozenset(),
                   stem_dict: dict[str, str] | None = None):
    """StandardTokenizer -> StandardFilter -> Stop (holes) ->
    DutchStemFilter (DutchAnalyzer.cs TokenStream), with the default
    4-entry stem-override dict."""
    if stem_dict is None:
        stem_dict = DEFAULT_STEM_DICT

    stem = guarded_stem(lambda tok: dutch_stem(tok, stem_dict), exclusions)
    return Analyzer(intl_tokens, standard_analyzer(stopwords, stem).term)
