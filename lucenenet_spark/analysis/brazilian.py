"""contrib Brazilian Portuguese analyzer — BrazilianStemmer/Analyzer.

Exact port of the reference's RSLP-flavored stemmer
(src/contrib/Analyzers/BR/BrazilianStemmer.cs) — NOT snowball
Portuguese; the reference's own test file pins the differences
("removes diacritic: different from snowball portuguese").  Validated
against all golden pairs of
test/contrib/Analyzers/Br/TestBrazilianStemmer.cs
(tests/test_legacy_stemmers.py).

Structure preserved bit-for-bit:
- Regions R1/R2/RV are STRINGS computed once from the changed term and
  never recomputed; rules test region membership by suffix-matching the
  region string (BrazilianStemmer.cs getR1/getRV).
- step1/step2 are ordered first-match rule lists grouped under length
  guards; the tables below were extracted mechanically from the source
  (42 + 114 rules, counts equal to the source's suffix() call counts).
- The "logias" rule's replaceSuffix result is DISCARDED in the source
  (no assignment); kept as op "noop".
- Too-short/too-long terms are NOT indexable: Stem returns None and the
  stem filter keeps the original token (golden: "áá" -> "áá").

Chain (BrazilianAnalyzer.cs TokenStream): StandardTokenizer ->
LowerCase -> StandardFilter -> StopFilter(BRAZILIAN_STOP_WORDS) ->
BrazilianStemFilter.
"""

from __future__ import annotations

from .intl import intl_tokens
from .tokenizers import Analyzer, guarded_stem, standard_analyzer

# BRAZILIAN_STOP_WORDS (BrazilianAnalyzer.cs:54-77), transcribed
# verbatim (the source lists "nas"/"pelas" twice; set semantics).
BRAZILIAN_STOP_WORDS: frozenset[str] = frozenset("""
a ainda alem ambas ambos antes ao aonde aos apos aquele aqueles as
assim com como contra contudo cuja cujas cujo cujos da das de dela
dele deles demais depois desde desta deste dispoe dispoem diversa
diversas diversos do dos durante e ela elas ele eles em entao entre
essa essas esse esses esta estas este estes ha isso isto logo mais mas
mediante menos mesma mesmas mesmo mesmos na nas nao nem nesse neste
nos o os ou outra outras outro outros pelas pelo pelos perante pois
por porque portanto proprio propios quais qual qualquer quando quanto
que quem quer se seja sem sendo seu seus sob sobre sua suas tal tambem
teu teus toda todas todo todos tua tuas tudo um uma umas uns
""".split())

_VOWELS = frozenset("aeiou")

# step1 rules extracted from BrazilianStemmer.cs:444-647 —
# (suffix, CT-length guard, region, required-preceding, op, replacement)
# op: "rm" removeSuffix, "rp" replaceSuffix, "noop" replaceSuffix with
# the result discarded (the source's logias quirk).
_STEP1 = (
    ("uciones", 0, "R2", None, "rp", "u"),
    ("imentos", 6, "R2", None, "rm", None),
    ("amentos", 6, "R2", None, "rm", None),
    ("adores", 6, "R2", None, "rm", None),
    ("adoras", 6, "R2", None, "rm", None),
    ("logias", 6, "R2", None, "noop", "log"),
    ("encias", 6, "R2", None, "rp", "ente"),
    ("amente", 6, "R1", None, "rm", None),
    ("idades", 6, "R2", None, "rm", None),
    ("acoes", 5, "R2", None, "rm", None),
    ("imento", 5, "R2", None, "rm", None),
    ("amento", 5, "R2", None, "rm", None),
    ("adora", 5, "R2", None, "rm", None),
    ("ismos", 5, "R2", None, "rm", None),
    ("istas", 5, "R2", None, "rm", None),
    ("logia", 5, "R2", None, "rp", "log"),
    ("ucion", 5, "R2", None, "rp", "u"),
    ("encia", 5, "R2", None, "rp", "ente"),
    ("mente", 5, "R2", None, "rm", None),
    ("idade", 5, "R2", None, "rm", None),
    ("acao", 4, "R2", None, "rm", None),
    ("ezas", 4, "R2", None, "rm", None),
    ("icos", 4, "R2", None, "rm", None),
    ("icas", 4, "R2", None, "rm", None),
    ("ismo", 4, "R2", None, "rm", None),
    ("avel", 4, "R2", None, "rm", None),
    ("ivel", 4, "R2", None, "rm", None),
    ("ista", 4, "R2", None, "rm", None),
    ("osos", 4, "R2", None, "rm", None),
    ("osas", 4, "R2", None, "rm", None),
    ("ador", 4, "R2", None, "rm", None),
    ("ivas", 4, "R2", None, "rm", None),
    ("ivos", 4, "R2", None, "rm", None),
    ("iras", 4, "RV", "e", "rp", "ir"),
    ("eza", 3, "R2", None, "rm", None),
    ("ico", 3, "R2", None, "rm", None),
    ("ica", 3, "R2", None, "rm", None),
    ("oso", 3, "R2", None, "rm", None),
    ("osa", 3, "R2", None, "rm", None),
    ("iva", 3, "R2", None, "rm", None),
    ("ivo", 3, "R2", None, "rm", None),
    ("ira", 3, "RV", "e", "rp", "ir"),
)

# step2 verb suffixes extracted from BrazilianStemmer.cs:649-1139 —
# (suffix, RV-length guard), ordered; first match removes from CT.
_STEP2 = (
    ("issemos", 7), ("essemos", 7), ("assemos", 7), ("ariamos", 7),
    ("eriamos", 7), ("iriamos", 7),
    ("iremos", 6), ("eremos", 6), ("aremos", 6), ("avamos", 6),
    ("iramos", 6), ("eramos", 6), ("aramos", 6), ("asseis", 6),
    ("esseis", 6), ("isseis", 6), ("arieis", 6), ("erieis", 6),
    ("irieis", 6),
    ("irmos", 5), ("iamos", 5), ("armos", 5), ("ermos", 5),
    ("areis", 5), ("ereis", 5), ("ireis", 5), ("asses", 5),
    ("esses", 5), ("isses", 5), ("astes", 5), ("assem", 5),
    ("essem", 5), ("issem", 5), ("ardes", 5), ("erdes", 5),
    ("irdes", 5), ("ariam", 5), ("eriam", 5), ("iriam", 5),
    ("arias", 5), ("erias", 5), ("irias", 5), ("estes", 5),
    ("istes", 5), ("areis", 5), ("aveis", 5),
    ("aria", 4), ("eria", 4), ("iria", 4), ("asse", 4), ("esse", 4),
    ("isse", 4), ("aste", 4), ("este", 4), ("iste", 4), ("arei", 4),
    ("erei", 4), ("irei", 4), ("aram", 4), ("eram", 4), ("iram", 4),
    ("avam", 4), ("arem", 4), ("erem", 4), ("irem", 4), ("ando", 4),
    ("endo", 4), ("indo", 4), ("arao", 4), ("erao", 4), ("irao", 4),
    ("adas", 4), ("idas", 4), ("aras", 4), ("eras", 4), ("iras", 4),
    ("avas", 4), ("ares", 4), ("eres", 4), ("ires", 4), ("ados", 4),
    ("idos", 4), ("amos", 4), ("emos", 4), ("imos", 4), ("iras", 4),
    ("ieis", 4),
    ("ada", 3), ("ida", 3), ("ara", 3), ("era", 3), ("ira", 3),
    ("iam", 3), ("ado", 3), ("ido", 3), ("ias", 3), ("ais", 3),
    ("eis", 3), ("ira", 3), ("ear", 3),
    ("ia", 2), ("ei", 2), ("am", 2), ("em", 2), ("ar", 2), ("er", 2),
    ("ir", 2), ("as", 2), ("es", 2), ("is", 2), ("eu", 2), ("iu", 2),
    ("iu", 2), ("ou", 2),
)

_ACCENT_MAP = {"á": "a", "â": "a", "ã": "a", "é": "e", "ê": "e",
               "í": "i", "ó": "o", "ô": "o", "õ": "o", "ú": "u",
               "ü": "u", "ç": "c", "ñ": "n"}
_TRIM_CHARS = "\"'-,;.?!"


def _change_term(value: str) -> str:
    return "".join(_ACCENT_MAP.get(c, c) for c in value.lower())


def _get_r1(value: str | None) -> str | None:
    """Region string after the first non-vowel following a vowel
    (getR1, BrazilianStemmer.cs:134-170) — the LAST char cannot open
    a region (j < i bounds kept)."""
    if value is None:
        return None
    i = len(value) - 1
    j = 0
    while j < i and value[j] not in _VOWELS:
        j += 1
    if not j < i:
        return None
    while j < i and value[j] in _VOWELS:
        j += 1
    if not j < i:
        return None
    return value[j + 1:]


def _get_rv(value: str | None) -> str | None:
    """getRV (BrazilianStemmer.cs:184-238)."""
    if value is None:
        return None
    i = len(value) - 1
    if i > 0 and value[1] not in _VOWELS:
        j = 2
        while j < i and value[j] not in _VOWELS:
            j += 1
        if j < i:
            return value[j + 1:]
    if i > 1 and value[0] in _VOWELS and value[1] in _VOWELS:
        j = 2
        while j < i and value[j] in _VOWELS:
            j += 1
        if j < i:
            return value[j + 1:]
    if i > 2:
        return value[3:]
    return None


def _suffix(value: str | None, suf: str) -> bool:
    return value is not None and value.endswith(suf)


def _suffix_preceded(value: str | None, suf: str, pre: str) -> bool:
    return _suffix(value, suf) and value[: -len(suf)].endswith(pre)


class _BrState:
    __slots__ = ("ct", "r1", "r2", "rv")


def _step1(st: _BrState) -> bool:
    regions = {"R1": st.r1, "R2": st.r2, "RV": st.rv}
    for suf, guard, reg, pre, op, rep in _STEP1:
        if guard and len(st.ct) < guard:
            continue
        if not (_suffix(st.ct, suf) and _suffix(regions[reg], suf)):
            continue
        if pre is not None and not _suffix_preceded(st.ct, suf, pre):
            continue
        if op == "rm":
            st.ct = st.ct[: -len(suf)]
        elif op == "rp":
            st.ct = st.ct[: -len(suf)] + rep
        # op == "noop": the source discards the replaceSuffix result
        return True
    return False


def _step2(st: _BrState) -> bool:
    if st.rv is None:
        return False
    for suf, guard in _STEP2:
        if len(st.rv) >= guard and st.rv.endswith(suf):
            if _suffix(st.ct, suf):
                st.ct = st.ct[: -len(suf)]
            return True
    return False


def _step3(st: _BrState) -> None:
    if st.rv is None:
        return
    if _suffix(st.rv, "i") and _suffix_preceded(st.rv, "i", "c"):
        if _suffix(st.ct, "i"):
            st.ct = st.ct[:-1]


def _step4(st: _BrState) -> None:
    if st.rv is None:
        return
    for suf in ("os", "a", "i", "o"):
        if st.rv.endswith(suf):
            if _suffix(st.ct, suf):
                st.ct = st.ct[: -len(suf)]
            return


def _step5(st: _BrState) -> None:
    if st.rv is None:
        return
    if st.rv.endswith("e"):
        if _suffix_preceded(st.rv, "e", "gu"):
            if _suffix(st.ct, "e"):
                st.ct = st.ct[:-1]
            if _suffix(st.ct, "u"):
                st.ct = st.ct[:-1]
            return
        if _suffix_preceded(st.rv, "e", "ci"):
            if _suffix(st.ct, "e"):
                st.ct = st.ct[:-1]
            if _suffix(st.ct, "i"):
                st.ct = st.ct[:-1]
            return
        if _suffix(st.ct, "e"):
            st.ct = st.ct[:-1]


def brazilian_stem(term: str) -> str | None:
    """BrazilianStemmer.Stem (BrazilianStemmer.cs:46-83): None when the
    changed term is not indexable (len <= 2 or >= 30) — the stem filter
    then keeps the original token."""
    ct = _change_term(term)
    if len(ct) >= 2 and ct[0] in _TRIM_CHARS:
        ct = ct[1:]
    if len(ct) >= 2 and ct[-1] in _TRIM_CHARS:
        ct = ct[:-1]
    if not (2 < len(ct) < 30):
        return None
    if not all(c.isalpha() for c in ct):
        return ct
    st = _BrState()
    st.ct = ct
    st.r1 = _get_r1(ct)
    st.r2 = _get_r1(st.r1)
    st.rv = _get_rv(ct)
    altered = _step1(st)
    if not altered:
        altered = _step2(st)
    if altered:
        _step3(st)
    else:
        _step4(st)
    _step5(st)
    return st.ct


def brazilian_analyzer(stopwords: frozenset[str] = BRAZILIAN_STOP_WORDS,
                       exclusions: frozenset[str] = frozenset()):
    """StandardTokenizer -> LowerCase -> StandardFilter ->
    Stop (holes) -> BrazilianStemFilter
    (BrazilianAnalyzer.cs TokenStream)."""
    return Analyzer(intl_tokens, standard_analyzer(
        stopwords, guarded_stem(brazilian_stem, exclusions)).term)
