"""contrib language analyzers — Greek, Czech, Arabic, Persian, Russian.

Re-creates the five remaining contrib/Analyzers language chains (the
engine already ships De/En Snowball, CJK, Cn) via the ``analyzer=`` seam
of build_segmented_index:

  GreekAnalyzer     (src/contrib/Analyzers/El/GreekAnalyzer.cs:63-71)
      StandardTokenizer -> GreekLowerCaseFilter -> StopFilter
  CzechAnalyzer     (src/contrib/Analyzers/Cz/CzechAnalyzer.cs:125-132)
      StandardTokenizer -> StandardFilter -> LowerCase -> StopFilter
  ArabicAnalyzer    (src/contrib/Analyzers/AR/ArabicAnalyzer.cs:119-129)
      ArabicLetterTokenizer -> LowerCase -> Stop(raw list!) ->
      ArabicNormalizationFilter -> ArabicStemFilter
  PersianAnalyzer   (src/contrib/Analyzers/Fa/PersianAnalyzer.cs:133-148)
      ArabicLetterTokenizer -> LowerCase -> ArabicNormalization ->
      PersianNormalization -> Stop(normalized list)
  RussianAnalyzer   (src/contrib/Analyzers/Ru/RussianAnalyzer.cs:136-144)
      RussianLetterTokenizer -> LowerCase -> Stop -> RussianStemFilter

Tokenizer note: the reference StandardTokenizer's LETTER class is full
Unicode.  The engine's ASCII alternation (tokenizers.STANDARD_ALTERNATION)
is extended here with a Unicode-letter ALPHANUM branch
(INTL_TOKEN_RE): on pure-ASCII text it tokenizes IDENTICALLY to the
ASCII chain (so the DuckDB base_ctes oracle stays exact), and non-ASCII
letter runs come out as single ALPHANUM tokens.  Documented deviation:
mixed ASCII/non-ASCII tokens that the JFlex longest-match would join
through an EMAIL/NUM class may segment differently; no such token class
carries non-ASCII letters in the reference grammar either.

Each of the five chains is a tokenizers.Analyzer (tokenizer + term
chain), so it keeps StopFilter position holes (positions assigned over
the raw token stream) exactly like tokenizers.tokenize_standard, applies
the 255-char max token length of the shared analysis contract, and
builds through the invert kernel's vocabulary routine.  The Thai chain
below splits one raw token into several words, so it stays a plain
text -> [(term, pos)] callable.

Every public analyzer here is mirrored by a DuckDB SQL generator in
oracle/sqlgen.py (russian_term_query / greek_term_query /
arabic_term_query / czech_term_query) so the driver can cross-check
index+query results built through these chains.
"""

from __future__ import annotations

import unicodedata

from .tokenizers import (
    MAX_TOKEN_LENGTH, STANDARD_ALTERNATION, Analyzer, _std_transform,
    standard_analyzer)

import re

# ---------------------------------------------------------------------
# Unicode ALPHANUM extension of the standard alternation: the final
# [a-z0-9]+ branch becomes [^\W_]+ (any Unicode letter/digit run,
# underscore excluded).  For lowercased ASCII input the two are the
# same character set, so ASCII corpora tokenize bit-identically.
assert STANDARD_ALTERNATION.endswith("|[a-z0-9]+")
# The leading branch re-creates JFlex longest-match for MIXED runs: an
# alnum run containing a non-ASCII letter (e.g. "quimio5terápicos") is
# one ALPHANUM token even though the ASCII NUM branch could match a
# prefix.  It requires >= 1 non-ASCII letter, so pure-ASCII text never
# enters it and tokenizes bit-identically to the ASCII alternation.
INTL_TOKEN_RE = re.compile(
    r"[a-z0-9]*[^\W\d_a-z][^\W_]*|"
    + STANDARD_ALTERNATION[: -len("[a-z0-9]+")] + r"[^\W_]+")


def intl_tokens(text: str) -> list[str]:
    """The Unicode StandardTokenizer over the lowercased text: the raw
    tokens of the Czech, French, Dutch and Brazilian chains."""
    return INTL_TOKEN_RE.findall(text.lower())


# ================================================================ Greek

# GREEK_STOP_WORDS (GreekAnalyzer.cs:58-76); the list is stored
# pre-lowercased with tonos already stripped, matching the filter order
# (GreekLowerCaseFilter runs BEFORE StopFilter).
GREEK_STOP_WORDS: frozenset[str] = frozenset("""
ο η το οι τα του
τησ των τον
την και κι κ
ειμαι εισαι
ειναι
ειμαστε
ειστε στο
στον στη
στην μα αλλα
απο για προσ
με σε ωσ παρα
αντι κατα
μετα θα να δε
δεν μη μην
επι ενω εαν
αν τοτε που
πωσ ποιοσ
ποια ποιο
ποιοι ποιεσ
ποιων ποιουσ
αυτοσ αυτη
αυτο αυτοι
αυτων αυτουσ
αυτεσ αυτα
εκεινοσ
εκεινη
εκεινο
εκεινοι
εκεινεσ
εκεινα
εκεινων
εκεινουσ οπωσ
ομωσ ισωσ οσο
οτι
""".split())

# GreekLowerCaseFilter.lowerCase (GreekLowerCaseFilter.cs:55-120):
# final sigma -> sigma, tonos/dialytika forms -> bare lowercase vowel,
# reserved U+03A2 -> final sigma (legacy), default Char.ToLower.
_GREEK_MAP = {
    "ς": "σ",                                     # final sigma
    "Ά": "α", "ά": "α",                 # alpha+tonos
    "Έ": "ε", "έ": "ε",                 # epsilon
    "Ή": "η", "ή": "η",                 # eta
    "Ί": "ι", "Ϊ": "ι", "ί": "ι",
    "ϊ": "ι", "ΐ": "ι",                 # iota forms
    "Ύ": "υ", "Ϋ": "υ", "ύ": "υ",
    "ϋ": "υ", "ΰ": "υ",                 # upsilon forms
    "Ό": "ο", "ό": "ο",                 # omicron
    "Ώ": "ω", "ώ": "ω",                 # omega
    "΢": "ς",                                     # reserved
}


def greek_lower(text: str) -> str:
    """Per-character GreekLowerCaseFilter (length-preserving)."""
    return "".join(_GREEK_MAP.get(c) or _GREEK_MAP.get(c.lower())
                   or c.lower() for c in text)


def greek_analyzer(stopwords: frozenset[str] = GREEK_STOP_WORDS):
    """StandardTokenizer -> GreekLowerCaseFilter -> StopFilter (holes).

    No StandardFilter in the reference chain (GreekAnalyzer.cs:65-69),
    so acronym dots / 's are NOT stripped here.  The lowercase filter
    runs as a length-preserving pre-pass (all mappings are
    letter->letter, so token boundaries are unchanged).
    """
    def term(tok: str) -> str | None:
        return (None if len(tok) > MAX_TOKEN_LENGTH or tok in stopwords
                else tok)
    return Analyzer(lambda text: INTL_TOKEN_RE.findall(greek_lower(text)),
                    term)


# ================================================================ Czech

# CZECH_STOP_WORDS (CzechAnalyzer.cs:41-62), transcribed verbatim.
CZECH_STOP_WORDS: frozenset[str] = frozenset("""
a s k o i u v z dnes cz tímto budeš budem byli jseš
můj svým ta tomto tohle tuto tyto jej zda proč máte
tato kam tohoto kdo kteří mi nám tom tomuto mít nic
proto kterou byla toho protože asi ho naši napište re
což tím takže svých její svými jste aj tu
tedy teto bylo kde ke pravé ji nad nejsou či pod téma
mezi přes ty pak vám ani když však neg jsem tento
článku články aby jsme před pta jejich byl
ještě až bez také pouze první vaše
která nás nový tipy pokud může strana jeho
své jiné zprávy nové není vás jen podle
zde už být více bude již než který by
které co nebo ten tak má při od po jsou jak
další ale si se ve to jako za zpět ze do pro je na atd
atp jakmile přičemž já on ona ono oni ony my vy
jí mě mne jemu tomu těm těmu němu
němuž jehož jíž jelikož jež
jakož načež
""".split())


def czech_analyzer(stopwords: frozenset[str] = CZECH_STOP_WORDS):
    """StandardTokenizer -> StandardFilter -> LowerCase -> Stop (holes).

    Identical to the engine's standard chain with the Czech stop set
    and the Unicode ALPHANUM branch (CzechAnalyzer.cs:125-132); on an
    ASCII corpus it tokenizes bit-identically to tokenize_standard, so
    the sqlgen.base_ctes SQL mirror applies with the stop set swapped.
    """
    return Analyzer(intl_tokens, standard_analyzer(stopwords).term)


# =============================================================== Arabic

# ArabicStopWords.txt (162 entries), transcribed verbatim.  The stop
# filter runs BEFORE normalization — "the stopword list is not
# normalized!" (ArabicAnalyzer.cs:123).
ARABIC_STOP_WORDS: frozenset[str] = frozenset("""
ب ا أ ، عشر عدد
عدة عشرة عدم
عام عاما عن
عند عندما
على عليه
عليها زيارة
سنة سنوات تم
ضد بعد بعض
اعادة اعلنت
بسبب حتى اذا
احد اثر برس
باسم غدا شخصا
صباح اطار
اربعة اخرى
بان اجل غير
بشكل حاليا
بن به ثم اف ان
او اي بها صفر
حيث اكد الا
اما امس السابق
التى التي
اكثر ايار
ايضا ثلاثة
الذاتي
الاخيرة
الثاني
الثانية
الذى الذي
الان امام
ايام خلال
حوالى الذين
الاول الاولى
بين ذلك دون
حول حين الف
الى انه اول
ضمن انها جميع
الماضي الوقت
المقبل اليوم
ـ ف و و6 قد لا ما
مع مساء هذا
واحد واضاف
واضافت فان
قبل قال كان
لدى نحو هذه
وان واكد كانت
واوضح مايو
فى في كل لم لن
له من هو هي قوة
كما لها منذ
وقد ولا نفسه
لقاء مقابل
هناك وقال
وكان نهاية
وقالت وكانت
للامم فيه كلم
لكن وفي وقف
ولم ومن وهو
وهي يوم فيها
منها مليار
لوكالة يكون
يمكن مليون
""".split())

# ArabicNormalizer.Normalize (ArabicNormalizer.cs:77-110):
# hamza-seated alefs -> bare alef, dotless yeh -> yeh,
# teh marbuta -> heh; tatweel + the eight harakat are deleted.
_AR_NORM_MAP = {
    "آ": "ا", "أ": "ا", "إ": "ا",
    "ى": "ي",
    "ة": "ه",
}
_AR_NORM_DELETE = frozenset(
    "ـًٌٍَُِّْ")

# PersianNormalizer.Normalize (PersianNormalizer.cs:66-92):
# farsi yeh / yeh barree -> arabic yeh, keheh -> kaf,
# heh+yeh / heh goal -> heh, hamza-above deleted.
_FA_NORM_MAP = {
    "ی": "ي", "ے": "ي",
    "ک": "ك",
    "ۀ": "ه", "ہ": "ه",
}
_FA_NORM_DELETE = frozenset("ٔ")


def arabic_normalize(token: str) -> str:
    return "".join(_AR_NORM_MAP.get(c, c) for c in token
                   if c not in _AR_NORM_DELETE)


def persian_normalize(token: str) -> str:
    return "".join(_FA_NORM_MAP.get(c, c) for c in token
                   if c not in _FA_NORM_DELETE)


# ArabicStemmer tables (ArabicStemmer.cs:43-66).  Prefixes: first match
# in table order strips once; single-char prefix (waw) needs len >= 4,
# longer prefixes need len >= plen + 2 (StartsWith, :118-131).
# Suffixes: EVERY table entry is tried in order against the current
# tail and stripped when len >= suflen + 2 (StemSuffix/EndsWith).
_AR_PREFIXES = ("ال", "وال",
                "بال", "كال",
                "فال", "لل", "و")
_AR_SUFFIXES = ("ها", "ان", "ات",
                "ون", "ين", "يه",
                "ية", "ه", "ة", "ي")


def arabic_stem(token: str) -> str:
    for p in _AR_PREFIXES:
        need = 4 if len(p) == 1 else len(p) + 2
        if len(token) >= need and token.startswith(p):
            token = token[len(p):]
            break
    for suf in _AR_SUFFIXES:
        if len(token) >= len(suf) + 2 and token.endswith(suf):
            token = token[: -len(suf)]
    return token


def _letter_or_mark_tokens(text: str) -> list[str]:
    """ArabicLetterTokenizer: maximal runs of Unicode letters plus
    non-spacing marks (so harakat stay attached for the normalizer)
    (ArabicLetterTokenizer.cs IsTokenChar), 255-char CharTokenizer cap.
    """
    out, cur = [], []
    for c in text:
        cat = unicodedata.category(c)
        if cat.startswith("L") or cat == "Mn":
            if len(cur) < MAX_TOKEN_LENGTH:
                cur.append(c)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def arabic_analyzer(stopwords: frozenset[str] = ARABIC_STOP_WORDS):
    """ArabicLetterTokenizer -> LowerCase -> Stop(raw) -> Normalize ->
    Stem, holes kept (ArabicAnalyzer.cs:119-129).

    Documented deviation: a token whose characters are ALL deleted by
    normalization (pure harakat/tatweel runs) is dropped rather than
    emitted as a zero-length term; the oracle SQL applies the same rule.
    """
    def term(tok: str) -> str | None:
        tok = tok.lower()
        if tok in stopwords:
            return None
        return arabic_stem(arabic_normalize(tok)) or None
    return Analyzer(_letter_or_mark_tokens, term)


def persian_analyzer(stopwords: frozenset[str] = frozenset()):
    """ArabicLetterTokenizer -> LowerCase -> ArabicNormalization ->
    PersianNormalization -> Stop(normalized), holes kept
    (PersianAnalyzer.cs:133-148).  The reference's default stop set
    ships as an embedded resource (stopwords.txt) ABSENT from the
    source tree, so the default here is empty and the set is
    caller-supplied (already-normalized forms, as the reference
    normalizes the list it loads).
    """
    def term(tok: str) -> str | None:
        tok = persian_normalize(arabic_normalize(tok.lower()))
        return None if not tok or tok in stopwords else tok
    return Analyzer(_letter_or_mark_tokens, term)


# =============================================================== Russian

# RUSSIAN_STOP_WORDS (RussianAnalyzer.cs:51-77), transcribed verbatim.
RUSSIAN_STOP_WORDS: frozenset[str] = frozenset("""
а без более бы
был была были
было быть в
вам вас весь
во вот все
всего всех вы
где да даже
для до его ее
ей ею если
есть еще же за
здесь и из или
им их к как ко
когда кто ли
либо мне может
мы на надо наш
не него нее
нет ни них но
ну о об однако
он она они оно
от очень по
под при с со
так также
такой там те
тем то того
тоже той
только том ты
у уже хотя
чего чей чем
что чтобы чье
чья эта эти
это я
""".split())

_RU_LETTER_RE = re.compile(r"(?:[^\W\d_]|[0-9])+")


# ---- RussianStemmer (RussianStemmer.cs) — an exact statement-level
# re-derivation.  Every ending class is a tuple in REFERENCE TABLE
# ORDER; findEnding iterates the class from the LAST entry to the
# first and takes the first match (RussianStemmer.cs findEnding), so
# precedence is reversed table order, NOT longest-match.
_RU_A, _RU_IA = "а", "я"
_RU_VOWELS = frozenset("аеиоуыэюя")

RU_PERFECTIVE_GERUND_1 = ("в", "вши",
                          "вшись")
RU_PERFECTIVE_GERUND_2 = (
    "ив", "ыв", "ивши",
    "ывши", "ившись",
    "ывшись")
RU_ADJECTIVE = (
    "ее", "ие", "ые", "ое",
    "ей", "ий", "ый", "ой",
    "ем", "им", "ым", "ом",
    "их", "ых", "ую", "юю",
    "ая", "яя", "ою", "ею",
    "ими", "ыми",
    "его", "ого",
    "ему", "ому")
RU_PARTICIPLE_1 = ("щ", "ем", "нн",
                   "вш", "ющ")
RU_PARTICIPLE_2 = ("ивш", "ывш",
                   "ующ")
RU_REFLEXIVE = ("ся", "сь")
RU_VERB_1 = (
    "й", "л", "н", "ло", "но",
    "ет", "ют", "ла", "на",
    "ли", "ем", "ны",
    "ете", "йте", "ть",
    "ешь", "нно")
RU_VERB_2 = (
    "ю", "ую", "ен", "ей",
    "ят", "уй", "ил", "ыл",
    "им", "ым", "ит", "ыт",
    "ила", "ыла", "ена",
    "ите", "или", "ыли",
    "ило", "ыло", "ено",
    "ует", "уют", "ены",
    "ить", "ыть",
    "ишь", "ейте",
    "уйте")
RU_NOUN = (
    "а", "у", "й", "о", "у", "е",
    "ы", "и", "ь", "я", "ев",
    "ов", "ие", "ье", "ях",
    "ию", "еи", "ии",
    "ей", "ой", "ем", "ам",
    "ом", "ах", "ью", "ия",
    "ья", "ий", "ям",
    "ями", "ами",
    "ией", "иям", "ием",
    "иях", "иями")
RU_SUPERLATIVE = ("ейш", "ейше")
RU_DERIVATIONAL = ("ост", "ость")
_RU_PRED_A_IA = (_RU_A, _RU_IA)


def _ru_find(zone: str, table: tuple[str, ...],
             start: int | None = None) -> str:
    """findEnding: reverse-table-order first match ending at `start`
    (default: end of zone); '' if none (RussianStemmer.cs:292-318)."""
    end = len(zone) if start is None else start + 1
    for e in reversed(table):
        if end >= len(e) and zone[end - len(e):end] == e:
            return e
    return ""


def _ru_strip(zone: str, table: tuple[str, ...],
              preds: tuple[str, ...] | None = None) -> tuple[str, bool]:
    """findAndRemoveEnding: strip the reverse-order first match; with
    preds, the ONE found ending is kept only if preceded by a
    predecessor — no backtracking to other endings
    (RussianStemmer.cs:324-366)."""
    e = _ru_find(zone, table)
    if not e:
        return zone, False
    if preds is not None:
        if not _ru_find(zone, preds, start=len(zone) - len(e) - 1):
            return zone, False
    return zone[: -len(e)], True


def _ru_mark(word: str) -> tuple[int, int, int]:
    """markPositions (RussianStemmer.cs:369-399) — exact loop port,
    including the `++i` bounds quirks: each region is set only when at
    least one character FOLLOWS it."""
    rv = r1 = r2 = 0
    i, n = 0, len(word)
    while n > i and word[i] not in _RU_VOWELS:
        i += 1
    i += 1
    if n - 1 < i:
        return rv, r1, r2
    rv = i
    while n > i and word[i] in _RU_VOWELS:
        i += 1
    i += 1
    if n - 1 < i:
        return rv, r1, r2
    r1 = i
    while n > i and word[i] not in _RU_VOWELS:
        i += 1
    i += 1
    if n - 1 < i:
        return rv, r1, r2
    while n > i and word[i] in _RU_VOWELS:
        i += 1
    i += 1
    if n - 1 < i:
        return rv, r1, r2
    r2 = i
    return rv, r1, r2


def russian_stem(word: str) -> str:
    """RussianStemmer.Stem (RussianStemmer.cs:473-496): operates on the
    zone after RV; perfective-gerund else (reflexive; adjectival ||
    verb || noun); then remove-i, derivational (R2 arithmetic),
    superlative, undouble-nn, remove-soft-sign."""
    rv, _r1, r2 = _ru_mark(word)
    if rv == 0:
        return word
    zone = word[rv:]
    zone, pg = _ru_strip(zone, RU_PERFECTIVE_GERUND_1, _RU_PRED_A_IA)
    if not pg:
        zone, pg = _ru_strip(zone, RU_PERFECTIVE_GERUND_2)
    if not pg:
        zone, _ = _ru_strip(zone, RU_REFLEXIVE)
        zone2, adj = _ru_strip(zone, RU_ADJECTIVE)
        if adj:
            z3, ok = _ru_strip(zone2, RU_PARTICIPLE_1, _RU_PRED_A_IA)
            if not ok:
                z3, _ = _ru_strip(z3, RU_PARTICIPLE_2)
            zone = z3
        else:
            zone, vb = _ru_strip(zone, RU_VERB_1, _RU_PRED_A_IA)
            if not vb:
                zone, vb = _ru_strip(zone, RU_VERB_2)
            if not vb:
                zone, _ = _ru_strip(zone, RU_NOUN)
    if zone.endswith("и"):
        zone = zone[:-1]
    de = _ru_find(zone, RU_DERIVATIONAL)
    if de and r2 - rv <= len(zone) - len(de):
        zone = zone[: -len(de)]
    zone, _ = _ru_strip(zone, RU_SUPERLATIVE)
    if zone.endswith("нн"):
        zone = zone[:-1]
    if zone.endswith("ь"):
        zone = zone[:-1]
    return word[:rv] + zone


def russian_analyzer(stopwords: frozenset[str] = RUSSIAN_STOP_WORDS):
    """RussianLetterTokenizer (letters + ASCII digits) -> LowerCase ->
    Stop (holes) -> RussianStemFilter (RussianAnalyzer.cs:136-144)."""
    def term(tok: str) -> str | None:
        return (None if len(tok) > MAX_TOKEN_LENGTH or tok in stopwords
                else russian_stem(tok))
    return Analyzer(lambda text: _RU_LETTER_RE.findall(text.lower()), term)


# ================================================================== Thai

# ThaiAnalyzer chain (src/contrib/Analyzers/Th/ThaiAnalyzer.cs:36-44):
# StandardTokenizer -> StandardFilter -> ThaiWordFilter -> English
# StopFilter (position increments on).  Note there is NO LowerCaseFilter
# in the reference chain, so latin tokens keep their case and the
# lowercase English stop set only removes already-lowercase stopwords —
# pinned by tests/test_thai.py.

#: first-char Thai test of ThaiWordFilter.cs:48 (_isThaiRegex \p{IsThai})
THAI_CHAR_RE = re.compile(r"[฀-๿]")

#: StandardTokenizer token classes, case-preserved, plus Thai runs as
#: single raw tokens (JFlex emits a Thai run as one token; the word
#: filter splits it afterwards)
_THAI_TOKEN_RE = re.compile(
    r"[฀-๿]+|" + STANDARD_ALTERNATION, re.IGNORECASE)

ENGLISH_STOP_WORDS_TH = frozenset(
    "a an and are as at be but by for if in into is it no not of on or "
    "such that the their then there these they this to was will with"
    .split())  # StopAnalyzer.ENGLISH_STOP_WORDS_SET (ThaiAnalyzer.cs:42)


def dict_word_break(lexicon) -> "callable":
    """Greedy longest-match dictionary segmentation — the walk Thai
    BreakIterator performs under the hood (the reference delegates to
    ``BreakIterator.getWordInstance(new Locale("th"))``,
    ThaiWordFilter.cs:52).  Unknown spans degrade to single characters so
    the walk always terminates and never drops text."""
    wordset = frozenset(lexicon)
    maxlen = max((len(w) for w in wordset), default=1)

    def brk(run: str) -> list[str]:
        out: list[str] = []
        i, n = 0, len(run)
        while i < n:
            for ln in range(min(maxlen, n - i), 1, -1):
                if run[i:i + ln] in wordset:
                    out.append(run[i:i + ln])
                    i += ln
                    break
            else:
                out.append(run[i])
                i += 1
        return out
    return brk


def thai_analyzer(word_break=None,
                  stopwords: frozenset[str] = ENGLISH_STOP_WORDS_TH):
    """analyzer= callable for the ThaiAnalyzer chain.

    ``word_break`` maps one Thai run to its word list.  The DEFAULT
    (None) mirrors the reference port itself, which throws
    ``NotSupportedException("PORT ISSUES")`` the moment the filter is
    constructed because .NET has no BreakIterator
    (ThaiWordFilter.cs:53) — here the error is deferred to the first
    Thai token so pure-latin text still analyzes.  Pass
    ``dict_word_break(lexicon)`` for a working dictionary walk."""
    def analyze(text: str) -> list[tuple[str, int]]:
        if text is None:
            return []
        out: list[tuple[str, int]] = []
        pos = 0
        for tok in _THAI_TOKEN_RE.findall(text):
            if THAI_CHAR_RE.match(tok[0]):  # ThaiWordFilter.cs:48
                if word_break is None:
                    raise NotImplementedError(
                        "Thai word breaking needs word_break= (the "
                        "reference port throws NotSupportedException "
                        "'PORT ISSUES' here, ThaiWordFilter.cs:53)")
                words = word_break(tok)
            else:
                # StandardFilter on the case-preserved token (the 's and
                # acronym patterns are lowercase-anchored, like the
                # reference filter's char checks)
                words = [_std_transform(tok)]
            for w in words:
                if len(w) > MAX_TOKEN_LENGTH or w in stopwords:
                    pos += 1  # StopFilter hole (increments enabled)
                    continue
                out.append((w, pos))
                pos += 1
        return out
    return analyze
