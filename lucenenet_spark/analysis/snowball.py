"""Snowball stemmers — English (Porter2) and German — plus analyzer chains.

Re-derivations of the published Snowball algorithms (snowballstem.org),
pinned to the exact variant the reference ships as generated code:
src/contrib/Snowball/SF/Snowball/Ext/EnglishStemmer.cs (among tables
a_0..a_9 = the suffix sets and exception lists implemented here) and
GermanStemmer.cs (a_0..a_4).  The reference wires them behind
SnowballFilter/SnowballAnalyzer (src/contrib/Snowball/Lucene.Net/
Analysis/Snowball/SnowballAnalyzer.cs: StandardTokenizer ->
StandardFilter -> LowerCase -> Stop -> SnowballFilter).

Both stemmers are mirrored STEP FOR STEP by the DuckDB SQL generators in
oracle/sqlgen.py (same suffix tables, same region arithmetic), so every
snowball contract entry has an exact cross-engine oracle.

Implementation notes (documented deviations, none observable on ASCII
corpora):
- R1/R2 are recomputed from the current string at each step instead of
  carried as dangling marks; provably equivalent because every step
  edits only the tail at/after the region start (see tests).
- The German u/y-between-vowels marking runs as an iterated
  (y-pattern, u-pattern) regex fixpoint rather than one leftmost scan;
  the two differ only on contrived v-y-u-v chains.
"""

from __future__ import annotations

import re

# --------------------------------------------------------------- English

_V = "aeiouy"  # Y (marked consonant y) is deliberately NOT a vowel

# exception1 (EnglishStemmer.cs a_9): whole-word special cases
_EXC1 = {
    "skis": "ski", "skies": "sky", "dying": "die", "lying": "lie",
    "tying": "tie", "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe", "atlas": "atlas",
    "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}
# exception2 (a_8): invariant after step 1a
_EXC2 = {"inning", "outing", "canning", "herring", "earring",
         "proceed", "exceed", "succeed"}

_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_VALID_LI = set("cdeghkmnrt")

# step 2/3/4 suffix tables (a_4/a_5/a_6), ordered longest-first as the
# among longest-match rule requires
_STEP2 = [
    ("ational", "ate"), ("ization", "ize"), ("fulness", "ful"),
    ("ousness", "ous"), ("iveness", "ive"),
    ("tional", "tion"), ("biliti", "ble"), ("lessli", "less"),
    ("entli", "ent"), ("aliti", "al"), ("alism", "al"), ("iviti", "ive"),
    ("fulli", "ful"), ("ousli", "ous"), ("ation", "ate"),
    ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
    ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
    ("bli", "ble"),
]
_STEP3 = [
    ("ational", "ate"), ("tional", "tion"),
    ("alize", "al"), ("icate", "ic"), ("iciti", "ic"),
    ("ical", "ic"), ("ness", ""), ("ful", ""),
]
_STEP4 = ["ement", "ance", "ence", "able", "ible", "ment",
          "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
          "ion", "al", "er", "ic"]


def _r1_en(w: str) -> int:
    if w.startswith("gener"):  # a_0 special prefix
        return 5
    m = re.match(f"^.*?[{_V}][^{_V}]", w)
    return m.end() if m else len(w)


def _r2_at(w: str, start: int) -> int:
    m = re.match(f"^.*?[{_V}][^{_V}]", w[start:])
    return start + m.end() if m else len(w)


def _shortv(u: str) -> bool:
    """Word ends in a short syllable (EnglishStemmer.cs r_shortv)."""
    if re.search(f"[^{_V}][{_V}][^{_V}wxY]$", u):
        return True
    return re.fullmatch(f"[{_V}][^{_V}]", u) is not None


def porter2_stem(word: str) -> str:
    w = word
    exc = _EXC1.get(w)
    if exc is not None:
        return exc
    if len(w) < 3:
        return w
    # prelude: initial y followed by a vowel, then y after a vowel -> Y
    w = re.sub(f"^y(?=[{_V}])", "Y", w)
    w = re.sub(f"([{_V}])y", r"\1Y", w)

    n = len(w)
    # step 1a (a_1), longest suffix
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ied") or w.endswith("ies"):
        w = w[:-3] + ("i" if len(w) > 4 else "ie")
    elif w.endswith("us") or w.endswith("ss"):
        pass
    elif w.endswith("s"):
        if re.search(f"[{_V}]", w[:-2]):
            w = w[:-1]
    if w in _EXC2:
        return w

    # step 1b (a_3)
    def fixup(u: str) -> str:
        if u.endswith(("at", "bl", "iz")):
            return u + "e"
        if u.endswith(_DOUBLES):
            return u[:-1]
        if _r1_en(u) == len(u) and _shortv(u):
            return u + "e"
        return u

    for suf, kind in (("eedly", "ee"), ("ingly", None), ("edly", None),
                      ("eed", "ee"), ("ing", None), ("ed", None)):
        if w.endswith(suf):
            if kind == "ee":
                if len(w) - len(suf) >= _r1_en(w):
                    w = w[: -len(suf)] + "ee"
            else:
                stem = w[: -len(suf)]
                if re.search(f"[{_V}]", stem):
                    w = fixup(stem)
            break

    # step 1c: y/Y -> i after a non-vowel that is not the first letter
    if re.search(f".[^{_V}][yY]$", w):
        w = w[:-1] + "i"

    # step 2 (a_4), in R1
    r1 = _r1_en(w)
    for suf, rep in _STEP2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                w = w[: -len(suf)] + rep
            break
    else:
        if w.endswith("ogi"):
            if len(w) - 3 >= r1 and w.endswith("logi"):
                w = w[:-1]  # ogi -> og
        elif w.endswith("li"):
            if len(w) - 2 >= r1 and w[-3:-2] in _VALID_LI:
                w = w[:-2]

    # step 3 (a_5), in R1; 'ative' deletes only in R2
    r1 = _r1_en(w)
    if w.endswith("ative"):
        if len(w) - 5 >= r1 and len(w) - 5 >= _r2_at(w, r1):
            w = w[:-5]
    else:
        for suf, rep in _STEP3:
            if w.endswith(suf):
                if len(w) - len(suf) >= r1:
                    w = w[: -len(suf)] + rep
                break

    # step 4 (a_6), in R2; 'ion' only after s/t
    r1 = _r1_en(w)
    r2 = _r2_at(w, r1)
    for suf in _STEP4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2 and (
                    suf != "ion" or w[-4:-3] in ("s", "t")):
                w = w[: -len(suf)]
            break

    # step 5 (a_7)
    r1 = _r1_en(w)
    r2 = _r2_at(w, r1)
    if w.endswith("e"):
        if len(w) - 1 >= r2 or (len(w) - 1 >= r1 and not _shortv(w[:-1])):
            w = w[:-1]
    elif w.endswith("ll") and len(w) - 1 >= r2:
        w = w[:-1]

    return w.replace("Y", "y")


# ---------------------------------------------------------------- German

_GV = "aeiouyäöü"
_S_ENDING = set("bdfghklmnrt")
_ST_ENDING = set("bdfghklmnt")

# GermanAnalyzer.cs:46-60 GERMAN_STOP_WORDS
GERMAN_STOP_WORDS: frozenset[str] = frozenset({
    "einer", "eine", "eines", "einem", "einen",
    "der", "die", "das", "dass", "daß",
    "du", "er", "sie", "es",
    "was", "wer", "wie", "wir",
    "und", "oder", "ohne", "mit",
    "am", "im", "in", "aus", "auf",
    "ist", "sein", "war", "wird",
    "ihr", "ihre", "ihres",
    "als", "für", "von",
    "dich", "dir", "mich", "mir",
    "mein", "kein",
    "durch", "wegen",
})


def _r1_de(w: str) -> int:
    m = re.match(f"^.*?[{_GV}][^{_GV}]", w)
    if m is None:
        return len(w)
    return max(3, m.end())  # region before R1 has at least 3 letters


def _r2_de(w: str) -> int:
    m = re.match(f"^.*?[{_GV}][^{_GV}].*?[{_GV}][^{_GV}]", w)
    return m.end() if m else len(w)


def _de_mark_uy(w: str) -> str:
    """u/y between vowels -> U/Y (iterated two-pattern fixpoint; see
    module docstring for the leftmost-scan deviation note)."""
    for _ in range(3):
        w2 = re.sub(f"([{_GV}])y([{_GV}])", r"\1Y\2", w)
        w2 = re.sub(f"([{_GV}])u([{_GV}])", r"\1U\2", w2)
        if w2 == w:
            break
        w = w2
    return w


def german_stem(word: str) -> str:
    w = _de_mark_uy(word.replace("ß", "ss"))
    return _german_steps(w)


def _de2_substitute(w: str) -> str:
    """German2Stemmer.cs prelude second pass: left-to-right longest
    among over {ae, oe, ue, qu, ß} — ae/oe/ue become umlauts, ß -> ss,
    and qu protects (hops over) the TWO chars after it; the generated
    hop aborts the whole scan when fewer than two chars remain."""
    out = []
    i, n = 0, len(w)
    while i < n:
        two = w[i:i + 2]
        if two == "qu":
            if i + 4 > n:
                out.append(w[i:])  # hop past limit: scan stops
                return "".join(out)
            out.append(w[i:i + 4])
            i += 4
        elif two == "ae":
            out.append("ä")
            i += 2
        elif two == "oe":
            out.append("ö")
            i += 2
        elif two == "ue":
            out.append("ü")
            i += 2
        elif w[i] == "ß":
            out.append("ss")
            i += 1
        else:
            out.append(w[i])
            i += 1
    return "".join(out)


def german2_stem(word: str) -> str:
    """German2Stemmer.cs: the German algorithm with the extra prelude
    substitution (marking runs FIRST, so a u between vowels is already
    U and never part of a 'ue' substitution — 'neue' keeps its u while
    'mueller' gains an umlaut)."""
    return _german_steps(_de2_substitute(_de_mark_uy(word)))


def _german_steps(w: str) -> str:
    r1, r2 = _r1_de(w), _r2_de(w)
    # step 1 (a_1), longest suffix, in R1
    for suf in ("ern", "es", "em", "en", "er", "e"):
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                w = w[: -len(suf)]
            break
    else:
        if w.endswith("s") and len(w) - 1 >= r1 and \
                w[-2:-1] in _S_ENDING:
            w = w[:-1]

    # step 2 (a_2), in R1
    r1 = _r1_de(w)
    for suf in ("est", "en", "er"):
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                w = w[: -len(suf)]
            break
    else:
        if (w.endswith("st") and len(w) - 2 >= r1
                and w[-3:-2] in _ST_ENDING and len(w) >= 6):
            w = w[:-2]

    # step 3 (a_4), d-suffixes in R2
    r2 = _r2_de(w)
    if w.endswith(("end", "ung")):
        if len(w) - 3 >= r2:
            w = w[:-3]
            if (w.endswith("ig") and not w.endswith("eig")
                    and len(w) - 2 >= _r2_de(w)):
                w = w[:-2]
    elif w.endswith(("isch", "lich", "heit", "keit")):
        suf = w[-4:]
        if len(w) - 4 >= r2:
            if suf == "isch":
                if not w.endswith("eisch"):
                    w = w[:-4]
            else:
                w = w[:-4]
                if suf in ("lich", "heit"):
                    if (w.endswith(("er", "en"))
                            and len(w) - 2 >= _r1_de(w)):
                        w = w[:-2]
                elif suf == "keit":
                    if w.endswith("lich") and len(w) - 4 >= _r2_de(w):
                        w = w[:-4]
                    elif w.endswith("ig") and len(w) - 2 >= _r2_de(w):
                        w = w[:-2]
    elif w.endswith(("ig", "ik")):
        if len(w) - 2 >= r2 and not w.endswith(("eig", "eik")):
            w = w[:-2]

    # postlude: unmark, remove umlauts
    return (w.replace("Y", "y").replace("U", "u")
            .replace("ä", "a").replace("ö", "o").replace("ü", "u"))


# ------------------------------------------------------------- analyzers

def english_snowball_analyzer():
    """SnowballAnalyzer('English'): the standard chain (English stop set,
    holes kept) + Porter2 on every emitted term (SnowballAnalyzer.cs
    TokenStream).  A tokenizers.Analyzer: the invert kernel stems each
    unique raw token of a partition once, not every token."""
    from .tokenizers import standard_analyzer
    return standard_analyzer(stem=porter2_stem)


def german2_snowball_analyzer():
    """SnowballAnalyzer('German2', GERMAN_STOP_WORDS): the German chain
    with the ae/oe/ue/ß prelude substitutions."""
    from .tokenizers import standard_analyzer
    return standard_analyzer(GERMAN_STOP_WORDS, german2_stem)


def german_snowball_analyzer():
    """SnowballAnalyzer('German', GERMAN_STOP_WORDS): standard tokenizer
    + lowercase + German stop set (holes kept) + German stemmer."""
    from .tokenizers import standard_analyzer
    return standard_analyzer(GERMAN_STOP_WORDS, german_stem)
