"""Legacy German chain (contrib Analyzers/De) — the pre-Snowball
Caumanns stemmer, its DIN-2007-2 variant, and the GermanAnalyzer stop
set.

Exact statement-level port of src/contrib/Analyzers/De/GermanStemmer.cs
(Substitute/Strip/Optimize/Resubstitute/RemoveParticleDenotion with the
shared substCount state) and GermanDIN2Stemmer.cs (ae/oe/ue -> a/o/u
pre-pass), validated against the reference's own goldens
(test/contrib/Analyzers/De/data.txt, data_din2.txt) parsed at test time
— the Dutch/Brazilian/French legacy-port pattern.

Mirrored reference quirks (deliberate, documented):
- `substCount =+ 2` in the sch-substitution is C#'s assignment-of-+2,
  not +=: finding 'sch' RESETS the counter to 2.
- The doubled-character '*' mask wins over umlaut substitution at the
  same position (else-if chain), and a 'ß' expansion can feed a '*'
  mask one position later.
- Stem() lowercases BEFORE the IsStemmable letters-only gate, so a
  non-stemmable term still comes back lowercased.
- DIN2's pre-pass indexes buffer[c-1] without a c>0 guard — on a word
  STARTING with 'e' the reference throws IndexOutOfRange; this port
  guards it (treats position 0 as no-op) and the deviation is pinned in
  tests.
"""

from __future__ import annotations

GERMAN_ANALYZER_STOP_WORDS: frozenset[str] = frozenset({
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
})  # GermanAnalyzer.cs:46-61


def _substitute(buf: list[str]) -> int:
    """GermanStemmer.Substitute (GermanStemmer.cs:146-216)."""
    subst_count = 0
    c = 0
    while c < len(buf):
        if c > 0 and buf[c] == buf[c - 1]:
            buf[c] = "*"
        elif buf[c] == "ä":
            buf[c] = "a"
        elif buf[c] == "ö":
            buf[c] = "o"
        elif buf[c] == "ü":
            buf[c] = "u"
        elif buf[c] == "ß":
            buf[c] = "s"
            buf.insert(c + 1, "s")
            subst_count += 1
        if c < len(buf) - 1:
            if (c < len(buf) - 2 and buf[c] == "s"
                    and buf[c + 1] == "c" and buf[c + 2] == "h"):
                buf[c] = "$"
                del buf[c + 1:c + 3]
                subst_count = 2  # sic: the reference's `=+ 2`
            elif buf[c] == "c" and buf[c + 1] == "h":
                buf[c] = "§"
                del buf[c + 1]
                subst_count += 1
            elif buf[c] == "e" and buf[c + 1] == "i":
                buf[c] = "%"
                del buf[c + 1]
                subst_count += 1
            elif buf[c] == "i" and buf[c + 1] == "e":
                buf[c] = "&"
                del buf[c + 1]
                subst_count += 1
            elif buf[c] == "i" and buf[c + 1] == "g":
                buf[c] = "#"
                del buf[c + 1]
                subst_count += 1
            elif buf[c] == "s" and buf[c + 1] == "t":
                buf[c] = "!"
                del buf[c + 1]
                subst_count += 1
        c += 1
    return subst_count


def _strip(buf: list[str], subst_count: int) -> None:
    """GermanStemmer.Strip (:77-119)."""
    while len(buf) > 3:
        n = len(buf)
        tail2 = "".join(buf[n - 2:])
        if n + subst_count > 5 and tail2 == "nd":
            del buf[n - 2:]
        elif n + subst_count > 4 and tail2 == "em":
            del buf[n - 2:]
        elif n + subst_count > 4 and tail2 == "er":
            del buf[n - 2:]
        elif buf[-1] in ("e", "s", "n", "t"):
            del buf[-1]
        else:
            return


def _optimize(buf: list[str], subst_count: int) -> None:
    """GermanStemmer.Optimize (:121-136)."""
    if len(buf) > 5 and "".join(buf[-5:]) == "erin*":
        del buf[-1]
        _strip(buf, subst_count)
    if buf and buf[-1] == "z":
        buf[-1] = "x"


def _resubstitute(buf: list[str]) -> None:
    """GermanStemmer.Resubstitute (:218-262)."""
    expand = {"$": ["s", "c", "h"], "§": ["c", "h"], "%": ["e", "i"],
              "&": ["i", "e"], "#": ["i", "g"], "!": ["s", "t"]}
    c = 0
    while c < len(buf):
        if buf[c] == "*":
            buf[c] = buf[c - 1]
        elif buf[c] in expand:
            rep = expand[buf[c]]
            buf[c:c + 1] = rep
            c += len(rep) - 1
        c += 1


def _remove_particle_denotion(buf: list[str]) -> None:
    """GermanStemmer.RemoveParticleDenotion (:138-144): the FIRST
    'gege' window collapses to 'ge'."""
    if len(buf) > 4:
        for c in range(len(buf) - 3):
            if "".join(buf[c:c + 4]) == "gege":
                del buf[c:c + 2]
                return


def german_legacy_stem(term: str, din2: bool = False) -> str:
    """GermanStemmer.Stem / GermanDIN2Stemmer (Caumanns algorithm)."""
    term = term.lower()
    if not term or not all(c.isalpha() for c in term):
        return term
    buf = list(term)
    if din2:
        # GermanDIN2Stemmer.Substitute pre-pass: drop e after a/o/u
        # (position 0 guarded; the reference would throw there)
        c = 0
        while c < len(buf):
            if buf[c] == "e" and c > 0 and buf[c - 1] in "aou":
                del buf[c]
            c += 1
    subst_count = _substitute(buf)
    _strip(buf, subst_count)
    _optimize(buf, subst_count)
    _resubstitute(buf)
    _remove_particle_denotion(buf)
    return "".join(buf)


def german_din2_stem(term: str) -> str:
    return german_legacy_stem(term, din2=True)


def german_legacy_analyzer(din2: bool = False,
                           exclusions: frozenset[str] = frozenset()):
    """GermanAnalyzer.TokenStream (GermanAnalyzer.cs:203-217):
    StandardTokenizer -> StandardFilter -> LowerCase -> StopFilter
    (GERMAN_ANALYZER_STOP_WORDS) -> GermanStemFilter (exclusion set
    passes through unstemmed)."""
    from .tokenizers import (
        Analyzer, _standard_tokens, guarded_stem, standard_analyzer)
    stem = guarded_stem(german_din2_stem if din2 else german_legacy_stem,
                        exclusions)
    return Analyzer(_standard_tokens, standard_analyzer(
        GERMAN_ANALYZER_STOP_WORDS, stem).term)
