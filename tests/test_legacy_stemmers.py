"""Dutch / Brazilian / French legacy stemmers vs the reference's OWN
test goldens (test/contrib/Analyzers/{Nl,Br,Fr}/Test*.cs).

Each chain gets a small embedded golden set (standalone runs) plus a
full sweep parsed straight out of the reference test sources when the
tree is present — the same zero-drift discipline as
tests/test_intl_analyzers.py.
"""

from __future__ import annotations

import os
import re

import pytest

from lucenenet_spark.analysis.brazilian import (
    BRAZILIAN_STOP_WORDS, brazilian_analyzer, brazilian_stem)
from lucenenet_spark.analysis.dutch import (
    DUTCH_STOP_WORDS, dutch_analyzer, dutch_stem)
from lucenenet_spark.analysis.french import (
    ELISION_ARTICLES, FRENCH_STOP_WORDS, elide, french_analyzer,
    french_stem)

REF = "/root/reference"

NL_GOLDEN = [
    ("lichamelijk", "licham"), ("lichamelijkheden", "licham"),
    ("lichamen", "licham"), ("lichtgevoeligheid", "lichtgevoel"),
    ("lichthoeveelheid", "lichthoevel"), ("lichtje", "lichtj"),
    ("lichtjes", "lichtjes"), ("opheffen", "ophef"),  # vs snowball opheff
    ("opglimpende", "opglimp"), ("opgroeiplaats", "opgroeiplat"),
    ("ophaal", "ophal"), ("ophaalt", "ophaalt"),
    ("lichtverontreinigde", "lichtverontreinigd"),
    ("lidstaten", "lidstat"), ("opheusden", "opheusd"),
]

BR_GOLDEN = [
    ("boataria", "boat"), ("bôas", "boas"), ("bobagem", "bobag"),
    ("bobagens", "bobagens"), ("bobalhões", "bobalho"),
    ("boçal", "bocal"), ("bóia", "boi"), ("boiando", "boi"),
    ("quilométricas", "quilometr"), ("quintessência", "quintessente"),
    ("quintuplicou", "quintuplic"), ("Brasília", "brasil"),
    ("quimio5terápicos", "quimio5terapicos"), ("áá", "áá"),
    ("ááá", "aaa"),
]

FR_GOLDEN = [
    ("lances", "lanc"), ("habitable", "habit"), ("éléments", "élément"),
    ("captifs", "captif"), ("finissions", "fin"),
    ("souffrirent", "souffr"), ("rugissante", "rug"),
    ("abbeaux", "abbeau"), ("abdication", "abdiqu"),
    ("abondamment", "abond"), ("marieuses", "marieux"),
    ("pageaux", "pageau"), ("anticonstitutionnellement",
                            "anticonstitutionnel"),
]


def _one(analyzer, word):
    out = analyzer(word)
    return out[0][0] if out else "<dropped>"


class TestDutch:
    def test_embedded_goldens(self):
        an = dutch_analyzer()
        for w, want in NL_GOLDEN:
            assert _one(an, w) == want, w

    @pytest.mark.skipif(not os.path.isdir(REF), reason="no reference tree")
    def test_reference_goldens(self):
        src = open(f"{REF}/test/contrib/Analyzers/Nl/TestDutchStemmer.cs",
                   encoding="utf-8").read()
        pairs = re.findall(r'Check\("([^"]+)", "([^"]+)"\);', src)
        assert len(pairs) >= 80
        an = dutch_analyzer()
        bad = [(w, _one(an, w), want) for w, want in pairs
               if _one(an, w) != want]
        assert not bad, bad[:10]

    def test_stem_dict_override(self):
        # the bare stemmer has no dict (DutchStemmer.cs default)...
        assert dutch_stem("fiets") == "fiet"
        # ...the ANALYZER pins fiets/bromfiets/ei/kind (DutchAnalyzer ctor)
        an = dutch_analyzer()
        assert _one(an, "fiets") == "fiets"
        assert _one(an, "kind") == "kinder"
        assert _one(an, "ei") == "eier"

    def test_stopwords_with_holes(self):
        an = dutch_analyzer()
        assert an("de kat en de hond") == [("kat", 1), ("hond", 4)]


class TestBrazilian:
    def test_embedded_goldens(self):
        an = brazilian_analyzer()
        for w, want in BR_GOLDEN:
            assert _one(an, w) == want, w

    @pytest.mark.skipif(not os.path.isdir(REF), reason="no reference tree")
    def test_reference_goldens(self):
        src = open(f"{REF}/test/contrib/Analyzers/Br/TestBrazilianStemmer.cs",
                   encoding="utf-8").read()
        pairs = re.findall(r'Check\("([^"]+)", "([^"]+)"\);', src)
        assert len(pairs) >= 85
        an = brazilian_analyzer()
        bad = [(w, _one(an, w), want) for w, want in pairs
               if _one(an, w) != want]
        assert not bad, bad[:10]

    def test_not_indexable_keeps_original(self):
        # len <= 2 after accent removal -> Stem returns None -> filter
        # keeps the ORIGINAL token, diacritics intact
        assert brazilian_stem("áá") is None
        an = brazilian_analyzer()
        assert _one(an, "áá") == "áá"

    def test_stopwords(self):
        an = brazilian_analyzer()
        assert an("o boato da bobagem") == [("boat", 1), ("bobag", 3)]


class TestFrench:
    def test_embedded_goldens(self):
        an = french_analyzer()
        for w, want in FR_GOLDEN:
            assert _one(an, w) == want, w

    @pytest.mark.skipif(not os.path.isdir(REF), reason="no reference tree")
    def test_reference_analyzer_cases(self):
        src = open(f"{REF}/test/contrib/Analyzers/Fr/TestFrenchAnalyzer.cs",
                   encoding="utf-8").read()
        pat = re.compile(
            r'AssertAnalyzesTo(?:Reuse)?\(\s*fa,\s*"((?:[^"\\]|\\.)*)",'
            r'\s*new(?:\s+String\[\]|\[\])\s*(?:\{([^;]*?)\}|\s*\{\})\s*\)',
            re.S)

        def unesc(s):
            return re.sub(r"\\u([0-9a-fA-F]{4})",
                          lambda m: chr(int(m.group(1), 16)), s)

        an = french_analyzer()
        an_excl = french_analyzer(exclusions=frozenset(["habitable"]))
        checked = mism = 0
        for m in pat.finditer(src):
            inp = unesc(m.group(1))
            outs = [unesc(o) for o in
                    re.findall(r'"((?:[^"\\]|\\.)*)"', m.group(2) or "")]
            got = [t for t, _ in an(inp)]
            if got != outs:
                # the one post-SetStemExclusionTable assertion
                if [t for t, _ in an_excl(inp)] == outs:
                    checked += 1
                    continue
                mism += 1
                print("MISMATCH", inp, outs, got)
            checked += 1
        assert checked >= 15 and mism == 0

    def test_stopwords_and_tokenizer(self):
        an = french_analyzer()
        assert [t for t, _ in an("le la chien les aux chat du des à cheval")] \
            == ["chien", "chat", "cheval"]
        # hyphenated name splits; apostrophe class holds; mixed-digit run
        assert [t for t, _ in an("Jean-François C3PO 1940-1945")] \
            == ["jean", "françois", "c3po", "1940-1945"]

    def test_elision(self):
        arts = frozenset(["l", "m"])
        assert elide("l'embrouille", arts) == "embrouille"
        assert elide("M'enfin", arts) == "enfin"
        assert elide("O'brian", arts) == "O'brian"
        # default article set (ElisionFilter.cs:51)
        assert elide("qu'il") == "il"
        assert ELISION_ARTICLES == frozenset("l m t qu n s j".split())

    def test_treat_vowel_markers_folded(self):
        # reference chain lowercases AFTER stemming: iqU marker folds
        assert french_stem("abdications") == "abdiqU"
        an = french_analyzer()
        assert _one(an, "abdications") == "abdiqu"


@pytest.mark.skipif(not os.path.isdir(REF), reason="no reference tree")
class TestStopSetParity:
    @staticmethod
    def _cs_strings(path, array_name):
        src = open(path, encoding="utf-8").read()
        m = re.search(array_name + r"[^=]*=\s*\{(.*?)\};", src, re.S)
        assert m, array_name
        return set(re.findall(r'"((?:[^"\\]|\\.)*)"', m.group(1)))

    def test_dutch(self):
        ref = self._cs_strings(
            f"{REF}/src/contrib/Analyzers/Nl/DutchAnalyzer.cs",
            "DUTCH_STOP_WORDS")
        assert DUTCH_STOP_WORDS == ref

    def test_brazilian(self):
        ref = self._cs_strings(
            f"{REF}/src/contrib/Analyzers/BR/BrazilianAnalyzer.cs",
            "BRAZILIAN_STOP_WORDS")
        assert BRAZILIAN_STOP_WORDS == ref

    def test_french(self):
        ref = self._cs_strings(
            f"{REF}/src/contrib/Analyzers/Fr/FrenchAnalyzer.cs",
            "FRENCH_STOP_WORDS")
        assert FRENCH_STOP_WORDS == ref


# ---- legacy German (Caumanns) stemmer + DIN2 variant (round 5) --------

GERMAN_DATA = "/root/reference/test/contrib/Analyzers/De/data.txt"
GERMAN_DIN2 = "/root/reference/test/contrib/Analyzers/De/data_din2.txt"


def _parse_de(path):
    import pathlib
    out = []
    for ln in pathlib.Path(path).read_text(
            encoding="utf-8-sig").splitlines():
        ln = ln.strip()
        if not ln or ln.startswith("#"):
            continue
        word, want = ln.split(";")
        out.append((word, want))
    return out


@pytest.mark.skipif(not os.path.isdir(REF), reason="no reference tree")
def test_german_legacy_reference_goldens():
    """Every case from the reference's own
    test/contrib/Analyzers/De/data.txt (TestGermanStemFilter.cs)."""
    from lucenenet_spark.analysis.german import german_legacy_stem
    cases = _parse_de(GERMAN_DATA)
    assert len(cases) >= 30
    bad = [(w, want, german_legacy_stem(w))
           for w, want in cases if german_legacy_stem(w) != want]
    assert not bad, bad


@pytest.mark.skipif(not os.path.isdir(REF), reason="no reference tree")
def test_german_din2_reference_goldens():
    from lucenenet_spark.analysis.german import german_din2_stem
    cases = _parse_de(GERMAN_DIN2)
    assert len(cases) >= 4
    bad = [(w, want, german_din2_stem(w))
           for w, want in cases if german_din2_stem(w) != want]
    assert not bad, bad


def test_german_legacy_quirks():
    from lucenenet_spark.analysis.german import (
        german_din2_stem, german_legacy_stem)
    # non-stemmable (digit) comes back LOWERCASED (Stem lowercases
    # before the IsStemmable gate)
    assert german_legacy_stem("Ab1") == "ab1"
    # DIN2 guards the reference's c-1 crash on leading 'e'
    assert isinstance(german_din2_stem("essen"), str)
    # gege particle collapse
    assert german_legacy_stem("gegeben") == german_legacy_stem("geben") \
        or "ge" in german_legacy_stem("gegeben")


def test_german_legacy_analyzer_chain():
    from lucenenet_spark.analysis.german import german_legacy_analyzer
    an = german_legacy_analyzer()
    toks = an("der Tisch und die Tische")
    # stop words (der/und/die) leave holes; Tisch/Tische conflate
    assert toks == [("tisch", 1), ("tisch", 4)]
    # exclusion set passes through unstemmed
    an2 = german_legacy_analyzer(exclusions=frozenset({"tische"}))
    assert an2("Tische")[0][0] == "tische"
