"""Invert kernel: vocabulary routine == per-document stream equivalence.

The vocabulary routine (factorize raw tokens, run the term chain over the
unique vocabulary, arange positions, bincount norms;
segments._invert_partition) must be bit-identical to the per-document
analyzer loop (force_slow=True) on every analyzer corner: emails,
acronyms, possessives, stopword holes, >255-char tokens, mixed
code/standard languages in one partition, folding, terms shared between
the two built-in vocabularies — for the built-in chains and for every
analysis chain built as a tokenizer + term chain (tokenizers.Analyzer):
the stemming chains, the contrib language chains, the misc chains and
the letter/whitespace tokenizers."""

from __future__ import annotations

import unittest.mock as um

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from lucenenet_spark.analysis import (brazilian, dutch, french, german,
                                      intl, lovins, misc, snowball,
                                      snowball_ext, tokenizers)
from lucenenet_spark.analysis.tokenizers import Analyzer
from lucenenet_spark.index.segments import _invert_partition


class _FakeTC:
    @staticmethod
    def get():
        return _FakeTC()

    def partitionId(self):
        return 7


def _run(pdf, *, positions=True, fold=False, force_slow=False,
         lang_col="lang", batches=None, analyzer=None):
    fn = _invert_partition("content", "doc_id", "content", lang_col,
                           positions, fold=fold, analyzer=analyzer,
                           force_slow=force_slow)
    chunks = batches if batches is not None else [pdf]
    with um.patch("pyspark.TaskContext", _FakeTC):
        out = pa.Table.from_batches(list(fn(iter(
            pa.RecordBatch.from_pandas(c, preserve_index=False)
            for c in chunks))))
    # list cells as Python lists, so frames compare element by element
    return (pd.DataFrame(out.to_pylist(), columns=out.column_names)
            .sort_values(["field", "term"]).reset_index(drop=True))


TRICKY_DOCS = [
    # (lang, text)
    (None, "The quick Foo.Bar U.S.A. run o'brien's dog@mail.example.com"),
    (None, "foo@bar.com visited www.example.co.uk at 1.2.3.4 twice"),
    (None, "the and of to a an"),                       # stopwords only
    (None, ""),                                         # empty
    (None, None),                                       # null
    (None, "x" * 300 + " ok " + "y" * 256),             # length filter
    (None, "AT&T excite@home you're O'Reilly's 3.14 1-2-3 a-b-c2"),
    (None, "merge merge merge index the index"),        # repeats + hole
    ("python", "def camelCaseName(snake_case_arg): return XMLHttpRequest2"),
    ("java", "public static void main(String[] args) { int xY = 0; }"),
    ("go", ""),                                         # empty code doc
    ("rust", None),                                     # null code doc
    ("python", "merge index spark"),    # SAME terms as std docs above
    ("PYTHON", "Dispatch_on_lowercased_LANG value"),    # lang case
    ("latin", "lang not in CODE_LANGS goes standard"),  # non-code lang
    (None, "trailing.dot. host.name.tld. i.b.m. plain"),
    (None, "Häuser Cafés les chevaux москва Москвы δοκιμές ΤΕΣΤ الكتاب"),
]


def _pdf(docs):
    return pd.DataFrame({
        "doc_id": np.arange(100, 100 + len(docs), dtype=np.int64),
        "lang": [l for l, _ in docs],
        "content": [t for _, t in docs],
    })


#: analyzer= under test; None is the lang-keyed built-in chain.  With
#: analyzer= every document goes through it, whatever its lang.
ANALYZERS = {
    None: None,
    "english": snowball.english_snowball_analyzer(),
    "german": snowball.german_snowball_analyzer(),
    "german2": snowball.german2_snowball_analyzer(),
    "lovins": lovins.lovins_analyzer(),
    "romanian": snowball_ext.romanian_snowball_analyzer(),
    "german_legacy": german.german_legacy_analyzer(
        exclusions=frozenset({"index"})),
    "german_din2": german.german_legacy_analyzer(din2=True),
    "french": french.french_analyzer(exclusions=frozenset({"merge"})),
    "dutch": dutch.dutch_analyzer(),
    "brazilian": brazilian.brazilian_analyzer(),
    "greek": intl.greek_analyzer(),
    "czech": intl.czech_analyzer(),
    "arabic": intl.arabic_analyzer(),
    "persian": intl.persian_analyzer(frozenset({"twice"})),
    "russian": intl.russian_analyzer(),
    "reverse": misc.reverse_analyzer(),
    "pattern": misc.pattern_analyzer(),
    "auto_stop": misc.auto_stop_analyzer({"merge", "index"}),
    "unaccented": misc.unaccented_word_analyzer(),
    "letter_or_digit": misc.letter_or_digit_tokens,
    "whitespace": tokenizers.tokenize_whitespace,
    "letter": tokenizers.tokenize_letter,
    "lowercase": tokenizers.tokenize_lowercase,
}


@pytest.mark.parametrize("name", [n for n in ANALYZERS if n])
def test_chain_is_an_analyzer(name):
    """Every one-term-per-raw-token chain is a tokenizers.Analyzer, so
    its build takes the vocabulary routine."""
    assert isinstance(ANALYZERS[name], Analyzer)


def _tricky_cases():
    for name in ANALYZERS:
        for fold in (True, False):
            for positions in (True, False):
                ids = [name] if name else []
                yield pytest.param(name, fold, positions,
                                   id="-".join(ids + [str(fold),
                                                      str(positions)]))


@pytest.mark.parametrize("analyzer, fold, positions", _tricky_cases())
def test_fast_equals_slow_tricky(analyzer, fold, positions):
    pdf = _pdf(TRICKY_DOCS)
    a = ANALYZERS[analyzer]
    fast = _run(pdf, positions=positions, fold=fold, analyzer=a)
    slow = _run(pdf, positions=positions, fold=fold, analyzer=a,
                force_slow=True)
    pd.testing.assert_frame_equal(fast, slow)
    assert len(fast) > 0


def test_fast_equals_slow_multibatch():
    """Batch boundaries must not affect the output (positions restart per
    doc; factorize spans batches)."""
    pdf = _pdf(TRICKY_DOCS)
    whole = _run(pdf)
    split = _run(None, batches=[pdf.iloc[:5], pdf.iloc[5:9],
                                pdf.iloc[9:]])
    pd.testing.assert_frame_equal(whole, split)


def test_fast_equals_slow_no_lang_col():
    pdf = _pdf([(None, t) for _, t in TRICKY_DOCS])
    fast = _run(pdf, lang_col=None)
    slow = _run(pdf, lang_col=None, force_slow=True)
    pd.testing.assert_frame_equal(fast, slow)


def test_fast_equals_slow_random_corpus():
    from lucenenet_spark.sources.corpus import gen_corpus_rows
    rows = gen_corpus_rows(400)
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content"])
    pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64)
    fast = _run(pdf)
    slow = _run(pdf, force_slow=True)
    pd.testing.assert_frame_equal(fast, slow)
    assert len(fast) > 100


def test_multivalued_column_takes_slow_path():
    """array<string> columns must still produce multi-value gap semantics,
    equal to the per-document reference (a trailing stopword's hole
    survives the value boundary)."""
    pdf = pd.DataFrame({
        "doc_id": np.array([1, 2, 3], dtype=np.int64),
        "lang": [None, None, None],
        "content": [["alpha beta", "gamma"], None, ["delta the", "eps"]],
    })
    out = _run(pdf)
    assert set(out["term"]) == {"alpha", "beta", "gamma", "delta", "eps"}
    # positions continue across values (gap=0 default)
    row = out[out["term"] == "gamma"].iloc[0]
    assert row["docs"] == [1] and row["pos"] == [[2]]
    assert out[out["term"] == "eps"].iloc[0]["pos"] == [[2]]
    pd.testing.assert_frame_equal(out, _run(pdf, force_slow=True))
