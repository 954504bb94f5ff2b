"""Fast-path invert kernel == slow-path (per-doc tokenize) equivalence.

The fast path (factorize raw tokens, transform the unique vocabulary,
arange/reduceat positions+norms; segments._invert_partition) must be
bit-identical to the original per-doc loop on every analyzer corner:
emails, acronyms, possessives, stopword holes, >255-char tokens,
mixed code/standard languages in one partition, folding, terms shared
between the two analyzer vocabularies."""

from __future__ import annotations

import unittest.mock as um

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from lucenenet_spark.index.segments import _invert_partition


class _FakeTC:
    @staticmethod
    def get():
        return _FakeTC()

    def partitionId(self):
        return 7


def _run(pdf, *, positions=True, fold=False, force_slow=False,
         lang_col="lang", batches=None):
    fn = _invert_partition("content", "doc_id", "content", lang_col,
                           positions, fold=fold, force_slow=force_slow)
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
]


def _pdf(docs):
    return pd.DataFrame({
        "doc_id": np.arange(100, 100 + len(docs), dtype=np.int64),
        "lang": [l for l, _ in docs],
        "content": [t for _, t in docs],
    })


@pytest.mark.parametrize("positions", [True, False])
@pytest.mark.parametrize("fold", [True, False])
def test_fast_equals_slow_tricky(positions, fold):
    pdf = _pdf(TRICKY_DOCS)
    fast = _run(pdf, positions=positions, fold=fold)
    slow = _run(pdf, positions=positions, fold=fold, force_slow=True)
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
    """array<string> columns must still produce multi-value gap semantics
    (the mode probe routes them to the slow path)."""
    pdf = pd.DataFrame({
        "doc_id": np.array([1, 2], dtype=np.int64),
        "lang": [None, None],
        "content": [["alpha beta", "gamma"], None],
    })
    out = _run(pdf)
    assert set(out["term"]) == {"alpha", "beta", "gamma"}
    # positions continue across values (gap=0 default)
    row = out[out["term"] == "gamma"].iloc[0]
    assert row["docs"] == [1] and row["pos"] == [[2]]
