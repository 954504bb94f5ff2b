"""Pluggable Similarity strategies — the reference's extension seam
(src/Lucene.Net/Search/Similarity.cs:560,644: abstract Tf/Idf, chosen
per-searcher via Searcher.SetSimilarity).

Two strategies, same Weight/Scorer lifecycle:

- BM25Similarity (default, the north rule): Lucene's published BM25
  (k1=1.2, b=0.75), formulas in functions/bm25.py.
- ClassicSimilarity: the reference's TF-IDF DefaultSimilarity
  (src/Lucene.Net/Search/DefaultSimilarity.cs): tf = sqrt(freq) (:65),
  idf = ln(N/(df+1)) + 1 (:77), lengthNorm = 1/sqrt(dl) (:53), term
  weight = idf^2 (queryWeight * value assembly, Search/TermQuery.cs:85-95).
  Documented deviations: queryNorm (1/sqrt(sum w^2), :59) is omitted — it
  is constant per query, so ranking is unchanged; the norm byte
  quantization (SmallFloat 3.15, Similarity.cs:502-504) defaults OFF —
  exact doc lengths, the lossless refinement of the same norm — and is
  available bit-for-bit via ClassicSimilarity(quantize_norms=True)
  (functions/smallfloat.py); coord is omitted as in the BM25 path.

A Similarity provides three kernels as SQL expression text (operands
are SQL text too: column names or expressions; n and avgdl are inlined
as literals, a float boost or idf_sum is inlined, a str one is an
operand):
  idf_sql(df, n)                                -- a term's idf
  term_score_sql(tf, dl, df, n, avgdl, boost)   -- per (term, doc) posting row
  freq_score_sql(freq, dl, idf_sum, avgdl, boost)
      -- phrase/span scoring from an accumulated freq; idf_sum is the sum
      of the per-term idfs
and a scalar .idf(df, n) for the nodes that resolve df on the driver.
Plans pass df as a column (the postings views' term_df), so the
generated code holds no per-query number and is compiled once per
query shape.
"""

from __future__ import annotations

import math

from . import bm25
from .smallfloat import NORM_STEPS
from .sqltext import lit


def _boosted(score: str, boost: str | float) -> str:
    if isinstance(boost, str):
        return f"({score} * ({boost}))"
    if boost != 1.0:
        return f"({score} * {lit(float(boost))})"
    return f"({score})"


def _operand(x: str | float) -> str:
    return f"({x})" if isinstance(x, str) else lit(float(x))


class BM25Similarity:
    """Lucene BM25 (k1=1.2, b=0.75) — the default."""

    def idf(self, df: int, n: int) -> float:
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def idf_sql(self, df: str, n: float) -> str:
        return bm25.idf_sql(df, n)

    def term_score_sql(self, tf: str, dl: str, df: str, n: float,
                       avgdl: float, boost: str | float = 1.0) -> str:
        return _boosted(f"{self.idf_sql(df, n)} * "
                        f"{bm25.tf_norm_sql(tf, dl, avgdl)}", boost)

    def freq_score_sql(self, freq: str, dl: str, idf_sum: str | float,
                       avgdl: float, boost: float = 1.0) -> str:
        return (f"({lit(float(boost))} * {_operand(idf_sum)} * "
                f"{bm25.tf_norm_sql(freq, dl, avgdl)})")


class ClassicSimilarity:
    """Reference TF-IDF (DefaultSimilarity.cs), per-term score
    idf^2 * sqrt(tf) * 1/sqrt(dl) * boost.

    quantize_norms=True enables the reference's LOSSY norm bytes
    (EncodeNorm/DecodeNorm through SmallFloat 3.15,
    Similarity.cs:402-417,502-504 — functions/smallfloat.py): the
    1/sqrt(dl) factor round-trips through the 256-entry byte table
    exactly like a stored .nrm file, so scores match the reference
    bit-for-bit where the default keeps exact doc lengths (the lossless
    refinement, and the engine default)."""

    def __init__(self, quantize_norms: bool = False):
        self.quantize_norms = quantize_norms

    def _norm(self, dl: str) -> str:
        if not self.quantize_norms:
            return f"({lit(1.0)} / sqrt(CAST({dl} AS DOUBLE)))"
        # the quantized norm is a step function of the int dl: pick its
        # step by counting the thresholds at or below dl
        thresholds, values = NORM_STEPS
        return (f"element_at(array({', '.join(map(lit, values))}), "
                f"size(filter(array({', '.join(map(lit, thresholds))}), "
                f"step -> step <= {dl})) + 1)")

    def idf(self, df: int, n: int) -> float:
        return math.log(n / (df + 1.0)) + 1.0

    def idf_sql(self, df: str, n: float) -> str:
        return (f"(ln({lit(float(n))} / (CAST({df} AS DOUBLE) + "
                f"{lit(1.0)})) + {lit(1.0)})")

    def term_score_sql(self, tf: str, dl: str, df: str, n: float,
                       avgdl: float, boost: str | float = 1.0) -> str:
        idf = self.idf_sql(df, n)
        return _boosted(f"{idf} * {idf} * sqrt(CAST({tf} AS DOUBLE)) * "
                        f"{self._norm(dl)}", boost)

    def freq_score_sql(self, freq: str, dl: str, idf_sum: str | float,
                       avgdl: float, boost: float = 1.0) -> str:
        # phrase weight assembly: (sum of idfs)^2 * sqrt(freq) * norm
        # (PhraseWeight mirrors TermWeight's queryWeight*value = idf^2)
        i = _operand(idf_sum)
        return (f"({lit(float(boost))} * {i} * {i} * "
                f"sqrt(CAST({freq} AS DOUBLE)) * {self._norm(dl)})")
