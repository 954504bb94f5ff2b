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

A Similarity provides two column-expression kernels:
  term_score(tf, dl, df, n, avgdl, boost)   -- per (term, doc) posting row
  freq_score(freq, dl, idf_terms, avgdl, boost)
      -- phrase/span scoring from an accumulated freq; idf_terms is the
      list of per-term idf inputs (df values) resolved via .idf()
and a scalar .idf(df, n) used when the plan folds idf in as a literal.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import bm25


class BM25Similarity:
    """Lucene BM25 (k1=1.2, b=0.75) — the default."""

    def idf(self, df: int, n: int) -> float:
        return math.log(1.0 + (n - df + 0.5) / (df + 0.5))

    def term_score(self, tf_col: Column, dl_col: Column, df_col: Column,
                   n: float, avgdl: float,
                   boost: Column | float = 1.0) -> Column:
        return bm25.term_score(tf_col, dl_col, df_col, n, avgdl, boost)

    def freq_score(self, freq_col: Column, dl_col: Column,
                   idf_sum: Column | float, avgdl: float,
                   boost: float = 1.0) -> Column:
        i = idf_sum if isinstance(idf_sum, Column) else F.lit(float(idf_sum))
        return (F.lit(float(boost)) * i
                * bm25.tf_norm(freq_col, dl_col, avgdl))


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

    def _norm(self, dl_col: Column) -> Column:
        if not self.quantize_norms:
            return F.lit(1.0) / F.sqrt(dl_col.cast("double"))

        # Arrow-batched kernel — only in the opt-in parity mode
        @F.pandas_udf("double")
        def qnorm(dl: pd.Series) -> pd.Series:
            from .smallfloat import quantize_norm_np
            return pd.Series(
                quantize_norm_np(dl.to_numpy()).astype("float64"))

        return qnorm(dl_col)

    def idf(self, df: int, n: int) -> float:
        return math.log(n / (df + 1.0)) + 1.0

    def term_score(self, tf_col: Column, dl_col: Column, df_col: Column,
                   n: float, avgdl: float,
                   boost: Column | float = 1.0) -> Column:
        d = df_col.cast("double")
        idf = F.log(F.lit(float(n)) / (d + F.lit(1.0))) + F.lit(1.0)
        s = (idf * idf * F.sqrt(tf_col.cast("double"))
             * self._norm(dl_col))
        if isinstance(boost, Column):
            return s * boost
        return s * F.lit(float(boost)) if boost != 1.0 else s

    def freq_score(self, freq_col: Column, dl_col: Column,
                   idf_sum: Column | float, avgdl: float,
                   boost: float = 1.0) -> Column:
        # phrase weight assembly: (sum of idfs)^2 * sqrt(freq) * norm
        # (PhraseWeight mirrors TermWeight's queryWeight*value = idf^2)
        i = idf_sum if isinstance(idf_sum, Column) else F.lit(float(idf_sum))
        return (F.lit(float(boost)) * i * i
                * F.sqrt(freq_col.cast("double"))
                * self._norm(dl_col))


DEFAULT_SIMILARITY = BM25Similarity()
