"""BM25 scoring kernel as Spark SQL expression text.

Lucene's published BM25Similarity formulas (public Apache Lucene docs),
swapped into the reference's pluggable Similarity seam
(src/Lucene.Net/Search/Similarity.cs:560,644):

    idf(df, N)        = ln(1 + (N - df + 0.5) / (df + 0.5))
    tf_norm(tf,dl)    = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
    score             = boost * idf * tf_norm          (per term,doc)

BM25 drops the reference TF-IDF's queryNorm and coord factors; kept from the
reference: per-term boost multiplication and the collector tie-break
(equal score -> LOWER doc_id wins, src/Lucene.Net/Search/HitQueue.cs:87-93).

The kernels take SQL operands (column names or expressions) and return
parenthesized SQL text with N, avgdl and the constants inlined as DOUBLE
literals; plans parse them once (selectExpr / F.expr).  All math is double
precision; callers round to SCORE_DECIMALS before ordering so that rank
order is stable across summation orders and across engines (Spark vs
DuckDB vs the pure-Python oracle).
"""

from __future__ import annotations

from .sqltext import lit

K1 = 1.2
B = 0.75
SCORE_DECIMALS = 6


def idf_sql(df: str, n_docs: float) -> str:
    d = f"CAST({df} AS DOUBLE)"
    return (f"ln({lit(1.0)} + ({lit(float(n_docs))} - {d} + {lit(0.5)})"
            f" / ({d} + {lit(0.5)}))")


def tf_norm_sql(tf: str, dl: str, avgdl: float,
                k1: float = K1, b: float = B) -> str:
    t, d = f"CAST({tf} AS DOUBLE)", f"CAST({dl} AS DOUBLE)"
    return (f"(({t} * {lit(k1 + 1.0)}) / ({t} + {lit(k1)} * ({lit(1.0 - b)}"
            f" + {lit(b)} * {d} / {lit(float(avgdl))})))")
