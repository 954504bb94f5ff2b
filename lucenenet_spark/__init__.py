"""lucenenet_spark — a PySpark-native inverted-index + BM25 full-text engine.

A from-scratch re-expression of the capabilities of Lucene.Net 3.0.3
(reference surveyed in SURVEY.md) on the Spark DataFrame engine:

- analysis/   : StandardAnalyzer-equivalent + code-aware tokenizers
                (pure-Python spec AND JVM column expressions, proven equal)
- index/      : inverted-index build into columnar segments (posting
                lists as array columns) with block-max metadata, salted
                JVM merge waves with lineage + resume
- plans/      : Query AST + lowering to DataFrame plans (the "Weight/Scorer"
                layer re-expressed as joins/aggregations)
- functions/  : BM25 scoring kernel (SQL expression text), text statistics
- operators/  : dedup (exact/minhash/simhash/jaccard), ANN, top-k helpers
- queryparser/: Lucene-style query-string parser -> AST
- streaming/  : incremental (NRT-style) index maintenance via foreachBatch
- oracle/     : pure-Python BM25 oracle + DuckDB SQL generators used as the
                independent correctness oracle
"""

__version__ = "0.1.0"
