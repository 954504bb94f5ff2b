"""Inverted-index build — the DataFrame ("logical postings") path.

Re-creates the reference's write-side dataflow (IndexWriter ->
DocumentsWriter -> TermsHash -> FormatPostings, SURVEY.md §2.3) as one
declarative Spark plan:

    docs -> tokenize (JVM exprs or Arrow pandas_udf) -> posexplode
         -> groupBy(field, term, doc_id) -> postings rows

Postings schema (term dictionary + .frq + .prx + .nrm re-expressed
relationally; reference formats at src/Lucene.Net/Index/TermInfo.cs:28-32,
FormatPostingsDocsWriter.cs:76-99, NormsWriter.cs:159-186):

    field: string, term: string, doc_id: long, tf: int,
    dl: int              -- doc length (norm), DENORMALIZED into the posting
                            row so query-time scoring needs no join against a
                            doc-metadata table (critical at 10^12 docs),
    positions: array<int> -- optional (.prx analogue), holes preserved

Global stats (N, avgdl) are computed once per build — the distributed-
scoring lemma of MultiSearcher.CreateWeight
(src/Lucene.Net/Search/MultiSearcher.cs:355-390): rank-identity under
sharding requires globally-aggregated (df, N, avgdl) before scoring.

The columnar segment path (posting arrays, block-max metadata, salted
merge waves) lives in index/segments.py; both paths answer queries through
plans/lowering.py with identical results.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..analysis import exprs
from ..analysis.udfs import analyze_per_lang

DEFAULT_FIELD = "text"


@dataclass
class IndexStats:
    n_docs: int
    total_tokens: int

    @property
    def avgdl(self) -> float:
        # total emitted tokens / total docs (docs with 0 tokens count in N)
        return self.total_tokens / self.n_docs if self.n_docs else 0.0


@dataclass
class InvertedIndex:
    """A queryable index: postings + global stats + the stored-fields table.

    `stored` is the source table itself (the .fdt/.fdx analogue — in Spark
    the doc store IS the source table, SURVEY.md §1.4)."""

    spark: SparkSession
    postings: DataFrame
    stats: IndexStats
    stored: DataFrame | None = None
    id_col: str = "doc_id"
    fields: tuple[str, ...] = (DEFAULT_FIELD,)
    tombstones: DataFrame | None = None
    _term_stats: DataFrame | None = dc_field(default=None, repr=False)

    @property
    def n_docs(self) -> int:
        return self.stats.n_docs

    @property
    def avgdl(self) -> float:
        return self.stats.avgdl

    def term_stats(self) -> DataFrame:
        """Term dictionary (field, term, df, ttf) — the .tis analogue."""
        if self._term_stats is None:
            self._term_stats = (
                self.postings.groupBy("field", "term")
                .agg(F.count("*").alias("df"), F.sum("tf").alias("ttf"))
            )
        return self._term_stats

    def term_vectors(self) -> DataFrame:
        """Forward index (doc_id, field, vec: array<struct<term, tf>>) —
        the .tvx/.tvd/.tvf analogue (src/Lucene.Net/Index/
        TermVectorsWriter.cs).  One shuffle on doc_id; persist/cache it at
        build time when per-doc term access (MoreLikeThis, highlighting)
        is on the hot path — a posting-table scan per doc is the
        alternative."""
        return (
            self.postings.groupBy("doc_id", "field")
            .agg(F.collect_list(F.struct("term", "tf")).alias("vec"))
        )

    def postings_for_terms(self, term_frame: DataFrame,
                           positions: bool = False) -> DataFrame:
        """Postings rows for a (small) dynamic term set, any extra columns
        of term_frame (per-term boost, df, ...) riding along — the in-plan
        multi-term expansion: ONE broadcast join, no driver round-trip and
        no per-term plan fan-out (SCORING_BOOLEAN rewrite at scale,
        src/Lucene.Net/Search/MultiTermQuery.cs:79-118)."""
        p = self.postings if positions else self.postings.drop("positions")
        return p.join(F.broadcast(term_frame), ["field", "term"])

    def with_deletes(self, tombstones: DataFrame) -> "InvertedIndex":
        """Buffered-deletes analogue (.del bitmap,
        src/Lucene.Net/Util/BitVector.cs; BufferedDeletes applied at query
        time as an anti-join instead of at flush). tombstones: DataFrame
        with a doc_id column; deletes accumulate across calls."""
        t = tombstones.select(F.col(self.id_col).alias("doc_id")
                              if self.id_col in tombstones.columns
                              else F.col("doc_id"))
        if self.tombstones is not None:
            t = self.tombstones.unionByName(t).distinct()
        from dataclasses import replace
        return replace(self, tombstones=t)

    def cache(self) -> "InvertedIndex":
        self.postings = self.postings.cache()
        if self.stored is not None:
            self.stored = self.stored.cache()
        return self

    # ---- persistence (segments_N manifest analogue: stats.json) ----

    def save(self, path: str, term_buckets: int = 32) -> None:
        """Write postings range-partitioned + sorted by term so parquet
        min/max stats give term-dictionary-style file skipping
        (.tii binary-search analogue, src/Lucene.Net/Index/TermInfosReader.cs:243-308)."""
        (
            self.postings.repartitionByRange(term_buckets, "field", "term")
            .sortWithinPartitions("field", "term", "doc_id")
            .write.mode("overwrite")
            .parquet(os.path.join(path, "postings"))
        )
        with open(os.path.join(path, "stats.json"), "w") as f:
            json.dump(
                {
                    "n_docs": self.stats.n_docs,
                    "total_tokens": self.stats.total_tokens,
                    "fields": list(self.fields),
                    "id_col": self.id_col,
                },
                f,
            )

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             stored: DataFrame | None = None) -> "InvertedIndex":
        with open(os.path.join(path, "stats.json")) as f:
            meta = json.load(f)
        return cls(
            spark=spark,
            postings=spark.read.parquet(os.path.join(path, "postings")),
            stats=IndexStats(meta["n_docs"], meta["total_tokens"]),
            stored=stored,
            id_col=meta.get("id_col", "doc_id"),
            fields=tuple(meta.get("fields", (DEFAULT_FIELD,))),
        )


def _postings_for_field(docs: DataFrame, id_col: str, text_col: str,
                        out_field: str, lang_col: str | None,
                        positions: bool) -> DataFrame:
    """One field's postings via the JVM-expression analyzer (codegen path)
    or the Arrow per-lang analyzer when lang dispatch is requested."""
    if lang_col is None:
        raw = exprs.standard_tokens(F.col(text_col))
        # posexplode BEFORE stop-removal: position = index over all tokens
        # (holes preserved, StopFilter.cs:128-140); dl travels with each row
        # so no doc-metadata join is ever needed downstream.
        dl = exprs.doc_len(F.col(text_col))
        tok = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                dl.alias("dl"),
                F.posexplode(raw).alias("pos", "term"),
            )
            .where(exprs.is_indexed_token(F.col("term")))
        )
    else:
        toks = analyze_per_lang(F.col(text_col), F.col(lang_col))
        tok = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.size(toks).alias("dl"),
                F.explode(toks).alias("tp"),
            )
            .select("doc_id", "dl", F.col("tp.term").alias("term"),
                    F.col("tp.pos").alias("pos"))
        )
    aggs = [F.count("*").cast("int").alias("tf")]
    if positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    out = (
        tok.groupBy("doc_id", "dl", "term")
        .agg(*aggs)
        .select(F.lit(out_field).alias("field"), "term", "doc_id",
                "tf", F.col("dl").cast("int").alias("dl"),
                *(["positions"] if positions else []))
    )
    if not positions:
        out = out.withColumn("positions", F.lit(None).cast("array<int>"))
    return out


def build_inverted_index(
    spark: SparkSession,
    docs: DataFrame,
    text_cols: dict[str, str] | str = DEFAULT_FIELD,
    id_col: str = "doc_id",
    lang_col: str | None = None,
    positions: bool = True,
    keyword_cols: dict[str, str] | None = None,
    fold_ascii: bool = False,
) -> InvertedIndex:
    """Build an InvertedIndex over `docs`.

    text_cols: {index_field_name: source_column} (or a single column name).
    keyword_cols: {field: column} indexed NOT_ANALYZED (whole value = one
    term, KeywordAnalyzer analogue, src/Lucene.Net/Analysis/KeywordAnalyzer.cs);
    dl contribution of keyword fields is 1 per doc per field.
    fold_ascii: fold accented chars to ASCII before tokenizing
    (ASCIIFoldingFilter/ISOLatin1AccentFilter analogue, analysis/folding.py)
    — applies to analyzed text fields only; query text must be folded with
    the same map (analysis.folding.fold_ascii_py).
    """
    if isinstance(text_cols, str):
        text_cols = {DEFAULT_FIELD: text_cols}
    if fold_ascii:
        from ..analysis.folding import fold_ascii_col
        for src in set(text_cols.values()):
            docs = docs.withColumn(src, fold_ascii_col(F.col(src)))

    # Fan narrow inputs out to the cluster: a source that arrives as a
    # handful of parquet files (one, at small SF) would otherwise serialize
    # the whole tokenize stage onto as many cores as it has partitions.
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)

    parts = [
        _postings_for_field(docs, id_col, src, fld, lang_col, positions)
        for fld, src in text_cols.items()
    ]
    for fld, src in (keyword_cols or {}).items():
        kw = docs.select(
            F.lit(fld).alias("field"),
            F.col(src).cast("string").alias("term"),
            F.col(id_col).alias("doc_id"),
            F.lit(1).alias("tf"),
            F.lit(1).alias("dl"),
            F.array(F.lit(0)).alias("positions"),
        ).where(F.col("term").isNotNull())
        parts.append(kw)

    postings = parts[0]
    for p in parts[1:]:
        postings = postings.unionByName(p)

    # Global stats in ONE tiny aggregate over the source (no extra pass over
    # postings). avgdl counts only the primary analyzed fields' tokens.
    first_field = next(iter(text_cols.values()))
    if lang_col is None:
        dl_expr = exprs.doc_len(F.col(first_field))
    else:
        dl_expr = F.size(analyze_per_lang(F.col(first_field), F.col(lang_col)))
    row = docs.select(
        F.count("*").alias("n"), F.sum(dl_expr).alias("tt")
    ).collect()[0]
    stats = IndexStats(n_docs=int(row["n"]), total_tokens=int(row["tt"] or 0))

    return InvertedIndex(
        spark=spark, postings=postings, stats=stats, stored=docs,
        id_col=id_col, fields=tuple(text_cols.keys()),
    )
