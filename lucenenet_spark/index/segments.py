"""Segmented index — columnar postings, merge waves, lineage, resume.

The write-side dataflow of the reference (IndexWriter -> DocumentsWriter ->
TermsHash -> FormatPostings -> SegmentMerger; SURVEY.md §2.3/§3.1) as Spark
stages:

  1. partition invert (mapInArrow): analyze + local hash-invert one
     SEGMENT per input partition — the per-thread RAM buffer + flush of
     DocumentsWriter.cs:120-138 (partition size = flush unit).  An
     analyzer that is a tokenizer + term chain (tokenizers.Analyzer: the
     built-in chains, Snowball, German, Lovins) goes through one
     vocabulary routine — the tokenizer per document, the term chain
     once per unique raw token of the partition; any other analyzer
     through a per-document stream hook feeding the same
     post-accumulation.  A segment row holds one (field, term)'s posting
     list as native array columns (docs / tfs / dls / pos / pay), built
     from offsets with no per-element Python.
  2. merge waves (groupBy in the JVM): geometric fan-in merge of segments,
     mergeFactor=10 by default (LogMergePolicy.cs:51-76). The exchange is
     keyed on (field, term), so a merged generation is hash-partitioned
     by term; the groupBy key adds the wave's merge-group, so wave k
     merges <=fan_in sub-lists per output row, never all of them at
     once.  Doc ids are global, so disjoint segments merge by array
     concatenation.
  3. each wave optionally checkpoints to parquet with a lineage row
     (wave, n_segments, rows, postings) — the segments_N manifest analogue
     (IndexFileNames.cs:29-37) — and a killed build resumes from the last
     committed wave.

SegmentedIndex.save writes one term-range parquet file per core.

Parquet's encoding and compression replace the reference's delta + VInt
.frq/.prx streams at rest; only the block-max skip metadata is
format-specific (index/codec.py).

Each generation holds its segment rows, and its tombstone ids, as a
leaf: evaluated once into executor blocks (`_materialize`, a local
checkpoint), the committed segments and .del files a searcher opens
instead of the writer it would replay.  A generation's rows are freed by
Spark's ContextCleaner once nothing references them, not by unpersist().

Query-time: `postings` is an inline(arrays_zip(...)) view with one row
per posting (field, term, term_df, doc_id, tf, dl, positions), which
plans/lowering.Searcher scores; term_df is the term's global df, a
window sum over its segment rows (the TermInfo{df, freqPtr, proxPtr}
entry, TermInfo.cs:28-32: df is read with the postings, not looked up
first).  The (field, term) filter lands on the Scan ExistingRDD of the
generation's rows, BELOW a coalesce(1), the window and the explode
(term-dictionary seek analogue, TermInfosReader.cs:243-308 — only
matching posting lists are expanded), so a query scores in one task
that reads the rows as they were materialized, and no Python worker
runs on the read path.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field as dc_field, replace

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..analysis.tokenizers import Analyzer, analyzer_for
from . import codec

_BLOCK = T.StructType([
    T.StructField("last_doc", T.LongType(), False),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("min_dl", T.IntegerType(), False),
])

SEGMENT_SCHEMA = T.StructType([
    T.StructField("field", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("seg_id", T.LongType(), False),
    T.StructField("df", T.IntegerType(), False),
    T.StructField("ttf", T.LongType(), False),
    # one posting list: ascending global doc ids with aligned tf and dl
    # (the denormalized .nrm norm)
    T.StructField("docs", T.ArrayType(T.LongType()), False),
    T.StructField("tfs", T.ArrayType(T.IntegerType()), False),
    T.StructField("dls", T.ArrayType(T.IntegerType()), False),
    # per-doc positions; NULL when the field is indexed without them
    T.StructField("pos", T.ArrayType(T.ArrayType(T.IntegerType())), True),
    # per-position float32 payloads aligned with pos (Payload.cs); NULL
    # when the analyzer emits none
    T.StructField("pay", T.ArrayType(T.ArrayType(T.FloatType())), True),
    T.StructField("blocks", T.ArrayType(_BLOCK), True),
])

_ARROW_SCHEMA = to_arrow_schema(SEGMENT_SCHEMA)

MERGE_FACTOR = 10  # LogMergePolicy.cs:56


@dataclass
class IndexStats:
    n_docs: int
    total_tokens: int

    @property
    def avgdl(self) -> float:
        # total emitted tokens / total docs (docs with 0 tokens count in N)
        return self.total_tokens / self.n_docs if self.n_docs else 0.0


#: analyzer of a loaded index that was built with analyzer=: the callable
#: is not saved, so the chain cannot be re-run
_UNSAVED = object()


@dataclass(frozen=True)
class _Spec:
    """How a build inverted its documents, kept on the index so
    update_documents inverts new ones the same way (an updated index must
    equal a rebuild): the analysis chain (fold, analyzer, gap) and the
    columns it read.  analyzer: the callable, None for the built-in
    chain, or _UNSAVED.  text_col None: the columns were not recorded (an
    index loaded from an older stats.json, or an NRT index)."""
    fold: bool = False
    analyzer: Callable | object | None = None
    gap: int = 0
    text_col: str | None = None
    lang_col: str | None = None
    positions: bool = True
    keyword_cols: dict[str, str] | None = None


class _Vocab:
    """Accumulates the documents of one tokenizers.Analyzer — every
    chain that emits one term (or a hole) per raw token: the built-in,
    Snowball, Lovins and contrib language chains, the reverse, pattern,
    auto-stop and unaccented chains, the letter/whitespace tokenizers,
    keyword fields.  Raw tokens per value, inverted through its term
    chain once per unique raw token of the partition."""

    def __init__(self, analyzer):
        self.a = analyzer
        self.raw, self.n, self.doc, self.base = [], [], [], []

    def add(self, d: int, text: str, base: int) -> int:
        """Value `text` of local doc `d`, its positions from `base`; the
        next value's base before the gap: base + its RAW token count, so
        stopword holes survive the boundary (tokenize_values)."""
        raw = self.a.tokens(text)
        if raw:
            self.raw.append(raw)
            self.n.append(len(raw))
            self.doc.append(d)
            self.base.append(base)
        return base + len(raw)

    def finish(self):
        """(vocab, tid, doc, pos, pay) over the EMITTED tokens: vocab the
        transformed unique raw tokens (None where the chain drops one),
        tid each token's index into it, pay None."""
        import itertools
        flat = np.asarray(list(itertools.chain.from_iterable(self.raw)),
                          dtype=object)
        tid, uniq = pd.factorize(flat, sort=False)
        vocab = np.asarray([self.a.term(u) for u in uniq], dtype=object)
        keep = np.not_equal(vocab, None)[tid]
        n = np.asarray(self.n, np.int64)
        # position = index within the value + the value's base
        shift = np.repeat(np.cumsum(n) - n - np.asarray(self.base, np.int64),
                          n)
        pos = np.arange(len(flat), dtype=np.int64) - shift
        doc = np.repeat(np.asarray(self.doc, np.int64), n)
        return (vocab, tid.astype(np.int64)[keep], doc[keep], pos[keep],
                None)


class _Stream:
    """The stream hook: accumulates the documents of an analyzer that
    emits something other than one term per raw token (shingle/n-gram,
    synonym, compound, CJK/Chinese, Thai, single-char, hunspell,
    delimited payload, char-filter mapping, or any plain callable) by
    calling it per value — and, with force_slow, of any analyzer, as
    the reference the vocabulary routine is tested against."""

    def __init__(self, analyzer):
        self.a = analyzer
        self.terms, self.pos, self.doc, self.pay = [], [], [], []

    def add(self, d: int, text: str, base: int) -> int:
        """As _Vocab.add; without a tokenizer to count raw tokens, the
        next base is past the value's highest emitted position."""
        toks = self.a(text)
        if toks:
            self.terms.extend(t[0] for t in toks)
            self.pos.extend(base + t[1] for t in toks)
            self.doc.extend([d] * len(toks))
            # analyzers may emit (term, pos, payload) triples
            # (analysis/payloads.py; PayloadAttribute.cs)
            self.pay.append([t[2] for t in toks] if len(toks[0]) == 3
                            else None)
        if isinstance(self.a, Analyzer):
            return base + len(self.a.tokens(text))
        return base + (max(t[1] for t in toks) + 1 if toks else 0)

    def finish(self):
        tid, vocab = pd.factorize(np.asarray(self.terms, dtype=object),
                                  sort=False)
        pay = (np.concatenate(self.pay).astype(np.float32)
               if self.pay and all(p is not None for p in self.pay)
               else None)
        return (np.asarray(vocab, dtype=object), tid.astype(np.int64),
                np.asarray(self.doc, np.int64),
                np.asarray(self.pos, np.int64), pay)


#: KeywordAnalyzer (src/Lucene.Net/Analysis/KeywordAnalyzer.cs): the whole
#: value is one term
_KEYWORD = Analyzer(lambda v: [str(v)], lambda t: t)


def _invert_partition(field_name: str, id_col: str, text_col: str,
                      lang_col: str | None, positions: bool,
                      keyword: bool = False, fold: bool = False,
                      analyzer=None, position_increment_gap: int = 0,
                      force_slow: bool = False):
    """mapInArrow kernel: one segment per input partition.

    Vectorized invert — the TermsHashPerField + FreqProxTermsWriter +
    FormatPostings chain (SURVEY.md §2.3) collapsed into array passes:
    factorize terms -> lexsort (term, doc, pos) -> run-length boundaries
    -> Arrow list arrays over the flat posting/position vectors, whose
    offsets are those boundaries (one list per term, nested per doc for
    positions and payloads).

    Each document goes to one analyzer: `analyzer` when given, else the
    lang-keyed built-in chain (tokenizers.analyzer_for); fold_ascii
    folds each value before it.  VOCABULARY ROUTINE (_Vocab), for every
    tokenizers.Analyzer — each one-term-per-raw-token chain (built-in,
    Snowball, Lovins, contrib language, reverse, pattern, ...; see
    _Vocab) and keyword fields: the ONLY per-doc Python is the
    tokenizer; the term chain (StandardFilter, length, stop set, stem)
    runs once per UNIQUE raw token of the partition (vocabulary-sized,
    10-30x fewer than tokens), positions come from arange arithmetic.
    STREAM HOOK (_Stream), for any other callable text -> [(term,
    pos[, payload])] (shingle, synonym, CJK, ...): called per value.
    Both feed one post-accumulation, where dl (the .nrm norm) is the
    doc's emitted token count; force_slow=True sends every analyzer
    through the stream hook — the per-document reference the tests
    compare with.

    A multi-valued field (array<string> column) analyzes each value with
    the document's analyzer; value i+1's positions start
    position_increment_gap past value i's position space
    (Analyzer.cs:108-126; see _Vocab.add and _Stream.add).

    keyword=True indexes the whole column value as ONE term with tf=1,
    dl=1, position 0 (KeywordAnalyzer, src/Lucene.Net/Analysis/
    KeywordAnalyzer.cs) — what build_segmented_index's keyword_cols
    index."""
    if fold:
        from ..analysis.folding import fold_ascii_py

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext
        seg_id = TaskContext.get().partitionId()

        accs = {}      # analyzer -> its _Vocab / _Stream
        doc_ids = []   # local doc index -> doc id
        for batch in batches:
            pdf = batch.to_pandas()
            langs = pdf[lang_col] if lang_col else [None] * len(pdf)
            for doc_id, text, lg in zip(pdf[id_col], pdf[text_col], langs):
                if text is None or (isinstance(text, float) and not keyword):
                    continue  # null (None, or NaN in a string column)
                if keyword:
                    a, values = _KEYWORD, [text]
                else:
                    # an array<string> column is a multi-valued field
                    values = ([text] if isinstance(text, str)
                              else [v for v in text if v is not None])
                    if fold:
                        values = [fold_ascii_py(v) for v in values]
                    a = analyzer if analyzer is not None else analyzer_for(lg)
                acc = accs.get(a)
                if acc is None:
                    acc = accs[a] = (
                        _Vocab(a) if isinstance(a, Analyzer)
                        and not force_slow else _Stream(a))
                d = len(doc_ids)
                doc_ids.append(int(doc_id))
                base = 0
                for v in values:
                    base = acc.add(d, v, base) + position_increment_gap

        parts = [acc.finish() for acc in accs.values()]
        if not any(len(p[1]) for p in parts):
            yield pa.RecordBatch.from_pylist([], schema=_ARROW_SCHEMA)
            return
        # merge the vocabularies into one id space (the same term can come
        # from more than one analyzer within a partition)
        gid, uniq_terms = pd.factorize(
            np.concatenate([p[0] for p in parts]), sort=False)
        uniq_terms = np.asarray(uniq_terms, object)
        off, tids = 0, []
        for p in parts:
            tids.append(gid[off:off + len(p[0])][p[1]])
            off += len(p[0])
        tid = np.concatenate(tids).astype(np.int64)
        dix = np.concatenate([p[2] for p in parts])
        posv = np.concatenate([p[3] for p in parts])
        payv = (np.concatenate([p[4] for p in parts])
                if all(p[4] is not None for p in parts) else None)
        docv = np.asarray(doc_ids, np.int64)[dix]
        # dl per token = emitted-token count of its doc (the .nrm norm)
        dlv = np.bincount(dix, minlength=len(doc_ids))[dix]

        order = np.lexsort((posv, docv, tid))
        tid, docv, posv, dlv = tid[order], docv[order], posv[order], dlv[order]
        if payv is not None:
            payv = payv[order]

        # posting boundaries: (term, doc) run starts; term boundaries
        newpost = np.ones(len(tid), bool)
        newpost[1:] = (tid[1:] != tid[:-1]) | (docv[1:] != docv[:-1])
        pstart = np.flatnonzero(newpost)
        tfs = np.diff(np.concatenate([pstart, [len(tid)]]))
        p_tid = tid[pstart]
        p_doc = docv[pstart]
        p_dl = dlv[pstart]

        newterm = np.ones(len(pstart), bool)
        newterm[1:] = p_tid[1:] != p_tid[:-1]
        tstart = np.flatnonzero(newterm)
        df_t = np.diff(np.concatenate([tstart, [len(pstart)]]))
        ttf_t = np.add.reduceat(tfs, tstart)

        def lists(offsets, values):
            return pa.ListArray.from_arrays(pa.array(offsets, pa.int32()),
                                            values)

        n_terms = len(tstart)
        toff = np.append(tstart, len(pstart))    # term -> its postings
        poff = np.append(pstart, len(tid))       # posting -> its positions
        cols = {
            "field": pa.array([field_name] * n_terms, pa.string()),
            "term": pa.array(uniq_terms[p_tid[tstart]], pa.string()),
            "seg_id": pa.array(np.full(n_terms, seg_id, np.int64)),
            "df": pa.array(df_t.astype(np.int32)),
            "ttf": pa.array(ttf_t.astype(np.int64)),
            "docs": lists(toff, pa.array(p_doc.astype(np.int64))),
            "tfs": lists(toff, pa.array(tfs.astype(np.int32))),
            "dls": lists(toff, pa.array(p_dl.astype(np.int32))),
            "blocks": codec.block_maxes_all(p_doc, tfs, p_dl, tstart, df_t),
        }
        if positions:
            cols["pos"] = lists(toff, lists(poff, pa.array(
                posv.astype(np.int32))))
            if payv is not None:
                cols["pay"] = lists(toff, lists(poff, pa.array(
                    payv.astype(np.float32))))
        yield pa.RecordBatch.from_arrays(
            [cols[f.name].cast(f.type) if f.name in cols
             else pa.nulls(n_terms, f.type) for f in _ARROW_SCHEMA],
            schema=_ARROW_SCHEMA)

    return fn


def _invert_frames(docs: DataFrame, field_name: str, id_col: str,
                   spec: _Spec) -> DataFrame:
    """Segment rows of `docs`, one segment per input partition: the text
    field inverted as `spec` says, unioned with one keyword invert per
    keyword field over the SAME partitioning, so every field's segment s
    covers the same doc range."""
    text_col, lang_col = spec.text_col, spec.lang_col
    cols = [id_col, text_col] + ([lang_col] if lang_col else [])
    seg = docs.select(*cols).mapInArrow(
        _invert_partition(field_name, id_col, text_col, lang_col,
                          spec.positions, fold=spec.fold,
                          analyzer=spec.analyzer,
                          position_increment_gap=spec.gap),
        SEGMENT_SCHEMA,
    )
    for kfld, ksrc in (spec.keyword_cols or {}).items():
        seg = seg.unionByName(docs.select(id_col, ksrc).mapInArrow(
            _invert_partition(kfld, id_col, ksrc, None, spec.positions,
                              keyword=True),
            SEGMENT_SCHEMA,
        ))
    return seg


# A merge group's parts, sorted by first doc.  Their doc ranges are
# disjoint in the common case (doc ids come from range-partitioned bases
# and each doc lives in one segment), and the merged list is then the
# plain concatenation — SegmentMerger's raw-copy append
# (SegmentMerger.cs:801-848).  Overlapping ranges (compaction of NRT
# segment sets) take a doc-ordered merge and recompute their blocks.
_DISJOINT = ("size(parts) < 2 OR forall(sequence(1, size(parts) - 1), "
             "i -> parts[i].first > element_at(parts[i - 1].docs, -1))")
_CONCAT = ("named_struct('docs', flatten(parts.docs), "
           "'tfs', flatten(parts.tfs), 'dls', flatten(parts.dls), "
           "'pos', flatten(parts.pos), 'pay', flatten(parts.pay), "
           "'blocks', flatten(parts.blocks))")


def _rebuilt_sql(z: str, pos: str, pay: str) -> str:
    """A posting list's columns rebuilt in the JVM from `z`, an array of
    (doc, tf, dl, pos, pay) structs sorted by doc, with its blocks
    recomputed by codec.block_maxes_sql.  pos (pay) is kept where the SQL
    condition `pos` (`pay`) holds, else NULL.  The doc/tf/dl arrays are
    extracted once and bound to w by a one-element transform, so each
    block reads a slice of them instead of re-extracting the list."""
    return (
        f"element_at(transform(array(named_struct('d', {z}.doc, "
        f"'t', {z}.tf, 'l', {z}.dl)), w -> named_struct("
        f"'docs', w.d, 'tfs', w.t, 'dls', w.l, "
        f"'pos', if({pos}, {z}.pos, NULL), 'pay', if({pay}, {z}.pay, NULL), "
        f"'blocks', {codec.block_maxes_sql('w.d', 'w.t', 'w.l')})), 1)")


# one struct per posting, sorted by doc; bound once to z by a one-element
# transform so the sort runs once per row.  A part without positions
# (payloads) makes the merged pos (pay) NULL, as flatten does above.
_INTERLEAVE = (
    "element_at(transform(array(array_sort(flatten(transform(parts, p -> "
    "transform(p.docs, (d, j) -> named_struct('doc', d, 'tf', p.tfs[j], "
    "'dl', p.dls[j], 'pos', p.pos[j], 'pay', p.pay[j])))))), z -> "
    + _rebuilt_sql("z", "forall(parts, p -> p.pos IS NOT NULL)",
                   "forall(parts, p -> p.pay IS NOT NULL)") + "), 1)")

_LIST_COLS = ("docs", "tfs", "dls", "pos", "pay", "blocks")


def merge_wave(segments: DataFrame, fan_in: int = MERGE_FACTOR,
               num_partitions: int | None = None) -> DataFrame:
    """One geometric merge wave: segment s joins merge-group s // fan_in.

    The exchange is keyed on (field, term) only, so a term's rows land in
    one reducer partition and the merged generation reports
    HashPartitioning(field, term): term_stats' per-term aggregate over it
    needs no exchange.
    merge_group stays a grouping key, so a wave still merges at most
    fan_in sub-lists per output row; a one-shot build has one merge
    group, so the shorter key changes which reducer merges a term, not
    how rows are grouped or spread.
    The merge itself is a JVM aggregate: the group's parts sorted by
    first doc, then concatenated (see _DISJOINT).  Block runs
    concatenate too, so block sizes become irregular; readers locate
    blocks by last_doc, not by a fixed stride.

    num_partitions is pinned EXPLICITLY: with a bare repartition(cols),
    AQE's partition coalescing sees a byte-small exchange and collapses
    the wave onto 1-2 cores; an explicit count keeps the merge
    cluster-wide."""
    if num_partitions is None:
        num_partitions = segments.sparkSession.sparkContext.defaultParallelism
    return (
        segments.selectExpr(
            "*", f"CAST(seg_id / {int(fan_in)} AS BIGINT) AS merge_group")
        .repartition(num_partitions, "field", "term")
        .groupBy("field", "term", "merge_group")
        .agg(F.expr("sort_array(collect_list(struct(docs[0] AS first, "
                    "seg_id, docs, tfs, dls, pos, pay, blocks))) AS parts"),
             F.expr("CAST(sum(df) AS INT) AS df"),
             F.expr("sum(ttf) AS ttf"))
        .selectExpr("field", "term", "merge_group AS seg_id", "df", "ttf",
                    f"if({_DISJOINT}, {_CONCAT}, {_INTERLEAVE}) AS m")
        .selectExpr("field", "term", "seg_id", "df", "ttf",
                    *(f"m.{c} AS {c}" for c in _LIST_COLS)))


#: SegmentedIndex fields derived from one generation's segment rows or
#: tombstones; a new generation starts with all of them unset
_DERIVED = ("_postings", "_postings_nopos", "_postings_pay", "_term_stats")


def _materialize(df: DataFrame | None) -> DataFrame | None:
    """A generation's rows (segment rows or tombstone ids) as a leaf plan:
    evaluated once into executor blocks (localCheckpoint(eager=True)), so
    every later plan over them starts at a Scan ExistingRDD and never
    re-analyzes, re-describes or re-decodes the build that made them — a
    searcher opens committed segments and .del files, it does not replay
    the writer.  A checkpointed leaf, or None, passes through unchanged.

    Trade-offs:
    - local-checkpoint blocks cannot be recomputed: losing an executor
      fails the query with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND instead of
      quietly re-running the build; save() and checkpoint_dir are the
      durable forms;
    - DataFrame.unpersist() does nothing on a leaf: Spark's ContextCleaner
      frees its blocks once nothing references the rows (the
      IndexFileDeleter role);
    - Spark does not know a leaf's partitioning, so an aggregate by
      (field, term) over it (term_stats, expunge's touched rows) adds an
      exchange."""
    if df is None:
        return None
    plan = df._jdf.queryExecution().analyzed()
    if (plan.getClass().getSimpleName() == "LogicalRDD"
            and plan.rdd().isCheckpointed()):
        return df
    return df.localCheckpoint(eager=True)


@dataclass
class SegmentedIndex:
    """Columnar-postings index, queried through plans/lowering.Searcher.

    `stored` is the source table itself (the .fdt/.fdx analogue — in
    Spark the doc store IS the source table, SURVEY.md §1.4)."""

    spark: SparkSession
    segments: DataFrame
    stats: IndexStats
    stored: DataFrame | None = None
    id_col: str = "doc_id"
    fields: tuple[str, ...] = ("content",)
    tombstones: DataFrame | None = None
    _postings: DataFrame | None = dc_field(default=None, repr=False)
    _postings_nopos: DataFrame | None = dc_field(default=None, repr=False)
    _postings_pay: DataFrame | None = dc_field(default=None, repr=False)
    _term_stats: DataFrame | None = dc_field(default=None, repr=False)
    _spec: _Spec = dc_field(default=_Spec(), repr=False)

    @property
    def n_docs(self) -> int:
        return self.stats.n_docs

    @property
    def avgdl(self) -> float:
        return self.stats.avgdl

    @property
    def postings(self) -> DataFrame:
        """Query view (field, term, term_df, doc_id, tf, dl, positions).

        term_df is the term's global df: sum(df) over its segment rows, a
        window partitioned by (field, term).  A (field, term) predicate
        lands on the scan of the generation's leaf, below a coalesce(1)
        (narrow, no exchange), the window and the explode: only the
        matching lists are read, in one task that needs no exchange for
        the rest of the query on any generation (plans/lowering.py, "One
        stage per query"); column pruning drops the window where term_df
        is unused.  Whole-index reads use `all_postings`."""
        if self._postings is None:
            self._postings = _exploded(
                _with_term_df(self.segments.coalesce(1)), _POS,
                keep=("term_df",))
        return self._postings

    @property
    def postings_nopos(self) -> DataFrame:
        """Positions-free query view (field, term, term_df, doc_id, tf,
        dl).

        Term/boolean/range scoring never reads positions; column pruning
        keeps the pos column out of the scan — the reference's
        omitTf/lazy-prox behavior (SegmentTermDocs vs SegmentTermPositions
        split).  Funnel and term_df as in `postings`."""
        if self._postings_nopos is None:
            self._postings_nopos = _exploded(
                _with_term_df(self.segments.coalesce(1)), (),
                keep=("term_df",))
        return self._postings_nopos

    @property
    def all_postings(self) -> DataFrame:
        """Whole-index view (field, term, doc_id, tf, dl), one task per
        partition of the generation's leaf: for reads of every posting
        list, which one task would serialize."""
        return _exploded(self.segments)

    @property
    def postings_payloads(self) -> DataFrame:
        """Query view WITH per-position payloads
        (field, term, doc_id, tf, dl, positions, payloads) — the
        Payload*Query read path (TermPositions.GetPayload,
        SegmentTermPositions.cs:213-236).  payloads is null for terms
        indexed without them.  Funnel as in `postings`."""
        if self._postings_pay is None:
            self._postings_pay = _exploded(self.segments.coalesce(1),
                                           _POS + _PAY)
        return self._postings_pay

    def postings_for_terms(self, term_frame: DataFrame) -> DataFrame:
        """Postings for a dynamic term set with term_frame's extra columns
        riding along.  The broadcast join lands on the SEGMENT rows —
        i.e. BELOW the explode — so only the matching terms' lists are
        expanded (the term-dictionary seek, TermInfosReader.cs:243-308),
        no matter that the term set is data-dependent."""
        extra = tuple(c for c in term_frame.columns
                      if c not in ("field", "term"))
        # project segments down to the posting columns first: metadata
        # columns (df, ttf, blocks) would collide with term_frame extras
        seg = (self.segments
               .select("field", "term", "docs", "tfs", "dls")
               .join(F.broadcast(term_frame), ["field", "term"]))
        return _exploded(seg, keep=extra)

    def term_vectors(self) -> DataFrame:
        """Forward index (doc_id, field, vec: array<struct<term, tf>>) —
        full explode + one shuffle; materialize once per index generation
        (TermVectorsWriter.cs analogue; serves MoreLikeThis without a
        per-query posting-table scan)."""
        return (
            self.all_postings.groupBy("doc_id", "field")
            .agg(F.collect_list(F.struct("term", "tf")).alias("vec"))
        )

    def term_stats(self) -> DataFrame:
        """Term dictionary straight from segment rows — no posting read.
        Cached: vocabulary-scale rows, re-read by every multi-term
        expansion (the .tii + DoubleBarrelLRUCache analogue,
        TermInfosReader.cs:290-296)."""
        if self._term_stats is None:
            self._term_stats = (
                self.segments.groupBy("field", "term")
                .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
                .cache()
            )
        return self._term_stats

    def enumerate_terms(self, field: str | None = None,
                        include_docs: bool = False,
                        numeric: bool = False,
                        max_df: int | None = 100_000) -> DataFrame:
        """contrib/Core FieldEnumerator analogue
        (src/contrib/Core/Index/FieldEnumerator.cs: String/Int/...
        enumerators over a field's term dictionary, optionally walking
        TermDocs per term).  At Spark scale the enumerator IS a sorted
        DataFrame, not a cursor: term-dictionary rows only (no posting
        read) unless include_docs pulls the posting docs, and
        numeric= casts the term for the typed variants.

        Scale note: include_docs collect_lists each term's doc ids into
        ONE array row — df-bounded, so a stop-word-grade term would
        yield a corpus-sized array.  The `max_df` guard ENFORCES the
        bound (the active-guard pattern of dedup's max_shingle_df /
        max_bucket_size): terms hotter than max_df keep their stats row
        but carry doc_ids = NULL instead of a row-sized array; pass
        max_df=None to opt out explicitly.  For bulk per-doc processing
        prefer the all_postings view (stays relational)."""
        t = self.term_stats()
        if field is not None:
            t = t.where(F.col("field") == field)
        if include_docs:
            p = self.all_postings
            if field is not None:
                p = p.where(F.col("field") == field)
            if max_df is not None:
                # the guard lands BELOW the collect_list: hot terms'
                # postings are filtered out before any array builds, so
                # the stats row survives with doc_ids = NULL and no
                # corpus-sized array ever materializes
                cool = (self.term_stats()
                        .where(F.col("df") <= F.lit(int(max_df)))
                        .select("field", "term"))
                p = p.join(cool, ["field", "term"], "left_semi")
            gathered = (p.groupBy("field", "term")
                        .agg(F.collect_list("doc_id").alias("doc_ids")))
            t = t.join(gathered, ["field", "term"], "left")
        if numeric:
            # try_cast: non-numeric terms yield NULL under ANSI mode
            t = t.withColumn("term_num", F.expr("try_cast(term AS BIGINT)"))
        return t.orderBy("field", "term")

    def term_vector_enumerator(self, doc_ids=None) -> DataFrame:
        """contrib/Core TermVectorEnumerator analogue
        (src/contrib/Core/Index/TermVectorEnumerator.cs: per-document
        vector walk, EmptyVector for docs without one): left join from
        the doc store so every requested doc yields a row, docs with no
        terms carrying an empty vec."""
        if self.stored is not None:
            base = self.stored.select(F.col(self.id_col).alias("doc_id"))
        else:
            base = self.all_postings.select("doc_id").distinct()
        if doc_ids is not None:
            base = base.where(F.col("doc_id").isin(list(doc_ids)))
        tv = self.term_vectors()
        joined = base.join(tv, "doc_id", "left")
        return joined.withColumn(
            "vec", F.coalesce(F.col("vec"), F.array()))

    def with_deletes(self, tombstones: DataFrame) -> "SegmentedIndex":
        """Register deletes: `tombstones` (doc ids) joins this
        generation's tombstone frame, the index's one delete
        representation.  Every read path anti-joins it (Searcher._live,
        the query-time .del check) and expunge_deletes rewrites the
        segment rows against it."""
        t = tombstones.select(F.col(self.id_col).alias("doc_id")
                              if self.id_col in tombstones.columns
                              else F.col("doc_id"))
        if self.tombstones is not None:
            t = self.tombstones.unionByName(t).distinct()
        return replace(self, tombstones=_materialize(t))

    def cache(self) -> "SegmentedIndex":
        """Hold this generation's segment rows as a leaf (`_materialize`):
        a loaded index's parquet scan, or an updated generation's union
        of leaves, becomes one set of executor blocks that every query
        scans; a generation that already is a leaf (built, expunged)
        stays as it is.  `stored` goes into Spark's columnar cache."""
        self.segments = _materialize(self.segments)
        if self.stored is not None:
            self.stored = self.stored.cache()
        return self

    def unpersist_derived(self) -> "SegmentedIndex":
        """Release the cached term-stats aggregate.  Called by every
        generation-deriving op (update/add_indexes/expunge) so a
        long-running driver doesn't leak one cached vocabulary-scale
        DataFrame per index generation; term_stats() re-caches on demand
        if this generation is still queried afterwards.  The cached
        aggregate's plan references the generation's rows, so a dropped
        generation's leaf is freed only once this has run."""
        if self._term_stats is not None:
            self._term_stats.unpersist()
            self._term_stats = None
        return self

    def _derive(self, **changes) -> "SegmentedIndex":
        """The next index generation: `changes` applied and every cache
        of this one (posting views, term stats) unset, to be rebuilt on
        demand."""
        return replace(self, **changes, **dict.fromkeys(_DERIVED))

    def n_segments(self) -> int:
        return self.segments.select("seg_id").distinct().count()

    # ---- persistence: segments_N manifest analogue ----

    def save(self, path: str) -> None:
        """Write the segment rows under path/segments and the index
        metadata to path/stats.json.

        The rows are range-partitioned on (field, term) and sorted within
        each partition, so every file holds one ordered term range,
        disjoint from the others and ascending in file order — the .tii
        seek analogue (TermInfosReader.cs:243-308): a term's rows sit in
        one file, whose footer bounds let a reader skip the rest.  That
        needs ordered, disjoint ranges, not a particular file count; one
        file per core (defaultParallelism) writes in a single wave of
        tasks instead of many waves of tiny parquet writers."""
        (
            self.segments.repartitionByRange(
                self.spark.sparkContext.defaultParallelism, "field", "term")
            .sortWithinPartitions("field", "term", "seg_id")
            .write.mode("overwrite").parquet(os.path.join(path, "segments"))
        )
        with open(os.path.join(path, "stats.json"), "w") as f:
            json.dump({"n_docs": self.stats.n_docs,
                       "total_tokens": self.stats.total_tokens,
                       "fields": list(self.fields),
                       "id_col": self.id_col,
                       "fold_ascii": self._spec.fold,
                       "position_increment_gap": self._spec.gap,
                       "analyzer": self._spec.analyzer is not None,
                       "text_col": self._spec.text_col,
                       "lang_col": self._spec.lang_col,
                       "positions": self._spec.positions,
                       "keyword_cols": self._spec.keyword_cols}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             stored: DataFrame | None = None) -> "SegmentedIndex":
        with open(os.path.join(path, "stats.json")) as f:
            meta = json.load(f)
        seg = _require_columnar(
            spark.read.parquet(os.path.join(path, "segments")), path)
        return cls(spark=spark,
                   segments=seg,
                   stats=IndexStats(meta["n_docs"], meta["total_tokens"]),
                   stored=stored, id_col=meta["id_col"],
                   fields=tuple(meta["fields"]),
                   _spec=_Spec(
                       fold=meta.get("fold_ascii", False),
                       analyzer=_UNSAVED if meta.get("analyzer") else None,
                       gap=meta.get("position_increment_gap", 0),
                       text_col=meta.get("text_col"),
                       lang_col=meta.get("lang_col"),
                       positions=meta.get("positions", True),
                       keyword_cols=meta.get("keyword_cols")))


_POS = (("pos", "positions"),)
_PAY = (("pay", "payloads"),)


def _with_term_df(seg: DataFrame) -> DataFrame:
    """Segment rows with term_df, the (field, term)'s df summed over
    every segment row of the generation."""
    return seg.selectExpr(
        "*", "sum(df) OVER (PARTITION BY field, term) AS term_df")


def _exploded(seg: DataFrame, extra: tuple = (),
              keep: tuple = ()) -> DataFrame:
    """One row per posting: inline(arrays_zip(docs, tfs, dls, *extra)),
    as SQL text.  extra = (segment column, view name) pairs; a NULL one
    (a field indexed without positions or payloads) is zipped as an empty
    array, so its value is null per posting instead of the NULL zip
    dropping the whole list.  keep: segment columns carried per
    posting."""
    zipped = ["docs", "tfs", "dls"] + [
        f"coalesce({c}, CAST(array() AS "
        f"{SEGMENT_SCHEMA[c].dataType.simpleString()}))" for c, _ in extra]
    names = ["doc_id", "tf", "dl"] + [name for _, name in extra]
    return seg.selectExpr(
        "field", "term", *(f"`{c}`" for c in keep),
        f"inline(arrays_zip({', '.join(zipped)})) "
        f"AS ({', '.join(names)})")


def _require_columnar(seg: DataFrame, path: str) -> DataFrame:
    """Refuse the pre-columnar layout (VInt blobs in docs_blob/...): it
    has no posting arrays, and reading it would fail with an opaque
    missing-column error deep in a query plan."""
    if "docs_blob" in seg.columns:
        raise ValueError(
            f"{path} holds segments in the old blob layout (docs_blob/"
            f"tfs_blob/dls_blob/pos_blob); this version reads columnar "
            f"postings only — rebuild the index from its source documents")
    return seg


# --------------------------------------------------------------- build API

def build_segmented_index(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str = "content",
    id_col: str = "doc_id",
    lang_col: str | None = None,
    positions: bool = True,
    field_name: str | None = None,
    fan_in: int | None = None,
    target_segments: int = 1,
    checkpoint_dir: str | None = None,
    keyword_cols: dict[str, str] | None = None,
    retain_waves: int | None = 2,
    fold_ascii: bool = False,
    analyzer=None,
    position_increment_gap: int = 0,
    use_segments_gen: bool = False,
) -> SegmentedIndex:
    """docs -> per-partition segments -> merge wave(s).

    keyword_cols: {field: column} indexed NOT_ANALYZED (whole value = one
    term, tf=1, dl=1) alongside the analyzed text field — one extra
    mapInArrow stage per keyword field over the SAME partitioning, so
    every field's segment s covers the same doc range and the merge
    concatenates per (field, term).

    fan_in=None (default) merges in ONE wave straight to target_segments —
    optimal for a one-shot batch build, where every geometric wave would
    re-shuffle the full postings volume. Pass fan_in (e.g. the reference's
    mergeFactor 10, LogMergePolicy.cs:56) for incremental/NRT compaction
    where bounded fan-in and intermediate commits matter.

    With checkpoint_dir set, every wave commits to parquet with a lineage
    row and a previously-interrupted build resumes at the last committed
    wave (two-phase-commit analogue of IndexWriter.PrepareCommit/
    StartCommit, IndexWriter.cs:3988/5527).  Resume jumps STRAIGHT to the
    newest committed wave — earlier waves are never replayed — which is
    what makes the retention policy safe: retain_waves keeps only the
    last N committed wave dirs (KeepOnlyLastCommitDeletionPolicy
    generalized to N, src/Lucene.Net/Index/
    KeepOnlyLastCommitDeletionPolicy.cs); None retains every wave
    (SnapshotDeletionPolicy-style keep-all).
    """
    field_name = field_name or text_col

    # Fan narrow inputs out: a single-file parquet source would otherwise
    # serialize the invert onto one core AND produce one giant segment.
    # Range-partitioning by doc_id keeps per-segment doc ranges disjoint
    # — the precondition for the concatenating merge (SegmentMerger.cs:
    # 801-848 analogue).
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartitionByRange(par, id_col)

    # analyzer: a callable text -> [(term, pos)] overriding the standard
    # chain (the Analyzer extension point, SURVEY §2.12 — Whitespace /
    # Letter / LowerCase tokenizers in analysis.tokenizers plug in here).
    spec = _Spec(fold=fold_ascii, analyzer=analyzer,
                 gap=position_increment_gap, text_col=text_col,
                 lang_col=lang_col, positions=positions,
                 keyword_cols=keyword_cols or None)
    seg = _invert_frames(docs, field_name, id_col, spec)

    lineage = []
    wave = 0
    n = docs.rdd.getNumPartitions()
    if checkpoint_dir:
        # use_segments_gen: trust the consistent segments.gen pointer over
        # the directory listing (SegmentsGenCommit, contrib/Core/Index/
        # SegmentsGenCommit.cs:37-53 — the snapshot-copied-over-checkpoint
        # case where stale HIGHER wave dirs must lose); fall back to the
        # listing when the pointer is missing or torn
        latest = None
        if use_segments_gen:
            from .commits import segments_gen_commit
            latest = segments_gen_commit(checkpoint_dir)
        if latest is None:
            latest = _latest_committed_wave(checkpoint_dir)
        if latest is None:
            seg, wave = _commit_wave(spark, seg, checkpoint_dir, 0, lineage)
        else:
            # resume at the newest committed wave; earlier waves (possibly
            # already expired by the retention policy) are never replayed
            wave = latest
            wdir = os.path.join(checkpoint_dir, f"wave_{latest:03d}")
            seg = _require_columnar(
                spark.read.parquet(os.path.join(wdir, "segments")), wdir)
            n = seg.select("seg_id").distinct().count()
            # When the pointer selected a generation LOWER than stale
            # committed wave dirs left behind (the snapshot-copied-over-
            # checkpoint case this feature exists for), those higher dirs
            # MUST lose: _commit_wave's skip-if-marker would otherwise
            # return a stale wave's parquet as the next merge result.
            # Drop them before entering the merge loop (the reference
            # likewise deletes files newer than the chosen commit point
            # on rollback, IndexWriter.cs Rollback/deleter.Refresh).
            _drop_stale_waves(checkpoint_dir, wave)
        _expire_waves(checkpoint_dir, wave, retain_waves)

    # merge: one shot (fan_in=None) or geometric waves down to target
    while n > target_segments:
        fan = fan_in if fan_in is not None else (
            (n + target_segments - 1) // target_segments)
        if (n + fan - 1) // fan < target_segments:
            fan = (n + target_segments - 1) // target_segments
        seg = merge_wave(seg, fan)
        n = (n + fan - 1) // fan
        wave += 1
        if checkpoint_dir:
            seg, wave = _commit_wave(spark, seg, checkpoint_dir, wave, lineage)
            _expire_waves(checkpoint_dir, wave, retain_waves)

    # Materialize the merged segments once — every query and the stats agg
    # below read them as a leaf (the committed-segment-set analogue).
    seg = _materialize(seg)

    # global stats WITHOUT re-tokenizing: sum(ttf) over the primary field
    # == total emitted tokens (ttf is exact in every segment row).
    n_docs = docs.count()
    tt = (seg.where(F.col("field") == field_name)
          .agg(F.sum("ttf")).collect()[0][0])
    stats = IndexStats(n_docs=int(n_docs), total_tokens=int(tt or 0))

    return SegmentedIndex(spark=spark, segments=seg, stats=stats,
                          stored=docs, id_col=id_col,
                          fields=(field_name, *(keyword_cols or {})),
                          _spec=spec)


def update_documents(
    index: SegmentedIndex,
    new_docs: DataFrame,
    key_cols: list[str],
    text_col: str | None = None,
    lang_col: str | None = None,
    positions: bool | None = None,
    keyword_cols: dict[str, str] | None = None,
    id_base: int | None = None,
) -> SegmentedIndex:
    """Atomic UpdateDocument: delete-by-key + add in one step
    (src/Lucene.Net/Index/IndexWriter.cs:2479 UpdateDocument = buffered
    delete-by-term + AddDocument; test mirror TestAtomicUpdate.cs).

    Like the reference, updated documents get NEW doc_ids (docIDs are not
    stable identifiers, SURVEY §1.2): the old rows matching new_docs'
    key_cols are tombstoned, new rows are inverted as fresh segments with
    seg_ids above the existing range.  Also like the reference, deleted
    docs keep counting in df and N until a physical purge (IndexReader.
    DocFreq ignores deletions; norms/maxDoc include deleted docs until
    ExpungeDeletes) — so the updated index answers queries exactly like
    `build_segmented_index(old_corpus ∪ new_rows).with_deletes(old_ids)`,
    which is what the test asserts.  Tombstoned postings stay in the
    segment rows until an explicit expunge rewrite (merge waves
    concatenate and do not filter).

    New rows are inverted as the build inverted its documents: through
    its analysis chain (fold_ascii, analyzer, position_increment_gap) and
    from its columns.  text_col, lang_col, positions and keyword_cols
    default to the build's; a value that contradicts the build raises
    ValueError.  An index that does not record its columns (loaded from
    an older stats.json, or an NRT index) takes them from the arguments,
    and needs text_col.  A loaded index built with analyzer= cannot be
    updated: the callable is not saved, and the default chain would
    index the new rows differently — a ValueError, not a quiet mismatch."""
    if index._spec.analyzer is _UNSAVED:
        raise ValueError(
            "this index was built with a custom analyzer= and loaded from "
            "disk; the analyzer is not saved, so new documents cannot be "
            "analyzed like the indexed ones — rebuild the index instead")
    spec = _update_spec(index._spec, text_col=text_col, lang_col=lang_col,
                        positions=positions, keyword_cols=keyword_cols)
    id_col = index.id_col
    field_name = index.fields[0]

    keys = new_docs.select(*key_cols).distinct()
    dead = (index.stored.join(keys, list(key_cols), "left_semi")
            .select(F.col(id_col).alias("doc_id")))

    # id_base: callers owning a WIDER id space than this one index (e.g.
    # ShardedIndex routing updates into its open-topped last shard) pass
    # the global max so fresh ids never collide with sibling indexes —
    # an empty or low-id last shard must not restart the id sequence.
    if id_base is not None:
        base = int(id_base) + 1
    else:
        base = (index.stored.agg(F.max(F.col(id_col))).collect()[0][0]
                or 0) + 1
    # distributed id assignment: partition-local rank + per-partition base
    # offsets (the docID-rebase trick, sources/corpus.with_doc_ids) — a
    # global row_number window would force every new row through ONE task
    from ..sources.corpus import with_doc_ids
    assigned = with_doc_ids(new_docs, tuple(key_cols), range_partition=True)
    fresh = assigned.withColumn(
        id_col, (F.col("doc_id") + F.lit(int(base))).cast("long"))
    keep = [c for c in new_docs.columns if c != id_col] + [id_col]
    fresh = fresh.select(*keep)

    max_seg = (index.segments.agg(F.max("seg_id")).collect()[0][0] or 0)
    seg2 = _invert_frames(fresh, field_name, id_col, spec)
    seg2 = _materialize(seg2.withColumn(
        "seg_id", F.col("seg_id") + F.lit(int(max_seg) + 1)))

    new_row = fresh.agg(F.count("*").alias("n")).collect()[0]
    new_tokens = int(
        seg2.where(F.col("field") == field_name)
        .agg(F.sum("ttf")).collect()[0][0] or 0)
    # stats grow by the added docs only; tombstoned docs still count
    # (reference semantics: df/N see deletes only after a purge)
    stats = IndexStats(
        n_docs=index.stats.n_docs + int(new_row["n"]),
        total_tokens=index.stats.total_tokens + new_tokens)

    stored_new = (
        index.stored.join(keys, list(key_cols), "left_anti")
        .unionByName(fresh.select(*index.stored.columns)))
    tomb = _materialize(dead if index.tombstones is None else (
        index.tombstones.unionByName(dead).distinct()))

    index.unpersist_derived()
    return index._derive(segments=index.segments.unionByName(seg2),
                         stats=stats, stored=stored_new, tombstones=tomb)


def _update_spec(spec: _Spec, **given) -> _Spec:
    """The spec update_documents inverts with: the build's recorded
    columns, which `given` (None = not given) may repeat but not
    contradict; without a record, `given` as passed."""
    given = {k: v for k, v in given.items() if v is not None}
    if "keyword_cols" in given:
        given["keyword_cols"] = given["keyword_cols"] or None
    if spec.text_col is None:
        if "text_col" not in given:
            raise ValueError(
                "this index does not record the column its text field was "
                "built from; pass text_col")
        return replace(spec, **given)
    for k, v in given.items():
        if v != getattr(spec, k):
            raise ValueError(
                f"update_documents({k}={v!r}) conflicts with the index's "
                f"build ({k}={getattr(spec, k)!r}): new documents must be "
                f"inverted like the indexed ones")
    return spec


def _latest_committed_wave(ckpt: str) -> int | None:
    """Highest wave index with a _COMMITTED marker, or None."""
    import glob as _glob
    waves = []
    for m in _glob.glob(os.path.join(ckpt, "wave_*", "_COMMITTED.json")):
        name = os.path.basename(os.path.dirname(m))
        waves.append(int(name.split("_")[1]))
    return max(waves) if waves else None


def _drop_stale_waves(ckpt: str, resumed: int) -> None:
    """Remove wave dirs ABOVE the resumed generation: they are stale
    leftovers the authoritative segments.gen pointer has disowned, and a
    surviving _COMMITTED.json there would short-circuit the next merge
    wave into returning stale segments."""
    import glob as _glob
    import shutil
    for d in _glob.glob(os.path.join(ckpt, "wave_*")):
        try:
            idx = int(os.path.basename(d).split("_")[1])
        except (IndexError, ValueError):
            continue
        if idx > resumed:
            shutil.rmtree(d, ignore_errors=True)


def _expire_waves(ckpt: str, current: int, retain: int | None) -> None:
    """Deletion policy: drop committed wave dirs older than the last
    `retain` (None = keep all).  Runs AFTER the newer wave committed, so
    a crash mid-expire still leaves a resumable checkpoint."""
    if retain is None:
        return
    import glob as _glob
    import shutil
    cutoff = current - retain + 1
    for d in _glob.glob(os.path.join(ckpt, "wave_*")):
        try:
            idx = int(os.path.basename(d).split("_")[1])
        except (IndexError, ValueError):
            continue
        if idx < cutoff:
            shutil.rmtree(d, ignore_errors=True)


def add_indexes(base: SegmentedIndex, *others: SegmentedIndex) -> SegmentedIndex:
    """AddIndexesNoOptimize analogue (src/Lucene.Net/Index/
    IndexWriter.cs:3586): bulk merge-in of foreign indexes — segment rows
    union with seg_id rebasing and stats summed.  doc_ids must already be
    globally disjoint (the reference rebases docIDs through docMap; here
    doc_id IS the global id, so callers ship disjoint ranges — asserted
    cheaply via max/min).  True to the 'NoOptimize' contract no merging
    happens; run a merge wave afterwards to compact."""
    seg = base.segments
    stored = base.stored
    tomb = base.tombstones
    n_docs, total = base.stats.n_docs, base.stats.total_tokens
    offset = int(seg.agg(F.max("seg_id")).collect()[0][0] or 0) + 1
    for o in others:
        if tuple(o.fields) != tuple(base.fields):
            raise ValueError(f"field mismatch: {o.fields} != {base.fields}")
        seg = seg.unionByName(o.segments.withColumn(
            "seg_id", F.col("seg_id") + F.lit(offset)))
        offset += int(o.segments.agg(F.max("seg_id")).collect()[0][0] or 0) + 1
        if stored is not None and o.stored is not None:
            stored = stored.unionByName(o.stored.select(*stored.columns))
        if o.tombstones is not None:
            tomb = (o.tombstones if tomb is None
                    else tomb.unionByName(o.tombstones).distinct())
        n_docs += o.stats.n_docs
        total += o.stats.total_tokens
    base.unpersist_derived()
    for o in others:
        o.unpersist_derived()
    return base._derive(segments=seg, stored=stored,
                        tombstones=_materialize(tomb),
                        stats=IndexStats(n_docs=n_docs, total_tokens=total))


def parallel_reader(*parts: SegmentedIndex,
                    ignore_stored: tuple[int, ...] = ()) -> SegmentedIndex:
    """ParallelReader analogue (src/Lucene.Net/Index/ParallelReader.cs:
    78-118): VERTICAL composition — every part indexes the SAME documents
    but DIFFERENT fields (column-family split), vs add_indexes'
    horizontal doc-range union.  The reference's Add() checks are
    mirrored (ParallelReader.cs:107-112: same maxDoc/numDocs across
    readers); field sets must be disjoint (the reference's
    fieldToReader map is first-wins on collision — here an error,
    stricter but safer).  ``ignore_stored`` lists part positions whose
    stored fields are skipped (the ignoreStoredFields flag,
    ParallelReader.cs:96).

    Spark-first: segment rows union lazily with stride-rebased seg_ids
    (rows are keyed (field, term), and fields are disjoint, so no part
    ever collides with another); the stored view left-joins each part's
    NEW columns on the id column; stats stay the FIRST part's — its
    text field defines length normalization, exactly like a combined
    single build computes avgdl over the primary field only."""
    base = parts[0]
    fields = list(base.fields)
    seg = base.segments
    stored = base.stored
    tomb = base.tombstones
    for i, o in enumerate(parts[1:], start=1):
        if o.stats.n_docs != base.stats.n_docs:
            raise ValueError(
                f"all parts must have the same doc count: "
                f"{o.stats.n_docs} != {base.stats.n_docs}")
        if o.id_col != base.id_col:
            raise ValueError(f"id_col mismatch: {o.id_col} != {base.id_col}")
        overlap = set(o.fields) & set(fields)
        if overlap:
            raise ValueError(f"overlapping fields: {sorted(overlap)}")
        fields.extend(o.fields)
        seg = seg.unionByName(o.segments.withColumn(
            "seg_id", F.col("seg_id") + F.lit(i * (1 << 32))))
        if o.tombstones is not None:
            tomb = (o.tombstones if tomb is None
                    else tomb.unionByName(o.tombstones).distinct())
        if (stored is not None and o.stored is not None
                and i not in ignore_stored):
            extra = [c for c in o.stored.columns
                     if c not in stored.columns]
            if extra:
                stored = stored.join(
                    o.stored.select(base.id_col, *extra), base.id_col,
                    "left")
    return base._derive(segments=seg, stored=stored,
                        tombstones=_materialize(tomb), fields=tuple(fields))


def expunge_deletes(index: SegmentedIndex) -> SegmentedIndex:
    """ExpungeDeletes analogue (IndexWriter.ExpungeDeletes; the delete
    squeeze-out SegmentMerger does via docMap, src/Lucene.Net/Index/
    SegmentMerger.cs:819-821): physically rewrite the segment rows with
    tombstoned doc_ids removed, drop posting lists that become empty,
    clear the tombstone set, and recompute stats over the LIVE set — df
    and N reflect the deletes only after this point, exactly like the
    reference.

    A relational rewrite, all in the JVM: each segment's doc bounds
    (n_segments rows) are broadcast-joined to the distinct tombstones, so
    a dead id reaches every segment whose range holds it (the parts of a
    parallel_reader cover the same docs).  Rows whose posting list
    overlaps no dead id of their segment pass through unchanged; touched
    rows are exploded, anti-joined to the tombstones and re-collected per
    (field, term, seg_id) with their blocks recomputed, as merge_wave's
    interleave does.  No tombstone id touches the driver."""
    if index.tombstones is None:
        return index
    field_name = index.fields[0]
    # the rewrite and the live count read the dead ids several times:
    # distinct long ids, once, into executor blocks; small, the ids only
    dead = _materialize(index.tombstones.select(F.col("doc_id").cast("long"))
                        .distinct())
    bounds = index.segments.groupBy("seg_id").agg(
        F.min(F.col("docs")[0]).alias("lo"),
        F.max(F.element_at("docs", -1)).alias("hi"))
    seg_dead = (dead.join(F.broadcast(bounds),
                          F.col("doc_id").between(F.col("lo"), F.col("hi")))
                .groupBy("seg_id")
                .agg(F.collect_list("doc_id").alias("dead")))
    tagged = index.segments.join(F.broadcast(seg_dead), "seg_id", "left")
    hit = F.coalesce(F.arrays_overlap("docs", "dead"), F.lit(False))

    # touched rows are partitioned by (field, term) before the explode
    # (no exchange when they already are: merge_wave's output) and the
    # broadcast anti-join keeps that, so the re-collect never shuffles
    # one row per posting
    touched = (tagged.where(hit)
               .repartition(index.spark.sparkContext.defaultParallelism,
                            "field", "term")
               .select("field", "term", "seg_id", "docs", "tfs", "dls",
                       "pos", "pay",
                       F.col("pos").isNotNull().alias("has_pos"),
                       F.col("pay").isNotNull().alias("has_pay")))
    live = (_exploded(touched, _POS + _PAY,
                      keep=("seg_id", "has_pos", "has_pay"))
            .join(F.broadcast(dead), "doc_id", "left_anti"))
    rebuilt = (
        live.groupBy("field", "term", "seg_id", "has_pos", "has_pay")
        .agg(F.sort_array(F.collect_list(F.struct(
            F.col("doc_id").alias("doc"), "tf", "dl",
            F.col("positions").alias("pos"),
            F.col("payloads").alias("pay")))).alias("z"),
            F.count("*").cast("int").alias("df"),
            F.sum("tf").alias("ttf"))
        .withColumn("m", F.expr(_rebuilt_sql("z", "has_pos", "has_pay")))
        .select("field", "term", "seg_id", "df", "ttf",
                *[F.col(f"m.{c}").alias(c) for c in _LIST_COLS]))
    seg2 = _materialize(
        tagged.where(~hit).select(*[f.name for f in SEGMENT_SCHEMA])
        .unionByName(rebuilt))
    tt = (seg2.where(F.col("field") == field_name)
          .agg(F.sum("ttf")).collect()[0][0])
    # the live documents: `stored` minus the tombstones (an update has
    # already dropped the rows it replaced from `stored`, so this holds
    # for with_deletes and update_documents alike)
    stored_new = index.stored
    if stored_new is not None:
        stored_new = stored_new.join(
            dead.withColumnRenamed("doc_id", index.id_col),
            index.id_col, "left_anti")
        n_docs = stored_new.count()
    else:
        n_docs = index.stats.n_docs - dead.count()
    stats = IndexStats(n_docs=int(n_docs), total_tokens=int(tt or 0))
    index.unpersist_derived()
    return index._derive(segments=seg2, stats=stats, stored=stored_new,
                         tombstones=None)


def _commit_wave(spark: SparkSession, seg: DataFrame, ckpt: str, wave: int,
                 lineage: list) -> tuple[DataFrame, int]:
    """Commit one wave: parquet write + lineage row; skip if already done."""
    wdir = os.path.join(ckpt, f"wave_{wave:03d}")
    marker = os.path.join(wdir, "_COMMITTED.json")
    if os.path.exists(marker):
        with open(marker) as f:
            lineage.append(json.load(f))
        return spark.read.parquet(os.path.join(wdir, "segments")), wave
    seg.write.mode("overwrite").parquet(os.path.join(wdir, "segments"))
    committed = spark.read.parquet(os.path.join(wdir, "segments"))
    row = committed.agg(
        F.count("*").alias("rows"),
        F.countDistinct("seg_id").alias("n_segments"),
        F.sum("df").alias("postings"),
    ).collect()[0]
    info = {"wave": wave, "rows": int(row["rows"]),
            "n_segments": int(row["n_segments"]),
            "postings": int(row["postings"] or 0)}
    with open(marker, "w") as f:
        json.dump(info, f)
    # maintain the segments.gen pointer (core writes it at every commit;
    # SegmentsGenCommit-style resume reads it — index/commits.py)
    from .commits import write_segments_gen
    write_segments_gen(ckpt, wave)
    lineage.append(info)
    return committed, wave


def content_sha_rollup(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-partition lineage invariant: (part_id, file_count, sha_xor) where
    sha_xor = bit_xor(xxhash64(sha256(content))) — order-independent rollup
    for the north rule's per-row content-sha256 equality check."""
    return (
        docs.withColumn("_part", F.spark_partition_id())
        .groupBy("_part")
        .agg(F.count("*").alias("file_count"),
             F.expr(f"bit_xor(xxhash64(sha2({content_col}, 256)))")
             .alias("sha_xor"))
        .withColumnRenamed("_part", "part_id")
    )
