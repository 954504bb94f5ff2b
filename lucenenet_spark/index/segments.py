"""Segmented index — compressed postings blobs, merge waves, lineage, resume.

The write-side dataflow of the reference (IndexWriter -> DocumentsWriter ->
TermsHash -> FormatPostings -> SegmentMerger; SURVEY.md §2.3/§3.1) as Spark
stages:

  1. partition invert (mapInPandas): tokenize + local hash-invert + delta/
     VInt-encode one SEGMENT per input partition — the per-thread RAM buffer
     + flush of DocumentsWriter.cs:120-138 (partition size = flush unit).
  2. merge waves (groupBy + applyInPandas): geometric fan-in merge of
     segments, mergeFactor=10 by default (LogMergePolicy.cs:51-76). The
     groupBy key includes the wave's merge-group, so a term's postings
     shuffle only between the segments being merged — hot terms are spread
     over merge groups, which IS the salt (two-stage combine: wave k merges
     <=fan_in sub-lists per term, never all of them at once).
  3. each wave optionally checkpoints to parquet with a lineage row
     (wave, n_segments, rows, content-sha rollup) — the segments_N manifest
     analogue (IndexFileNames.cs:29-37) — and a killed build resumes from
     the last committed wave.

Query-time: `postings` exposes a lazily-decoded relational view with the
same schema as the logical path (field, term, doc_id, tf, dl, positions),
so plans/lowering.Searcher runs unchanged; the (field, term) filter is
applied BEFORE blob decode (term-dictionary seek analogue,
TermInfosReader.cs:243-308 — only matching posting lists are decompressed).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator
from dataclasses import dataclass, field as dc_field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..analysis.tokenizers import tokenize
from . import codec
from .builder import IndexStats

SEGMENT_SCHEMA = T.StructType([
    T.StructField("field", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("seg_id", T.LongType(), False),
    T.StructField("df", T.IntegerType(), False),
    T.StructField("ttf", T.LongType(), False),
    T.StructField("docs_blob", T.BinaryType(), False),
    T.StructField("tfs_blob", T.BinaryType(), False),
    T.StructField("dls_blob", T.BinaryType(), False),
    T.StructField("pos_blob", T.BinaryType(), True),
    # per-position float32 payloads aligned with the pos stream (Payload.cs;
    # fixed-width, so merge concat needs no re-splice); b"" when absent
    T.StructField("pay_blob", T.BinaryType(), True),
    T.StructField("blocks", T.ArrayType(T.StructType([
        T.StructField("last_doc", T.LongType(), False),
        T.StructField("max_tf", T.IntegerType(), False),
        T.StructField("min_dl", T.IntegerType(), False),
    ])), True),
])

MERGE_FACTOR = 10  # LogMergePolicy.cs:56


def _invert_partition(field_name: str, id_col: str, text_col: str,
                      lang_col: str | None, positions: bool,
                      keyword: bool = False, fold: bool = False,
                      analyzer=None, position_increment_gap: int = 0,
                      force_slow: bool = False):
    """mapInPandas kernel: one segment per input partition.

    Vectorized invert — the TermsHashPerField + FreqProxTermsWriter +
    FormatPostings chain (SURVEY.md §2.3) collapsed into array passes:
    factorize terms -> lexsort (term, doc, pos) -> run-length boundaries
    -> segmented encode, one byte-stream split per term.

    FAST PATH (plain string column, built-in analyzers): the ONLY per-doc
    Python is one regex findall; the StandardFilter/length/stop transforms
    run over the factorized UNIQUE terms (vocabulary-sized, 10-30x fewer
    than tokens), positions come from arange arithmetic, per-doc lengths
    from one add.reduceat. This cuts per-token object allocation ~5x —
    the invert kernel is memory-bandwidth-bound at high core counts
    (BENCH/hw_ceiling.json), so allocation traffic is what scaling buys.

    SLOW PATH (keyword fields, custom analyzer=, multi-valued
    array<string> columns, or force_slow=True for equivalence tests):
    the original per-doc tokenize loop; bit-identical output.

    keyword=True indexes the whole column value as ONE term with tf=1,
    dl=1, position 0 (KeywordAnalyzer, src/Lucene.Net/Analysis/
    KeywordAnalyzer.cs) — identical semantics to the logical path's
    keyword_cols."""

    def _slow_accumulate(pdf, acc):
        term_chunks, doc_chunks, pos_chunks, tok_counts, pay_chunks = acc
        langs = pdf[lang_col] if lang_col else [None] * len(pdf)
        for doc_id, text, lg in zip(pdf[id_col], pdf[text_col], langs):
            if keyword:
                toks = [] if text is None else [(str(text), 0)]
            elif (not isinstance(text, str) and text is not None
                    and hasattr(text, "__iter__")):
                # multi-valued field (array<string> column):
                # positionIncrementGap between instances
                # (Analyzer.cs:108-126)
                from ..analysis.tokenizers import tokenize_values
                vals = list(text)
                if fold:
                    from ..analysis.folding import fold_ascii_py
                    vals = [fold_ascii_py(v) if v is not None else None
                            for v in vals]
                toks = tokenize_values(vals, lg,
                                       gap=position_increment_gap)
            else:
                if fold and text is not None:
                    from ..analysis.folding import fold_ascii_py
                    text = fold_ascii_py(text)
                toks = (analyzer(text) if analyzer is not None
                        else tokenize(text, lg))
            n = len(toks)
            if n == 0:
                continue
            term_chunks.append([t[0] for t in toks])
            pos_chunks.append(
                np.fromiter((t[1] for t in toks), np.int64, n))
            doc_chunks.append(np.full(n, int(doc_id), np.int64))
            tok_counts.append(n)
            # analyzers may emit (term, pos, payload) triples
            # (analysis/payloads.py; PayloadAttribute.cs)
            pay_chunks.append(
                np.fromiter((t[2] for t in toks), np.float32, n)
                if len(toks[0]) == 3 else None)

    def _fast_accumulate(pdf, std, cod):
        from ..analysis.tokenizers import (
            CODE_LANGS, CODE_SUBTOKEN_RE, STANDARD_TOKEN_RE)
        if fold:
            from ..analysis.folding import fold_ascii_py
        if lang_col:
            is_code = (pdf[lang_col].astype(str).str.lower()
                       .isin(CODE_LANGS).to_numpy())
        else:
            is_code = np.zeros(len(pdf), bool)
        code_find = CODE_SUBTOKEN_RE.findall
        std_find = STANDARD_TOKEN_RE.findall
        for i, (doc_id, text) in enumerate(zip(pdf[id_col], pdf[text_col])):
            if not isinstance(text, str):
                continue  # null (None/NaN); arrays ruled out by mode probe
            if fold:
                text = fold_ascii_py(text)
            if is_code[i]:
                raw = code_find(text)
                tgt = cod
            else:
                raw = std_find(text.lower())
                tgt = std
            if raw:
                tgt[0].append(raw)
                tgt[1].append(len(raw))
                tgt[2].append(int(doc_id))

    def _fast_stream(stream, transform_unique):
        """(chunks, counts, docs) -> (tid, terms, keep_tok, doc, pos, dl)
        flat per-RAW-token arrays; terms = transformed unique vocabulary."""
        chunks, counts, docs = stream
        import itertools
        flat = np.asarray(
            list(itertools.chain.from_iterable(chunks)), dtype=object)
        tid, uniq = pd.factorize(flat, sort=False)
        tid = tid.astype(np.int64)
        terms = np.empty(len(uniq), object)
        keep_u = np.empty(len(uniq), bool)
        for j, u in enumerate(uniq):
            terms[j], keep_u[j] = transform_unique(u)
        counts = np.asarray(counts, np.int64)
        starts = np.zeros(len(counts), np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        posv = np.arange(len(flat), dtype=np.int64) - np.repeat(starts,
                                                                counts)
        docv = np.repeat(np.asarray(docs, np.int64), counts)
        keep_tok = keep_u[tid]
        # dl = EMITTED tokens per doc (post stop/length filter) -> the norm
        dl_doc = np.add.reduceat(keep_tok.astype(np.int64), starts)
        dlv = np.repeat(dl_doc, counts)
        return tid, terms, keep_tok, docv, posv, dlv

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext
        seg_id = TaskContext.get().partitionId()

        slow_only = force_slow or keyword or analyzer is not None
        mode = "slow" if slow_only else None
        slow_acc = ([], [], [], [], [])  # terms, docs, pos, counts, payloads
        std = ([], [], [])           # raw chunks, counts, doc_ids
        cod = ([], [], [])

        for pdf in batches:
            if mode is None:
                # decide once from the first non-null value; Spark column
                # types are uniform, so one probe settles str vs array
                for v in pdf[text_col]:
                    if v is None or (isinstance(v, float) and v != v):
                        continue
                    mode = ("slow" if not isinstance(v, str) else "fast")
                    break
                if mode is None:
                    continue  # all-null batch: contributes nothing
            if mode == "slow":
                _slow_accumulate(pdf, slow_acc)
            else:
                _fast_accumulate(pdf, std, cod)

        payv = None
        if mode == "slow" and slow_acc[0]:
            import itertools
            term_chunks, doc_chunks, pos_chunks, tok_counts, pay_chunks = \
                slow_acc
            tid, uniq_terms = pd.factorize(
                pd.Series(list(itertools.chain.from_iterable(term_chunks))),
                sort=False)
            tid = tid.astype(np.int64)
            uniq_terms = np.asarray(uniq_terms, object)
            docv = np.concatenate(doc_chunks)
            posv = np.concatenate(pos_chunks)
            if all(c is not None for c in pay_chunks):
                payv = np.concatenate(pay_chunks)
            # dl per token = emitted-token count of its doc (the .nrm norm)
            ns = np.asarray(tok_counts, np.int64)
            dlv = np.repeat(ns, ns)
        elif mode == "fast" and (std[0] or cod[0]):
            from ..analysis.tokenizers import (
                ENGLISH_STOP_WORDS, MAX_TOKEN_LENGTH, _std_transform)

            def _tx_std(u):
                t = _std_transform(u)
                return t, (len(t) <= MAX_TOKEN_LENGTH
                           and t not in ENGLISH_STOP_WORDS)

            def _tx_code(u):
                # tokenize_code: length test on the RAW sub-token,
                # lowercase on emit
                return u.lower(), len(u) <= MAX_TOKEN_LENGTH

            parts = []
            if std[0]:
                parts.append(_fast_stream(std, _tx_std))
            if cod[0]:
                parts.append(_fast_stream(cod, _tx_code))
            # merge the two vocabularies into one id space (the same term
            # can appear under both analyzers within a partition)
            vocabs = [p[1] for p in parts]
            gid, uniq_terms = pd.factorize(np.concatenate(vocabs)
                                           if len(vocabs) > 1 else vocabs[0],
                                           sort=False)
            gid = gid.astype(np.int64)
            uniq_terms = np.asarray(uniq_terms, object)
            off, remapped = 0, []
            for p in parts:
                remapped.append(gid[off:off + len(p[1])][p[0]])
                off += len(p[1])
            keep = np.concatenate([p[2] for p in parts])
            tid = np.concatenate(remapped)[keep]
            docv = np.concatenate([p[3] for p in parts])[keep]
            posv = np.concatenate([p[4] for p in parts])[keep]
            dlv = np.concatenate([p[5] for p in parts])[keep]
            if len(tid) == 0:
                yield pd.DataFrame(columns=[f.name for f in SEGMENT_SCHEMA])
                return
        else:
            yield pd.DataFrame(columns=[f.name for f in SEGMENT_SCHEMA])
            return

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

        docs_blobs = codec.varint_encode_split(
            codec.segmented_delta_encode(p_doc, tstart), df_t)
        tfs_blobs = codec.varint_encode_split(tfs.astype(np.uint64), df_t)
        dls_blobs = codec.varint_encode_split(p_dl.astype(np.uint64), df_t)
        if positions:
            pos_blobs = codec.varint_encode_split(
                codec.segmented_delta_encode(posv, pstart), ttf_t)
        else:
            pos_blobs = [b""] * len(tstart)
        if payv is not None and positions:
            # fixed-width float32 stream aligned with the position stream:
            # one buffer pass, memoryview slices per term
            pay_all = payv.astype("<f4").tobytes()
            ends4 = np.cumsum(ttf_t) * 4
            starts4 = ends4 - ttf_t * 4
            mv = memoryview(pay_all)
            pay_blobs = [bytes(mv[s:e]) for s, e in zip(starts4, ends4)]
        else:
            pay_blobs = [b""] * len(tstart)

        blocks = codec.block_maxes_all(p_doc, tfs, p_dl, tstart, df_t)
        yield pd.DataFrame({
            "field": field_name,
            "term": uniq_terms[p_tid[tstart]],
            "seg_id": np.full(len(tstart), seg_id, np.int64),
            "df": df_t.astype(np.int32),
            "ttf": ttf_t,
            "docs_blob": docs_blobs,
            "tfs_blob": tfs_blobs,
            "dls_blob": dls_blobs,
            "pos_blob": pos_blobs,
            "pay_blob": pay_blobs,
            "blocks": blocks,
        })

    return fn


def _first_varint(buf: bytes) -> tuple[int, int]:
    """(value, encoded byte length) of the first varint in buf."""
    v = 0
    shift = 0
    for i, b in enumerate(buf):
        v |= (b & 0x7F) << shift
        if b < 0x80:
            return v, i + 1
        shift += 7
    return v, len(buf)


def _varint1(v: int) -> bytes:
    """Varint-encode ONE value (the spliced first doc-delta of each
    appended blob) without the numpy round-trip codec.varint_encode
    pays — this runs once per (term x segment) boundary in the merge."""
    out = bytearray()
    while v >= 0x80:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _merge_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: merge ALL (field, term, merge_group) runs of one
    key-sorted shuffle partition.

    Bulk-merge fast path (SegmentMerger's raw-copy append analogue,
    SegmentMerger.cs:801-848): doc_ids are assigned from partition-offset
    bases, so segments in seg_id order hold DISJOINT ASCENDING doc ranges
    — a term's merged posting list is the byte CONCATENATION of its
    per-segment blobs, with only the first doc-delta varint of each
    subsequent blob re-spliced (new delta = first_doc - prev_last_doc).
    tf/dl blobs and per-doc position runs concatenate unchanged; block
    metadata lists concatenate (block sizes become irregular, which the
    readers handle by locating blocks via last_doc, not a fixed stride).
    No decompress/recompress of postings volume happens at all.

    Groups whose segment doc ranges are NOT monotone (e.g. compaction of
    out-of-order NRT segment sets) fall back to a full decode-merge via
    codec.merge_postings — correctness never depends on the fast path.
    """
    parts = list(batches)  # an empty shuffle partition yields NO batches
    pdf = pd.concat(parts, ignore_index=True) if parts else None
    if pdf is None or len(pdf) == 0:
        yield pd.DataFrame(columns=[f.name for f in SEGMENT_SCHEMA])
        return

    n_rows = len(pdf)
    fld = pdf["field"].to_numpy()
    trm = pdf["term"].to_numpy()
    mg = pdf["merge_group"].to_numpy(np.int64)
    dfs = pdf["df"].to_numpy(np.int64)
    ttfs = pdf["ttf"].to_numpy(np.int64)
    docs_bl = [bytes(b) for b in pdf["docs_blob"]]
    tfs_bl = [bytes(b) for b in pdf["tfs_blob"]]
    dls_bl = [bytes(b) for b in pdf["dls_blob"]]
    pos_bl = [bytes(b) if b is not None else b"" for b in pdf["pos_blob"]]
    pay_bl = ([bytes(b) if b is not None else b"" for b in pdf["pay_blob"]]
              if "pay_blob" in pdf.columns  # pre-payload segment frames
              else [b""] * len(pdf))
    blocks_l = [list(b) if b is not None else [] for b in pdf["blocks"]]
    first_doc = [(_first_varint(b)[0] if b else -1) for b in docs_bl]
    first_len = [(_first_varint(b)[1] if b else 0) for b in docs_bl]
    last_doc = [(bl[-1]["last_doc"] if bl else -1) for bl in blocks_l]

    new_grp = np.ones(n_rows, bool)
    new_grp[1:] = ((fld[1:] != fld[:-1]) | (trm[1:] != trm[:-1])
                   | (mg[1:] != mg[:-1]))
    bounds = np.flatnonzero(new_grp).tolist() + [n_rows]

    out: dict[str, list] = {k: [] for k in (
        "field", "term", "seg_id", "df", "ttf", "docs_blob", "tfs_blob",
        "dls_blob", "pos_blob", "pay_blob", "blocks")}

    for gi in range(len(bounds) - 1):
        s, e = bounds[gi], bounds[gi + 1]
        rows = range(s, e)
        monotone = all(first_doc[r] > last_doc[r - 1]
                       for r in range(s + 1, e))
        if monotone:
            dparts = [docs_bl[s]]
            for r in range(s + 1, e):
                delta = first_doc[r] - last_doc[r - 1]
                dparts.append(_varint1(delta) + docs_bl[r][first_len[r]:])
            has_pos = all(len(pos_bl[r]) > 0 or ttfs[r] == 0 for r in rows)
            has_pay = all(len(pay_bl[r]) > 0 or ttfs[r] == 0 for r in rows)
            out["docs_blob"].append(b"".join(dparts))
            out["tfs_blob"].append(b"".join(tfs_bl[s:e]))
            out["dls_blob"].append(b"".join(dls_bl[s:e]))
            out["pos_blob"].append(b"".join(pos_bl[s:e]) if has_pos else b"")
            # fixed-width payload stream: plain concat in segment order
            out["pay_blob"].append(b"".join(pay_bl[s:e]) if has_pay else b"")
            out["df"].append(int(dfs[s:e].sum()))
            out["ttf"].append(int(ttfs[s:e].sum()))
            blk: list = []
            for r in rows:
                blk.extend(blocks_l[r])
            out["blocks"].append(blk)
        else:
            m = codec.merge_postings([
                {"docs_blob": docs_bl[r], "tfs_blob": tfs_bl[r],
                 "dls_blob": dls_bl[r], "pos_blob": pos_bl[r],
                 "pay_blob": pay_bl[r]}
                for r in rows])
            for k in ("df", "ttf", "docs_blob", "tfs_blob", "dls_blob",
                      "pos_blob", "pay_blob", "blocks"):
                out[k].append(m[k])
        out["field"].append(fld[s])
        out["term"].append(trm[s])
        out["seg_id"].append(int(mg[s]))

    yield pd.DataFrame({
        "field": out["field"], "term": out["term"],
        "seg_id": np.asarray(out["seg_id"], np.int64),
        "df": np.asarray(out["df"], np.int32),
        "ttf": np.asarray(out["ttf"], np.int64),
        "docs_blob": out["docs_blob"], "tfs_blob": out["tfs_blob"],
        "dls_blob": out["dls_blob"], "pos_blob": out["pos_blob"],
        "pay_blob": out["pay_blob"], "blocks": out["blocks"],
    })


def merge_wave(segments: DataFrame, fan_in: int = MERGE_FACTOR,
               num_partitions: int | None = None) -> DataFrame:
    """One geometric merge wave: segment s joins merge-group s // fan_in.

    The shuffle key (field, term, merge_group) spreads every term's
    postings across partitions AND merge groups — the salted two-stage
    combine of SURVEY §4.2: no single reducer ever sees more than fan_in
    sub-lists of a hot term. The merge itself runs one vectorized kernel
    per shuffle partition (not per term).

    num_partitions is pinned EXPLICITLY: with a bare repartition(cols),
    AQE's partition coalescing sees a byte-small compressed-blob exchange
    and collapses the wave onto 1-2 cores (measured: waves ran SLOWER on
    more cores); an explicit count keeps the merge cluster-wide."""
    if num_partitions is None:
        num_partitions = segments.sparkSession.sparkContext.defaultParallelism
    grouped = segments.withColumn(
        "merge_group", (F.col("seg_id") / fan_in).cast("long"))
    return (
        grouped.repartition(num_partitions, "field", "term", "merge_group")
        .sortWithinPartitions("field", "term", "merge_group", "seg_id")
        .mapInPandas(_merge_partition, SEGMENT_SCHEMA)
    )


@dataclass
class SegmentedIndex:
    """Compressed-postings index, drop-in queryable via plans/lowering.

    Exposes the same surface as builder.InvertedIndex (postings / n_docs /
    avgdl / stored / id_col / fields / term_stats / cache)."""

    spark: SparkSession
    segments: DataFrame
    stats: IndexStats
    stored: DataFrame | None = None
    id_col: str = "doc_id"
    fields: tuple[str, ...] = ("content",)
    tombstones: DataFrame | None = None
    _del_frames: DataFrame | None = dc_field(default=None, repr=False)
    _postings: DataFrame | None = dc_field(default=None, repr=False)
    _postings_nopos: DataFrame | None = dc_field(default=None, repr=False)
    _postings_pay: DataFrame | None = dc_field(default=None, repr=False)
    _term_stats: DataFrame | None = dc_field(default=None, repr=False)

    @property
    def n_docs(self) -> int:
        return self.stats.n_docs

    @property
    def avgdl(self) -> float:
        return self.stats.avgdl

    @property
    def postings(self) -> DataFrame:
        """Decoded relational view (field, term, doc_id, tf, dl, positions).

        Decode is a scalar Arrow UDF in the projection, so Catalyst pushes
        (field, term) predicates below it — only matching blobs decompress."""
        if self._postings is None:
            dec = _decode_udf()
            z = dec(F.col("docs_blob"), F.col("tfs_blob"),
                    F.col("dls_blob"), F.col("pos_blob"))
            self._postings = (
                self.segments
                .withColumn("_p", F.explode(F.arrays_zip(
                    z["docs"].alias("doc_id"), z["tfs"].alias("tf"),
                    z["dls"].alias("dl"), z["pos"].alias("positions"))))
                .select("field", "term",
                        F.col("_p.doc_id").alias("doc_id"),
                        F.col("_p.tf").alias("tf"),
                        F.col("_p.dl").alias("dl"),
                        F.col("_p.positions").alias("positions"))
            )
        return self._postings

    @property
    def postings_nopos(self) -> DataFrame:
        """Positions-free decoded view (field, term, doc_id, tf, dl).

        Term/boolean/range scoring never reads positions; skipping the
        .prx decode (the nested array<array<int>> is the dominant decode +
        Arrow-transfer cost) is the reference's omitTf/lazy-prox behavior
        (SegmentTermDocs vs SegmentTermPositions split)."""
        if self._postings_nopos is None:
            dec = _decode_nopos_udf()
            z = dec(F.col("docs_blob"), F.col("tfs_blob"), F.col("dls_blob"))
            self._postings_nopos = (
                self.segments
                .withColumn("_p", F.explode(F.arrays_zip(
                    z["docs"].alias("doc_id"), z["tfs"].alias("tf"),
                    z["dls"].alias("dl"))))
                .select("field", "term",
                        F.col("_p.doc_id").alias("doc_id"),
                        F.col("_p.tf").alias("tf"),
                        F.col("_p.dl").alias("dl"))
            )
        return self._postings_nopos

    @property
    def postings_payloads(self) -> DataFrame:
        """Decoded view WITH per-position payloads
        (field, term, doc_id, tf, dl, positions, payloads) — the
        Payload*Query read path.  Same decode-below-predicate shape as
        `postings`; payloads is null for terms indexed without them."""
        if self._postings_pay is None:
            dec = _decode_pay_udf()
            z = dec(F.col("docs_blob"), F.col("tfs_blob"),
                    F.col("dls_blob"), F.col("pos_blob"), F.col("pay_blob"))
            self._postings_pay = (
                self.segments
                .withColumn("_p", F.explode(F.arrays_zip(
                    z["docs"].alias("doc_id"), z["tfs"].alias("tf"),
                    z["dls"].alias("dl"), z["pos"].alias("positions"),
                    z["pay"].alias("payloads"))))
                .select("field", "term",
                        F.col("_p.doc_id").alias("doc_id"),
                        F.col("_p.tf").alias("tf"),
                        F.col("_p.dl").alias("dl"),
                        F.col("_p.positions").alias("positions"),
                        F.col("_p.payloads").alias("payloads"))
            )
        return self._postings_pay

    def postings_for_terms(self, term_frame: DataFrame,
                           positions: bool = False) -> DataFrame:
        """Postings for a dynamic term set with term_frame's extra columns
        riding along.  The broadcast join lands on the SEGMENT rows —
        i.e. BELOW the decode UDF — so only the matching terms' blobs ever
        decompress (the term-dictionary seek, TermInfosReader.cs:243-308),
        no matter that the term set is data-dependent."""
        extra = [c for c in term_frame.columns if c not in ("field", "term")]
        blob_cols = ["docs_blob", "tfs_blob", "dls_blob"] + (
            ["pos_blob"] if positions else [])
        # project segments down to the blob columns first: metadata columns
        # (df, ttf, blocks) would collide with term_frame extras like df
        seg = (self.segments.select("field", "term", *blob_cols)
               .join(F.broadcast(term_frame), ["field", "term"]))
        if positions:
            dec = _decode_udf()
            z = dec(F.col("docs_blob"), F.col("tfs_blob"),
                    F.col("dls_blob"), F.col("pos_blob"))
            zipped = F.arrays_zip(
                z["docs"].alias("doc_id"), z["tfs"].alias("tf"),
                z["dls"].alias("dl"), z["pos"].alias("positions"))
            out_cols = ["doc_id", "tf", "dl", "positions"]
        else:
            dec = _decode_nopos_udf()
            z = dec(F.col("docs_blob"), F.col("tfs_blob"), F.col("dls_blob"))
            zipped = F.arrays_zip(
                z["docs"].alias("doc_id"), z["tfs"].alias("tf"),
                z["dls"].alias("dl"))
            out_cols = ["doc_id", "tf", "dl"]
        return (
            seg.withColumn("_p", F.explode(zipped))
            .select("field", "term", *extra,
                    *[F.col(f"_p.{c}").alias(c) for c in out_cols])
        )

    def term_vectors(self) -> DataFrame:
        """Forward index (doc_id, field, vec: array<struct<term, tf>>) —
        full decode + one shuffle; materialize once per index generation
        (TermVectorsWriter.cs analogue; serves MoreLikeThis without a
        per-query posting-table scan)."""
        return (
            self.postings_nopos.groupBy("doc_id", "field")
            .agg(F.collect_list(F.struct("term", "tf")).alias("vec"))
        )

    def term_stats(self) -> DataFrame:
        """Term dictionary straight from segment rows — no decode needed.
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
        DataFrame, not a cursor: term-dictionary rows only (no blob
        decode) unless include_docs pulls the posting docs, and
        numeric= casts the term for the typed variants.

        Scale note: include_docs collect_lists each term's doc ids into
        ONE array row — df-bounded, so a stop-word-grade term would
        yield a corpus-sized array.  The `max_df` guard ENFORCES the
        bound (the active-guard pattern of dedup's max_shingle_df /
        max_bucket_size): terms hotter than max_df keep their stats row
        but carry doc_ids = NULL instead of a row-sized array; pass
        max_df=None to opt out explicitly.  For bulk per-doc processing
        prefer the postings_nopos view (stays relational)."""
        t = self.term_stats()
        if field is not None:
            t = t.where(F.col("field") == field)
        if include_docs:
            p = self.postings_nopos
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
            base = self.postings_nopos.select("doc_id").distinct()
        if doc_ids is not None:
            base = base.where(F.col("doc_id").isin(list(doc_ids)))
        tv = self.term_vectors()
        joined = base.join(tv, "doc_id", "left")
        return joined.withColumn(
            "vec", F.coalesce(F.col("vec"), F.array()))

    def with_deletes(self, tombstones: DataFrame) -> "SegmentedIndex":
        """Register deletes: the relational paths anti-join the tombstone
        frame; blob-kernel paths (WAND, expunge) consume the per-segment
        delete bitmaps from delete_frames() — the .del file analogue."""
        t = tombstones.select(F.col(self.id_col).alias("doc_id")
                              if self.id_col in tombstones.columns
                              else F.col("doc_id"))
        if self.tombstones is not None:
            t = self.tombstones.unionByName(t).distinct()
        from dataclasses import replace
        return replace(self, tombstones=t, _del_frames=None)

    def delete_frames(self) -> DataFrame | None:
        """Per-segment delete bitmaps (seg_id, del_lo, del_kind, n_del,
        del_blob) built distributed from the tombstone frame — cached per
        tombstone generation (BitVector .del analogue; index/deletes.py).
        None when the index has no deletes."""
        if self.tombstones is None:
            return None
        if self._del_frames is None:
            from .deletes import delete_frames
            self._del_frames = delete_frames(
                self.segments, self.tombstones).cache()
        return self._del_frames

    def cache(self) -> "SegmentedIndex":
        self.segments = self.segments.cache()
        if self.stored is not None:
            self.stored = self.stored.cache()
        return self

    def unpersist_derived(self) -> "SegmentedIndex":
        """Release the cached term-stats aggregate.  Called by every
        generation-deriving op (update/add_indexes/expunge) so a
        long-running driver doesn't leak one cached vocabulary-scale
        DataFrame per index generation; term_stats() re-caches on demand
        if this generation is still queried afterwards."""
        if self._term_stats is not None:
            self._term_stats.unpersist()
            self._term_stats = None
        if self._del_frames is not None:
            self._del_frames.unpersist()
            self._del_frames = None
        return self

    def n_segments(self) -> int:
        return self.segments.select("seg_id").distinct().count()

    # ---- persistence: segments_N manifest analogue ----

    def save(self, path: str, term_buckets: int = 32) -> None:
        (
            self.segments.repartitionByRange(term_buckets, "field", "term")
            .sortWithinPartitions("field", "term", "seg_id")
            .write.mode("overwrite").parquet(os.path.join(path, "segments"))
        )
        with open(os.path.join(path, "stats.json"), "w") as f:
            json.dump({"n_docs": self.stats.n_docs,
                       "total_tokens": self.stats.total_tokens,
                       "fields": list(self.fields),
                       "id_col": self.id_col}, f)

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             stored: DataFrame | None = None) -> "SegmentedIndex":
        with open(os.path.join(path, "stats.json")) as f:
            meta = json.load(f)
        seg = spark.read.parquet(os.path.join(path, "segments"))
        if "pay_blob" not in seg.columns:  # pre-payload on-disk layout
            seg = seg.withColumn("pay_blob", F.lit(b""))
        return cls(spark=spark,
                   segments=seg,
                   stats=IndexStats(meta["n_docs"], meta["total_tokens"]),
                   stored=stored, id_col=meta["id_col"],
                   fields=tuple(meta["fields"]))


_DECODE_NOPOS_SCHEMA = T.StructType([
    T.StructField("docs", T.ArrayType(T.LongType())),
    T.StructField("tfs", T.ArrayType(T.IntegerType())),
    T.StructField("dls", T.ArrayType(T.IntegerType())),
])


def _decode_nopos_udf():
    @F.pandas_udf(_DECODE_NOPOS_SCHEMA)
    def dec(docs_b: pd.Series, tfs_b: pd.Series,
            dls_b: pd.Series) -> pd.DataFrame:
        docs_o, tfs_o, dls_o = [], [], []
        for db, tb, lb in zip(docs_b, tfs_b, dls_b):
            d, t, l, _ = codec.decode_postings(bytes(db), bytes(tb),
                                               bytes(lb), b"")
            docs_o.append(d.tolist())
            tfs_o.append(t.tolist())
            dls_o.append(l.tolist())
        return pd.DataFrame({"docs": docs_o, "tfs": tfs_o, "dls": dls_o})
    return dec


_DECODE_SCHEMA = T.StructType([
    T.StructField("docs", T.ArrayType(T.LongType())),
    T.StructField("tfs", T.ArrayType(T.IntegerType())),
    T.StructField("dls", T.ArrayType(T.IntegerType())),
    T.StructField("pos", T.ArrayType(T.ArrayType(T.IntegerType()))),
])


def _decode_udf():
    @F.pandas_udf(_DECODE_SCHEMA)
    def dec(docs_b: pd.Series, tfs_b: pd.Series, dls_b: pd.Series,
            pos_b: pd.Series) -> pd.DataFrame:
        docs_o, tfs_o, dls_o, pos_o = [], [], [], []
        for db, tb, lb, pb in zip(docs_b, tfs_b, dls_b, pos_b):
            d, t, l, p = codec.decode_postings(
                bytes(db), bytes(tb), bytes(lb), bytes(pb) if pb else b"")
            docs_o.append(d.tolist())
            tfs_o.append(t.tolist())
            dls_o.append(l.tolist())
            if p is not None:
                starts = np.concatenate([[0], np.cumsum(t)[:-1]])
                pos_o.append([p[s:s + c].tolist()
                              for s, c in zip(starts, t)])
            else:
                pos_o.append(None)
        return pd.DataFrame({"docs": docs_o, "tfs": tfs_o,
                             "dls": dls_o, "pos": pos_o})
    return dec


_DECODE_PAY_SCHEMA = T.StructType([
    T.StructField("docs", T.ArrayType(T.LongType())),
    T.StructField("tfs", T.ArrayType(T.IntegerType())),
    T.StructField("dls", T.ArrayType(T.IntegerType())),
    T.StructField("pos", T.ArrayType(T.ArrayType(T.IntegerType()))),
    T.StructField("pay", T.ArrayType(T.ArrayType(T.FloatType()))),
])


def _decode_pay_udf():
    """Positions + per-position payloads (the TermPositions.GetPayload
    read path, src/Lucene.Net/Index/SegmentTermPositions.cs:213-236):
    payload floats are a fixed-width stream aligned with the position
    stream, sliced per doc by tf."""
    @F.pandas_udf(_DECODE_PAY_SCHEMA)
    def dec(docs_b: pd.Series, tfs_b: pd.Series, dls_b: pd.Series,
            pos_b: pd.Series, pay_b: pd.Series) -> pd.DataFrame:
        docs_o, tfs_o, dls_o, pos_o, pay_o = [], [], [], [], []
        for db, tb, lb, pb, yb in zip(docs_b, tfs_b, dls_b, pos_b, pay_b):
            d, t, l, p = codec.decode_postings(
                bytes(db), bytes(tb), bytes(lb), bytes(pb) if pb else b"")
            docs_o.append(d.tolist())
            tfs_o.append(t.tolist())
            dls_o.append(l.tolist())
            # per-doc None (not a NULL top-level array) when absent:
            # arrays_zip of a NULL array is NULL and the explode would
            # silently drop the whole posting list
            if p is not None:
                starts = np.concatenate([[0], np.cumsum(t)[:-1]])
                pos_o.append([p[s:s + c].tolist()
                              for s, c in zip(starts, t)])
                y = np.frombuffer(bytes(yb), "<f4") if yb else None
                pay_o.append([y[s:s + c].tolist()
                              for s, c in zip(starts, t)]
                             if y is not None and len(y) == len(p)
                             else [None] * len(d))
            else:
                pos_o.append([None] * len(d))
                pay_o.append([None] * len(d))
        return pd.DataFrame({"docs": docs_o, "tfs": tfs_o, "dls": dls_o,
                             "pos": pos_o, "pay": pay_o})
    return dec


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
    mapInPandas stage per keyword field over the SAME partitioning, so
    every field's segment s covers the same doc range and the bulk-merge
    byte-concat fast path still applies per (field, term).

    fan_in=None (default) merges in ONE wave straight to target_segments —
    optimal for a one-shot batch build, where every geometric wave would
    re-decode/re-encode the full postings volume (measured: each wave
    costs more than the invert itself). Pass fan_in (e.g. the reference's
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
    cols = [id_col, text_col] + ([lang_col] if lang_col else [])

    # Fan narrow inputs out: a single-file parquet source would otherwise
    # serialize the invert onto one core AND produce one giant segment.
    # Range-partitioning by doc_id keeps per-segment doc ranges disjoint
    # and ascending with seg_id — the precondition for the byte-concat
    # bulk-merge fast path (SegmentMerger.cs:801-848 analogue).
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartitionByRange(par, id_col)

    # analyzer: a callable text -> [(term, pos)] overriding the standard
    # chain (the Analyzer extension point, SURVEY §2.12 — Whitespace /
    # Letter / LowerCase tokenizers in analysis.tokenizers plug in here).
    seg = docs.select(*cols).mapInPandas(
        _invert_partition(field_name, id_col, text_col, lang_col, positions,
                          fold=fold_ascii, analyzer=analyzer,
                          position_increment_gap=position_increment_gap),
        SEGMENT_SCHEMA,
    )
    for kfld, ksrc in (keyword_cols or {}).items():
        kw = docs.select(id_col, ksrc).mapInPandas(
            _invert_partition(kfld, id_col, ksrc, None, positions,
                              keyword=True),
            SEGMENT_SCHEMA,
        )
        seg = seg.unionByName(kw)

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
            seg = spark.read.parquet(
                os.path.join(checkpoint_dir, f"wave_{latest:03d}",
                             "segments"))
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
    # below reuse them (the committed-segment-set analogue).
    seg = seg.cache()

    # global stats WITHOUT re-tokenizing: sum(ttf) over the primary field
    # == total emitted tokens (ttf is exact in every segment row).
    n_docs = docs.count()
    tt = (seg.where(F.col("field") == field_name)
          .agg(F.sum("ttf")).collect()[0][0])
    stats = IndexStats(n_docs=int(n_docs), total_tokens=int(tt or 0))

    return SegmentedIndex(spark=spark, segments=seg, stats=stats,
                          stored=docs, id_col=id_col,
                          fields=(field_name, *(keyword_cols or {})))


def update_documents(
    index: SegmentedIndex,
    new_docs: DataFrame,
    key_cols: list[str],
    text_col: str,
    lang_col: str | None = None,
    positions: bool = True,
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
    segment bytes until an explicit expunge rewrite (merge waves
    byte-concatenate and do not filter)."""
    spark = index.spark
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
    cols = [id_col, text_col] + ([lang_col] if lang_col else [])
    seg2 = fresh.select(*cols).mapInPandas(
        _invert_partition(field_name, id_col, text_col, lang_col, positions),
        SEGMENT_SCHEMA,
    )
    for kfld, ksrc in (keyword_cols or {}).items():
        kw = fresh.select(id_col, ksrc).mapInPandas(
            _invert_partition(kfld, id_col, ksrc, None, positions,
                              keyword=True),
            SEGMENT_SCHEMA,
        )
        seg2 = seg2.unionByName(kw)
    seg2 = seg2.withColumn(
        "seg_id", F.col("seg_id") + F.lit(int(max_seg) + 1)).cache()

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
    tomb = dead if index.tombstones is None else (
        index.tombstones.unionByName(dead).distinct())

    from dataclasses import replace
    index.unpersist_derived()
    return replace(index, segments=index.segments.unionByName(seg2),
                   stats=stats, stored=stored_new, tombstones=tomb,
                   _del_frames=None, _postings=None, _postings_nopos=None,
                   _postings_pay=None, _term_stats=None)


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
    from dataclasses import replace
    base.unpersist_derived()
    for o in others:
        o.unpersist_derived()
    return replace(base, segments=seg, stored=stored, tombstones=tomb,
                   stats=IndexStats(n_docs=n_docs, total_tokens=total),
                   _del_frames=None, _postings=None, _postings_nopos=None,
                   _postings_pay=None, _term_stats=None)


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
    from dataclasses import replace
    return replace(base, segments=seg, stored=stored, tombstones=tomb,
                   fields=tuple(fields),
                   _del_frames=None, _postings=None, _postings_nopos=None,
                   _postings_pay=None, _term_stats=None)


def expunge_deletes(index: SegmentedIndex) -> SegmentedIndex:
    """ExpungeDeletes analogue (IndexWriter.ExpungeDeletes; the delete
    squeeze-out SegmentMerger does via docMap, src/Lucene.Net/Index/
    SegmentMerger.cs:819-821): physically rewrite the segment rows with
    tombstoned doc_ids removed, drop posting lists that become empty,
    clear the tombstone set, and recompute stats over the LIVE set — df
    and N reflect the deletes only after this point, exactly like the
    reference.  Deletes reach the rewrite kernel as PER-SEGMENT bitmap
    blobs joined on seg_id (index/deletes.py — the .del design of
    src/Lucene.Net/Util/BitVector.cs:37-192); no tombstone id ever
    touches the driver.  Rows whose posting list contains no dead doc
    pass through byte-identical (no re-encode); rows of delete-free
    segments skip the decode entirely."""
    if index.tombstones is None:
        return index
    n_dead = index.tombstones.count()  # scalar aggregate, never the ids
    if n_dead == 0:
        from dataclasses import replace
        return replace(index, tombstones=None, _del_frames=None)
    field_name = index.fields[0]
    from .deletes import keep_mask

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "field", "term", "seg_id", "df", "ttf", "docs_blob",
                "tfs_blob", "dls_blob", "pos_blob", "pay_blob", "blocks")}
            for row in pdf.itertuples(index=False):
                if row.del_blob is None:  # segment holds no deletes
                    out["field"].append(row.field)
                    out["term"].append(row.term)
                    out["seg_id"].append(int(row.seg_id))
                    out["df"].append(int(row.df))
                    out["ttf"].append(int(row.ttf))
                    out["docs_blob"].append(bytes(row.docs_blob))
                    out["tfs_blob"].append(bytes(row.tfs_blob))
                    out["dls_blob"].append(bytes(row.dls_blob))
                    out["pos_blob"].append(
                        bytes(row.pos_blob) if row.pos_blob else b"")
                    out["pay_blob"].append(
                        bytes(row.pay_blob) if row.pay_blob else b"")
                    out["blocks"].append(
                        list(row.blocks) if row.blocks is not None else [])
                    continue
                docs, tfs, dls, pos = codec.decode_postings(
                    bytes(row.docs_blob), bytes(row.tfs_blob),
                    bytes(row.dls_blob),
                    bytes(row.pos_blob) if row.pos_blob else b"")
                pay = bytes(row.pay_blob) if row.pay_blob else b""
                hit = ~keep_mask(docs, row.del_lo, row.del_kind,
                                 row.del_blob)
                if not hit.any():
                    enc = {"df": int(row.df), "ttf": int(row.ttf),
                           "docs_blob": bytes(row.docs_blob),
                           "tfs_blob": bytes(row.tfs_blob),
                           "dls_blob": bytes(row.dls_blob),
                           "pos_blob": (bytes(row.pos_blob)
                                        if row.pos_blob else b""),
                           "pay_blob": pay,
                           "blocks": (list(row.blocks)
                                      if row.blocks is not None else [])}
                else:
                    keep = ~hit
                    if not keep.any():
                        continue  # whole posting list was deleted docs
                    tok_keep = np.repeat(keep, tfs)
                    pk = pos[tok_keep] if pos is not None else None
                    enc = codec.encode_postings(
                        docs[keep], tfs[keep], dls[keep], pk)
                    enc["pay_blob"] = (
                        np.frombuffer(pay, "<f4")[tok_keep]
                        .astype("<f4").tobytes() if pay else b"")
                out["field"].append(row.field)
                out["term"].append(row.term)
                out["seg_id"].append(int(row.seg_id))
                for k in ("df", "ttf", "docs_blob", "tfs_blob",
                          "dls_blob", "pos_blob", "pay_blob", "blocks"):
                    out[k].append(enc[k])
            yield pd.DataFrame(out, columns=[f.name for f in SEGMENT_SCHEMA])

    joined = index.segments.join(index.delete_frames(), "seg_id", "left")
    seg2 = joined.mapInPandas(kernel, SEGMENT_SCHEMA).cache()
    tt = (seg2.where(F.col("field") == field_name)
          .agg(F.sum("ttf")).collect()[0][0])
    stats = IndexStats(n_docs=index.stats.n_docs - int(n_dead),
                       total_tokens=int(tt or 0))
    stored_new = index.stored
    if stored_new is not None:
        stored_new = stored_new.join(
            index.tombstones.withColumnRenamed("doc_id", index.id_col),
            index.id_col, "left_anti")
    from dataclasses import replace
    index.unpersist_derived()
    return replace(index, segments=seg2, stats=stats, stored=stored_new,
                   tombstones=None, _del_frames=None, _postings=None,
                   _postings_nopos=None, _postings_pay=None,
                   _term_stats=None)


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
        F.sum(F.octet_length("docs_blob") + F.octet_length("tfs_blob")
              + F.octet_length("dls_blob")
              + F.octet_length("pos_blob")).alias("postings_bytes"),
    ).collect()[0]
    info = {"wave": wave, "rows": int(row["rows"]),
            "n_segments": int(row["n_segments"]),
            "postings_bytes": int(row["postings_bytes"] or 0)}
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
