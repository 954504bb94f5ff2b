"""Block-max metadata of a posting list — the skip-list datum.

Postings themselves are native array columns of the segment rows
(index/segments.py SEGMENT_SCHEMA); Parquet's own encoding replaces the
reference's delta + VInt .frq/.prx streams at rest.
What remains format-specific is the skip-list metadata
(src/Lucene.Net/Index/DefaultSkipListWriter.cs:90-130, every 16th doc),
kept as per-block (last_doc, max_tf, min_dl) rows that serve both
skipping (Advance -> block pruning) and block-max score upper bounds.

The block layout is computed in two forms — numpy over the flat posting
vectors (the invert kernel, all terms of a segment at once) and a Spark
SQL expression (lists rebuilt in the JVM: the doc-ordered merge of
overlapping segments and the expunge rewrite) — and both live here so
they cannot drift apart.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128  # docs per block-max block (16 in the reference; 128 suits
                  # vectorized block passes better at Spark scale)

BLOCK_TYPE = pa.struct([
    pa.field("last_doc", pa.int64(), nullable=False),
    pa.field("max_tf", pa.int32(), nullable=False),
    pa.field("min_dl", pa.int32(), nullable=False),
])


def block_maxes(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                block: int = BLOCK_SIZE) -> list[dict]:
    """Per-block (last_doc, max_tf, min_dl) of ONE posting list — the
    skip-list datum (DefaultSkipListWriter.cs:90-130) extended with the
    WAND score bound ingredients: BM25 term score is monotone ↑ in tf and
    ↓ in dl, so (max_tf, min_dl) upper-bounds any doc's score inside the
    block."""
    return block_maxes_all(np.asarray(doc_ids), np.asarray(tfs),
                           np.asarray(dls), np.zeros(1, np.int64),
                           np.array([len(doc_ids)]), block).to_pylist()[0]


def block_maxes_all(p_doc: np.ndarray, tfs: np.ndarray, dls: np.ndarray,
                    tstart: np.ndarray, df_t: np.ndarray,
                    block: int = BLOCK_SIZE) -> pa.ListArray:
    """Block maxes for ALL terms of a segment at once, as one Arrow
    list<struct> array (one list per term).

    p_doc/tfs/dls are the flat per-posting arrays; term i owns the slice
    [tstart[i], tstart[i]+df_t[i]). Because the per-term blocks tile the
    whole array contiguously, one maximum.reduceat / minimum.reduceat over
    the global block-start vector computes every block bound in two passes,
    and the list offsets come from the per-term block counts."""
    tstart = np.ascontiguousarray(tstart, np.int64)
    df_t = np.ascontiguousarray(df_t, np.int64)
    nblk = -(-df_t // block)  # ceil-div
    offs = np.zeros(len(tstart) + 1, np.int32)
    np.cumsum(nblk, out=offs[1:])
    first = offs[:-1].astype(np.int64)
    within = (np.arange(offs[-1], dtype=np.int64)
              - np.repeat(first, nblk)) * block
    starts = np.repeat(tstart, nblk) + within
    ends = np.minimum(starts + block, np.repeat(tstart + df_t, nblk))
    if len(starts):
        max_tf = np.maximum.reduceat(tfs, starts)
        min_dl = np.minimum.reduceat(dls, starts)
    else:
        max_tf = min_dl = np.empty(0, np.int64)
    struct = pa.StructArray.from_arrays(
        [pa.array(p_doc[ends - 1], pa.int64()),
         pa.array(max_tf.astype(np.int32)),
         pa.array(min_dl.astype(np.int32))],
        fields=list(BLOCK_TYPE))
    return pa.ListArray.from_arrays(pa.array(offs), struct)


def block_maxes_sql(docs: str, tfs: str, dls: str,
                    block: int = BLOCK_SIZE) -> str:
    """The same blocks as a Spark SQL expression over three aligned array
    expressions (1-based slice, 0-based [] indexing).  Used where a
    posting list is rebuilt in the JVM, so the blocks are recomputed
    without a Python worker."""
    return (
        f"transform(sequence(0, (size({docs}) - 1) div {block}), b -> "
        f"named_struct("
        f"'last_doc', {docs}[least((b + 1) * {block}, size({docs})) - 1], "
        f"'max_tf', array_max(slice({tfs}, b * {block} + 1, {block})), "
        f"'min_dl', array_min(slice({dls}, b * {block} + 1, {block}))))")
