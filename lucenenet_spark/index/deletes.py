"""Per-segment delete bitmaps — the .del file analogue, distributed.

The reference stores deletions as one bit-per-doc file per segment
(src/Lucene.Net/Util/BitVector.cs:37-192, written as _N.del) and every
posting iterator consults it doc-at-a-time
(src/Lucene.Net/Index/SegmentTermDocs.cs deletedDocs.Get).  The Spark
re-expression keeps the same shape WITHOUT ever shipping tombstone ids to
the driver:

  1. segment doc-ranges are disjoint (doc_ids are assigned from
     range-partitioned bases and each doc lives in exactly one segment),
     so sorting segments by their max doc — available from the block-max
     METADATA column alone, no posting read — partitions the doc-id space:
     segment i owns (hi_{i-1}, hi_i].  The bounds table is n_segments
     rows (metadata-scale, like IVF centroids), the ONLY thing that
     touches the driver.
  2. tombstones map to their segment with one distributed searchsorted
     pass over the broadcast bounds (mapInPandas; no shuffle of ids to
     the driver), then groupBy(seg_id) packs each segment's dead docs
     into a doc-range-aligned np.packbits bitmap — (hi-lo+1)/8 bytes,
     exactly the .del density.  Pathologically sparse ranges (a segment
     whose id range vastly exceeds its delete count, e.g. NRT event
     offsets) degrade to a sorted-id blob instead ("ids" kind) so blob
     size is always O(min(range/8, 8*n_del)).
  3. the per-segment blob rides a join on seg_id into the expunge /
     WAND kernels and is applied as a vectorized bit test over the
     posting doc array — the deletedDocs.Get check, batched.

At 100 TB: the bitmap table is n_docs/8 bytes TOTAL spread across
segments, co-partitioned with the segment rows by the seg_id join; no
per-query global tombstone count, no driver-side id array, no top-k
over-fetch.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DELETE_SCHEMA = T.StructType([
    T.StructField("seg_id", T.LongType(), False),
    T.StructField("del_lo", T.LongType(), False),
    T.StructField("del_kind", T.StringType(), False),  # "bits" | "ids"
    T.StructField("n_del", T.LongType(), False),
    T.StructField("del_blob", T.BinaryType(), False),
])

# a range-aligned bitmap is used while it is no larger than 8x the
# sorted-id encoding (8 bytes/id); beyond that the range is pathologically
# sparse and the id list wins
_BITS_OVER_IDS = 8


def segment_bounds(segments: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(seg_ids_sorted_by_hi, his) from block metadata only.

    hi per segment = max last_doc over its rows' final blocks — the
    segment's maximum docID, read from the skip-list metadata column
    (never the posting arrays).  n_segments rows reach the driver."""
    rows = (
        segments
        .where(F.col("blocks").isNotNull() & (F.size("blocks") > 0))
        .select("seg_id",
                F.element_at(F.col("blocks"), -1)["last_doc"].alias("hi"))
        .groupBy("seg_id").agg(F.max("hi").alias("hi"))
        .collect()
    )
    if not rows:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    arr = sorted((int(r["hi"]), int(r["seg_id"])) for r in rows)
    his = np.array([h for h, _ in arr], np.int64)
    seg_ids = np.array([s for _, s in arr], np.int64)
    return seg_ids, his


def delete_frames(segments: DataFrame, tombstones: DataFrame) -> DataFrame:
    """tombstones (doc_id rows) -> per-segment delete blobs
    (seg_id, del_lo, del_kind, n_del, del_blob).  Fully distributed: the
    only driver traffic is the n_segments bounds table."""
    spark = segments.sparkSession
    seg_ids, his = segment_bounds(segments)
    b = spark.sparkContext.broadcast((seg_ids, his))

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sids, hs = b.value
        for pdf in batches:
            if len(pdf) == 0 or len(hs) == 0:
                continue
            docs = pdf["doc_id"].to_numpy(np.int64)
            idx = np.searchsorted(hs, docs, side="left")
            ok = idx < len(hs)  # ids beyond every segment: not in the index
            yield pd.DataFrame({"seg_id": sids[idx[ok]], "doc_id": docs[ok]})

    assigned = tombstones.select(F.col("doc_id").cast("long")).mapInPandas(
        assign, "seg_id long, doc_id long")

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        sids, hs = b.value
        sid = int(pdf["seg_id"].iloc[0])
        # locate this segment's slot in hi-order to derive (lo, hi]
        j = int(np.flatnonzero(sids == sid)[0])
        hi = int(hs[j])
        lo = int(hs[j - 1]) + 1 if j > 0 else 0
        dead = np.unique(pdf["doc_id"].to_numpy(np.int64))
        dead = dead[(dead >= lo) & (dead <= hi)]
        span = hi - lo + 1
        if span <= _BITS_OVER_IDS * 8 * len(dead):
            bits = np.zeros(span, bool)
            bits[dead - lo] = True
            blob = np.packbits(bits, bitorder="little").tobytes()
            kind = "bits"
        else:
            blob = dead.astype("<i8").tobytes()
            kind = "ids"
        return pd.DataFrame({"seg_id": [sid], "del_lo": [lo],
                             "del_kind": [kind], "n_del": [len(dead)],
                             "del_blob": [blob]})

    return assigned.groupBy("seg_id").applyInPandas(pack, DELETE_SCHEMA)


def keep_mask(docs: np.ndarray, del_lo, del_kind, del_blob) -> np.ndarray:
    """Vectorized deletedDocs.Get over a decoded doc array -> bool keep
    mask.  del_* may be None/NaN (segment has no deletes: all live)."""
    if del_blob is None or (isinstance(del_kind, float)) or del_kind is None:
        return np.ones(len(docs), bool)
    blob = bytes(del_blob)
    if del_kind == "bits":
        idx = docs - int(del_lo)
        by = np.frombuffer(blob, np.uint8)
        inrange = (idx >= 0) & (idx < len(by) * 8)
        dead = np.zeros(len(docs), bool)
        ii = idx[inrange]
        dead[inrange] = ((by[ii >> 3] >> (ii & 7).astype(np.uint8)) & 1) == 1
        return ~dead
    dead_ids = np.frombuffer(blob, "<i8")
    if len(dead_ids) == 0:
        return np.ones(len(docs), bool)
    pos = np.minimum(np.searchsorted(dead_ids, docs), len(dead_ids) - 1)
    return dead_ids[pos] != docs
