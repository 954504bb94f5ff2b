"""Near-real-time indexing via Structured Streaming.

The reference is a batch+NRT system: buffered adds flushed as immutable
segments (src/Lucene.Net/Index/IndexWriter.cs:57-71), readers that see
not-yet-merged segments (IndexWriter.GetReader, IndexWriter.cs:355), and
background merges. Spark mapping (SURVEY.md §2.11):

  readStream -> foreachBatch:
      micro-batch -> partition invert -> segment rows appended to the
      index directory (one parquet append per batch == one segment
      publication; the streaming checkpoint is the segments_N generation
      counter), plus an additive stats delta per batch.
  load_nrt_index()  == the NRT reader: sees every committed batch.
  compact()         == the background merge: geometric merge waves over
      all accumulated segments, atomically swapped in.

Batch seg_ids are offset by batch_id * SEG_STRIDE so segments from
different micro-batches never collide (doc_ids must likewise be unique
across batches — supplied by the source, e.g. an event offset).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..index.segments import (
    IndexStats,
    SegmentedIndex,
    _Spec,
    _invert_frames,
    _require_columnar,
    merge_wave,
)

SEG_STRIDE = 1 << 20  # max partitions per micro-batch


def index_batch(batch_df: DataFrame, batch_id: int, index_dir: str,
                text_col: str, id_col: str = "doc_id",
                lang_col: str | None = None, positions: bool = True,
                field_name: str | None = None) -> None:
    """foreachBatch body: invert one micro-batch into segment rows and
    append them; write an additive stats delta. Idempotent per batch_id
    (re-delivered batches overwrite their own delta and are deduped by
    seg_id range on load — exactly-once effect on the index)."""
    field_name = field_name or text_col
    target = os.path.join(index_dir, "segments", f"batch_{batch_id:08d}")
    if os.path.exists(os.path.join(target, "_COMPACT_MANIFEST.json")):
        # never overwrite a compacted generation (they live in gen_* now,
        # but refuse loudly if one ever lands in the batch id space)
        raise RuntimeError(
            f"batch id {batch_id} would overwrite compacted generation "
            f"{target}; compaction dirs must not share the stream id space")
    seg = _invert_frames(
        batch_df, field_name, id_col,
        _Spec(text_col=text_col, lang_col=lang_col, positions=positions),
    ).withColumn("seg_id", F.col("seg_id") + F.lit(batch_id * SEG_STRIDE))

    (seg.write.mode("overwrite")
     .parquet(os.path.join(index_dir, "segments", f"batch_{batch_id:08d}")))

    row = batch_df.agg(F.count("*").alias("n")).collect()[0]
    # token total from the segment rows we just wrote (exact, no re-tokenize)
    spark = batch_df.sparkSession
    written = spark.read.parquet(
        os.path.join(index_dir, "segments", f"batch_{batch_id:08d}"))
    tt = written.where(F.col("field") == field_name).agg(
        F.sum("ttf")).collect()[0][0]
    os.makedirs(os.path.join(index_dir, "stats"), exist_ok=True)
    with open(os.path.join(index_dir, "stats",
                           f"batch_{batch_id:08d}.json"), "w") as f:
        json.dump({"batch_id": batch_id, "n_docs": int(row["n"]),
                   "total_tokens": int(tt or 0),
                   "field": field_name, "id_col": id_col}, f)


def start_indexing_stream(stream_df: DataFrame, index_dir: str,
                          checkpoint_dir: str, text_col: str,
                          id_col: str = "doc_id",
                          lang_col: str | None = None,
                          positions: bool = True,
                          field_name: str | None = None,
                          trigger_available_now: bool = True):
    """Wire a streaming DataFrame into the NRT index sink."""
    writer = (
        stream_df.writeStream
        .foreachBatch(lambda df, bid: index_batch(
            df, bid, index_dir, text_col, id_col, lang_col, positions,
            field_name))
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _live_batch_dirs(index_dir: str) -> dict[str, str]:
    """name -> path of the batch dirs a reader should load: completed
    writes only (_SUCCESS), minus any dir superseded by a committed
    compaction (_COMPACT_MANIFEST.json in the superseding dir). This is
    the segments_N generation rule: a compaction becomes visible atomically
    with its manifest (the dir is renamed into place manifest-and-all),
    and the dirs it replaced stay on disk until cleanup — a crash anywhere
    leaves either the old generation or the new one, never neither."""
    segroot = os.path.join(index_dir, "segments")
    dirs = {
        os.path.basename(d): d
        for pat in ("batch_*", "gen_*")
        for d in glob.glob(os.path.join(segroot, pat))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    }
    superseded: set[str] = set()
    for name, d in dirs.items():
        man = os.path.join(d, "_COMPACT_MANIFEST.json")
        if os.path.exists(man):
            with open(man) as f:
                superseded.update(json.load(f)["superseded"])
    return {n: d for n, d in dirs.items() if n not in superseded}


def load_nrt_index(spark: SparkSession, index_dir: str,
                   stored: DataFrame | None = None) -> SegmentedIndex:
    """NRT reader: every live batch's segments + their summed stats
    (stats files of superseded or incomplete batches are ignored)."""
    live = _live_batch_dirs(index_dir)
    # a batch whose stats file is missing (crash between the parquet write
    # and the stats write) is uncommitted: exclude its SEGMENTS too, so the
    # snapshot is consistent — postings and N/avgdl always cover the same
    # doc set; the stream re-delivers the batch
    committed = {
        n: d for n, d in live.items()
        if os.path.exists(os.path.join(index_dir, "stats", f"{n}.json"))
    }
    if not committed:
        raise FileNotFoundError(f"no committed batches under {index_dir}")
    seg = _require_columnar(spark.read.option("mergeSchema", "true").parquet(
        *[committed[n] for n in sorted(committed)]), index_dir)
    n_docs = total = 0
    field = "content"
    id_col = "doc_id"
    for name in sorted(committed):
        with open(os.path.join(index_dir, "stats", f"{name}.json")) as f:
            d = json.load(f)
        n_docs += d["n_docs"]
        total += d["total_tokens"]
        field = d["field"]
        id_col = d["id_col"]
    return SegmentedIndex(
        spark=spark, segments=seg,
        stats=IndexStats(n_docs=n_docs, total_tokens=total),
        stored=stored, id_col=id_col, fields=(field,),
    )


def compact(spark: SparkSession, index_dir: str, fan_in: int = 10,
            target_segments: int = 1) -> None:
    """Background-merge analogue: merge all accumulated batch segments into
    a NEW generation dir, publish it with one atomic rename (manifest
    inside names the superseded batches), delete the old dirs LAST — the
    two-phase segments_N commit (IndexWriter.PrepareCommit/StartCommit,
    src/Lucene.Net/Index/IndexWriter.cs:3988/5527): a crash at any point
    leaves a readable index."""
    import shutil

    # merge (and later supersede) exactly the set the loader reads: live
    # dirs WITH a stats file — an uncommitted batch stays on disk untouched
    live = {
        n: d for n, d in _live_batch_dirs(index_dir).items()
        if os.path.exists(os.path.join(index_dir, "stats", f"{n}.json"))
    }
    idx = load_nrt_index(spark, index_dir)
    # renumber sparse batch-offset seg_ids densely (segment count is tiny,
    # so the single-partition window is driver-scale work, not data-scale)
    seg = idx.segments.withColumn(
        "seg_id",
        F.dense_rank().over(Window.orderBy("seg_id")).cast("long") - 1)
    n = seg.agg(F.countDistinct("seg_id")).collect()[0][0]
    while n > target_segments:
        fan = fan_in
        if (n + fan - 1) // fan < target_segments:
            fan = (n + target_segments - 1) // target_segments
        seg = merge_wave(seg, fan)
        n = (n + fan - 1) // fan

    # compacted generations live in their own gen_* id space: streaming
    # batch ids continue monotonically from the checkpoint and can NEVER
    # claim a gen_* dir, so a resumed stream cannot overwrite a compaction
    # (the batch_{max+1} scheme was exactly that collision)
    prior = [int(n.split("_")[1]) for n in live if n.startswith("gen_")]
    gen = (max(prior) + 1) if prior else 0
    gen_name = f"gen_{gen:08d}"
    tmp = os.path.join(index_dir, f"_compact_tmp_{gen:08d}")
    seg.write.mode("overwrite").parquet(tmp)
    with open(os.path.join(tmp, "_COMPACT_MANIFEST.json"), "w") as f:
        json.dump({"superseded": sorted(live)}, f)
    # stats for the new generation BEFORE publication: a stray stats file
    # for a not-yet-live batch is ignored by the loader
    with open(os.path.join(index_dir, "stats", f"{gen_name}.json"), "w") as f:
        json.dump({"batch_id": gen, "n_docs": idx.stats.n_docs,
                   "total_tokens": idx.stats.total_tokens,
                   "field": idx.fields[0], "id_col": idx.id_col}, f)
    # atomic publication: manifest travels with the dir
    os.rename(tmp, os.path.join(index_dir, "segments", gen_name))
    # cleanup last — a crash here leaves garbage, never a wrong answer
    for name in sorted(live):
        p = os.path.join(index_dir, "stats", f"{name}.json")
        if os.path.exists(p):
            os.remove(p)
        shutil.rmtree(live[name], ignore_errors=True)
