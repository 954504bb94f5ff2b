"""CheckIndex — full-index integrity scan (src/Lucene.Net/Index/CheckIndex.cs).

Relational re-expression: every invariant the reference walks posting-by-
posting becomes one distributed aggregate over the segment rows' posting
arrays.

Checked invariants (CheckIndex.cs's term/postings pass):
  I1  docIDs within a posting list are strictly ascending, no duplicates
  I2  df metadata == posting count
  I3  ttf metadata == sum of tfs
  I4  tf >= 1 and dl >= tf for every posting (a doc can't have more
      occurrences of one term than tokens)
  I5  block metadata consistent: last block's last_doc == last docID;
      max_tf/min_dl dominate their block
  I6  at most one posting row per (field, term, seg_id) — merged segments
  I7  doc partitioning: each doc_id appears in exactly one seg_id
  I8  [vs source] content sha256 rollup equality (north-rule per-row
      invariant) via segments.content_sha_rollup
  I9  payload alignment: a non-null pay holds one list per posting and
      one float per occurrence (tf of them) — the analogue of
      CheckIndex's payload-length walk (CheckIndex.cs term pass)
  I10 payload coverage is homogeneous per (field, term): if some of a
      term's segments carry payloads and others don't (e.g. add_indexes
      of a payload index with a plain one), the NEXT merge of that term
      will discard its payloads (merge_wave nulls pay unless every part
      has it) — flagged here so the degrade is visible before it happens
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

_ISSUE_SCHEMA = T.StructType([
    T.StructField("field", T.StringType()),
    T.StructField("term", T.StringType()),
    T.StructField("seg_id", T.LongType()),
    T.StructField("issue", T.StringType()),
])


def _check_rows(pdf_iter):
    for pdf in pdf_iter:
        issues = []
        for r in pdf.itertuples(index=False):
            docs = np.asarray(r.docs, np.int64)
            tfs = np.asarray(r.tfs, np.int64)
            dls = np.asarray(r.dls, np.int64)
            key = (r.field, r.term, int(r.seg_id))
            if len(docs) > 1 and not (np.diff(docs) > 0).all():
                issues.append((*key, "I1:docids_not_strictly_ascending"))
            if int(r.df) != len(docs):
                issues.append((*key, f"I2:df={r.df}!=postings={len(docs)}"))
            if int(r.ttf) != int(tfs.sum()):
                issues.append((*key, f"I3:ttf={r.ttf}!=sum_tf={int(tfs.sum())}"))
            if len(tfs) and (tfs < 1).any():
                issues.append((*key, "I4:tf<1"))
            if len(tfs) and (dls < tfs).any():
                issues.append((*key, "I4:dl<tf"))
            if r.pay is not None:
                n_pay = [0 if p is None else len(p) for p in r.pay]
                if len(n_pay) != len(docs) or (np.asarray(n_pay) != tfs).any():
                    issues.append((*key, "I9:payloads_not_aligned_with_tfs"))
            blocks = r.blocks
            if blocks is not None and len(docs):
                if int(blocks[-1]["last_doc"]) != int(docs[-1]):
                    issues.append((*key, "I5:last_block_last_doc_mismatch"))
                # block extents come from each block's own last_doc (bulk
                # merge concatenates block runs, so sizes are irregular)
                s = 0
                for bi, b in enumerate(blocks):
                    if s >= len(docs):
                        issues.append((*key, "I5:extra_block"))
                        break
                    e = int(np.searchsorted(docs, int(b["last_doc"]),
                                            side="right"))
                    if e <= s:
                        issues.append((*key, f"I5:block_{bi}_empty"))
                        break
                    if (int(tfs[s:e].max()) > int(b["max_tf"])
                            or int(dls[s:e].min()) < int(b["min_dl"])):
                        issues.append((*key, f"I5:block_{bi}_bound_violated"))
                    s = e
        yield pd.DataFrame(issues, columns=["field", "term", "seg_id", "issue"])


def check_index(index, source: DataFrame | None = None,
                content_col: str = "content") -> dict:
    """Run all invariants; returns {'clean': bool, 'issues': [...], ...}.

    `index` is a SegmentedIndex; pass `source` to additionally verify the
    content-sha rollup against the stored table (I8).
    """
    seg = index.segments
    issues = [tuple(r) for r in
              seg.drop("pos").mapInPandas(_check_rows, _ISSUE_SCHEMA)
              .collect()]

    dup = (seg.groupBy("field", "term", "seg_id").count()
           .where(F.col("count") > 1).count())
    if dup:
        issues.append(("*", "*", -1, f"I6:{dup}_duplicate_rows"))

    # I7: every doc lives in exactly one segment (the invariant that makes
    # a per-segment top-k complete)
    cross = (
        seg.select("seg_id", F.explode("docs").alias("doc_id"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.countDistinct("seg_id").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    if cross:
        issues.append(("*", "*", -1, f"I7:{cross}_docs_span_segments"))

    # I10: heterogeneous payload coverage (see module docstring)
    mixed = (
        seg.where(F.col("ttf") > 0)
        .groupBy("field", "term")
        .agg(F.sum(F.when(F.col("pay").isNotNull(), 1)
                   .otherwise(0)).alias("with_pay"),
             F.count("*").alias("n"))
        .where((F.col("with_pay") > 0) & (F.col("with_pay") < F.col("n")))
        .count()
    )
    if mixed:
        issues.append(("*", "*", -1,
                       f"I10:{mixed}_terms_mixed_payload_coverage"))

    report = {"clean": not issues, "issues": issues,
              "n_rows": seg.count(), "n_segments": index.n_segments()}

    if source is not None:
        from .segments import content_sha_rollup
        a = sorted(map(tuple, content_sha_rollup(source, content_col).collect()))
        # rollup recomputed from the stored table attached to the index
        b = sorted(map(tuple, content_sha_rollup(
            index.stored, content_col).collect())) if index.stored is not None else a
        report["sha_rollup_match"] = a == b
        if not report["sha_rollup_match"]:
            report["clean"] = False
    return report


def check_sharded(sharded, per_shard: bool = True) -> dict:
    """CheckIndex over a ShardedIndex (index/shards.py) — the config +
    routing validation the reference's DistributedSearch leaves to its
    XML configuration handlers (IndexSetConfigurationHandler /
    LuceneServerIndexConfigurationHandler), done as data invariants:

      S1  ranges are ascending, non-overlapping, gap-free (a gap
          silently swallows routed deletes — GetIndexSet returns no set,
          IndexSets.cs:144-151)
      S2  every shard's stored ids lie INSIDE its range (routing
          integrity: a stray id would make shard_for and the data
          disagree)
      S3  doc ids are globally unique across shards (the disjointness
          add_indexes/union_view assumes)
      S4  (per_shard=True) every shard passes the full check_index()
          posting-level pass
    """
    issues: list[str] = []
    prev_hi = -1
    for i, (lo, hi) in enumerate(sharded.bounds):
        if lo != prev_hi + 1:
            issues.append(f"S1:shard{i}_range_not_contiguous"
                          f"({prev_hi + 1}!={lo})")
        if hi < lo:
            issues.append(f"S1:shard{i}_empty_range({lo}>{hi})")
        prev_hi = hi

    ids = None
    for i, ((lo, hi), s) in enumerate(zip(sharded.bounds, sharded.shards)):
        if s.stored is None:
            continue
        idc = F.col(s.id_col)
        bad = s.stored.where(~idc.between(lo, hi)).count()
        if bad:
            issues.append(f"S2:shard{i}_{bad}_docs_outside_range")
        f = s.stored.select(idc.alias("doc_id"))
        ids = f if ids is None else ids.unionByName(f)
    if ids is not None:
        dups = (ids.groupBy("doc_id").count()
                .where(F.col("count") > 1).count())
        if dups:
            issues.append(f"S3:{dups}_duplicate_doc_ids_across_shards")

    shard_reports = ([check_index(s) for s in sharded.shards]
                     if per_shard else [])
    clean = not issues and all(r["clean"] for r in shard_reports)
    return {"clean": clean, "issues": issues, "shards": shard_reports}
