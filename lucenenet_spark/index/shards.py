"""Record-id-range sharded index — contrib/DistributedSearch analogue.

Reference semantics re-expressed Spark-first:

- An *index set* owns a contiguous record-id range and every add/update/
  delete is routed to the one set whose [BottomId, TopId] contains the
  record id (src/contrib/DistributedSearch/Distributed/Indexing/
  IndexSets.cs:144-151 ``GetIndexSet``; per-set accumulation
  IndexSet.cs:65-66, routing loop IndexSets.cs:171-186).
- Search federates over all sets through one MultiSearcher-style view
  (src/contrib/DistributedSearch/Distributed/Configuration/
  DistributedSearcher.cs builds the remote Searchable set that a
  MultiSearcher consumes), so document frequencies are GLOBAL — the same
  global-df lemma the engine's in-plan stats already implement.

Spark-first mapping: a shard is a :class:`SegmentedIndex` over a
contiguous ``doc_id`` range, routing is a range predicate (so a delete
with a known record id never touches the other shards' plans), and
federation is a lazy union of the shards' segment rows — no data copies,
no remoting layer, and scoring the union with summed stats is provably
identical to per-shard scoring + merge (MultiSearcher lemma).  At 100 TB
the shard list is the unit of operational isolation: reindex, expunge, or
retire one id range without rewriting the rest.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .segments import (IndexStats, SegmentedIndex, _materialize,
                       build_segmented_index, update_documents)

#: seg_id rebase stride between shards in the union view.  A fixed stride
#: keeps shard seg_id spaces disjoint WITHOUT a per-shard max(seg_id) job
#: (the reference rebases docIDs through docMap at AddIndexes time,
#: IndexWriter.cs:3586; here only seg ids need rebasing — doc_ids are
#: globally disjoint by construction of the ranges).
_SEG_STRIDE = 1 << 32

#: Open top bound for the LAST shard: fresh ids from updates are assigned
#: above the global max and stay owned by the newest set, like the
#: reference's current index that absorbs new records (CurrentIndex.cs).
OPEN_TOP = (1 << 62) - 1


@dataclass
class ShardedIndex:
    """A list of range-owned shards behind one federated search view."""

    spark: SparkSession
    shards: list[SegmentedIndex]
    bounds: list[tuple[int, int]]  # inclusive [bottom, top] per shard
    id_col: str = "doc_id"
    _union: SegmentedIndex | None = dc_field(default=None, repr=False)

    # ------------------------------------------------------------ routing

    def shard_for(self, record_id: int) -> int:
        """The owning shard index — the reference's range walk
        (IndexSets.cs:144-151: ``id >= BottomId && id <= TopId``).  The
        walk is over the shard CONFIG (a handful of entries), never data."""
        for i, (lo, hi) in enumerate(self.bounds):
            if lo <= record_id <= hi:
                return i
        raise KeyError(f"record id {record_id} outside every shard range")

    def _bucket_expr(self, col):
        """record id -> shard index as a column expression (the same
        range walk, vectorized so routing a billion ids is one pass)."""
        expr = F.lit(None).cast("int")
        for i in range(len(self.bounds) - 1, -1, -1):
            lo, hi = self.bounds[i]
            expr = F.when(col.between(lo, hi), F.lit(i)).otherwise(expr)
        return expr

    # ----------------------------------------------------------- mutation

    def delete_documents(self, ids) -> "ShardedIndex":
        """Routed delete: each owning set receives ONLY its range's ids
        (DeleteIndexDocument routed via IndexSets.GetIndexSet,
        IndexSets.cs:144-151); shards with no hit keep their exact plans
        (tombstones stay None — the isolation that makes range sharding
        worth having).  One bounded agg (<= n_shards rows) finds the hit
        shards; no id list ever reaches the driver."""
        if not isinstance(ids, DataFrame):
            ids = self.spark.createDataFrame(
                [(int(i),) for i in ids], f"{self.id_col} long")
        idc = (F.col(self.id_col) if self.id_col in ids.columns
               else F.col("doc_id"))
        hit_rows = (ids.select(self._bucket_expr(idc).alias("_shard"))
                    .groupBy("_shard").count().collect())
        hit = {r["_shard"] for r in hit_rows if r["_shard"] is not None}
        new_shards = []
        for i, ((lo, hi), s) in enumerate(zip(self.bounds, self.shards)):
            if i in hit:
                s = s.with_deletes(ids.where(idc.between(lo, hi)))
            new_shards.append(s)
        return replace(self, shards=new_shards, _union=None)

    def update_documents(self, new_docs: DataFrame, key_cols: list[str],
                         text_col: str | None = None,
                         **kwargs) -> "ShardedIndex":
        """Keyed update across the set list: key-owning rows are
        tombstoned in EVERY shard that holds them (the reference replaces
        the record inside its owning set, IndexSets.cs:174-184; keys here
        are application keys, so ownership is discovered by semi-join, not
        arithmetic), and the replacement rows are added to the LAST shard
        — whose range is open-topped, so the fresh ids (assigned above the
        global max, which the ascending ranges guarantee lives in the last
        shard) stay owned by it."""
        keys = new_docs.select(*key_cols).distinct()
        out = []
        for s in self.shards[:-1]:
            dead = (s.stored.join(keys, list(key_cols), "left_semi")
                    .select(F.col(s.id_col).alias("doc_id")))
            out.append(s.with_deletes(dead))
        # Fresh-id base = the GLOBAL max across every shard (ascending
        # ranges do not guarantee the last shard holds the max id: its
        # range can be empty of documents), so replacement ids never
        # collide with a sibling shard's — the global-uniqueness
        # invariant union_view depends on.  One tiny agg per shard
        # (metadata-scale, like the reference's IndexSets walk).
        gmax = 0
        for s in self.shards:
            m = s.stored.agg(F.max(F.col(s.id_col))).collect()[0][0]
            gmax = max(gmax, int(m or 0))
        out.append(update_documents(self.shards[-1], new_docs, key_cols,
                                    text_col, id_base=gmax, **kwargs))
        return replace(self, shards=out, _union=None)

    def expunge_deletes(self) -> "ShardedIndex":
        """Routed ExpungeDeletes: ONLY shards carrying tombstones are
        rewritten (the per-set maintenance isolation that justifies range
        sharding — an expunge of one id range never touches the others'
        segment bytes); clean shards pass through as the same objects."""
        from .segments import expunge_deletes as _expunge
        out = [(_expunge(s) if s.tombstones is not None else s)
               for s in self.shards]
        return replace(self, shards=out, _union=None)

    # -------------------------------------------------------- persistence

    def save(self, path: str) -> None:
        """One directory per set plus a manifest with the range config —
        the durable form of the reference's IndexSets XML (bounds become
        data, not hand-written config).  Like SegmentedIndex.save, the
        doc store stays external and tombstones are not persisted:
        expunge before saving a snapshot."""
        import json
        import os
        for i, s in enumerate(self.shards):
            s.save(os.path.join(path, f"shard_{i:03d}"))
        tmp = os.path.join(path, "shards.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"bounds": [list(b) for b in self.bounds],
                       "id_col": self.id_col}, f)
        os.replace(tmp, os.path.join(path, "shards.json"))

    @classmethod
    def load(cls, spark: SparkSession, path: str,
             stored: DataFrame | None = None) -> "ShardedIndex":
        """Reopen from save(); ``stored`` (the full doc store) is
        re-sliced per shard by the manifest ranges."""
        import json
        import os
        with open(os.path.join(path, "shards.json")) as f:
            meta = json.load(f)
        bounds = [tuple(b) for b in meta["bounds"]]
        shards = []
        for i, (lo, hi) in enumerate(bounds):
            part = (stored.where(F.col(meta["id_col"]).between(lo, hi))
                    if stored is not None else None)
            shards.append(SegmentedIndex.load(
                spark, os.path.join(path, f"shard_{i:03d}"), stored=part))
        return cls(spark=spark, shards=shards, bounds=bounds,
                   id_col=meta["id_col"])

    # ------------------------------------------------------------- search

    def union_view(self) -> SegmentedIndex:
        """The federated Searchable (DistributedSearcher.cs -> one
        MultiSearcher): shard segment rows unioned lazily with
        stride-rebased seg_ids, stats summed.  Scoring this view equals
        per-shard scoring merged under global df (MultiSearcher lemma,
        plans/lowering.py global-stats design)."""
        if self._union is not None:
            return self._union
        base = self.shards[0]
        seg = base.segments
        stored = base.stored
        tomb = base.tombstones
        n_docs, total = base.stats.n_docs, base.stats.total_tokens
        for i, o in enumerate(self.shards[1:], start=1):
            if tuple(o.fields) != tuple(base.fields):
                raise ValueError(f"field mismatch: {o.fields} != {base.fields}")
            seg = seg.unionByName(o.segments.withColumn(
                "seg_id", F.col("seg_id") + F.lit(i * _SEG_STRIDE)))
            if stored is not None and o.stored is not None:
                stored = stored.unionByName(o.stored.select(*stored.columns))
            if o.tombstones is not None:
                tomb = (o.tombstones if tomb is None
                        else tomb.unionByName(o.tombstones))
            n_docs += o.stats.n_docs
            total += o.stats.total_tokens
        self._union = base._derive(
            segments=seg, stored=stored,
            tombstones=(None if tomb is None
                        else _materialize(tomb.distinct())),
            stats=IndexStats(n_docs=n_docs, total_tokens=total))
        return self._union

    def searcher(self, similarity=None):
        from ..plans.lowering import Searcher
        return Searcher(self.union_view(), similarity=similarity)


def build_sharded_index(
    spark: SparkSession,
    docs: DataFrame,
    n_shards: int,
    text_col: str = "content",
    id_col: str = "doc_id",
    **build_kwargs,
) -> ShardedIndex:
    """Partition the record-id space into ``n_shards`` contiguous ranges
    and build one SegmentedIndex per range (the static BottomId/TopId
    config of LuceneServerIndex/CurrentIndex, computed here from the data
    instead of hand-written XML).  The last range is open-topped so later
    updates keep routing cleanly.  Each shard build reads only its range —
    a partition-prunable predicate on the id column."""
    hi = docs.agg(F.max(F.col(id_col))).collect()[0][0]
    if hi is None:
        raise ValueError("empty corpus")
    hi = int(hi)
    # Balanced NON-EMPTY id ranges: n_shards is capped at the id-space
    # size and the remainder spread over the first shards, so no range —
    # in particular the open-topped LAST one, which owns fresh update ids
    # — can be empty in id space (an empty last shard would restart the
    # id sequence at 1 and collide with shard 0, breaking the global
    # uniqueness invariant union_view/check_sharded depend on).
    n_eff = max(1, min(n_shards, hi + 1))
    width, rem = divmod(hi + 1, n_eff)
    bounds: list[tuple[int, int]] = []
    shards: list[SegmentedIndex] = []
    lo = 0
    for i in range(n_eff):
        w = width + (1 if i < rem else 0)
        top = OPEN_TOP if i == n_eff - 1 else lo + w - 1
        part = docs.where(F.col(id_col).between(lo, min(top, hi)))
        shards.append(build_segmented_index(
            spark, part, text_col=text_col, id_col=id_col, **build_kwargs))
        bounds.append((lo, top))
        lo += w
    return ShardedIndex(spark=spark, shards=shards, bounds=bounds,
                        id_col=id_col)
