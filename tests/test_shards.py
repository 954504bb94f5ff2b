"""Range-sharded index (contrib/DistributedSearch analogue): routing,
per-set isolation of deletes, federated-search parity with the monolithic
index, and keyed updates across the set list.

Behavioral mirror of the reference's routing contract
(DistributedSearch/Distributed/Indexing/IndexSets.cs:144-186): same
query answers as one big index, mutations touch only the owning sets.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lucenenet_spark.index.segments import (build_segmented_index,
                                            update_documents)
from lucenenet_spark.index.shards import OPEN_TOP, build_sharded_index
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher


@pytest.fixture(scope="module")
def corpus(spark):
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    return with_doc_ids(corpus_df(spark, 240, partitions=6),
                        ("repo", "path")).cache()


@pytest.fixture(scope="module")
def mono(spark, corpus):
    return build_segmented_index(spark, corpus, text_col="content",
                                 lang_col="lang")


@pytest.fixture(scope="module")
def sharded(spark, corpus):
    return build_sharded_index(spark, corpus, n_shards=3,
                               text_col="content", lang_col="lang")


QUERIES = [
    ast.Term("index", field="content"),
    ast.Bool(must=(ast.Term("index", field="content"),
                   ast.Term("merge", field="content"))),
    ast.Bool(should=(ast.Term("spark", field="content"),
                     ast.Term("segment", field="content")),
             min_should_match=1),
    ast.Phrase(("doc", "id"), field="content"),
    ast.Prefix("se", field="content"),
]


def _hits(searcher, q, k=10):
    return [(r["doc_id"], r["score"]) for r in searcher.search(q, k).collect()]


def test_shard_for_range_walk(sharded):
    """IndexSets.cs:144-151: bottom <= id <= top picks the owning set."""
    assert sharded.bounds[-1][1] == OPEN_TOP
    for i, (lo, hi) in enumerate(sharded.bounds):
        assert sharded.shard_for(lo) == i
        if hi != OPEN_TOP:
            assert sharded.shard_for(hi) == i
            assert sharded.shard_for(hi + 1) == i + 1
    with pytest.raises(KeyError):
        sharded.shard_for(-1)


def test_federated_search_matches_monolithic(mono, sharded):
    """MultiSearcher lemma end-to-end: union view over 3 range shards
    answers exactly like the single index (global df, same top-k)."""
    s_mono, s_sh = Searcher(mono), sharded.searcher()
    assert sharded.union_view().n_docs == mono.n_docs
    assert sharded.union_view().avgdl == pytest.approx(mono.avgdl)
    for q in QUERIES:
        assert _hits(s_sh, q) == _hits(s_mono, q), q


def test_delete_routing_isolation(spark, mono, sharded):
    """Deletes reach ONLY the owning set (IndexSets.GetIndexSet routing):
    other shards keep tombstones=None, and the federated answer equals a
    monolithic delete of the same ids."""
    lo0, hi0 = sharded.bounds[0]
    victims = [lo0, lo0 + 1, hi0]  # all inside shard 0
    sh2 = sharded.delete_documents(victims)
    assert sh2.shards[0].tombstones is not None
    assert sh2.shards[0].tombstones.count() == 3
    for s in sh2.shards[1:]:
        assert s.tombstones is None
    tomb = spark.createDataFrame([(int(v),) for v in victims],
                                 "doc_id long")
    m2 = mono.with_deletes(tomb)
    for q in QUERIES[:3]:
        assert _hits(sh2.searcher(), q) == _hits(Searcher(m2), q), q


def test_delete_spanning_shards(spark, sharded):
    """Ids spanning two ranges fan out to both owning sets, split by
    range — each set sees only its own ids."""
    lo1 = sharded.bounds[1][0]
    sh2 = sharded.delete_documents([0, 1, lo1])
    assert sh2.shards[0].tombstones.count() == 2
    assert sh2.shards[1].tombstones.count() == 1
    assert sh2.shards[2].tombstones is None


def test_update_documents_parity(spark, corpus, mono, sharded):
    """Keyed update over the set list == monolithic UpdateDocument:
    same tombstoned keys, same fresh ids (assigned above the global max,
    which lives in the open-topped last shard), same search answers."""
    some = corpus.orderBy("doc_id").limit(3).collect()
    rows = [(r["repo"], r["path"], r["commit"], r["lang"],
             "fresh shard update text merge")
            for r in some]
    new_docs = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string")

    m2 = update_documents(mono, new_docs, ["repo", "path"], "content",
                          lang_col="lang")
    sh2 = sharded.update_documents(new_docs, ["repo", "path"], "content",
                                   lang_col="lang")
    for q in QUERIES[:3] + [ast.Term("fresh", field="content")]:
        assert _hits(sh2.searcher(), q) == _hits(Searcher(m2), q), q
    # the fresh ids stay owned by the last (open-topped) shard
    fresh_ids = [r["doc_id"] for r in
                 sh2.shards[-1].stored
                 .where(F.col("content").contains("fresh shard update"))
                 .select("doc_id").collect()]
    assert len(fresh_ids) == 3
    assert all(sh2.shard_for(i) == len(sh2.shards) - 1 for i in fresh_ids)


def test_check_sharded_clean_and_corrupt(spark, sharded):
    """CheckIndex-grade validation of the shard config + routing
    (checkindex.check_sharded): the real index is clean; doctored
    bounds trip S1/S2; a duplicated shard trips S3."""
    from dataclasses import replace

    from lucenenet_spark.index.checkindex import check_sharded

    rep = check_sharded(sharded)
    assert rep["clean"], rep["issues"]
    assert all(r["clean"] for r in rep["shards"])

    # gap between ranges (S1) + docs now outside their range (S2)
    b = list(sharded.bounds)
    lo1, hi1 = b[1]
    b[1] = (lo1 + 5, hi1)
    broken = replace(sharded, bounds=b)
    bad = check_sharded(broken, per_shard=False)
    assert not bad["clean"]
    kinds = {i.split(":")[0] for i in bad["issues"]}
    assert kinds == {"S1", "S2"}

    # same shard twice -> duplicate ids (S3), ranges overlap (S1)
    dup = replace(sharded, shards=[sharded.shards[0], sharded.shards[0]],
                  bounds=[sharded.bounds[0], sharded.bounds[0]])
    bad2 = check_sharded(dup, per_shard=False)
    assert any(i.startswith("S3:") for i in bad2["issues"])


def test_expunge_routed_isolation(spark, sharded):
    """ExpungeDeletes rewrites ONLY the tombstoned shard; the others pass
    through as the same objects, and the purged docs stay gone."""
    lo0, _ = sharded.bounds[0]
    sh2 = sharded.delete_documents([lo0, lo0 + 1]).expunge_deletes()
    assert sh2.shards[1] is sharded.shards[1]
    assert sh2.shards[2] is sharded.shards[2]
    assert all(s.tombstones is None for s in sh2.shards)
    live = {r["doc_id"] for r in
            sh2.union_view().stored.select("doc_id").collect()}
    assert lo0 not in live and (lo0 + 1) not in live


def test_save_load_roundtrip(spark, corpus, sharded, tmp_path,
                            check_saved_layout):
    from lucenenet_spark.index.shards import ShardedIndex

    p = str(tmp_path / "sharded_idx")
    sharded.save(p)
    for i, shard in enumerate(sharded.shards):
        check_saved_layout(shard, f"{p}/shard_{i:03d}")
    back = ShardedIndex.load(spark, p, stored=corpus)
    assert back.bounds == sharded.bounds
    for q in QUERIES:
        assert _hits(back.searcher(), q) == _hits(sharded.searcher(), q), q


def test_small_idspace_caps_shards_no_empty_range(spark, corpus):
    """Regression (round-4 advice): more shards than ids must not create
    an empty last shard — empty shard would restart the fresh-id
    sequence at 1 and collide with shard 0's doc_ids, breaking the
    global-uniqueness invariant union_view/check_sharded depend on."""
    from lucenenet_spark.index.checkindex import check_sharded

    small = corpus.where(F.col("doc_id") <= 10)   # ids 1..10
    sh = build_sharded_index(spark, small, n_shards=7,
                             text_col="content", lang_col="lang")
    # every shard owns at least one document
    for s in sh.shards:
        assert s.n_docs >= 1
    assert check_sharded(sh)["clean"]

    some = small.orderBy("doc_id").limit(2).collect()
    rows = [(r["repo"], r["path"], r["commit"], r["lang"],
             "tiny idspace fresh update") for r in some]
    new_docs = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string")
    sh2 = sh.update_documents(new_docs, ["repo", "path"], "content",
                              lang_col="lang")
    ids = [r["doc_id"] for r in
           sh2.union_view().stored.select("doc_id").collect()]
    assert len(ids) == len(set(ids)), "fresh ids collided across shards"
    assert check_sharded(sh2)["clean"]
    fresh = [r["doc_id"] for r in sh2.shards[-1].stored
             .where(F.col("content").contains("tiny idspace"))
             .select("doc_id").collect()]
    assert len(fresh) == 2 and min(fresh) > 10
