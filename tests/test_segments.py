"""Columnar-segment path: block metadata, segmented==oracle parity,
merge waves, checkpoint/resume, deterministic doc_ids.

Mirrors the reference's index-format tests
(test/Lucene.Net.Test/Index/TestSegmentTermDocs.cs, TestSegmentMerger.cs,
TestMultiLevelSkipList.cs) at the behavioral level: merge preserves
postings, block bounds hold, query results invariant across physical
layouts and build variations.
"""

from __future__ import annotations

import numpy as np
import pytest

from lucenenet_spark.index import codec

# ------------------------------------------------------------------ codec


def test_block_maxes():
    n = 300
    docs = np.arange(n) * 2
    tfs = np.arange(1, n + 1)
    dls = np.full(n, 7)
    bl = codec.block_maxes(docs, tfs, dls, block=128)
    assert len(bl) == 3
    assert bl[0] == {"last_doc": 254, "max_tf": 128, "min_dl": 7}
    assert bl[-1]["last_doc"] == int(docs[-1])


# ------------------------------------------------------- spark integration


@pytest.fixture(scope="module")
def corpus(spark):
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    return with_doc_ids(corpus_df(spark, 300, partitions=6), ("repo", "path")).cache()


def test_doc_ids_dense_and_deterministic(spark, corpus):
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    ids = sorted(r[0] for r in corpus.select("doc_id").collect())
    assert ids == list(range(300))
    again = with_doc_ids(corpus_df(spark, 300, partitions=6), ("repo", "path"))
    a = {(r["repo"], r["path"]): r["doc_id"] for r in corpus.collect()}
    b = {(r["repo"], r["path"]): r["doc_id"] for r in again.collect()}
    assert a == b


def test_segmented_matches_oracle(spark, corpus):
    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.oracle.pybm25 import OracleIndex
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher

    seg = build_segmented_index(spark, corpus, text_col="content",
                                lang_col="lang", fan_in=3)
    oracle = OracleIndex()
    oracle.primary_field = "content"
    for r in corpus.select("doc_id", "content", "lang").collect():
        oracle.add(r["doc_id"], {"content": r["content"]}, lang=r["lang"])
    assert seg.n_docs == oracle.n_docs
    assert seg.avgdl == pytest.approx(oracle.avgdl)

    s = Searcher(seg)
    queries = [
        ast.Term("index", field="content"),
        ast.Term("camelcasename", field="content"),  # code-split token
        ast.Bool(must=(ast.Term("index", field="content"),
                       ast.Term("merge", field="content"))),
        ast.Bool(should=(ast.Term("spark", field="content"),
                         ast.Term("segment", field="content")),
                 min_should_match=1),
        ast.Phrase(("doc", "id"), field="content"),
        ast.Prefix("se", field="content"),
        ast.Fuzzy("mereg", field="content"),
    ]
    for q in queries:
        got = [(r["doc_id"], r["score"]) for r in s.search(q, 10).collect()]
        want = oracle.top_k(q, 10)
        assert got == want, f"{q}: {got} != {want}"
    assert len(s.search(ast.Term("index", field="content"), 10)
               .collect()) == 10


def test_merge_wave_counts(spark, corpus):
    from lucenenet_spark.index.segments import build_segmented_index

    seg = build_segmented_index(spark, corpus, text_col="content",
                                lang_col="lang", fan_in=3, target_segments=1)
    assert seg.n_segments() == 1
    # df/ttf metadata consistent with decoded postings
    row = seg.segments.limit(0)
    import pyspark.sql.functions as F

    meta = seg.segments.agg(F.sum("df"), F.sum("ttf")).collect()[0]
    dec = seg.postings.agg(F.count("*"), F.sum("tf")).collect()[0]
    assert int(meta[0]) == int(dec[0])
    assert int(meta[1]) == int(dec[1])
    del row


def test_checkpoint_resume(spark, corpus, tmp_path):
    from lucenenet_spark.index.segments import build_segmented_index

    ck = str(tmp_path / "ckpt")
    a = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck)
    rows_a = sorted(
        (r["field"], r["term"], r["seg_id"], tuple(r["docs"]))
        for r in a.segments.collect()
    )
    # resume: rebuild with same checkpoint dir — must read committed waves,
    # not recompute, and produce the identical final segment set
    b = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck)
    rows_b = sorted(
        (r["field"], r["term"], r["seg_id"], tuple(r["docs"]))
        for r in b.segments.collect()
    )
    assert rows_a == rows_b


def test_save_load_roundtrip(spark, corpus, tmp_path, check_saved_layout):
    from lucenenet_spark.index.segments import SegmentedIndex, build_segmented_index
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher

    seg = build_segmented_index(spark, corpus, text_col="content", lang_col="lang")
    seg.save(str(tmp_path / "idx"))
    check_saved_layout(seg, str(tmp_path / "idx"))
    back = SegmentedIndex.load(spark, str(tmp_path / "idx"), stored=corpus)
    for q in (ast.Term("index", field="content"),
              ast.Phrase(("doc", "id"), field="content"),
              ast.Prefix("se", field="content")):
        a = [tuple(r) for r in Searcher(seg).search(q, 10).collect()]
        b = [tuple(r) for r in Searcher(back).search(q, 10).collect()]
        assert a == b and a, q


def test_content_sha_rollup(spark, corpus):
    from lucenenet_spark.index.segments import content_sha_rollup

    roll = content_sha_rollup(corpus, "content")
    rows = roll.collect()
    assert sum(r["file_count"] for r in rows) == 300
    # identical source -> identical rollup (per-row invariant check)
    again = content_sha_rollup(corpus, "content").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# ------------------------------------------------- merge wave (unit)


def _seg_row(term, seg_id, docs, tfs, dls, pos=None, pay=None):
    return {"field": "content", "term": term, "seg_id": seg_id,
            "df": len(docs), "ttf": int(sum(tfs)), "docs": list(docs),
            "tfs": list(tfs), "dls": list(dls), "pos": pos, "pay": pay,
            "blocks": codec.block_maxes(np.asarray(docs), np.asarray(tfs),
                                        np.asarray(dls))}


def _run_merge(spark, rows, fan_in=8):
    """merge_wave over hand-built segment rows -> {term: merged row}."""
    from lucenenet_spark.index.segments import SEGMENT_SCHEMA, merge_wave

    seg = spark.createDataFrame(rows, SEGMENT_SCHEMA)
    return {r["term"]: r.asDict(recursive=True)
            for r in merge_wave(seg, fan_in=fan_in).collect()}


def _by_doc(rows):
    """Reference merge: every part's postings re-sorted by doc."""
    post = sorted((d, t, l, None if r["pos"] is None else r["pos"][i])
                  for r in rows
                  for i, (d, t, l) in enumerate(zip(r["docs"], r["tfs"],
                                                    r["dls"])))
    return [list(c) for c in zip(*post)]


def test_bulk_merge_fastpath_equals_decode_merge(spark):
    """Disjoint segments, given in scrambled seg_id order: the merge is the
    concatenation in doc order, equal to a full re-sort, and the parts'
    block runs concatenate unchanged (no recompute)."""
    rng = np.random.default_rng(7)
    rows, base = [], 0
    for seg in range(4):
        n = int(rng.integers(1, 200))
        docs = base + np.sort(rng.choice(500, n, replace=False))
        base = int(docs[-1]) + 1 + int(rng.integers(0, 100))
        tfs = rng.integers(1, 9, n)
        dls = rng.integers(20, 400, n)
        pos = [sorted(rng.choice(4000, t, replace=False).tolist())
               for t in tfs]
        rows.append(_seg_row("x", 3 - seg, docs.tolist(), tfs.tolist(),
                             dls.tolist(), pos))
    got = _run_merge(spark, rows)["x"]
    docs, tfs, dls, pos = _by_doc(rows)
    assert got["docs"] == docs and got["tfs"] == tfs
    assert got["dls"] == dls and got["pos"] == pos
    assert got["df"] == len(docs) and got["ttf"] == sum(tfs)
    assert got["pay"] is None
    assert got["blocks"] == [b for r in rows for b in r["blocks"]]
    assert got["seg_id"] == 0


def test_bulk_merge_fallback_on_overlap(spark):
    """Overlapping doc ranges (out-of-order NRT compaction) interleave by
    doc, positions and payloads travel with their doc, and the blocks are
    recomputed exactly as the invert kernel lays them out."""
    a = _seg_row("y", 0, [1, 50, 90], [1, 2, 1], [10, 10, 10],
                 [[3], [1, 4], [9]], [[0.5], [1.0, 2.0], [3.0]])
    b = _seg_row("y", 1, [5, 60], [1, 1], [12, 12], [[2], [8]],
                 [[4.0], [5.0]])
    got = _run_merge(spark, [a, b])["y"]
    assert got["docs"] == [1, 5, 50, 60, 90]
    assert got["tfs"] == [1, 1, 2, 1, 1]
    assert got["dls"] == [10, 12, 10, 12, 10]
    assert got["pos"] == [[3], [2], [1, 4], [8], [9]]
    assert got["pay"] == [[0.5], [4.0], [1.0, 2.0], [5.0], [3.0]]
    assert got["blocks"] == codec.block_maxes(
        np.array(got["docs"]), np.array(got["tfs"]), np.array(got["dls"]))

    # many blocks: two interleaved 300-posting lists
    rng = np.random.default_rng(3)
    rows = []
    for seg, docs in enumerate((np.arange(0, 600, 2), np.arange(1, 600, 2))):
        tfs = rng.integers(1, 9, len(docs))
        dls = rng.integers(20, 400, len(docs))
        rows.append(_seg_row("z", seg, docs.tolist(), tfs.tolist(),
                             dls.tolist(), [[0]] * len(docs)))
    got = _run_merge(spark, rows)["z"]
    docs, tfs, dls, _ = _by_doc(rows)
    assert got["docs"] == docs and got["tfs"] == tfs and got["dls"] == dls
    assert len(got["blocks"]) == 5
    assert got["blocks"] == codec.block_maxes(
        np.array(docs), np.array(tfs), np.array(dls))

    # a part indexed without positions/payloads: the merged list has none
    c = _seg_row("y", 2, [7], [1], [9])
    got = _run_merge(spark, [a, b, c])["y"]
    assert got["docs"] == [1, 5, 7, 50, 60, 90]
    assert got["pos"] is None and got["pay"] is None


def test_bulk_merge_multi_term_groups(spark):
    """Rows for several (term, merge_group) keys merge independently;
    single-row groups pass through unchanged."""
    e1 = ([2, 4], [1, 1], [5, 5], [[0], [1]])
    e2 = ([10], [3], [8], [[0, 2, 5]])
    got = _run_merge(spark, [_seg_row("aa", 0, *e1), _seg_row("aa", 1, *e2),
                             _seg_row("bb", 8, *e2)])
    assert sorted(got) == ["aa", "bb"]
    assert got["aa"]["docs"] == [2, 4, 10] and got["aa"]["tfs"] == [1, 1, 3]
    assert got["aa"]["pos"] == [[0], [1], [0, 2, 5]]
    bb = _seg_row("bb", 1, *e2)
    assert {k: got["bb"][k] for k in bb} == bb


def _exploded(idx):
    return sorted(tuple(r) for r in idx.postings.select(
        "field", "term", "doc_id", "tf", "dl", "positions").collect())


def _block_bounds_hold(idx):
    """Every block's last_doc is its last posting's doc and its
    (max_tf, min_dl) bound every posting inside it; df/ttf match."""
    for r in idx.segments.collect():
        docs, tfs, dls = (np.array(r[c]) for c in ("docs", "tfs", "dls"))
        assert r["df"] == len(docs) and r["ttf"] == int(tfs.sum())
        assert (np.diff(docs) > 0).all()
        s = 0
        for b in r["blocks"]:
            e = int(np.searchsorted(docs, b["last_doc"], side="right"))
            assert e > s and docs[e - 1] == b["last_doc"]
            assert tfs[s:e].max() <= b["max_tf"]
            assert dls[s:e].min() >= b["min_dl"]
            s = e
        assert s == len(docs), (r["term"], s, len(docs))


def test_build_variations_give_identical_postings(spark, corpus, tmp_path):
    """Metamorphic: a one-shot build, fan_in=2 merge waves and a save/load
    round trip expose identical postings, and every block bound holds."""
    from lucenenet_spark.index.segments import (SegmentedIndex,
                                                build_segmented_index)

    one = build_segmented_index(spark, corpus, text_col="content",
                                lang_col="lang")
    waves = build_segmented_index(spark, corpus, text_col="content",
                                  lang_col="lang", fan_in=2)
    one.save(str(tmp_path / "idx"))
    back = SegmentedIndex.load(spark, str(tmp_path / "idx"))
    want = _exploded(one)
    assert len(want) > 1000
    assert _exploded(waves) == want
    assert _exploded(back) == want
    for idx in (one, waves, back):
        assert idx.n_segments() == 1
        _block_bounds_hold(idx)


def test_load_rejects_blob_layout(spark, tmp_path):
    """An index saved in the pre-columnar blob layout fails fast with a
    message naming the layout, from every reader: load, the NRT reader
    and a checkpointed build resuming a wave."""
    import json
    import os

    from lucenenet_spark.index.segments import (SegmentedIndex,
                                                build_segmented_index)
    from lucenenet_spark.streaming.nrt import load_nrt_index

    old = spark.createDataFrame(
        [("content", "x", 0, 1, 1, b"\x01", b"\x01", b"\x03", b"\x00",
          [(1, 1, 3)])],
        "field string, term string, seg_id long, df int, ttf long, "
        "docs_blob binary, tfs_blob binary, dls_blob binary, "
        "pos_blob binary, blocks array<struct<last_doc:long, max_tf:int, "
        "min_dl:int>>")
    path = str(tmp_path / "old")
    old.write.parquet(os.path.join(path, "segments"))
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump({"n_docs": 1, "total_tokens": 3, "fields": ["content"],
                   "id_col": "doc_id"}, f)
    with pytest.raises(ValueError, match="blob layout.*rebuild"):
        SegmentedIndex.load(spark, path)

    nrt = str(tmp_path / "nrt")
    old.write.parquet(os.path.join(nrt, "segments", "batch_00000000"))
    os.makedirs(os.path.join(nrt, "stats"))
    with open(os.path.join(nrt, "stats", "batch_00000000.json"), "w") as f:
        json.dump({"batch_id": 0, "n_docs": 1, "total_tokens": 3,
                   "field": "content", "id_col": "doc_id"}, f)
    with pytest.raises(ValueError, match="blob layout.*rebuild"):
        load_nrt_index(spark, nrt)

    # resuming a build from a blob-layout checkpoint wave
    ck = str(tmp_path / "ckpt")
    old.write.parquet(os.path.join(ck, "wave_000", "segments"))
    with open(os.path.join(ck, "wave_000", "_COMMITTED.json"), "w") as f:
        json.dump({"wave": 0, "rows": 1, "n_segments": 1}, f)
    docs = spark.createDataFrame([(0, "x")], "doc_id long, content string")
    with pytest.raises(ValueError, match="blob layout.*rebuild"):
        build_segmented_index(spark, docs, checkpoint_dir=ck)


CHAIN_ROWS = [(0, "k0", "plain cafe words"), (1, "k1", "more words"),
              (2, "k2", "old text")]


def _update_and_rebuild(spark, idx, schema, new_text, **chain):
    """(idx updated so key k2 holds new_text, a fresh build with `chain`
    of CHAIN_ROWS' keys plus that row as doc 3)."""
    from lucenenet_spark.index.segments import (build_segmented_index,
                                                update_documents)

    new = spark.createDataFrame([("k2", new_text)],
                                schema.split(", ", 1)[1])
    updated = update_documents(idx, new, ["key"], text_col="text")
    rows = [tuple(r) for r in
            idx.stored.select("doc_id", "key", "text").collect()]
    rebuilt = build_segmented_index(
        spark, spark.createDataFrame(rows + [(3, "k2", new_text)], schema),
        text_col="text", **chain)
    return updated, rebuilt


def test_update_runs_the_build_chain(spark, tmp_path):
    """update_documents inverts new rows through the build's analysis
    chain: a folded build plus an update has the postings of a fresh
    folded build, also after save/load (stats.json keeps the fold)."""
    from lucenenet_spark.index.segments import (SegmentedIndex,
                                                build_segmented_index)

    schema = "doc_id long, key string, text string"
    docs = spark.createDataFrame(CHAIN_ROWS, schema)
    idx = build_segmented_index(spark, docs, text_col="text",
                                fold_ascii=True)
    idx.save(str(tmp_path / "idx"))
    back = SegmentedIndex.load(spark, str(tmp_path / "idx"), stored=docs)
    for base in (idx, back):
        updated, rebuilt = _update_and_rebuild(
            spark, base, schema, "café résumé", fold_ascii=True)
        got = _exploded(updated)
        assert {("text", "cafe", 3), ("text", "resume", 3)} <= {
            r[:3] for r in got}
        assert got == _exploded(rebuilt)


def test_update_keeps_gap_and_refuses_unsaved_analyzer(spark, tmp_path):
    """The position gap survives save/load into an update; an index built
    with analyzer= updates through it in memory, but once loaded (the
    callable is not saved) an update raises instead of falling back to
    the default chain."""
    from lucenenet_spark.analysis.tokenizers import tokenize_whitespace
    from lucenenet_spark.index.segments import (SegmentedIndex,
                                                build_segmented_index,
                                                update_documents)

    schema = "doc_id long, key string, text array<string>"
    docs = spark.createDataFrame(
        [(i, k, [t, "tail words"]) for i, k, t in CHAIN_ROWS], schema)
    idx = build_segmented_index(spark, docs, text_col="text",
                                position_increment_gap=100)
    idx.save(str(tmp_path / "gap"))
    back = SegmentedIndex.load(spark, str(tmp_path / "gap"), stored=docs)
    updated, rebuilt = _update_and_rebuild(
        spark, back, schema, ["red fox", "lazy dog"],
        position_increment_gap=100)
    got = _exploded(updated)
    assert ("text", "lazy", 3, 1, 4, [102]) in got
    assert got == _exploded(rebuilt)

    schema = "doc_id long, key string, text string"
    docs = spark.createDataFrame(CHAIN_ROWS, schema)
    ws = build_segmented_index(spark, docs, text_col="text",
                               analyzer=tokenize_whitespace)
    updated, rebuilt = _update_and_rebuild(
        spark, ws, schema, "The Café", analyzer=tokenize_whitespace)
    assert ("text", "The", 3, 1, 2, [0]) in _exploded(updated)
    assert _exploded(updated) == _exploded(rebuilt)
    ws.save(str(tmp_path / "ws"))
    back = SegmentedIndex.load(spark, str(tmp_path / "ws"), stored=docs)
    new = spark.createDataFrame([("k2", "x")], "key string, text string")
    with pytest.raises(ValueError, match="analyzer"):
        update_documents(back, new, ["key"], text_col="text")


def test_update_takes_the_build_columns(spark, tmp_path):
    """update_documents inverts new rows from the build's columns: a
    lang_col build updated without lang_col still splits a code file's
    identifiers, in memory and after save/load; a conflicting column
    raises; an index whose stats.json predates the record takes the
    columns from the arguments, as before."""
    import json
    import os

    from lucenenet_spark.index.segments import (SegmentedIndex,
                                                build_segmented_index,
                                                update_documents)

    docs = spark.createDataFrame(
        [(0, "k0", "python", "def fooBar(): pass"),
         (1, "k1", "text", "plain words")],
        "doc_id long, key string, lang string, text string")
    idx = build_segmented_index(spark, docs, text_col="text",
                                lang_col="lang")
    new = spark.createDataFrame([("k1", "python", "def bazQux(): pass")],
                                "key string, lang string, text string")

    def fresh_terms(updated):
        return {r["term"] for r in
                updated.postings.where("doc_id = 2").collect()}

    path = str(tmp_path / "idx")
    idx.save(path)
    back = SegmentedIndex.load(spark, path, stored=docs)
    code = {"def", "baz", "qux", "pass"}
    for base in (idx, back):
        assert fresh_terms(update_documents(base, new, ["key"],
                                            text_col="text")) == code
        assert fresh_terms(update_documents(base, new, ["key"])) == code
        with pytest.raises(ValueError, match="lang_col"):
            update_documents(base, new, ["key"], text_col="text",
                             lang_col="other")

    with open(os.path.join(path, "stats.json")) as f:
        meta = json.load(f)
    for k in ("text_col", "lang_col", "positions", "keyword_cols"):
        del meta[k]
    with open(os.path.join(path, "stats.json"), "w") as f:
        json.dump(meta, f)
    old = SegmentedIndex.load(spark, path, stored=docs)
    assert fresh_terms(update_documents(old, new, ["key"],
                                        text_col="text")) == {
        "def", "bazqux", "pass"}
    assert fresh_terms(update_documents(old, new, ["key"], text_col="text",
                                        lang_col="lang")) == code
    with pytest.raises(ValueError, match="text_col"):
        update_documents(old, new, ["key"])


def test_merge_shuffle_balanced_under_zipf(spark, corpus):
    """Skew validation (SURVEY §7 Phase 6): the corpus vocabulary is
    Zipfian, yet merge_wave's exchange, keyed on (field, term), spreads
    its output rows — one per (field, term, merge group) — evenly over
    the reducer partitions: a hot term is one row per merge group like
    any other term, so no reducer partition degenerates.  Drives a real
    merge_wave (fan_in=2) and counts the rows each reducer partition of
    that plan emits; the total is one row per (field, term, group)."""
    from pyspark.sql import functions as F

    from lucenenet_spark.index.segments import (
        SEGMENT_SCHEMA, _invert_partition, merge_wave)

    seg = corpus.select("doc_id", "content", "lang").mapInArrow(
        _invert_partition("content", "doc_id", "content", "lang", True),
        SEGMENT_SCHEMA)
    n_parts = 8
    merged = merge_wave(seg, fan_in=2, num_partitions=n_parts)
    counts = (merged.groupBy(F.spark_partition_id().alias("p")).count()
              .collect())
    rows = [r["count"] for r in counts]
    assert len(rows) >= 2
    groups = (seg.select("field", "term",
                         (F.col("seg_id") / 2).cast("long"))
              .distinct().count())
    assert sum(rows) == groups
    mean = sum(rows) / len(rows)
    assert max(rows) <= 3.0 * mean, (rows, mean)


def test_merge_wave_fallback_out_of_order_segments(spark, corpus):
    """Out-of-order segment sets (NRT compaction shape: a later segment
    holds LOWER doc_ids) must merge in doc order inside a real merge wave
    and still answer queries identically to a fresh build."""
    from pyspark.sql import functions as F

    from lucenenet_spark.index.segments import (
        build_segmented_index, merge_wave)
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher

    base = build_segmented_index(spark, corpus, text_col="content",
                                 lang_col="lang", target_segments=4)
    # scramble seg_ids so ascending seg_id no longer means ascending docs
    scrambled = base.segments.withColumn(
        "seg_id", (F.lit(3) - F.col("seg_id")).cast("long"))
    from dataclasses import replace
    idx = replace(base, segments=merge_wave(scrambled, fan_in=4).cache(),
                  _postings=None, _postings_nopos=None, _term_stats=None)

    want = [(r["doc_id"], r["score"]) for r in
            Searcher(base).search(ast.Term("index", field="content"), 10)
            .collect()]
    got = [(r["doc_id"], r["score"]) for r in
           Searcher(idx).search(ast.Term("index", field="content"), 10)
           .collect()]
    assert got == want
    assert idx.segments.select("seg_id").distinct().count() == 1


def test_wave_retention_policy(spark, corpus, tmp_path):
    """retain_waves keeps only the last N committed wave dirs, and resume
    still works from the newest one (KeepOnlyLastCommitDeletionPolicy
    generalized; SnapshotDeletionPolicy = retain_waves=None)."""
    import glob
    import os

    from lucenenet_spark.index.segments import build_segmented_index

    ck = str(tmp_path / "ckpt")
    a = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck,
                              retain_waves=2)
    dirs = sorted(os.path.basename(d)
                  for d in glob.glob(os.path.join(ck, "wave_*")))
    assert len(dirs) == 2  # waves 0..2 existed; only the last 2 survive
    assert dirs[-1] > dirs[0]
    rows_a = sorted(
        (r["field"], r["term"], r["seg_id"], tuple(r["docs"]))
        for r in a.segments.collect())
    # resume with the oldest wave expired: jumps to the newest commit
    b = build_segmented_index(spark, corpus, text_col="content",
                              lang_col="lang", fan_in=3, checkpoint_dir=ck,
                              retain_waves=2)
    rows_b = sorted(
        (r["field"], r["term"], r["seg_id"], tuple(r["docs"]))
        for r in b.segments.collect())
    assert rows_a == rows_b


# --------------------------------------------- contrib/Core enumerators


@pytest.fixture(scope="module")
def segidx(spark, corpus):
    from lucenenet_spark.index.segments import build_segmented_index

    return build_segmented_index(spark, corpus, text_col="content",
                                 lang_col="lang", fan_in=3)


def test_enumerate_terms_sorted_filtered_numeric(spark, segidx):
    """FieldEnumerator semantics (contrib/Core/Index/FieldEnumerator.cs):
    sorted term walk over one field; typed variants cast the term."""
    rows = segidx.enumerate_terms(field="content", numeric=True).collect()
    terms = [r["term"] for r in rows]
    assert terms == sorted(terms) and len(terms) == len(set(terms))
    assert all(r["field"] == "content" for r in rows)
    for r in rows:
        if r["term"].isdigit():
            assert r["term_num"] == int(r["term"])
        elif not r["term"].lstrip("+-").isdigit():
            assert r["term_num"] is None
    # df/ttf come straight from the dictionary, so they must agree with
    # term_stats
    ts = {(r["field"], r["term"]): (r["df"], r["ttf"])
          for r in segidx.term_stats().collect()}
    assert all(ts[("content", r["term"])] == (r["df"], r["ttf"])
               for r in rows)


def test_enumerate_terms_include_docs(spark, segidx):
    """include_docs walks TermDocs per term (FieldEnumerator.cs TermDoc
    walk): doc list length == df and matches the posting table."""
    from pyspark.sql import functions as F

    out = segidx.enumerate_terms(field="content", include_docs=True)
    some = out.where(F.col("df") > 1).limit(5).collect()
    assert some
    for r in some:
        assert len(r["doc_ids"]) == r["df"]
        expect = sorted(
            x["doc_id"] for x in segidx.postings_nopos
            .where((F.col("field") == "content")
                   & (F.col("term") == r["term"]))
            .select("doc_id").collect())
        assert sorted(r["doc_ids"]) == expect


def test_term_vector_enumerator_empty_vector(spark):
    """TermVectorEnumerator semantics
    (contrib/Core/Index/TermVectorEnumerator.cs): every requested doc
    yields a row; docs without a vector carry the EmptyVector analogue."""
    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.sources.corpus import with_doc_ids

    df = spark.createDataFrame(
        [("r", "a", "hello world hello", "en"),
         ("r", "b", "", "en"),
         ("r", "c", "world", "en")],
        "repo string, path string, content string, lang string")
    seg = build_segmented_index(spark, with_doc_ids(df),
                                text_col="content", lang_col="lang")
    rows = {r["doc_id"]: r for r in seg.term_vector_enumerator().collect()}
    assert len(rows) == 3
    by_path = {r["path"]: r["doc_id"]
               for r in seg.stored.select("path", "doc_id").collect()}
    assert rows[by_path["b"]]["vec"] == []  # EmptyVector, not a missing row
    vec_a = {t["term"]: t["tf"] for t in rows[by_path["a"]]["vec"]}
    assert vec_a == {"hello": 2, "world": 1}
    # doc_ids filter restricts the walk
    only = seg.term_vector_enumerator(doc_ids=[by_path["c"]]).collect()
    assert [r["doc_id"] for r in only] == [by_path["c"]]


def test_enumerate_terms_max_df_guard(spark, segidx):
    """The 100 TB hazard is enforced, not just documented (r4 VERDICT
    watch #2): a stop-word-grade term's doc list is suppressed (NULL,
    stats row kept) under the default guard; max_df=None opts out."""
    from pyspark.sql import functions as F

    hot = (segidx.term_stats().where(F.col("field") == "content")
           .orderBy(F.desc("df")).limit(1).collect()[0])
    cap = int(hot["df"]) - 1
    assert cap >= 1
    out = {r["term"]: r["doc_ids"] for r in
           segidx.enumerate_terms(field="content", include_docs=True,
                                  max_df=cap).collect()}
    assert out[hot["term"]] is None          # hot term: stats, no array
    cool = [t for t, d in out.items() if d is not None]
    assert cool                               # cool terms keep doc lists
    ungated = {r["term"]: r["doc_ids"] for r in
               segidx.enumerate_terms(field="content", include_docs=True,
                                      max_df=None).collect()}
    assert len(ungated[hot["term"]]) == hot["df"]
