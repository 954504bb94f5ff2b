"""contrib/Core periphery: SegmentsGenCommit pointer resume and the
two-level SegmentCache (weak outer key, warm, dead-ref sweep)."""

from __future__ import annotations

import gc
import json
import os
import shutil

import pytest

from lucenenet_spark.index.cache import SegmentCache
from lucenenet_spark.index.commits import (SEGMENTS_GEN, read_segments_gen,
                                           segments_gen_commit,
                                           write_segments_gen)
from lucenenet_spark.index.segments import (_latest_committed_wave,
                                            build_segmented_index)
from lucenenet_spark.plans import ast
from lucenenet_spark.plans.lowering import Searcher


@pytest.fixture(scope="module")
def corpus(spark):
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    return with_doc_ids(corpus_df(spark, 200, partitions=6),
                        ("repo", "path")).cache()


def _hits(idx, term="index"):
    return [(r["doc_id"], r["score"]) for r in
            Searcher(idx).search(ast.Term(term, field="content"), 10)
            .collect()]


def test_segments_gen_written_and_consistent(spark, corpus, tmp_path):
    ck = str(tmp_path / "ck")
    build_segmented_index(spark, corpus, text_col="content",
                          lang_col="lang", fan_in=3, checkpoint_dir=ck)
    latest = _latest_committed_wave(ck)
    assert read_segments_gen(ck) == latest
    assert segments_gen_commit(ck) == latest


def test_pointer_beats_stale_higher_wave(spark, corpus, tmp_path):
    """The SegmentsGenCommit use case (SegmentsGenCommit.cs:30-36): a
    stale HIGHER-numbered wave dir exists (rebuild/copy-over), the
    pointer names the true generation — pointer wins under
    use_segments_gen=True, listing would pick the impostor."""
    ck = str(tmp_path / "ck")
    ref = build_segmented_index(spark, corpus, text_col="content",
                                lang_col="lang", fan_in=3,
                                checkpoint_dir=ck, retain_waves=None)
    truth = read_segments_gen(ck)
    assert truth is not None and truth >= 1
    # forge a stale higher generation: copy wave_000 (pre-merge segments,
    # NOT the final state) to wave_099 with a committed marker
    shutil.copytree(os.path.join(ck, "wave_000"),
                    os.path.join(ck, "wave_099"))
    assert _latest_committed_wave(ck) == 99       # the listing is fooled
    assert segments_gen_commit(ck) == truth       # the pointer is not
    resumed = build_segmented_index(spark, corpus, text_col="content",
                                    lang_col="lang", fan_in=3,
                                    checkpoint_dir=ck, retain_waves=None,
                                    use_segments_gen=True)
    assert _hits(resumed) == _hits(ref)
    assert resumed.n_segments() == ref.n_segments()


def test_torn_pointer_falls_back_to_listing(tmp_path):
    ck = str(tmp_path / "ck")
    os.makedirs(ck)
    write_segments_gen(ck, 7)
    assert read_segments_gen(ck) == 7
    # torn write: gen0 != gen1 -> pointer distrusted
    with open(os.path.join(ck, SEGMENTS_GEN), "w") as f:
        json.dump({"version": 1, "gen0": 7, "gen1": 3}, f)
    assert read_segments_gen(ck) is None
    assert segments_gen_commit(ck) is None
    # consistent pointer to a wave with no _COMMITTED marker -> None too
    write_segments_gen(ck, 5)
    assert segments_gen_commit(ck) is None


class _Holder:
    """Stand-in reader object (weak-referenceable)."""


def test_segment_cache_two_level():
    calls = []

    def create(index, key):
        calls.append((id(index), key))
        return f"v-{key}-{len(calls)}"

    c = SegmentCache(create)
    a, b = _Holder(), _Holder()
    assert c.get(a, "f1") == c.get(a, "f1")       # computed once
    assert len(calls) == 1
    c.warm(a, "f2")                               # Warm == Get, discard
    assert len(calls) == 2
    assert c.get(b, "f1") != c.get(a, "f1")       # per-outer-key values
    assert c.key_count == 2


def test_segment_cache_weak_eviction():
    c = SegmentCache(lambda idx, key: object())
    a = _Holder()
    c.get(a, "x")
    assert c.key_count == 1
    del a
    gc.collect()
    assert c.key_count == 0
    # the dead entry is swept on the next write (SegmentCache.cs:137-143)
    b = _Holder()
    c.get(b, "y")
    assert len(c._cache) == 1


def test_resume_drops_stale_waves_above_pointer(spark, corpus, tmp_path):
    """Regression (round-4 advice): pointer resume at generation g with a
    stale COMMITTED wave dir at g+1 left behind.  _commit_wave's
    skip-if-marker must not hand that stale parquet back as the next
    merge result — resume drops every wave dir above g first (the
    reference's rollback deletes files newer than the chosen commit,
    IndexWriter.cs Rollback/deleter.Refresh)."""
    ck = str(tmp_path / "ck")
    ref = build_segmented_index(spark, corpus, text_col="content",
                                lang_col="lang", fan_in=3,
                                checkpoint_dir=ck, retain_waves=None)
    ref_hits = _hits(ref)

    ck2 = str(tmp_path / "ck2")
    os.makedirs(ck2)
    # genuine generation 0 = the pre-merge invert output
    shutil.copytree(os.path.join(ck, "wave_000"),
                    os.path.join(ck2, "wave_000"))
    write_segments_gen(ck2, 0)
    # forge a CORRUPT committed wave_001: only one segment survives --
    # if resume trusts this marker, the index silently loses documents
    w0 = spark.read.parquet(os.path.join(ck2, "wave_000", "segments"))
    min_seg = w0.agg({"seg_id": "min"}).collect()[0][0]
    corrupt = w0.where(f"seg_id = {min_seg}")
    corrupt.write.parquet(os.path.join(ck2, "wave_001", "segments"))
    with open(os.path.join(ck2, "wave_001", "_COMMITTED.json"), "w") as f:
        json.dump({"wave": 1, "rows": 0, "n_segments": 1,
                   "postings": 0}, f)
    assert _latest_committed_wave(ck2) == 1

    resumed = build_segmented_index(spark, corpus, text_col="content",
                                    lang_col="lang", fan_in=3,
                                    checkpoint_dir=ck2, retain_waves=None,
                                    use_segments_gen=True)
    assert _hits(resumed) == ref_hits
    assert resumed.n_docs == ref.n_docs
    assert resumed.n_segments() == ref.n_segments()
