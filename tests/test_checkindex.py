"""CheckIndex invariants: clean on a healthy index, dirty on corruption.

Mirrors test/Lucene.Net.Test/Index/TestCheckIndex.cs behaviorally."""

from __future__ import annotations

import pytest

from lucenenet_spark.index.checkindex import check_index


@pytest.fixture(scope="module")
def seg_index(spark):
    from lucenenet_spark.index.segments import build_segmented_index
    from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

    docs = with_doc_ids(corpus_df(spark, 200, partitions=4),
                        ("repo", "path")).cache()
    return build_segmented_index(spark, docs, text_col="content",
                                 lang_col="lang", target_segments=2)


def test_clean_index_passes(spark, seg_index):
    report = check_index(seg_index, source=seg_index.stored)
    assert report["clean"], report["issues"][:5]
    assert report["n_segments"] == 2
    assert report["sha_rollup_match"]


def test_corruption_detected(spark, seg_index):
    import pyspark.sql.functions as F
    from lucenenet_spark.index.segments import SegmentedIndex

    # corrupt one row's df metadata
    bad = seg_index.segments.withColumn(
        "df",
        F.when(F.col("term") == "index", F.col("df") + 1).otherwise(F.col("df")),
    )
    broken = SegmentedIndex(
        spark=spark, segments=bad, stats=seg_index.stats,
        stored=seg_index.stored, id_col=seg_index.id_col,
        fields=seg_index.fields)
    report = check_index(broken)
    assert not report["clean"]
    assert any("I2" in i[3] for i in report["issues"])


def test_unsorted_docids_detected(spark, seg_index):
    # hand-build a segment row whose posting list is in decreasing docID
    # order; I1 must flag it (and nothing else is wrong with it)
    from dataclasses import replace

    from lucenenet_spark.index.segments import SEGMENT_SCHEMA
    row = {"field": "content", "term": "zzunsorted", "seg_id": 0, "df": 3,
           "ttf": 3, "docs": [5, 3, 1], "tfs": [1, 1, 1], "dls": [4, 4, 4],
           "pos": [[0], [0], [0]], "pay": None,
           "blocks": [{"last_doc": 1, "max_tf": 1, "min_dl": 4}]}
    broken = replace(seg_index, segments=spark.createDataFrame(
        [row], SEGMENT_SCHEMA), _term_stats=None)
    issues = [i[3] for i in check_index(broken)["issues"]]
    assert any(i.startswith("I1") for i in issues), issues


def test_i10_mixed_payload_coverage_flagged(spark):
    """add_indexes of a payload-carrying index with a plain one leaves a
    term with heterogeneous payload coverage; CheckIndex I10 flags it
    (the next merge of that term drops its payloads, as asserted below)."""
    from pyspark.sql import functions as F

    from lucenenet_spark.analysis.payloads import delimited_payload_analyzer
    from lucenenet_spark.index.checkindex import check_index
    from lucenenet_spark.index.segments import (
        add_indexes, build_segmented_index, merge_wave)

    plain = build_segmented_index(
        spark, spark.createDataFrame([(0, "alpha beta")],
                                     "doc_id long, text string"),
        text_col="text", id_col="doc_id", field_name="text")
    pay = build_segmented_index(
        spark, spark.createDataFrame([(10, "alpha|1.5 beta|2.0")],
                                     "doc_id long, text string"),
        text_col="text", id_col="doc_id", field_name="text",
        analyzer=delimited_payload_analyzer())
    both = add_indexes(plain, pay)
    rep = check_index(both)
    assert any("I10" in i[3] for i in rep["issues"]), rep["issues"]
    # each source index alone is homogeneous: no I10
    assert not any("I10" in i[3] for i in check_index(pay)["issues"])

    # the degrade itself: merging the term keeps its postings and
    # positions but not its payloads
    alpha = F.col("term") == "alpha"
    assert [r["pay"] is None for r in both.segments.where(alpha)
            .orderBy("seg_id").collect()] == [True, False]
    merged = merge_wave(both.segments, fan_in=8).where(alpha).collect()
    assert len(merged) == 1
    assert merged[0]["docs"] == [0, 10] and merged[0]["pos"] == [[0], [0]]
    assert merged[0]["pay"] is None
