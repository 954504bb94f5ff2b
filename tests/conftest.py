import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from lucenenet_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    s = get_spark("tests", cpus=cpus, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents_index(spark):
    """Cached index over the sf0.001 documents table (text + keyword source)."""
    from lucenenet_spark.index.segments import build_segmented_index

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    return build_segmented_index(
        spark, docs, text_col="text", keyword_cols={"source": "source"},
    ).cache()


@pytest.fixture(scope="session")
def check_saved_layout(spark):
    """check(index, path): `index` saved at `path` (SegmentedIndex.save)
    wrote at most one parquet file per core under path/segments, the
    files hold disjoint (field, term) ranges ascending in file order, and
    every segment row survives."""
    import glob

    import pyarrow.parquet as pq

    def check(index, path):
        files = sorted(glob.glob(os.path.join(path, "segments",
                                              "*.parquet")))
        assert 0 < len(files) <= spark.sparkContext.defaultParallelism
        ranges, rows = [], []
        for f in files:
            keys = list(zip(*pq.read_table(
                f, columns=["field", "term", "seg_id"]).to_pydict()
                .values()))
            assert keys == sorted(keys), f  # sorted within the file
            ranges.append((keys[0][:2], keys[-1][:2]))
            rows.extend(keys)
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi < lo, (hi, lo)
        assert sorted(rows) == sorted(
            tuple(r) for r in
            index.segments.select("field", "term", "seg_id").collect())

    return check


@pytest.fixture
def gateway_commands(spark, monkeypatch):
    """count(fn) -> (py4j commands fn() sent, fn's result), counted by
    wrapping the gateway client's send_command.  py4j's release of a
    garbage-collected proxy (``m``/``d``) is not counted: it is sent
    whenever Python's GC frees one, not by what fn builds."""
    client = spark.sparkContext._gateway._gateway_client

    def count(fn):
        send, sent = client.send_command, []

        def counting(command, *args, **kwargs):
            if not command.startswith("m\nd\n"):
                sent.append(command)
            return send(command, *args, **kwargs)

        monkeypatch.setattr(client, "send_command", counting)
        try:
            out = fn()
        finally:
            monkeypatch.undo()
        return len(sent), out

    return count
