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
