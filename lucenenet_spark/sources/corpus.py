"""Deterministic synthetic corpora (FIXTURES.md) + testdata loaders.

F1 `corpus` — the BASELINE.json input shape
(repo:string, path:string, commit:string, lang:string, content:string),
generated with a fixed seed so every run / partitioning / engine sees the
same bytes.  No external data.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

_EXT = {"python": "py", "java": "java", "csharp": "cs", "text": "txt"}
_LANGS = ["python", "java", "csharp", "text"]

# Vocab: Zipf-sampled English words incl. the 33 stopwords + code-ish idents.
_BASE_WORDS = [
    "the", "of", "and", "a", "to", "in", "is", "it", "that", "for", "was",
    "on", "are", "as", "with", "they", "this", "at", "be", "or", "an",
    "index", "merge", "segment", "posting", "term", "query", "score",
    "search", "token", "field", "document", "writer", "reader", "buffer",
    "flush", "commit", "delete", "update", "filter", "boost", "phrase",
    "fuzzy", "prefix", "wildcard", "range", "boolean", "collector", "heap",
    "license", "apache", "copyright", "spark", "partition", "shuffle",
    "broadcast", "salt", "skew", "parquet", "iceberg", "arrow", "numpy",
]
_IDENTS = [
    "camelCaseName", "snake_case_name", "Dotted.Names", "getFoo", "setBar",
    "MAX_VALUE", "doc_id", "TermQuery", "IndexWriter", "readBytes",
]


def _vocab(n: int = 2000) -> list[str]:
    v = list(_BASE_WORDS) + list(_IDENTS)
    i = 0
    while len(v) < n:
        v.append(f"w{i:04d}")
        i += 1
    return v


_CHUNK = 4096  # rows per deterministic generation chunk


def _gen_chunk(start: int, count: int, seed: int) -> list[tuple]:
    """Rows [start, start+count) — deterministic per (seed, start) so the
    corpus can be generated IN PARALLEL on executors: chunk k's RNG stream
    is independent of every other chunk, and a row's identity fields
    (repo/path/commit/lang) derive from its absolute index."""
    import numpy as np

    rng = np.random.default_rng([seed, start])
    vocab = np.asarray(_vocab(), dtype=object)
    w = 1.0 / np.arange(1.0, len(vocab) + 1.0)
    w /= w.sum()

    n_tok = rng.integers(20, 401, size=count)
    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    total = int(bounds[-1])
    words = vocab[rng.choice(len(vocab), size=total, p=w)]
    pos = np.arange(total) - np.repeat(bounds[:-1], n_tok)
    num_mask = pos % 17 == 5
    punct_mask = pos % 11 == 3
    nums = rng.integers(0, 10000, size=int(num_mask.sum()))
    words[num_mask] = words[num_mask] + " " + nums.astype(str).astype(object)
    puncts = rng.choice(np.asarray([",", ".", ";", "(", ")"], object),
                        size=int(punct_mask.sum()))
    words[punct_mask] = words[punct_mask] + " " + puncts

    rows = []
    for j in range(count):
        i = start + j
        lang = _LANGS[i % len(_LANGS)]
        repo = f"org{i % 7}/repo{i % 23}"
        path = f"src/mod{i % 11}/file{i}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{seed}:{i}".encode()).hexdigest()
        content = " ".join(words[bounds[j]:bounds[j + 1]].tolist())
        rows.append((repo, path, commit, lang, content))
    return rows


def gen_corpus_rows(n_rows: int, seed: int = 42) -> list[tuple]:
    """(repo, path, commit, lang, content) rows, deterministic — the
    driver-side (test) path; corpus_df generates the same bytes
    chunk-parallel on executors."""
    rows: list[tuple] = []
    for s in range(0, n_rows, _CHUNK):
        rows.extend(_gen_chunk(s, min(_CHUNK, n_rows - s), seed))
    return rows


CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"


def corpus_df(spark: SparkSession, n_rows: int, seed: int = 42,
              partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: a tiny driver-side chunk manifest
    (start, count) fans out to executors, each generating its chunks
    independently — the corpus materializes cluster-parallel like an
    Iceberg table scan would, never bottlenecking on the driver."""
    import pandas as pd

    parts = partitions or spark.sparkContext.defaultParallelism
    manifest = [(s, min(_CHUNK, n_rows - s))
                for s in range(0, n_rows, _CHUNK)]
    mdf = spark.createDataFrame(manifest, "start long, cnt long") \
        .repartition(parts)

    def gen(batches):
        cols = ["repo", "path", "commit", "lang", "content"]
        for pdf in batches:
            out: list[tuple] = []
            for s, c in zip(pdf["start"], pdf["cnt"]):
                out.extend(_gen_chunk(int(s), int(c), seed))
            yield pd.DataFrame(out, columns=cols)

    return mdf.mapInPandas(gen, CORPUS_SCHEMA)


def with_doc_ids(docs: DataFrame, order_cols: tuple[str, ...] = ("repo", "path"),
                 num_partitions: int | None = None,
                 range_partition: bool = False) -> DataFrame:
    """Deterministic dense doc_id via partition-local rank + partition base
    offsets (mirrors docID rebase `doc = docMap[doc] + base`,
    src/Lucene.Net/Index/SegmentMerger.cs:819-821).

    At 10^12 scale a global sort/window is a single-reducer full pass; this
    instead (a) hash-repartitions on the natural key (deterministic for a
    fixed partition count — the partitioning spec a lineage row records for
    resume), (b) sorts within partitions, (c) one SMALL agg for per-partition
    counts -> base offsets, (d) assigns base + local rank with zero extra
    shuffles.  doc_id is dense, unique, and reproducible across runs.
    """
    from pyspark.sql import functions as F

    if "doc_id" in docs.columns:
        # the engine owns doc_id assignment; keep the source's id as a
        # stored field under orig_doc_id (and follow it in order_cols)
        docs = docs.withColumnRenamed("doc_id", "orig_doc_id")
        order_cols = tuple("orig_doc_id" if c == "doc_id" else c
                           for c in order_cols)

    np_ = num_partitions or docs.rdd.getNumPartitions()
    key = [F.col(c) for c in order_cols]
    # range_partition=True: ascending key ranges land on ascending
    # partition ids, so base+local-rank ids follow GLOBAL key order (the
    # drop-in distributed replacement for a row_number() window); hash
    # (default) spreads skewed keys better when only density matters.
    #
    # Partition identity must travel AS DATA, never via TaskContext /
    # spark_partition_id() at assignment time: a downstream operator in
    # the same stage (e.g. a union of this output with other frames)
    # renumbers task partition ids, and RangePartitioner re-samples its
    # boundaries with an RDD-id-derived seed on every re-planning — both
    # silently shift the base-offset lookup and duplicate ids (observed
    # on a 2-row update batch).
    if range_partition:
        # bake the TRUE partition id into the rows during one pinned,
        # standalone materialization; downstream jobs read frozen blocks
        part = (docs.repartitionByRange(np_, *key)
                .sortWithinPartitions(*order_cols)
                .withColumn("_pid", F.spark_partition_id().cast("long"))
                .localCheckpoint(eager=True))
    else:
        # hash placement is the pure key function pmod(murmur3(key), n) —
        # recompute it as a column expression, no pinning needed
        part = (docs.repartition(np_, *key)
                .sortWithinPartitions(*order_cols)
                .withColumn("_pid",
                            F.pmod(F.hash(*key), F.lit(np_)).cast("long")))
    counts = part.groupBy("_pid").count().collect()
    bases = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        bases[r["_pid"]] = acc
        acc += r["count"]

    from pyspark.sql import types as T

    schema = T.StructType(
        [f for f in part.schema.fields if f.name != "_pid"]
        + [T.StructField("doc_id", T.LongType(), False)]
    )
    cols = [f.name for f in schema]

    def assign(batches):
        nxt = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pids = pdf["_pid"].unique()
            if len(pids) != 1:
                raise RuntimeError(
                    f"with_doc_ids: mixed partition ids in one input "
                    f"partition ({pids[:4]}): placement drifted from the "
                    f"recorded base offsets")
            if nxt is None:
                nxt = bases.get(int(pids[0]), 0)
            pdf = pdf.copy()
            pdf["doc_id"] = range(nxt, nxt + len(pdf))
            nxt += len(pdf)
            yield pdf[cols]

    return part.mapInPandas(assign, schema)
