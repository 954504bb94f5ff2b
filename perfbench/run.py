"""spark-fts benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload build|search --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout of this repository.  The last line of
standard output is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}};
with --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones.  Lines before it are a human-readable summary.
perfbench/README.md explains the workloads and every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORPUS_FILES = 2000     # synthetic (repo, path, commit, lang, content) rows
STEM_EVERY = 5          # the Snowball build takes every 5th document
SETUP_REPS = 3          # set-ups per run; setup_s takes their median
TOPK = 10
UPDATE_FRAC = 0.01      # share of (repo, path) keys one update re-edits
GENERATIONS = 3         # updates before the compaction, traced run only
QUERY_ROUNDS = 40       # rounds of the query stream held ready per run
WARMUP_ROUNDS = 1       # untimed query rounds before the search window
SEARCH_ROUNDS = 2       # least number of query rounds in the search window

pc = time.perf_counter


def med(xs):
    return statistics.median(xs) if xs else 0.0


def tail_pct(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 20:
        return None
    return max(50, min(99, int(100 * (n - 10) / n)))


def pct(xs, p):
    s = sorted(xs)
    return s[min(len(s) - 1, int(round(p / 100 * (len(s) - 1))))]


# --------------------------------------------------------------- the run

class Run:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.once_s = 0.0  # set-up done once per run (search: the corpus)
        self.phase_s: dict[str, float] = {}

    # ---- bookkeeping

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {what}")

    def setup_reps(self, one_setup) -> None:
        """Run the workload's set-up SETUP_REPS times; keep the last."""
        walls = []
        for _ in range(SETUP_REPS):
            t = pc()
            one_setup()
            walls.append(pc() - t)
        self.setup_walls = walls

    def warmup(self, fn) -> None:
        """Untimed, untraced first use of a code path."""
        self.tracer.active = False
        t = pc()
        try:
            fn()
        finally:
            self.tracer.active = self.tracer.enabled
            self.phase_s["warmup"] = pc() - t

    def window(self, step, key, round_len: int = 1,
               min_rounds: int = 1) -> list[dict]:
        """Closed loop: the next operation starts when the previous one
        ends, until --seconds have passed, at least `min_rounds` rounds
        have run and the current round of `round_len` operations is
        complete, so every operation class of a round has the same sample
        count.  A traced run alternates traced and untraced rounds, at
        least one of each, for the tracing-overhead comparison."""
        from host import Window

        samples = []
        min_ops = round_len * max(min_rounds, 2 if self.tracer.enabled else 1)
        with Window() as w:
            deadline = pc() + self.args.seconds
            i = 0
            while pc() < deadline or i % round_len or i < min_ops:
                self.tracer.active = (self.tracer.enabled
                                      and (i // round_len) % 2 == 0)
                t = pc()
                try:
                    out, err = step(i), None
                except Exception as e:  # counted, reported, never fatal
                    out, err = None, f"{type(e).__name__}: {e}"[:300]
                samples.append({"i": i, "key": key(i), "wall": pc() - t,
                                "out": out, "err": err,
                                "traced": self.tracer.active})
                i += 1
        self.tracer.active = self.tracer.enabled
        self.host = w
        self.phase_s["window"] = w.wall
        return samples

    # ---- session

    def start_session(self) -> None:
        t = pc()
        from lucenenet_spark.session import get_spark
        from host import ncores
        from spans import Tracer

        self.spark = get_spark("perfbench", cpus=ncores())
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.spark.range(1).collect()
        self.session_s = pc() - t
        self.tracer = Tracer(self.sc, bool(self.args.trace))
        self.span = self.tracer.span

    def stop_session(self) -> None:
        """Stop Spark, then the JVM, then wait for every process this run
        started to end."""
        import host

        from py4j.protocol import Py4JError

        pids = host.descendants()
        gw = getattr(self.sc, "_gateway", None)
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            if gw is not None:
                try:
                    gw.shutdown()
                except Py4JError:
                    pass  # the gateway is already gone
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            deadline = pc() + 20
            while pc() < deadline and any(_alive(p) for p in pids):
                time.sleep(0.1)
            for p in pids:
                if _alive(p):
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass

    # ---- shared layer calls

    def make_corpus(self):
        from lucenenet_spark.sources.corpus import corpus_df, with_doc_ids

        with self.span("sources.corpus"):
            docs = with_doc_ids(corpus_df(self.spark, CORPUS_FILES,
                                          seed=self.args.seed)).cache()
            docs.count()
        return docs

    def build(self, docs):
        from lucenenet_spark.index.segments import build_segmented_index

        with self.span("segments.build"):
            return build_segmented_index(self.spark, docs, lang_col="lang")

    def stemmed_build(self, docs):
        from lucenenet_spark.analysis.snowball import english_snowball_analyzer
        from lucenenet_spark.index.segments import build_segmented_index

        with self.span("segments.stemmed_build"):
            return build_segmented_index(
                self.spark, docs, analyzer=english_snowball_analyzer())

    def save(self, idx, path: str) -> None:
        with self.span("segments.save"):
            idx.save(path)

    def query(self, searcher, parser, cls: str, qs: str, **attrs):
        """parse -> Searcher.search -> collect, one span per layer."""
        with self.span("query", cls=cls, qs=qs, **attrs) as rec:
            with self.span("queryparser.parse"):
                q = parser.parse(qs)
            with self.span("lowering.lower"):
                frame = searcher.search(q, TOPK)
            with self.span("lowering.execute"):
                rows = frame.collect()
            if rec is not None:
                rec["attrs"]["hits"] = len(rows)
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    def content_dfs(self, idx):
        from pyspark.sql import functions as F

        return (idx.term_stats().where(F.col("field") == "content")
                .select("term", "df").collect())

    def bands(self, idx):
        from judge import term_bands

        return term_bands(self.content_dfs(idx))

    def docs_pdf(self, docs):
        return docs.select("doc_id", "lang", "content").toPandas()


def every(docs, n: int):
    """Every n-th document by doc_id: a slice spread over all partitions."""
    from pyspark.sql import functions as F

    return docs.where(F.col("doc_id") % n == 0)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


# ------------------------------------------------------------ workloads

def workload_build(r: Run) -> dict:
    """Write path only: build + save the corpus through the default
    chain, then build a slice of it through the Snowball chain."""
    from judge import oracle_for

    state = {"docs": None}

    def setup():
        if state["docs"] is not None:
            state["docs"].unpersist()
        state["docs"] = r.make_corpus()

    r.setup_reps(setup)
    docs = state["docs"]
    stem_docs = every(docs, STEM_EVERY)
    save_dir = os.path.join(r.work, "index")
    live = {"idx": None, "sidx": None}

    def step(i, d=docs, sd=stem_docs, path=save_dir):
        for k in ("idx", "sidx"):
            if live[k] is not None:
                live[k].segments.unpersist()
        with r.span("build_op", i=i):
            live["idx"] = r.build(d)
            r.save(live["idx"], path)
            live["sidx"] = r.stemmed_build(sd)
        return None

    # the session's first build, save and Snowball build pay JIT and the
    # Python workers' imports; a small corpus slice pays them before the
    # window
    small = every(docs, 25)
    r.warmup(lambda: step(-1, small, every(small, STEM_EVERY),
                          os.path.join(r.work, "warmup")))
    samples = r.window(step, lambda i: "build")
    for s in samples:
        r.count(s["err"] is None, f"build op {s['i']}: {s['err']}")

    # ---- output check, outside every timed window
    t = pc()
    pdf = r.docs_pdf(docs)
    check_build(r, pdf, oracle_for(pdf), live["idx"], live["sidx"], save_dir)
    r.phase_s["check"] = pc() - t
    r.content_bytes = int(pdf["content"].str.encode("utf-8").str.len().sum())
    r.save_dir = save_dir
    return {"samples": samples, "idx": live["idx"], "docs": docs,
            "pdf": pdf, "unit": "build+save, Snowball build"}


def check_build(r: Run, pdf, oracle, idx, sidx, save_dir: str) -> None:
    """The last build holds the OracleIndex's df for every term and answers
    a term query like it; its saved parquet holds every
    segment row; the Snowball build answers a stemmed term query like
    DuckDB's SQL Snowball chain."""
    import pyarrow.dataset as ds

    from lucenenet_spark.analysis.snowball import porter2_stem
    from lucenenet_spark.plans import ast
    from lucenenet_spark.plans.lowering import Searcher
    from lucenenet_spark.queryparser.parser import QueryParser

    from judge import (duckdb_snowball_topk, query_stream, same_topk,
                       term_bands)

    rows = r.content_dfs(idx)
    want_df = {t: len(p) for t, p in oracle.post["content"].items()}
    r.count({x["term"]: int(x["df"]) for x in rows} == want_df,
            "built index, df of every term")
    bands = term_bands(rows)
    parser = QueryParser(default_field="content")
    s = Searcher(idx)
    for cls, qs in query_stream(bands, r.args.seed, 1):
        if cls == "term":
            got = r.query(s, parser, cls, qs, phase="check")
            r.count(same_topk(got, oracle.top_k(parser.parse(qs), TOPK)),
                    f"built index, {cls} {qs!r}")
    saved = ds.dataset(os.path.join(save_dir, "segments"),
                       format="parquet").count_rows()
    r.count(saved == idx.segments.count(), "saved segment rows")
    stem = porter2_stem(bands["mid"][0])
    rows = Searcher(sidx).search(ast.Term(stem, field="content"),
                                 TOPK).collect()
    got = [(int(x["doc_id"]), float(x["score"])) for x in rows]
    stem_pdf = pdf[pdf["doc_id"] % STEM_EVERY == 0]
    r.count(same_topk(got, duckdb_snowball_topk(stem_pdf, stem, TOPK)),
            f"Snowball index, term {stem!r}")


def workload_search(r: Run) -> dict:
    """Read path only: a seeded stream of parsed queries against a warm,
    cached index."""
    from lucenenet_spark.plans.lowering import Searcher
    from lucenenet_spark.queryparser.parser import QueryParser

    from judge import CLASSES, oracle_for, query_stream, same_topk

    t = pc()
    docs = r.make_corpus()
    r.once_s = pc() - t
    state = {"idx": None}

    def setup():
        if state["idx"] is not None:
            state["idx"].unpersist_derived()
            state["idx"].segments.unpersist()
        state["idx"] = r.build(docs)
        with r.span("segments.term_stats"):
            state["idx"].term_stats().count()

    r.setup_reps(setup)
    idx = state["idx"]
    parser = QueryParser(default_field="content")
    searcher = Searcher(idx)
    bands = r.bands(idx)
    stream = query_stream(bands, r.args.seed, QUERY_ROUNDS)

    def step(i):
        cls, qs = stream[i % len(stream)]
        return r.query(searcher, parser, cls, qs, i=i)

    # the first use of each query plan pays JIT and the decode UDFs'
    # worker imports; one untimed round of every class keeps that out of
    # the window
    warm = query_stream(bands, r.args.seed + 3, WARMUP_ROUNDS)
    r.warmup(lambda: [r.query(searcher, parser, *q) for q in warm])

    samples = r.window(step, lambda i: stream[i % len(stream)][0],
                       round_len=len(CLASSES), min_rounds=SEARCH_ROUNDS)

    # ---- output check, outside every timed window
    t = pc()
    pdf = r.docs_pdf(docs)
    oracle = oracle_for(pdf)
    want: dict[str, list] = {}
    for s in samples:
        qs = stream[s["i"] % len(stream)][1]
        if s["err"] is not None:
            r.count(False, f"{s['key']} {qs!r}: {s['err']}")
            continue
        if qs not in want:
            want[qs] = oracle.top_k(parser.parse(qs), TOPK)
        r.count(same_topk(s["out"], want[qs]), f"{s['key']} {qs!r}")
    r.content_bytes = int(pdf["content"].str.encode("utf-8").str.len().sum())
    r.phase_s["check"] = pc() - t
    return {"samples": samples, "idx": idx, "docs": docs, "pdf": pdf,
            "unit": "query"}


WORKLOADS = {"build": workload_build, "search": workload_search}


# ------------------------------------------------------------ traced tour

def layer_tour(r: Run, res: dict) -> dict:
    """Traced run only, after the window and its check: call every layer
    the workload's window did not, so each traced run reports every
    per-layer metric.  Ends with the update generations, the compaction
    and the check of the compacted generation against the oracle over
    the live documents."""
    from pyspark.sql import functions as F

    from lucenenet_spark.index.segments import expunge_deletes, update_documents
    from lucenenet_spark.plans.lowering import Searcher
    from lucenenet_spark.queryparser.parser import QueryParser
    from lucenenet_spark.sources.corpus import CORPUS_SCHEMA

    from judge import oracle_for, query_stream, same_topk

    tr = r.tracer
    idx, docs, pdf = res["idx"], res["docs"], res["pdf"]
    parser = QueryParser(default_field="content")
    if not tr.named("segments.term_stats"):
        with r.span("segments.term_stats"):
            idx.term_stats().count()
    bands = r.bands(idx)

    # per query class, the first traced query on this index (run here if
    # the window had none), then a decode probe: that query's postings
    # decoded and counted, outside the query span
    searcher = Searcher(idx)
    decode = []
    for cls, qs in query_stream(bands, r.args.seed + 1, 1):
        seen = [s["attrs"] for s in tr.named("query")
                if s["attrs"]["cls"] == cls and "hits" in s["attrs"]]
        if seen:
            qs, hits = seen[0]["qs"], seen[0]["hits"]
        else:
            hits = len(r.query(searcher, parser, cls, qs, phase="tour"))
        words = [w.strip('+"*') for w in qs.split()]
        view = idx.postings if cls == "phrase" else idx.postings_nopos
        pred = (F.col("term").startswith(words[0]) if cls == "prefix"
                else F.col("term").isin(words))
        with r.span("segments.decode", cls=cls):
            n = view.where((F.col("field") == "content") & pred).count()
        decode.append((cls, n, hits))

    if not tr.named("segments.save"):
        r.save(idx, os.path.join(r.work, "index"))
        r.save_dir = os.path.join(r.work, "index")
    if not tr.named("segments.stemmed_build"):
        r.stemmed_build(every(docs, STEM_EVERY)).segments.unpersist()

    # update generations: re-edit a seeded 1% of (repo, path) keys, then
    # query the new generation; after GENERATIONS, one compaction
    rng = random.Random(r.args.seed * 7919 + 1)
    probe = ("term", bands["hot"][0])
    gens = []

    def gen_query(g):
        t = pc()
        rows = r.query(Searcher(idx), parser, *probe, phase="update", gen=g)
        return 1e3 * (pc() - t), rows

    with r.span("segments.segment_count", gen=0):
        nseg = idx.n_segments()
    gens.append({"gen": 0, "segments": nseg, "tomb_ms": None,
                 "query_ms": gen_query(0)[0]})
    cols = ["repo", "path", "commit", "lang", "content"]
    base = docs.select(*cols).toPandas()
    n_edit = max(1, int(UPDATE_FRAC * len(base)))
    for g in range(1, GENERATIONS + 1):
        batch = base.iloc[sorted(rng.sample(range(len(base)), n_edit))].copy()
        batch["content"] = batch["content"] + f" edited gen{g} " + \
            " ".join(rng.sample(bands["mid"], 3))
        new_docs = r.spark.createDataFrame(batch[cols], CORPUS_SCHEMA)
        with r.span("segments.update", gen=g):
            idx = update_documents(idx, new_docs, ["repo", "path"],
                                   "content", lang_col="lang")
        t = pc()
        with r.span("deletes.tombstones_eval", gen=g):
            idx.tombstones.count()
        tomb_ms = 1e3 * (pc() - t)
        with r.span("segments.segment_count", gen=g):
            nseg = idx.n_segments()
        gens.append({"gen": g, "segments": nseg, "tomb_ms": tomb_ms,
                     "query_ms": gen_query(g)[0]})

    rewritten = rows_in_deleted_segments(idx)
    with r.span("segments.expunge"):
        idx = expunge_deletes(idx)
    compacted_ms, got = gen_query("compacted")

    # the compacted generation against the oracle over the live documents
    live = idx.stored.select("doc_id", "lang", "content").toPandas()
    want = oracle_for(live).top_k(parser.parse(probe[1]), TOPK)
    r.count(same_topk(got, want), f"compacted generation, {probe}")
    return {"decode": decode, "gens": gens, "rewritten": rewritten,
            "compacted_ms": compacted_ms}


def rows_in_deleted_segments(idx) -> int:
    """Segment rows the compaction kernel decodes: every row of a segment
    that holds a deleted document.  Segment doc ranges come from the
    block metadata, as the deletes layer derives them."""
    import bisect

    from pyspark.sql import functions as F

    per_seg = (idx.segments
               .groupBy("seg_id")
               .agg(F.count("*").alias("n"),
                    F.max(F.element_at("blocks", -1)["last_doc"]).alias("hi"))
               .collect())
    per_seg = sorted((int(x["hi"]), int(x["n"])) for x in per_seg
                     if x["hi"] is not None)
    his = [h for h, _ in per_seg]
    hit = {bisect.bisect_left(his, int(x[0]))
           for x in idx.tombstones.collect()}
    return sum(per_seg[j][1] for j in hit if j < len(per_seg))


# ------------------------------------------------------------ metrics

def class_medians(samples) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for s in samples:
        if s["err"] is None:
            by.setdefault(s["key"], []).append(s["wall"])
    return {k: med(v) for k, v in by.items()}


def end_to_end(r: Run, res: dict) -> dict:
    """Class-balanced: each operation class (one for build, five query
    classes for search) weighs the same whatever its count in the run."""
    meds = list(class_medians(res["samples"]).values())
    return {
        "setup_s": (r.session_s + r.once_s + med(r.setup_walls), "s"),
        "op_p50_ms": (1e3 * statistics.geometric_mean(meds)
                      if meds else 0.0, "ms"),
        "ops_per_s": (1.0 / statistics.mean(meds) if meds else 0.0, "1/s"),
    }


def per_layer(r: Run, res: dict, tour: dict, groups: dict, total: dict,
              probes: dict) -> dict:
    import pyarrow.dataset as ds

    from judge import CLASSES
    from spans import merged

    tr = r.tracer
    dur = tr.dur

    def ms(name):
        return 1e3 * med([dur(s) for s in tr.named(name)])

    def sec(name):
        return med([dur(s) for s in tr.named(name)])

    def sub(s):
        return merged(groups, tr.subtree(s["id"]))

    builds = [sub(s) for s in tr.named("segments.build")]

    def stage_sum(g, pick, field):
        return sum(st[field] for st in g["stages"].values() if pick(st))

    def invert(st):
        return st["python"] and st["shuffle_write"] > 0 \
            and st["shuffle_read"] == 0

    def merge(st):
        return st["python"] and st["shuffle_read"] > 0

    def other(st):
        return not (invert(st) or merge(st))

    # queries on an index without deletes (the update tour's excluded)
    queries = [s for s in tr.named("query")
               if s["attrs"].get("phase") != "update"]
    qsub = [sub(s) for s in queries]

    def q_ms(name):
        return 1e3 * med([dur(c) for s in queries for c in tr.children(s["id"])
                          if c["name"] == name])

    seg_dir = os.path.join(r.save_dir, "segments")
    term_rows = ds.dataset(seg_dir, format="parquet").count_rows()
    bytes_at_rest = _dir_bytes(seg_dir)
    decoded = sum(n for _, n, _ in tour["decode"])
    hits = sum(h for _, _, h in tour["decode"])
    updates = [sub(s) for s in tr.named("segments.update")]
    gens = tour["gens"]
    traced = [s for s in res["samples"] if s["traced"] and s["err"] is None]
    untraced = [s for s in res["samples"]
                if not s["traced"] and s["err"] is None]
    keys = sorted({s["key"] for s in traced} & {s["key"] for s in untraced})
    t_sum = sum(med([s["wall"] for s in traced if s["key"] == k])
                for k in keys)
    u_sum = sum(med([s["wall"] for s in untraced if s["key"] == k])
                for k in keys)

    m = {
        "session.start_s": (r.session_s, "s"),
        "sources.corpus_gen_s": (sec("sources.corpus"), "s"),
        "analysis.tokens_per_s": (probes["tokens_per_s"], "1/s"),
        "analysis.stem_tokens_per_s": (probes["stem_tokens_per_s"], "1/s"),
        "segments.build_s": (sec("segments.build"), "s"),
        "segments.invert.executor_cpu_s": (
            med([stage_sum(g, invert, "cpu_s") for g in builds]), "s"),
        "segments.invert.gc_s": (
            med([stage_sum(g, invert, "gc_s") for g in builds]), "s"),
        "segments.merge.executor_cpu_s": (
            med([stage_sum(g, merge, "cpu_s") for g in builds]), "s"),
        "segments.shuffle_write_bytes": (
            med([g["shuffle_write"] for g in builds]), "bytes"),
        "segments.stats_s": (
            med([stage_sum(g, other, "wall_s") for g in builds]), "s"),
        "segments.stemmed_build_s": (sec("segments.stemmed_build"), "s"),
        "segments.save_s": (sec("segments.save"), "s"),
        "segments.bytes_at_rest": (bytes_at_rest, "bytes"),
        "segments.term_rows": (term_rows, "count"),
        "segments.bytes_per_content_byte": (
            bytes_at_rest / r.content_bytes, "ratio"),
        "segments.term_stats_ms": (ms("segments.term_stats"), "ms"),
        "queryparser.parse_ms": (q_ms("queryparser.parse"), "ms"),
        "lowering.lower_ms": (q_ms("lowering.lower"), "ms"),
        "lowering.execute_ms": (q_ms("lowering.execute"), "ms"),
        "lowering.spark_jobs_per_query": (
            statistics.mean(g["jobs"] for g in qsub), "count"),
        "lowering.tasks_per_query": (
            statistics.mean(g["tasks"] for g in qsub), "count"),
        "lowering.executor_cpu_ms_per_query": (
            1e3 * statistics.mean(g["cpu_s"] for g in qsub), "ms"),
        "segments.python_udf_bytes_per_query": (
            statistics.mean(g["py_bytes"] for g in qsub), "bytes"),
        "segments.decode_ms": (ms("segments.decode"), "ms"),
        "segments.postings_per_hit": (decoded / max(1, hits), "ratio"),
        "segments.update_s": (sec("segments.update"), "s"),
        "segments.update.invert_executor_cpu_s": (
            med([stage_sum(g, lambda st: st["python"], "cpu_s")
                 for g in updates]), "s"),
        "deletes.tombstones_eval_ms": (gens[-1]["tomb_ms"], "ms"),
        "segments.segment_count": (gens[-1]["segments"], "count"),
        "segments.expunge_s": (sec("segments.expunge"), "s"),
        "segments.expunge_rows_rewritten": (tour["rewritten"], "count"),
        "update.compacted.query_ms": (tour["compacted_ms"], "ms"),
        "spark.gc_s": (total["gc_s"], "s"),
        "proc.peak_rss_mb": (r.peak_rss_mb, "MB"),
        "host.cotenant_cpu_frac": (r.host.cotenant_frac, "ratio"),
        "trace.span_coverage": (tr.coverage({"query", "build_op"}), "ratio"),
        "trace.overhead_frac": (t_sum / u_sum - 1 if u_sum else 0.0,
                                "ratio"),
    }
    for cls in CLASSES:
        m[f"query.{cls}_p50_ms"] = (1e3 * med(
            [dur(s) for s in queries if s["attrs"].get("cls") == cls]), "ms")
    for g in gens:
        m[f"update.gen{g['gen']}.query_ms"] = (g["query_ms"], "ms")
        m[f"update.gen{g['gen']}.segment_count"] = (g["segments"], "count")
        if g["tomb_ms"] is not None:
            m[f"update.gen{g['gen']}.tombstones_eval_ms"] = (g["tomb_ms"],
                                                             "ms")
    return m


def analysis_probes(pdf, seed: int) -> dict:
    """In-process analysis throughput over a seeded sample of documents:
    the lang-keyed standard/code chain and the English Snowball chain."""
    from lucenenet_spark.analysis.snowball import english_snowball_analyzer
    from lucenenet_spark.analysis.tokenizers import tokenize

    rng = random.Random(seed)
    rows = [pdf.iloc[i] for i in sorted(rng.sample(range(len(pdf)), 150))]
    stem = english_snowball_analyzer()

    def rate(fn):
        rates = []
        for _ in range(3):
            t, n = pc(), 0
            for row in rows:
                n += len(fn(row))
            rates.append(n / (pc() - t))
        return med(rates)

    return {"tokens_per_s": rate(lambda row: tokenize(row["content"],
                                                      row["lang"])),
            "stem_tokens_per_s": rate(lambda row: stem(row["content"]))}


# ------------------------------------------------------------ main

def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "lucenenet_spark")):
        print(f"perfbench: no lucenenet_spark package under {ROOT}; run "
              "from the root of a checkout of the repository",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    events = os.path.join(work, "events")
    # the engine and its Python workers import from this checkout; Spark,
    # the JVM and Python keep their scratch files inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    # -XX:-UsePerfData: no hsperfdata file under the system /tmp
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]
    from spans import rollup, submit_args
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(
        events if args.trace else None)

    r = Run(args, work)
    try:
        r.start_session()
        tour = probes = None
        try:
            res = WORKLOADS[args.workload](r)
            if args.trace:
                import host
                tour = layer_tour(r, res)
                probes = analysis_probes(res["pdf"], args.seed)
                r.peak_rss_mb = host.peak_rss_mb()
        finally:
            t = pc()
            r.stop_session()
            r.phase_s["stop"] = pc() - t
        if args.trace:
            groups, total = rollup(events)
            metrics = per_layer(r, res, tour, groups, total, probes)
        else:
            metrics = end_to_end(r, res)
        report(r, res, tour, metrics)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def report(r: Run, res: dict, tour: dict | None, metrics: dict) -> None:
    walls = [s["wall"] for s in res["samples"] if s["err"] is None]
    n = len(walls)
    print(f"workload={r.args.workload} seed={r.args.seed} "
          f"files={CORPUS_FILES} op=({res['unit']}) ops={n} "
          f"trace={r.args.trace}")
    if walls:
        tp = tail_pct(n)
        tail = f" p{tp}={1e3 * pct(walls, tp):.1f}ms" if tp else ""
        print(f"op latency: p50={1e3 * med(walls):.1f}ms{tail} n={n}")
    if r.args.workload == "search":
        by = {}
        for s in res["samples"]:
            if s["err"] is None:
                by.setdefault(s["key"], []).append(s["wall"])
        print("per class p50 ms: " + " ".join(
            f"{k}={1e3 * med(v):.0f}(n={len(v)})" for k, v in sorted(by.items())))
    print(f"setup: session={r.session_s:.2f}s once={r.once_s:.2f}s reps="
          + ",".join(f"{w:.2f}" for w in r.setup_walls) + "s")
    print("phases: " + " ".join(f"{k}={v:.2f}s" for k, v in r.phase_s.items()))
    print(f"host: cotenant_cpu_frac={r.host.cotenant_frac:.4f} "
          f"{'clean' if r.host.clean else 'dirty'}")
    if tour:
        for g in tour["gens"]:
            tomb = "-" if g["tomb_ms"] is None else f"{g['tomb_ms']:.0f}"
            print(f"generation {g['gen']}: segments={g['segments']} "
                  f"tombstones_eval_ms={tomb} query_ms={g['query_ms']:.0f}")
        print(f"compacted: query_ms={tour['compacted_ms']:.0f}")
        for name, cnt, tot, self_s in r.tracer.self_table():
            print(f"span {name}: n={cnt} total={tot:.3f}s self={self_s:.3f}s")
    for note in r.notes:
        print(note)
    frac = r.failed / r.attempted if r.attempted else 1.0
    print(f"ops_failed_frac={frac:.4f} ({r.failed}/{r.attempted})")
    print(json.dumps({
        "correct": r.failed == 0 and r.attempted > 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    sys.exit(main())
