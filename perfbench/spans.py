"""Spans around layer calls, and Spark stage metrics rolled up per span.

A span records name, start, end, parent span and free attributes (query
class, generation).  While a span is open its id is the Spark job group,
so every job, stage and task the layer call launches can be attributed
to it from Spark's event log.  Spans stay in memory; the event log is
read once, after the Spark session has stopped.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

_GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        # off for warm-ups and, in a traced run's window, every other
        # round (the tracing-overhead comparison)
        self.active = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not (self.enabled and self.active):
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "attrs": attrs,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty(_GROUP_KEY, f"pb{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                _GROUP_KEY, f"pb{self._stack[-1]}" if self._stack else None)

    # ---- queries over the recorded spans

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def subtree(self, sid: int) -> list[int]:
        out, stack = [], [sid]
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(c["id"] for c in self.children(s))
        return out

    @staticmethod
    def dur(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict) -> float:
        """Span duration minus the part of it its children cover."""
        return self.dur(s) - _union([(c["start"], c["end"])
                                     for c in self.children(s["id"])])

    def coverage(self, op_names: set[str]) -> float:
        """Share of operation-span wall time covered by child layer spans."""
        ops = [s for s in self.spans if s["name"] in op_names]
        total = sum(self.dur(s) for s in ops)
        covered = sum(_union([(c["start"], c["end"])
                              for c in self.children(s["id"])]) for s in ops)
        return covered / total if total else 0.0

    def self_table(self) -> list[tuple[str, int, float, float]]:
        """(name, count, total s, self s) per span name."""
        agg: dict[str, list] = {}
        for s in self.spans:
            a = agg.setdefault(s["name"], [0, 0.0, 0.0])
            a[0] += 1
            a[1] += self.dur(s)
            a[2] += self.self_time(s)
        return [(k, *v) for k, v in sorted(agg.items())]


def _union(iv: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------- event log

def submit_args(event_dir: str | None) -> str:
    """PYSPARK_SUBMIT_ARGS for the benchmark's session: no console progress
    bar, and, when tracing, an uncompressed single-file event log."""
    args = ["--conf", "spark.ui.showConsoleProgress=false"]
    if event_dir:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{event_dir}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    return " ".join(args + ["pyspark-shell"])


def _new_group() -> dict:
    return {"jobs": 0, "tasks": 0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write": 0, "shuffle_read": 0, "py_bytes": 0,
            "stages": {}}


def rollup(event_dir: str) -> tuple[dict[str, dict], dict]:
    """Parse the event log in `event_dir`: per job group, jobs, tasks,
    executor CPU and GC seconds, shuffle bytes, Arrow bytes exchanged with
    Python workers, and per stage the same plus its wall time and whether
    it ran Python.  Also returns the whole-run totals."""
    files = [os.path.join(event_dir, f) for f in os.listdir(event_dir)
             if not f.startswith(".")]
    groups: dict[str, dict] = {}
    stage_group: dict[int, str | None] = {}
    total = _new_group()
    wanted = ('"SparkListenerJobStart"', '"SparkListenerStageSubmitted"',
              '"SparkListenerStageCompleted"', '"SparkListenerTaskEnd"')
    for path in files:
        with open(path) as f:
            for line in f:
                head = line[:60]
                if not any(w in head for w in wanted):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(_GROUP_KEY)
                    if g:
                        groups.setdefault(g, _new_group())["jobs"] += 1
                    total["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_group[sid] = (ev.get("Properties") or {}).get(
                        _GROUP_KEY)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g:
                        st = groups.setdefault(g, _new_group())["stages"] \
                            .setdefault(info["Stage ID"], _new_stage())
                        st["wall_s"] = (info.get("Completion Time", 0)
                                        - info.get("Submission Time", 0)) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    _add_task(ev, groups, stage_group, total)
    return groups, total


def _new_stage() -> dict:
    return {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_write": 0,
            "shuffle_read": 0, "python": False, "wall_s": 0.0}


def _add_task(ev: dict, groups: dict, stage_group: dict, total: dict) -> None:
    m = ev.get("Task Metrics") or {}
    cpu = m.get("Executor CPU Time", 0) / 1e9
    gc = m.get("JVM GC Time", 0) / 1e3
    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    sr = rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)
    py_bytes, python = 0, False
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = a.get("Name", "")
        if name in ("data sent to Python workers",
                    "data returned from Python workers"):
            py_bytes += int(a.get("Update") or 0)
        if name == "time to run Python workers":
            python = True
    targets = [total]
    g = stage_group.get(ev.get("Stage ID"))
    if g:
        grp = groups.setdefault(g, _new_group())
        targets.append(grp)
        st = grp["stages"].setdefault(ev["Stage ID"], _new_stage())
        st["cpu_s"] += cpu
        st["gc_s"] += gc
        st["shuffle_write"] += sw
        st["shuffle_read"] += sr
        st["python"] = st["python"] or python
    for t in targets:
        t["tasks"] += 1
        t["cpu_s"] += cpu
        t["gc_s"] += gc
        t["shuffle_write"] += sw
        t["shuffle_read"] += sr
        t["py_bytes"] += py_bytes


def merged(groups: dict[str, dict], span_ids: list[int]) -> dict:
    """Sum the groups of several spans (e.g. a span and its subtree)."""
    out = _new_group()
    for sid in span_ids:
        g = groups.get(f"pb{sid}")
        if g is None:
            continue
        for k in ("jobs", "tasks", "cpu_s", "gc_s",
                  "shuffle_write", "shuffle_read", "py_bytes"):
            out[k] += g[k]
        out["stages"].update(g["stages"])
    return out
