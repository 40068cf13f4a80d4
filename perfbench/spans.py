"""Spans recorded from the benchmark's own files around calls into each
layer, joined at the end with Spark's per-stage metrics.

A span is (name, parent, start, end). Each span sets the Spark job group
to its name, so jobs submitted from the calling thread carry it; jobs that
an engine function submits from its own worker threads carry no group and
are charged to the innermost span open when they were submitted (the
benchmark keeps one call in flight, so nothing else runs then). Stage
metrics come from the driver's status store, which is kept with the UI
disabled. Spans stay in memory until ``finish``.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

MB = float(1 << 20)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        self.sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._open.pop()
            if self._open:
                outer = self.spans[self._open[-1]]["name"]
                self.sc.setJobGroup(outer, outer)
            else:
                self.sc._jsc.clearJobGroup()

    def wall(self, name: str) -> float:
        return sum(s["wall_s"] for s in self.spans if s["name"] == name)

    def finish(self) -> list[dict]:
        """Charge every job to a span, sum its stages' metrics, and compute
        each span's self time (wall minus its children's walls)."""
        jobs = _jobs(self.sc)
        stages = _stages(self.sc)
        for s in self.spans:
            s.update(jobs=0, exec_s=0.0, shuffle_mb=0.0, spill_mb=0.0, written_mb=0.0)
            s["self_s"] = s["wall_s"]
        by_name = {s["name"]: s for s in self.spans}
        claimed: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["id"]):
            owner = by_name.get(job["group"]) or self._at(job["submitted"])
            if owner is None:
                continue
            owner["jobs"] += 1
            for sid in job["stages"]:
                m = stages.get(sid)
                if m is None or sid in claimed:
                    continue
                claimed.add(sid)
                owner["exec_s"] += m["exec_ms"] / 1000.0
                owner["shuffle_mb"] += m["shuffle_write"] / MB
                owner["spill_mb"] += m["spill"] / MB
                owner["written_mb"] += m["output"] / MB
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["wall_s"]
        return self.spans

    def _at(self, t: float) -> dict | None:
        inner = None
        for s in self.spans:
            if s["start"] <= t <= s.get("end", float("inf")):
                inner = s  # later-opened spans are nested deeper
        return inner


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _jobs(sc) -> list[dict]:
    out = []
    for j in _seq(sc._jsc.sc().statusStore().jobsList(None)):
        sub = j.submissionTime()
        grp = j.jobGroup()
        out.append(
            {
                "id": j.jobId(),
                "group": grp.get() if grp.isDefined() else None,
                "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
                "stages": list(_seq(j.stageIds())),
            }
        )
    return out


def _stages(sc) -> dict[int, dict]:
    """Metrics of every stage that ran (skipped stages reuse another
    stage's shuffle output and are left out)."""
    gw = sc._gateway
    store = sc._jsc.sc().statusStore()
    out = {}
    for st in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
        if st.status().toString() == "SKIPPED":
            continue
        out[st.stageId()] = {
            "exec_ms": st.executorRunTime(),
            "shuffle_write": st.shuffleWriteBytes(),
            "spill": st.diskBytesSpilled(),
            "output": st.outputBytes(),
        }
    return out
