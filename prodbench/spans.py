"""Spans around the benchmark's calls into each product layer, and the
Spark stage metrics of the jobs each span ran.

A span is (id, name, op, parent, start, end).  Spans live in memory and
are written out once, when the run ends.  Each span labels its jobs
with ``setJobGroup``; after an op, one pass over the status store
(``sparkContext._jsc.sc().statusStore()``, which works with the UI off)
attributes every job to a span — by its group, or, for jobs submitted
from threads that do not inherit the group (the vocabulary fit's
thread pool), to the innermost span open when the job was submitted —
and every completed stage to the first job that ran it.

A span's layer is its name up to the first dot (``pipeline.write`` →
``pipeline``).  A layer's self time is the wall time of its spans minus
the part covered by child spans.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.op: str | None = None

    def _group(self, span_id: int) -> str:
        return f"bench-span-{span_id}"

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "op": self.op,
            "parent": self._open[-1] if self._open else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(sid)
        self.sc.setJobGroup(self._group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._group(self._open[-1]), "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    # ------------------------------------------------------ stage metrics

    def collect_stages(self, op: str) -> None:
        """Attach per-span Spark job/stage metrics to the spans of `op`."""
        spans = [s for s in self.spans if s["op"] == op]
        if not spans:
            return
        by_group = {self._group(s["id"]): s for s in spans}
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        t_lo = min(s["start"] for s in spans) * 1000
        t_hi = max(s["end"] for s in spans) * 1000
        for s in spans:
            s.update(jobs=0, stages=0, single_task_stages=0, tasks=0,
                     exec_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
                     max_task_s=0.0)
        owner: dict[int, dict] = {}  # stage id -> span of its first job
        for job in sorted(
            conv.asJava(store.jobsList(jvm.java.util.ArrayList())),
            key=lambda j: j.jobId(),
        ):
            sub = job.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime()
            if not t_lo <= t <= t_hi:
                continue
            grp = job.jobGroup()
            span = by_group.get(grp.get()) if grp.isDefined() else None
            if span is None:
                span = _innermost(spans, t / 1000)
            if span is None:
                continue
            span["jobs"] += 1
            for sid in conv.asJava(job.stageIds()):
                owner.setdefault(int(sid), span)
        q = self.sc._gateway.new_array(jvm.double, 1)
        q[0] = 1.0
        for st in conv.asJava(
            store.stageList(
                jvm.java.util.ArrayList(), False, False,
                self.sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
        ):
            span = owner.get(st.stageId())
            if span is None or st.status().toString() != "COMPLETE":
                continue
            n = st.numCompleteTasks()
            span["stages"] += 1
            span["single_task_stages"] += int(n == 1)
            span["tasks"] += n
            span["exec_s"] += st.executorRunTime() / 1000.0
            span["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            span["spill_mb"] += st.diskBytesSpilled() / _MB
            summary = store.taskSummary(st.stageId(), st.attemptId(), q)
            if summary.isDefined():
                longest = summary.get().executorRunTime().apply(0) / 1000.0
                span["max_task_s"] = max(span["max_task_s"], longest)

    # ----------------------------------------------------------- reports

    def self_seconds(self, span: dict) -> float:
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        )
        covered, edge = 0.0, span["start"]
        for a, b in kids:
            a, b = max(a, edge), min(b, span["end"])
            if b > a:
                covered += b - a
                edge = b
        return span["end"] - span["start"] - covered

    def layers(self, op: str) -> dict[str, dict]:
        """Per layer of `op`: self time plus the stage metrics of the
        jobs its own spans ran (children excluded)."""
        out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["op"] != op:
                continue
            layer = out[s["name"].split(".")[0]]
            layer["spans"] += 1
            layer["self_s"] += self.self_seconds(s)
            layer["wall_s"] += s["end"] - s["start"]
            for k in ("jobs", "stages", "single_task_stages", "tasks",
                      "exec_s", "shuffle_write_mb", "spill_mb"):
                layer[k] += s.get(k, 0)
            layer["max_task_s"] = max(layer["max_task_s"], s.get("max_task_s", 0.0))
        return {k: dict(v) for k, v in out.items()}

    def descendants(self, span: dict) -> list[dict]:
        out, frontier = [], [span["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out += kids
            frontier = [s["id"] for s in kids]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(dict(extra, spans=self.spans), f, indent=1, default=str)


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best
