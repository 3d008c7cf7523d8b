"""Spans around calls into the program's layers, plus their Spark stage rows.

A span records name, start, end, parent span and request id. Spans live in
memory; `rows()` turns them into the layer report at the end of a run. With
tracing off, `span()` yields at once and records nothing.

Stage rows come from the AppStatusStore (works with the UI off): each span
runs its Spark jobs under its own job group, so after the listener bus has
drained, the jobs of a span are `jobsList` rows whose jobGroup is the span's
and their stages are `stageList` rows. A span's inclusive figures add its
descendants' groups; its self time is its duration minus the part of it its
children cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

STAGE_FIELDS = ("jobs", "stages", "exec_run_s", "exec_cpu_s", "shuffle_write_b", "spill_b")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    rid: str
    t0: float
    t1: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._stage_rows: dict[str, dict] = {}
        self._jobs_seen: set[int] = set()
        self.rid = ""

    @staticmethod
    def _group(sid: int) -> str:
        return f"perfbench-span-{sid}"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.sid if parent else None, self.rid, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(self._group(s.sid), name)
        s.t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(self._group(parent.sid), parent.name)

    def materialize(self, df):
        """Force a lazy layer's output at its span boundary (traced runs only)."""
        return df.localCheckpoint(eager=True) if self.enabled else df

    def collect_stage_rows(self) -> None:
        """Read the job and stage rows of every span group so far. Call it
        outside timed code, before the status store evicts old rows."""
        if not self.enabled:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        by_stage = {}
        for i in range(stages.size()):
            st = stages.apply(i)
            if str(st.status()) == "SKIPPED":
                continue
            row = by_stage.setdefault(st.stageId(), [0.0, 0.0, 0, 0])
            row[0] += st.executorRunTime() / 1e3
            row[1] += st.executorCpuTime() / 1e9
            row[2] += st.shuffleWriteBytes()
            row[3] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if job.jobId() in self._jobs_seen or not g.isDefined():
                continue
            if not str(g.get()).startswith("perfbench-span-"):
                continue
            self._jobs_seen.add(job.jobId())
            agg = self._stage_rows.setdefault(str(g.get()), dict.fromkeys(STAGE_FIELDS, 0))
            agg["jobs"] += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                row = by_stage.get(ids.apply(k))
                if row is None:
                    continue
                agg["stages"] += 1
                agg["exec_run_s"] += row[0]
                agg["exec_cpu_s"] += row[1]
                agg["shuffle_write_b"] += row[2]
                agg["spill_b"] += row[3]

    def rows(self) -> list[dict]:
        """One dict per span: wall/self time, inclusive stage figures, counts."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)

        def stage_totals(s: Span) -> dict:
            own = self._stage_rows.get(self._group(s.sid), {})
            tot = {k: own.get(k, 0) for k in STAGE_FIELDS}
            for c in children.get(s.sid, []):
                for k, v in stage_totals(c).items():
                    tot[k] += v
            return tot

        out = []
        for s in self.spans:
            covered, end = 0.0, s.t0
            for c in sorted(children.get(s.sid, []), key=lambda c: c.t0):
                lo, hi = max(c.t0, end), min(c.t1, s.t1)
                if hi > lo:
                    covered += hi - lo
                    end = hi
            out.append({
                "span": s.sid, "name": s.name, "parent": s.parent, "rid": s.rid,
                "start_s": s.t0, "end_s": s.t1, "wall_s": s.t1 - s.t0,
                "self_s": s.t1 - s.t0 - covered, **stage_totals(s), **s.counts,
            })
        return out
