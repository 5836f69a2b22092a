"""Spans around the harness's calls into each kioss_spark layer, with the
Spark work each span caused.

Attribution: every span runs its calls under its own Spark job group
(``SparkContext.setJobGroup``).  PySpark pins each Python thread to its
own JVM thread by default, so job groups are per thread and concurrent
clients never see each other's jobs.  A span's own jobs are the jobs of
its group; its inclusive work adds the work of its child spans.  The
numbers come from Spark's own status store
(``sc._jsc.sc().statusStore().lastStageAttempt(id)``), which is populated
with the UI disabled.  Collection happens once, after the measured
window, so a traced run pays only the job-group property calls inside
the window.

With tracing off, ``Tracer.span`` yields ``None`` and touches neither
Spark nor the span list.
"""

from __future__ import annotations

import itertools
import math
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator, Optional

from .stats import self_time

#: work field -> ``v1.StageData`` getter
_STAGE_FIELDS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "output_records": "outputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_read_records": "shuffleReadRecords",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "spill_bytes": "diskBytesSpilled",
}

WORK_KEYS = ("jobs", "stages") + tuple(_STAGE_FIELDS)


def empty_work() -> dict:
    return {k: 0 for k in WORK_KEYS}


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    thread: int
    attrs: dict
    group: str = ""
    start: float = 0.0
    end: float = 0.0
    #: extra job groups whose jobs this span caused (a streaming query
    #: runs its micro-batches under its own ``runId`` group)
    extra_groups: list = field(default_factory=list)
    work: dict = field(default_factory=empty_work)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._sc = None
        self._collected = False
        #: job groups are unique per tracer, never shared with another run
        self._prefix = f"kbench-{uuid.uuid4().hex[:8]}"

    def bind(self, sc) -> None:
        """Use ``sc`` for job groups from now on (``None`` while no live
        SparkContext exists, e.g. across a session restart)."""
        self._sc = sc

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sp = Span(sid, name, parent.id if parent else None, threading.get_ident(), attrs)
        sp.group = f"{self._prefix}-{sid}"
        sc = self._sc
        if sc is not None:
            sc.setJobGroup(sp.group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if sc is not None and self._sc is sc:
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                self.spans.append(sp)

    # ------------------------------------------------------------ collection

    def collect(self, sc) -> None:
        """Fill every span's own ``work`` from the status store.  Call after
        the measured window, with the SparkContext the spans ran under."""
        if not self.enabled or self._collected:
            return
        self._collected = True
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(30000)
        except Exception:  # noqa: BLE001 - older signature: best effort
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs_by_span: dict[int, list[int]] = {}
        stage_owner: dict[int, int] = {}
        job_stages: dict[int, list[int]] = {}
        for sp in self.spans:
            jids: list[int] = []
            for g in [sp.group, *sp.extra_groups]:
                jids.extend(int(j) for j in tracker.getJobIdsForGroup(g))
            jobs_by_span[sp.id] = jids
            for jid in jids:
                info = tracker.getJobInfo(jid)
                sids = [int(s) for s in info.stageIds] if info is not None else []
                job_stages[jid] = sids
                for s in sids:
                    # a stage belongs to the first job that ran it; later
                    # jobs that reuse its shuffle list it as skipped
                    stage_owner[s] = min(jid, stage_owner.get(s, jid))
        stage_work: dict[int, dict] = {}
        for s, owner in stage_owner.items():
            try:
                sd = store.lastStageAttempt(s)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            stage_work[s] = {k: int(getattr(sd, m)()) for k, m in _STAGE_FIELDS.items()}
        for sp in self.spans:
            w = sp.work
            for jid in jobs_by_span[sp.id]:
                w["jobs"] += 1
                for s in job_stages.get(jid, ()):
                    if stage_owner.get(s) != jid or s not in stage_work:
                        continue
                    w["stages"] += 1
                    for k, v in stage_work[s].items():
                        w[k] += v

    # ------------------------------------------------------------ queries

    def named(self, name: str, lo: float = -math.inf, hi: float = math.inf) -> list[Span]:
        """Spans called ``name`` that started in ``[lo, hi)``."""
        return [s for s in self.spans if s.name == name and lo <= s.start < hi]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def inclusive(self, span: Span, kids: Optional[dict] = None) -> dict:
        """Own work plus the work of every descendant span."""
        kids = self.children() if kids is None else kids
        total = dict(span.work)
        for c in kids.get(span.id, ()):
            for k, v in self.inclusive(c, kids).items():
                total[k] += v
        return total

    def self_seconds(self, span: Span, kids: Optional[dict] = None) -> float:
        kids = self.children() if kids is None else kids
        return self_time(span.start, span.end, [(c.start, c.end) for c in kids.get(span.id, ())])

    def dump(self) -> list[dict]:
        """Spans as plain dicts (times relative to the first span)."""
        t0 = min((s.start for s in self.spans), default=0.0)
        kids = self.children()
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent,
                "thread": s.thread,
                "start_s": round(s.start - t0, 6),
                "end_s": round(s.end - t0, 6),
                "self_s": round(self.self_seconds(s, kids), 6),
                "attrs": s.attrs,
                "work": s.work,
            }
            for s in sorted(self.spans, key=lambda s: s.start)
        ]
