"""Types shared by the workloads."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

from .env import RunDir
from .session import Session
from .trace import Tracer


@dataclass
class Ctx:
    seed: int
    seconds: float
    smoke: bool
    run: RunDir
    tracer: Tracer
    session: Session
    cpus: int


@dataclass
class Op:
    """One operation a user issues and waits for."""

    kind: str
    start: float = 0.0
    end: float = 0.0
    error: Optional[str] = None
    #: False once the correctness check finds a wrong output
    correct: bool = True
    out: Any = None
    info: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def failed(self) -> bool:
        return self.error is not None or not self.correct


class timed_op:
    """``with timed_op(op):`` — times the block into ``op`` and records an
    exception as the op's failure instead of raising it."""

    def __init__(self, op: Op) -> None:
        self.op = op

    def __enter__(self) -> Op:
        self.op.start = time.perf_counter()
        return self.op

    def __exit__(self, et, ev, tb) -> bool:
        self.op.end = time.perf_counter()
        if et is None:
            return False
        if not issubclass(et, Exception):
            return False
        self.op.error = "".join(traceback.format_exception_only(et, ev)).strip()[:500]
        return True


@dataclass
class Result:
    #: the timed user operations (latency percentiles and throughput)
    ops: list
    #: measured window, seconds
    window_s: float
    #: ``time.perf_counter()`` at the window's start
    t0: float
    #: further checked operations outside the latency sample (commits,
    #: drains, final-state checks)
    extra_ops: list = field(default_factory=list)
    #: workload-specific metrics: name -> (value, unit)
    detail: dict = field(default_factory=dict)
    #: inputs to the per-layer metrics that spans cannot see
    layer: dict = field(default_factory=dict)
    #: process-tree CPU seconds used during the window
    cpu_s: float = 0.0
    #: Spark-free correctness check, run while the session shuts down
    check: Optional[Callable[[], None]] = None

    @property
    def all_ops(self) -> list:
        return list(self.ops) + list(self.extra_ops)
