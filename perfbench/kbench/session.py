"""The run's SparkSession: start, package shipping, timed set-up, teardown."""

from __future__ import annotations

import time
from typing import Any, Callable

from . import env
from .trace import Tracer


class Session:
    def __init__(self, tracer: Tracer, app: str) -> None:
        self.tracer = tracer
        self.app = app
        self.spark = None
        self.setup_s = self.start_s = self.ship_s = 0.0

    def setup(self, bootstrap: Callable[[Any], Any] | None = None) -> Any:
        """Start the session (this launches the JVM), ship ``kioss_spark``
        to the workers and run ``bootstrap(spark)``; all of it is
        ``setup_s``.  Returns the bootstrap's result."""
        t0 = time.perf_counter()
        # the driver shim exports the repo root on PYTHONPATH when imported,
        # so it must come before the JVM starts: processes Spark launches
        # that ``addPyFile`` does not reach (the Python data-source planner
        # of ``SStream.from_manifest``) import ``kioss_spark`` from there
        import __spark_entry__
        from kioss_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(self.app)
        self.tracer.bind(self.spark.sparkContext)
        t1 = time.perf_counter()
        # without shipping, Python workers started from any cwd but the
        # repo root cannot import the package ``Stream.map`` closures use
        with self.tracer.span("session.ship"):
            __spark_entry__._ensure_shipped(self.spark)
        t2 = time.perf_counter()
        state = bootstrap(self.spark) if bootstrap is not None else None
        self.start_s, self.ship_s = t1 - t0, t2 - t1
        self.setup_s = time.perf_counter() - t0
        return state

    def close(self) -> None:
        self.tracer.bind(None)
        env.stop_spark(self.spark)
        self.spark = None
