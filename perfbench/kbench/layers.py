"""The benchmark's metric lists and how each metric is computed.

End-to-end metrics are measured with tracing off.  Per-layer metrics come
from the spans of a traced run; every workload reports every per-layer
metric, so a layer a workload bypasses reads 0 there (the prediction for
a change to that layer is "no change" on that workload).  Time spent in a
layer is reported as ``s_per_s``: seconds inside the layer's spans per
second of the measured window, summed over concurrent clients.
"""

from __future__ import annotations

import math

from .core import Result
from .session import Session
from .stats import median
from .trace import Tracer

#: name -> unit; ``run.py`` prints exactly these with ``--trace 0``
END_TO_END = {
    "setup_s": "s",
    "latency_s": "s",
}

OPERATOR_MODULES = ("dedup", "similarity", "retrieval", "text", "sketch")


def _per_layer_units() -> dict:
    units = {
        "session.start_s": "s",
        "session.ship_s": "s",
        "spark.jobs_per_op": "count",
        "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count",
        "spark.executor_busy_frac": "ratio",
        "spark.gc_s_per_op": "s",
        "spark.shuffle_write_bytes_per_op": "B",
        "spark.spill_bytes_per_op": "B",
        "disk.tmp_peak_bytes": "B",
        "queries.build_s_per_s": "s/s",
        "queries.exec_s_per_s": "s/s",
        "queries.jobs_per_call": "count",
        "queries.stages_per_call": "count",
        "queries.tasks_per_call": "count",
    }
    for m in OPERATOR_MODULES:
        units.update(
            {
                f"operators.{m}.s_per_s": "s/s",
                f"operators.{m}.jobs_per_pass": "count",
                f"operators.{m}.shuffle_write_bytes_per_pass": "B",
                f"operators.{m}.spill_bytes_per_pass": "B",
                f"operators.{m}.shuffle_records_per_row_out": "ratio",
            }
        )
    units.update(
        {
            "stream.build_s_per_s": "s/s",
            "stream.count_s_per_s": "s/s",
            "stream.iter_s_per_s": "s/s",
            "stream.python_rows_per_task_s": "rows/s",
            "stream.error_rows": "count",
            "stream.jobs_before_first": "count",
            "stream.sort_shuffle_bytes": "B",
            "sources.input_bytes_per_read": "B",
            "sources.rows_read_per_row_out": "ratio",
            "manifest.open_s_per_s": "s/s",
            "manifest.open_jobs_per_call": "count",
            "manifest.open_zero_job_frac": "ratio",
            "manifest.commit_s_per_s": "s/s",
            "manifest.commit_jobs_per_call": "count",
            "plans.prune_s_per_s": "s/s",
            "plans.prune_jobs_per_call": "count",
            "streaming.drain_s_per_s": "s/s",
            "streaming.drain_jobs_per_call": "count",
            "streaming.drain_rows_per_s": "rows/s",
        }
    )
    return units


#: name -> unit; ``run.py`` prints exactly these with ``--trace 1``
PER_LAYER = _per_layer_units()


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def kind_latency(ops: list) -> float:
    """Geometric mean over op kinds of each kind's median latency: every
    kind weighs the same whatever the random mix drew, so the figure does
    not jump when the median falls between a fast and a slow kind."""
    by_kind: dict = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.seconds)
    logs = [math.log(median(v)) for v in by_kind.values()]
    return math.exp(sum(logs) / len(logs))


def end_to_end(result: Result, session: Session) -> dict:
    return {"setup_s": session.setup_s, "latency_s": kind_latency(result.ops)}


def per_layer(tracer: Tracer, result: Result, session: Session, cpus: int, tmp_peak_bytes: int) -> dict:
    kids = tracer.children()
    lo, hi = result.t0, result.t0 + result.window_s
    window = result.window_s
    passes = result.layer.get("passes", 1)
    top = [s for s in tracer.spans if s.parent is None and lo <= s.start < hi]

    def named(name: str) -> list:
        return tracer.named(name, lo, hi)

    def work(spans: list) -> dict:
        total: dict = {}
        for s in spans:
            for k, v in tracer.inclusive(s, kids).items():
                total[k] = total.get(k, 0) + v
        return total

    def secs(spans: list) -> float:
        return sum(s.seconds for s in spans)

    n_ops = max(len(result.ops), 1)
    wt = work(top)
    out = {
        "session.start_s": session.start_s,
        "session.ship_s": session.ship_s,
        "spark.jobs_per_op": wt.get("jobs", 0) / n_ops,
        "spark.stages_per_op": wt.get("stages", 0) / n_ops,
        "spark.tasks_per_op": wt.get("tasks", 0) / n_ops,
        "spark.executor_busy_frac": _div(wt.get("run_ms", 0) / 1000.0, window * cpus),
        "spark.gc_s_per_op": wt.get("gc_ms", 0) / 1000.0 / n_ops,
        "spark.shuffle_write_bytes_per_op": wt.get("shuffle_write_bytes", 0) / n_ops,
        "spark.spill_bytes_per_op": wt.get("spill_bytes", 0) / n_ops,
        "disk.tmp_peak_bytes": tmp_peak_bytes,
    }

    builds, execs = named("queries.build"), named("queries.exec")
    wq = work(builds + execs)
    out.update(
        {
            "queries.build_s_per_s": secs(builds) / window,
            "queries.exec_s_per_s": secs(execs) / window,
            "queries.jobs_per_call": _div(wq.get("jobs", 0), len(builds)),
            "queries.stages_per_call": _div(wq.get("stages", 0), len(builds)),
            "queries.tasks_per_call": _div(wq.get("tasks", 0), len(builds)),
        }
    )

    rows_out = {op.kind: op.info.get("rows_out", 0) for op in result.ops}
    for m in OPERATOR_MODULES:
        spans = named(f"operators.{m}")
        w = work(spans)
        out.update(
            {
                f"operators.{m}.s_per_s": secs(spans) / window,
                f"operators.{m}.jobs_per_pass": w.get("jobs", 0) / passes,
                f"operators.{m}.shuffle_write_bytes_per_pass": w.get("shuffle_write_bytes", 0) / passes,
                f"operators.{m}.spill_bytes_per_pass": w.get("spill_bytes", 0) / passes,
                f"operators.{m}.shuffle_records_per_row_out": _div(
                    w.get("shuffle_write_records", 0),
                    sum(rows_out.get(s.attrs.get("entry"), 0) for s in spans),
                ),
            }
        )

    counts, firsts = named("stream.count"), named("stream.iter_first")
    wc = work(counts)
    sort_bytes = [
        max(0, tracer.inclusive(f, kids)["shuffle_write_bytes"] - tracer.inclusive(c, kids)["shuffle_write_bytes"])
        for c, f in zip(counts, firsts)
    ]
    out.update(
        {
            "stream.build_s_per_s": secs(named("stream.build")) / window,
            "stream.count_s_per_s": secs(counts) / window,
            "stream.iter_s_per_s": secs(named("stream.iter")) / window,
            "stream.python_rows_per_task_s": _div(result.layer.get("rows", 0) * len(counts), wc.get("run_ms", 0) / 1000.0),
            "stream.error_rows": result.layer.get("error_rows", 0),
            "stream.jobs_before_first": _div(work(firsts).get("jobs", 0), len(firsts)),
            "stream.sort_shuffle_bytes": _div(sum(sort_bytes), len(sort_bytes)),
        }
    )

    reads = named("serve.read")
    wr = work(reads)
    out.update(
        {
            "sources.input_bytes_per_read": _div(wr.get("input_bytes", 0), len(reads)),
            "sources.rows_read_per_row_out": _div(
                wr.get("input_records", 0), sum(s.attrs.get("rows_out", 0) for s in reads)
            ),
        }
    )

    opens, commits, prunes = named("manifest.open"), named("manifest.commit"), named("plans.prune")
    drains = named("streaming.drain")
    out.update(
        {
            "manifest.open_s_per_s": secs(opens) / window,
            "manifest.open_jobs_per_call": _div(work(opens).get("jobs", 0), len(opens)),
            "manifest.open_zero_job_frac": _div(sum(1 for s in opens if tracer.inclusive(s, kids)["jobs"] == 0), len(opens)),
            "manifest.commit_s_per_s": secs(commits) / window,
            "manifest.commit_jobs_per_call": _div(work(commits).get("jobs", 0), len(commits)),
            "plans.prune_s_per_s": secs(prunes) / window,
            "plans.prune_jobs_per_call": _div(work(prunes).get("jobs", 0), len(prunes)),
            "streaming.drain_s_per_s": secs(drains) / window,
            "streaming.drain_jobs_per_call": _div(work(drains).get("jobs", 0), len(drains)),
            "streaming.drain_rows_per_s": result.layer.get("feed_rows_per_s", 0.0),
        }
    )
    if set(out) != set(PER_LAYER):
        raise RuntimeError(f"per-layer metrics out of sync: {sorted(set(out) ^ set(PER_LAYER))}")
    return out
