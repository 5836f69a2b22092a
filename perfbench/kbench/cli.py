"""Command line: run one workload and print its result.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --smoke --seconds 1 --trace 1

Stdout ends with two lines: ``kbench-detail {...}`` (every metric that
applies to the workload, by name with its unit, plus machine stamps and
the failing ops) and the result object ``{"correct", "attempted",
"failed", "metrics"}``, whose metrics are the end-to-end list with
``--trace 0`` and the per-layer list with ``--trace 1``.  ``--smoke`` runs
on tiny inputs and fails unless every metric named in ``BENCHMARK.json``
is printed with its unit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import time
import traceback

from . import PERFBENCH_DIR, REPO_ROOT

WORKLOADS = ("curation", "serve_mix")
TRACE_DIR = os.path.join(PERFBENCH_DIR, ".traces")


def _runner(name: str):
    from . import curation, serve_mix

    return {"curation": curation.run, "serve_mix": serve_mix.run}[name]


class _Closer(threading.Thread):
    """Stops the session in the background; ``join`` re-raises its error."""

    def __init__(self, session) -> None:
        super().__init__(name="kbench-teardown")
        self._session = session
        self._error = None
        self.seconds = 0.0
        self.start()

    def run(self) -> None:
        t = time.perf_counter()
        try:
            self._session.close()
        except BaseException as e:  # noqa: BLE001 - re-raised by join()
            self._error = e
        self.seconds = time.perf_counter() - t

    def join(self, timeout=None) -> None:
        super().join(timeout)
        if self._error is not None:
            raise self._error


def run_one(name: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    from . import env, layers
    from .core import Ctx
    from .session import Session
    from .trace import Tracer

    before = env.stamp()
    cpus = env.cpu_count()
    heap_mb = env.driver_heap_mb(before["mem_available_mb"])
    cwd = os.getcwd()
    run = env.RunDir()
    env.configure(run, cpus, heap_mb)
    tracer = Tracer(trace)
    session = Session(tracer, f"kbench-{name}")
    sampler = env.Sampler(run).start()
    ctx = Ctx(seed, seconds, smoke, run, tracer, session, cpus)
    cpu_before = env.cpu_times()
    result = per_layer = None
    try:
        result = _runner(name)(ctx)
        if trace:
            tracer.collect(session.spark.sparkContext)
            sampler.sample()
    finally:
        sampler.stop()  # the checker's own memory is not the program's
        # the output checks need no Spark: run them while it shuts down
        closing = _Closer(session)
        try:
            if result is not None and result.check is not None:
                result.check()
        finally:
            closing.join()
            os.chdir(cwd)
            run.close()
    if trace:
        per_layer = layers.per_layer(tracer, result, session, cpus, sampler.peak_tmp_bytes)
        os.makedirs(TRACE_DIR, exist_ok=True)
        with open(os.path.join(TRACE_DIR, f"{name}-seed{seed}.json"), "w") as f:
            json.dump({"workload": name, "seed": seed, "spans": tracer.dump()}, f)
    e2e = layers.end_to_end(result, session)
    ops = result.all_ops
    failed = [op for op in ops if op.failed]
    detail = {k: {"value": v, "unit": layers.END_TO_END[k]} for k, v in e2e.items()}
    detail.update({k: {"value": v, "unit": u} for k, (v, u) in result.detail.items()})
    detail["failed_frac"] = {"value": len(failed) / len(ops), "unit": "ratio"}
    detail["peak_rss_mb"] = {"value": sampler.peak_rss_mb, "unit": "MB"}
    detail["cpu_s_per_op"] = {"value": result.cpu_s / len(result.ops), "unit": "s"}
    detail["disk.tmp_peak_bytes"] = {"value": sampler.peak_tmp_bytes, "unit": "B"}
    detail["teardown_s"] = {"value": closing.seconds, "unit": "s"}
    return {
        "workload": name,
        "seed": seed,
        "trace": trace,
        "machine": {
            "before": before,
            "after": env.stamp(),
            "driver_heap_mb": heap_mb,
            "steal_frac": env.steal_frac(cpu_before, env.cpu_times()),
        },
        "attempted": len(ops),
        "failed": len(failed),
        "failures": [f"{op.kind}: {op.error}" for op in failed][:20],
        "detail": detail,
        "end_to_end": e2e,
        "per_layer": per_layer,
    }


def result_line(out: dict) -> dict:
    from .layers import END_TO_END, PER_LAYER

    units = PER_LAYER if out["trace"] else END_TO_END
    values = out["per_layer"] if out["trace"] else out["end_to_end"]
    metrics = {}
    for k, unit in units.items():
        v = float(values[k])
        if not math.isfinite(v):
            raise ValueError(f"metric {k} is not finite: {v}")
        metrics[k] = {"value": v, "unit": unit}
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def smoke_check(out: dict) -> list[str]:
    """Problems with the printed metrics against ``BENCHMARK.json``."""
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    for key, trace in (("end_to_end", False), ("per_layer", True)):
        printed = result_line(dict(out, trace=trace))["metrics"]
        for m in bench[key]:
            got = printed.get(m["name"])
            if got is None:
                problems.append(f"{out['workload']}: {key} metric {m['name']} not printed")
            elif got["unit"] != m["unit"]:
                problems.append(f"{out['workload']}: {m['name']} unit {got['unit']} != {m['unit']}")
        extra = set(printed) - {m["name"] for m in bench[key]}
        problems += [f"{out['workload']}: {key} metric {x} not in BENCHMARK.json" for x in sorted(extra)]
    return problems


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs; check every BENCHMARK.json metric is printed")
    args = ap.parse_args(argv)
    if args.workload == "all" and not args.smoke:
        ap.error("--workload all is only for --smoke")
    if not os.path.isdir(os.path.join(REPO_ROOT, "kioss_spark")):
        print(f"kbench: no kioss_spark package beside {PERFBENCH_DIR}", file=sys.stderr)
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, REPO_ROOT)
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    trace = bool(args.trace) or args.smoke
    outs = []
    try:
        for name in names:
            t = time.perf_counter()
            out = run_one(name, args.seed, args.seconds, trace, args.smoke)
            out["run_s"] = round(time.perf_counter() - t, 3)
            print("kbench-detail " + json.dumps(out, default=str), flush=True)
            outs.append(out)
        lines = [result_line(dict(o, trace=bool(args.trace))) for o in outs]
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        return 1
    if args.smoke:
        problems = [p for o in outs for p in smoke_check(o)]
        for p in problems:
            print(f"kbench smoke: {p}", file=sys.stderr)
        if problems:
            return 1
    print(json.dumps(lines[-1] if len(lines) == 1 else {
        "correct": all(x["correct"] for x in lines),
        "attempted": sum(x["attempted"] for x in lines),
        "failed": sum(x["failed"] for x in lines),
        "metrics": lines[-1]["metrics"],
    }), flush=True)
    return 0
