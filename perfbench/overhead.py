"""Tracing overhead: run a workload untraced and traced with each seed and
print, per end-to-end metric, the median over seeds of traced minus
untraced, beside the untraced runs' quartile spread (Q3 - Q1) for scale.

    python3 perfbench/overhead.py --workload serve_mix --seeds 1 2 3 4 5 --seconds 10

Each run is also printed, one JSON line per run, as it ends.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, timeout=600,
    ).stdout
    for line in out.splitlines():
        if line.startswith("kbench-detail "):
            return json.loads(line[len("kbench-detail "):])
    raise RuntimeError("no kbench-detail line")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3, 4, 5])
    ap.add_argument("--seconds", type=float, default=10.0)
    args = ap.parse_args()
    off, on = [], []
    for seed in args.seeds:
        for trace, into in ((0, off), (1, on)):
            d = run(args.workload, seed, args.seconds, trace)
            print(json.dumps({"seed": seed, "trace": trace, "end_to_end": d["end_to_end"],
                              "failed": d["failed"], "failures": d["failures"], "run_s": d["run_s"],
                              "steal_frac": d["machine"]["steal_frac"]}), flush=True)
            into.append(d["end_to_end"])
    summary = {}
    for k in off[0]:
        base = [x[k] for x in off]
        q1, _, q3 = statistics.quantiles(base, n=4) if len(base) > 1 else (base[0],) * 3
        summary[k] = {
            "untraced_median": statistics.median(base),
            "traced_median": statistics.median(x[k] for x in on),
            "overhead_median": statistics.median(b[k] - a[k] for a, b in zip(off, on)),
            "untraced_quartile_spread": q3 - q1,
        }
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "overhead": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
