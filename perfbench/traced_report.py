"""Traced run of every workload, with the tracing overhead.

For each workload, runs the untraced benchmark and then the traced one on
the same seed, and writes the per-layer metrics, the self time by span name,
the per-key detail and ``tracing_overhead_s`` (traced ``wall_s`` minus
untraced ``wall_s``) to one JSON file.

    python3 perfbench/traced_report.py --seed 1 --seconds 10 --out perfbench/results/traced.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    report = {"seed": a.seed, "seconds": a.seconds, "cpus": run.cpus(), "workloads": {}}
    for wl in a.workloads.split(","):
        plain = run.run(wl, a.seed, a.seconds, False)
        metrics, extra = run.end_to_end(wl, plain)
        traced = run.run(wl, a.seed, a.seconds, True)
        report["workloads"][wl] = {
            "untraced": {k: v for k, (v, _) in metrics.items()} | extra,
            "traced_wall_s": traced["wall_s"],
            "tracing_overhead_s": traced["wall_s"] - plain["wall_s"],
            "failed": sum(not op["ok"] for op in plain["ops"] + traced["ops"]),
            "layers": {k: v for k, (v, _) in traced["layers"].items()},
            "detail": traced["trace_detail"],
            "host": traced.get("host"),
            "keys": plain.get("keys"),
        }
        print(wl, json.dumps(report["workloads"][wl]["detail"]["summary"]),
              "overhead_s", round(report["workloads"][wl]["tracing_overhead_s"], 3), flush=True)
    with open(a.out, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
