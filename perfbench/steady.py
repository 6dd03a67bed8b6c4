"""Steadiness check: run one workload over several seeds and report, per
end-to-end metric, the median and the interquartile spread as a share of the
median (``statistics.quantiles(n=4)``), against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload query_mix --seeds 1-10 [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(CHECKOUT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    runs = []
    for seed in a.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, "exit": proc.returncode,
                     "run_s": time.perf_counter() - t0, **last})
        print(seed, proc.returncode, round(runs[-1]["run_s"], 1),
              {k: round(v["value"], 4) for k, v in last["metrics"].items()}, flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        spread = stats.iqr_share(values) if len(values) >= 2 else None
        summary[m["name"]] = {"median": stats.median(values), "iqr_share": spread,
                              "bound": m["bound"],
                              "within_third_of_bound": spread is not None
                              and spread < m["bound"] / 3}
    out = {"workload": a.workload, "runs": runs, "summary": summary,
           "max_run_s": max(r["run_s"] for r in runs),
           "all_correct": all(r["correct"] and r["exit"] == 0 for r in runs)}
    print(json.dumps(summary, indent=1))
    if a.out:
        with open(a.out, "w", encoding="utf-8") as f:
            json.dump(out, f, indent=1)
    return 0 if out["all_correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
