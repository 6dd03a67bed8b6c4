"""Key census: classify every registry key by the Spark jobs its builder
launches, check it against its oracle on generated sf0.1 data, and freeze the
``query_mix`` and ``iterative_build`` key pools into ``pools.json``.

    python3 perfbench/census.py [--seed 0] [--keys k1,k2,...]

Pools are chosen by observed properties only, never by key name:
  * ``query_mix``       -- the builder launched no Spark job;
  * ``iterative_build`` -- the builder launched at least one Spark job;
and, for both, the key matched its DuckDB oracle and its oracle check took
under ``MAX_VERIFY_S``. Every key left out is listed with the reason. Each
pooled key carries its census cost (build plus noop execution, seconds),
which the stratified sampler in ``run.py`` uses. The ``iterative_build``
workload runs a frozen cost-stratified set of ``ITERATIVE_KEYS`` keys from
its pool, so every seed times the same keys (in its own order, on its own
data); one pass over all of them would not fit a run.

The census writes ``results/census.jsonl`` (one line per key) as it goes, so
an interrupted census resumes where it stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

MAX_VERIFY_S = 5.0
ITERATIVE_KEYS = 7
# The census in ROADMAP.md: sf0.01 fixture tables, one session, memos warm.
ROADMAP_BUILD_JOB_KEYS, ROADMAP_BUILD_JOBS = 94, 481
LOG = os.path.join(HERE, "results", "census.jsonl")


def classify(records: list[dict]) -> dict:
    pools: dict[str, dict[str, float]] = {"query_mix": {}, "iterative_build": {}}
    excluded: dict[str, str] = {}
    for r in records:
        if r["oracle"] != "ok":
            excluded[r["key"]] = r["oracle"]
        elif r.get("verify_s", 0.0) > MAX_VERIFY_S:
            excluded[r["key"]] = f"oracle check too slow: {r['verify_s']:.1f} s"
        else:
            pool = "iterative_build" if r["build_jobs"] else "query_mix"
            pools[pool][r["key"]] = round(r["build_s"] + r["exec_s"], 3)
    launching = [r for r in records if r.get("build_jobs")]
    frozen = stats.stratified_sample(sorted(pools["iterative_build"].items()),
                                     ITERATIVE_KEYS, seed=0)
    return {
        "pools": pools,
        "frozen": {"iterative_build": sorted(frozen)},
        "excluded": excluded,
        "counts": {
            "keys": len(records),
            "query_mix": len(pools["query_mix"]),
            "iterative_build": len(pools["iterative_build"]),
            "excluded": len(excluded),
            "keys_launching_build_jobs": len(launching),
            "build_jobs": sum(r["build_jobs"] for r in launching),
            "roadmap_keys_launching_build_jobs": ROADMAP_BUILD_JOB_KEYS,
            "roadmap_build_jobs": ROADMAP_BUILD_JOBS,
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--keys", default="")
    a = ap.parse_args()
    done = set()
    if os.path.exists(LOG):
        with open(LOG, encoding="utf-8") as f:
            done = {json.loads(line)["key"] for line in f}
    work = os.path.join(HERE, ".work", "census")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    inputs = datagen.write_tables(a.seed, data)
    sys.path.insert(0, run.CHECKOUT)
    from ai_to_cvent_etl_spark.registry import load_registry

    keys = a.keys.split(",") if a.keys else sorted(load_registry())
    todo = [k for k in keys if k not in done]
    if todo:
        cfg = {"name": "census", "mode": "census", "data_dir": data, "keys": todo,
               "log": LOG, "out": os.path.join(work, "result.json")}
        env = run.child_env(work, False)
        t0 = time.perf_counter()
        worker = run.Worker(cfg, work, env, time.monotonic() + 6 * 3600)
        worker.run()
        worker.wait_gone()
        print(f"census: {len(todo)} keys in {time.perf_counter() - t0:.0f} s")
    with open(LOG, encoding="utf-8") as f:
        records = [json.loads(line) for line in f]
    out = classify(records)
    out["generated_with"] = {"seed": a.seed, "rows": {k: v["rows"] for k, v in inputs.items()},
                             "cpus": run.cpus()}
    with open(os.path.join(HERE, "pools.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out["counts"]))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
