"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates the workload's inputs from the
seed (``datagen``), starts fresh Spark processes (``worker``) exactly as a
user of the engine would, runs the workload as a closed loop with one client,
checks every output against a DuckDB oracle outside the timed region, and
prints one JSON object as the last line of stdout. It exits 1 when an output
is wrong and 2 when the engine package is missing from the checkout.

Workloads (why each exists is in ``WORKLOADS``):
  * query_mix       -- registry keys whose builders launch no Spark job;
  * iterative_build -- keys whose builders do launch Spark jobs;
  * etl_incremental -- a full load then incremental streaming upserts.

With ``--trace 0`` the metrics are the end-to-end ones; ``--trace 1`` runs a
separate instrumented pass and reports the per-layer ones.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = {
    "query_mix": "keys whose builders launch no Spark job: fixed per-key "
                 "planning and scheduling cost dominates",
    "iterative_build": "keys whose builders launch Spark jobs: iterative "
                       "operators, checkpoints and cross-key memos dominate",
    "etl_incremental": "full load plus streaming upserts over 6x10^5 events: "
                       "scan, shuffle, sort, Python sink and file writes dominate",
}
SETUP_SAMPLES = 3
RUN_DEADLINE_S = 170
POOLS = os.path.join(HERE, "pools.json")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pick_keys(workload: str, seed: int, seconds: int) -> list[str]:
    """query_mix: a stratified seeded sample, in seeded order, whose census
    cost sums to about ``seconds``. iterative_build: the census-frozen key
    set in its fixed order. Its keys share memoized checkpoints and models,
    so whichever of two sharing keys runs first pays the fill; with a seeded
    order that moved seconds between keys and the per-key median swung by
    2x from seed to seed, so only the data varies with the seed there."""
    with open(POOLS, encoding="utf-8") as f:
        pools = json.load(f)
    if workload == "iterative_build":
        return list(pools["frozen"][workload])
    costs = sorted(pools["pools"][workload].items())
    mean = sum(v for _, v in costs) / len(costs)
    return stats.stratified_sample(costs, max(1, round(seconds / mean)), seed)


class Worker:
    """One fresh ``worker.py`` process; set-up time runs from just before
    the process is started until it prints its ready line."""

    def __init__(self, cfg: dict, work: str, env: dict, deadline: float):
        cfg["timeout_s"] = max(1, int(deadline - time.monotonic()))
        self.cfg_path = os.path.join(work, f"cfg_{cfg['name']}.json")
        self.log = os.path.join(work, f"worker_{cfg['name']}.log")
        with open(self.cfg_path, "w", encoding="utf-8") as f:
            json.dump(cfg, f)
        self.out = cfg["out"]
        self.env, self.deadline = env, deadline
        self.pgid: int | None = None

    def run(self) -> tuple[float, dict]:
        """Run the worker to its exit, then kill what is left of its process
        group (the JVM). ``wait_gone`` waits for the group to disappear."""
        with open(self.log, "wb") as err:
            t0 = time.perf_counter()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), self.cfg_path],
                stdout=subprocess.PIPE, stderr=err, env=self.env, cwd=CHECKOUT,
                start_new_session=True)
            self.pgid = proc.pid
            ready = None
            try:
                # Stop reading at the ready line: the JVM holds the pipe open
                # until it has shut down, and nothing else is written to it.
                for line in proc.stdout:
                    if line.strip() == b"PERFBENCH_READY":
                        ready = time.perf_counter() - t0
                        break
                proc.wait(timeout=max(1.0, self.deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                pass
            finally:
                _kill_group(self.pgid)
                proc.wait()
                proc.stdout.close()
        if proc.returncode != 0 or ready is None or not os.path.exists(self.out):
            raise RuntimeError(f"worker failed (exit {proc.returncode}); log:\n"
                               + _tail(self.log))
        with open(self.out, encoding="utf-8") as f:
            return ready, json.load(f)

    def wait_gone(self, timeout_s: float = 20.0) -> None:
        end = time.monotonic() + timeout_s
        while self.pgid is not None and time.monotonic() < end:
            try:
                os.killpg(self.pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
        _kill_group(self.pgid)


def _kill_group(pgid: int | None) -> None:
    try:
        os.killpg(pgid, signal.SIGKILL)
    except (ProcessLookupError, TypeError):
        pass


def _tail(path: str, n: int = 30) -> str:
    try:
        with open(path, encoding="utf-8", errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def child_env(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        submit += ["--conf spark.eventLog.enabled=true",
                   f"--conf spark.eventLog.dir=file://{logdir}",
                   "--conf spark.eventLog.compress=false"]
    env = dict(os.environ)
    env.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_CPUS=str(cpus()),
               PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
               PYTHONDONTWRITEBYTECODE="1")
    return env


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    """Generate inputs, run the workload worker and the extra set-up
    samples, and return the raw results."""
    deadline = time.monotonic() + RUN_DEADLINE_S
    marks = [time.perf_counter()]
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    workers: list[Worker] = []
    try:
        import datagen

        data = os.path.join(work, "data")
        inputs = datagen.write_tables(seed, data)
        cfg = {"name": "workload", "mode": "workload", "workload": workload,
               "trace": trace, "data_dir": data, "out": os.path.join(work, "result.json"),
               "run_id": f"{workload}-{seed}", "calibrate": trace}
        if workload == "etl_incremental":
            cfg["etl_dir"] = os.path.join(work, "etl")
            cfg["out_dir"] = os.path.join(work, "etl_out")
            inputs.update(datagen.write_etl(seed, cfg["etl_dir"]))
        else:
            cfg["keys"] = pick_keys(workload, seed, seconds)
        env = child_env(work, trace)
        load_start = list(os.getloadavg())
        marks.append(time.perf_counter())
        workers.append(Worker(cfg, work, env, deadline))
        ready, result = workers[-1].run()
        marks.append(time.perf_counter())
        setups = [dict(result["setup"], setup_s=ready)]
        if not trace:
            for i in range(SETUP_SAMPLES - 1):
                pcfg = {"name": f"setup{i}", "mode": "setup", "data_dir": data,
                        "out": os.path.join(work, f"setup{i}.json")}
                workers.append(Worker(pcfg, work, env, deadline))
                r, res = workers[-1].run()
                setups.append(dict(res["setup"], setup_s=r))
        marks.append(time.perf_counter())
        phases = dict(zip(("inputs_s", "workload_process_s", "setup_probes_s"),
                          (b - a for a, b in zip(marks, marks[1:]))))
        result.update(setups=setups, inputs=inputs, load_start=load_start,
                      keys=cfg.get("keys"), phases=phases)
        if trace:
            import layers

            result["layers"], result["trace_detail"] = layers.per_layer(
                workload, result, os.path.join(work, "eventlog"))
            keep = os.path.join(HERE, ".work", f"trace_{workload}_{seed}.json")
            with open(keep, "w", encoding="utf-8") as f:
                json.dump({"spans": result["spans"], "detail": result["trace_detail"],
                           "layers": result["layers"]}, f)
        return result
    finally:
        for w in workers:
            w.wait_gone()
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(workload: str, result: dict) -> tuple[dict, dict]:
    """The contract metrics, plus the report-only figures the user sees."""
    ops = result["ops"]
    ok = [op["s"] for op in ops if op["ok"]]
    metrics = {
        "setup_s": (stats.median([s["setup_s"] for s in result["setups"]]), "s"),
        "wall_s": (result["wall_s"], "s"),
        "op_p50_s": (stats.median(ok), "s"),
    }
    report = {"failed_frac": sum(not op["ok"] for op in ops) / len(ops),
              "peak_rss_mb": result["peak_rss_mb"]}
    if workload == "etl_incremental":
        rows = sum(v["rows"] for k, v in result["inputs"].items()
                   if k == "day1" or k.startswith("chunk_"))
        report.update(load_full_s=ops[0]["s"], load_incr_s=sum(op["s"] for op in ops[1:]),
                      rows_per_s=rows / result["wall_s"], source_rows=rows)
    else:
        tail, pct = stats.tail(ok)
        report.update(query_p50_s=stats.median(ok), query_tail_s=tail,
                      query_tail_percentile=pct, n_keys=len(ops))
    return metrics, report


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (os.path.isdir(os.path.join(CHECKOUT, "ai_to_cvent_etl_spark"))
            and os.path.isfile(os.path.join(CHECKOUT, "tests", "harness.py"))):
        print("perfbench: engine package or tests/harness.py missing from "
              f"{CHECKOUT}", file=sys.stderr)
        return 2
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    ops = result["ops"]
    failed = sum(not op["ok"] for op in ops)
    for op in ops:
        if not op["ok"]:
            print(f"perfbench: {op['key']} FAILED: {op.get('error')}", file=sys.stderr)
    load1 = result["load_start"][0]
    host = {"loadavg_start": result["load_start"], "cpus": cpus(),
            "loaded_host": load1 > cpus()}
    if a.trace:
        metrics = result["layers"]
        print("perfbench trace:", json.dumps(result["trace_detail"]["summary"]))
    else:
        metrics, report = end_to_end(a.workload, result)
        print("perfbench report:", json.dumps({"workload": a.workload, "seed": a.seed,
                                                **report, **host, **result["phases"],
                                                "verify_s": result["verify_s"]}))
        print("perfbench metrics:", ", ".join(
            f"{k}={v:.4f} {u}" for k, (v, u) in metrics.items()))
    if host["loaded_host"]:
        print(f"perfbench: WARNING load1 {load1:.2f} > {cpus()} cpus at start",
              file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
