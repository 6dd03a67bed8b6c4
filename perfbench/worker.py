"""Spark-side half of the benchmark: one fresh process per set-up sample.

Run as ``python3 perfbench/worker.py <config.json>``. The process sets up
exactly as a user of the engine would (``get_spark()`` as shipped, registry
load, warmup scan), prints ``PERFBENCH_READY`` on stdout so the parent can
time set-up from process start, then, in ``workload`` mode, runs the
workload as a closed loop with one client, checks every output outside the
timed region and writes a JSON result to the path named in the config.
"""

from __future__ import annotations

import faulthandler
import json
import os
import shutil
import sys
import time
import traceback

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
for p in (CHECKOUT, HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

READY = "PERFBENCH_READY"


# --- process facts -----------------------------------------------------------

def _status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def jvm_pids() -> list[int]:
    """Java processes descended from this one (the py4j gateway JVM)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", encoding="ascii") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            todo.append(c)
            try:
                with open(f"/proc/{c}/comm", encoding="ascii") as f:
                    if f.read().strip() == "java":
                        out.append(c)
            except OSError:
                pass
    return out


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this driver process plus its JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    for pid in jvm_pids():
        try:
            kb += _status_kb(pid, "VmHWM")
        except OSError:
            pass
    return kb / 1024.0


# --- set-up ----------------------------------------------------------------

def setup(data_dir: str) -> tuple[object, dict, dict]:
    t0 = time.perf_counter()
    from ai_to_cvent_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from ai_to_cvent_etl_spark.registry import load_registry

    registry = load_registry()
    t2 = time.perf_counter()
    from ai_to_cvent_etl_spark.io import load_tables

    # Build the ten table frames once per session (events infers its parquet
    # schema, which runs a Spark job), so no timed key pays for being the
    # session's first reader of a table.
    load_tables(spark, data_dir)["lineitem"].write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    print(READY, flush=True)
    return spark, registry, {"get_spark_s": t1 - t0, "registry_load_s": t2 - t1,
                             "warmup_s": t3 - t2}


def host_calibration(spark) -> dict:
    """The two fixed anchors of bench.py, plus the load averages."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(10_000_000):
        acc = (acc + i * i) % 1_000_003
    calib_py = time.perf_counter() - t0
    spark.sparkContext.setJobGroup("calib", "host calibration")
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "id % 97 AS k", "id * 2654435761 % 1000003 AS v"
    ).groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    calib_spark = time.perf_counter() - t0
    return {"calib_python_s": calib_py, "calib_spark_s": calib_spark,
            "loadavg_end": list(os.getloadavg())}


# --- query workloads -------------------------------------------------------

class KeyProbe:
    """Traced-run bookkeeping around one key: job groups, memo growth,
    Catalyst phases. Reads engine state only; changes nothing."""

    def __init__(self, spark, phases):
        from ai_to_cvent_etl_spark import io
        from ai_to_cvent_etl_spark.operators import kmeans

        self.spark, self.sc, self.phases = spark, spark.sparkContext, phases
        self.io, self.kmeans = io, kmeans
        self.seen_memo = set(io._DF_MEMO)

    def group_counts(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = 0
        for j in jobs:
            info = st.getJobInfo(j)
            stages += len(info.stageIds) if info else 0
        return len(jobs), stages

    def before(self) -> int:
        return len(self.kmeans._MODEL_CACHE)

    def after(self, n_models: int) -> dict:
        new = set(self.io._DF_MEMO) - self.seen_memo
        self.seen_memo |= new
        fits = max(0, len(self.kmeans._MODEL_CACHE) - n_models)
        return {"df_memo_misses": len(new), "kmeans_fits": fits}


def run_queries(spark, registry: dict, data_dir: str, keys: list[str],
                tracer=None, phases=None) -> list[dict]:
    """Closed loop, one client: build each key, then run it through the
    noop sink; the next key starts when the previous one has finished."""
    ops: list[dict] = []
    probe = KeyProbe(spark, phases) if tracer else None
    sc = spark.sparkContext
    for key in keys:
        op = {"key": key, "ok": True}
        try:
            if tracer is None:
                t0 = time.perf_counter()
                df = registry[key].builder(spark, data_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            else:
                n_models = probe.before()
                with tracer.span("key", key=key) as ks:
                    sc.setJobGroup(f"build:{key}", key)
                    with tracer.span("build") as bs:
                        df = registry[key].builder(spark, data_dir)
                    sc.setJobGroup(f"exec:{key}", key)
                    with tracer.span("exec") as es:
                        df.write.format("noop").mode("overwrite").save()
                sc.setJobGroup("bench", "benchmark bookkeeping")
                t0, t1, t2 = ks.start, bs.end, es.end
                op.update(_trace_key(tracer, probe, df, key, bs, es, n_models), _span=ks)
            op.update(build_s=t1 - t0, exec_s=t2 - t1, s=t2 - t0, df=df)
        except Exception as exc:  # a failing key counts as failed; the loop goes on
            op.update(ok=False, error=f"{type(exc).__name__}: {exc}"[:500])
        ops.append(op)
    return ops


def _trace_key(tracer, probe, df, key, build_span, exec_span, n_models) -> dict:
    from spans import drain_listener_bus

    drain_listener_bus(probe.spark)
    events, probe.phases.events[:] = list(probe.phases.events), []
    tracked = df._jdf.queryExecution().tracker().phases()
    analysis = (tracked.get("analysis").get().durationMs() / 1e3
                if tracked.contains("analysis") else 0.0)
    plan = events[-1][2] if events else {}
    opt_plan = plan.get("optimization", 0.0) + plan.get("planning", 0.0)
    tracer.add("catalyst", build_span.end - min(analysis, build_span.end - build_span.start),
               build_span.end, build_span, phase="analysis")
    tracer.add("catalyst", exec_span.start,
               exec_span.start + min(opt_plan, exec_span.end - exec_span.start),
               exec_span, phase="optimization+planning")
    bj, bst = probe.group_counts(f"build:{key}")
    ej, est = probe.group_counts(f"exec:{key}")
    return {"analysis_s": analysis, "optimization_s": plan.get("optimization", 0.0),
            "planning_s": plan.get("planning", 0.0), "build_jobs": bj,
            "build_stages": bst, "exec_jobs": ej, "exec_stages": est,
            **probe.after(n_models)}


# Oracle checks run in this process: bound what one check may hold so a key
# whose output or oracle explodes on some input fails instead of exhausting
# the host's memory.
MAX_CHECK_ROWS = 200_000
DUCKDB_MEMORY = "2GB"
DUCKDB_TIMEOUT_S = 30.0
VERIFY_THREADS = 3


def oracle_con(data_dir: str):
    from tests.harness import duck_con

    con = duck_con(data_dir)
    spill = os.path.join(os.path.dirname(data_dir), "duckdb_tmp")
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY}'")
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute(f"SET max_temp_directory_size = '{DUCKDB_MEMORY}'")
    con.execute("SET threads = 2")
    return con


def checked_compare(compare, df, con, sql: str) -> list[str]:
    """``tests.harness.compare`` with the DuckDB side interrupted after
    ``DUCKDB_TIMEOUT_S``."""
    import threading

    timer = threading.Timer(DUCKDB_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return compare(df, con, sql)
    finally:
        timer.cancel()


def verify_queries(registry: dict, data_dir: str, ops: list[dict], tracer=None) -> None:
    """Compare each key's frame with its DuckDB oracle on the same data,
    outside the timed region, ``VERIFY_THREADS`` keys at a time. A mismatch
    marks the op failed. Traced runs record each check as a ``verify`` span
    under its key's span."""
    from concurrent.futures import ThreadPoolExecutor

    from tests.harness import compare

    con = oracle_con(data_dir)

    def check(op: dict) -> tuple[list[str], float, float]:
        cur = con.cursor()
        t0 = time.perf_counter()
        try:
            problems = checked_compare(compare, op["df"], cur, registry[op["key"]].oracle)
        except Exception as exc:
            problems = [f"{type(exc).__name__}: {exc}"[:500]]
        finally:
            cur.close()
        return problems, t0, time.perf_counter()

    todo = [op for op in ops if op["ok"]]
    with ThreadPoolExecutor(VERIFY_THREADS) as pool:
        for op, (problems, t0, t1) in zip(todo, pool.map(check, todo)):
            if tracer:
                tracer.add("verify", t0, t1, op["_span"])
            if problems:
                op.update(ok=False, error=" | ".join(problems)[:500])
    con.close()


class _null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


# --- ETL workload ----------------------------------------------------------

def _normalize(df):
    from pyspark.sql import functions as F

    return df.select("event_id", "ts", "user_id",
                     F.upper("event_type").alias("event_type"),
                     F.round("value", 2).alias("value"))


def run_etl(spark, etl_dir: str, out_dir: str, tracer=None) -> list[dict]:
    """One full load then one incremental load per change chunk, the shape
    of ``examples/etl_pipeline.run`` plus its streaming upsert follow-up."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.connectors import write_parquet
    from ai_to_cvent_etl_spark.connectors.rest import LocalFileTransport, RestBatchSink
    from ai_to_cvent_etl_spark.io import load_table
    from ai_to_cvent_etl_spark.streaming.jobs import foreach_batch_upsert, read_events_stream

    span = tracer.span if tracer else (lambda *a, **k: _null())
    sc = spark.sparkContext
    rest_dir = os.path.join(out_dir, "rest")
    snapshot = os.path.join(out_dir, "snapshot")
    src = os.path.join(out_dir, "stream_src")
    ckpt = os.path.join(out_dir, "stream_ckpt")
    os.makedirs(src)
    ops = []

    t0 = time.perf_counter()
    with span("load", kind="full"):
        if tracer:
            sc.setJobGroup("etl:full", "full load")
        with span("io.extract"):
            events = load_table(spark, os.path.join(etl_dir, "day1"), "events")
        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        current = (_normalize(events).withColumn("rn", F.row_number().over(w))
                   .filter("rn = 1").drop("rn"))
        with span("exec.count"):
            n_pushed = current.count()
        with span("connectors.rest.push"):
            RestBatchSink(lambda: LocalFileTransport(rest_dir), batch_size=200).write(
                current.select("event_id", "user_id", "event_type", "value"))
        with span("connectors.files.write"):
            write_parquet(current, snapshot)
    ops.append({"key": "load_full", "ok": True, "s": time.perf_counter() - t0,
                "pushed": n_pushed})
    if tracer:
        ops[0]["snapshot_bytes"] = _dir_bytes(snapshot)

    chunks = sorted(os.listdir(os.path.join(etl_dir, "chunks")))
    for name in chunks:
        shutil.copy(os.path.join(etl_dir, "chunks", name), os.path.join(src, name))
        t0 = time.perf_counter()
        with span("load", kind="incremental", chunk=name):
            with span("streaming.upsert"):
                foreach_batch_upsert(_normalize(read_events_stream(spark, src)),
                                     target_dir=snapshot, checkpoint_dir=ckpt)
        op = {"key": f"load_incr:{name}", "ok": True, "s": time.perf_counter() - t0}
        if tracer:
            op["target_bytes"] = _dir_bytes(snapshot)
        ops.append(op)
    return ops


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def verify_etl(etl_dir: str, out_dir: str, ops: list[dict]) -> None:
    """Pushed rows must equal DuckDB's latest record per user over day 1;
    the upserted target must equal the latest per user over day 1 plus the
    chunks; the users whose record changed must equal DuckDB's diff."""
    import duckdb

    from ai_to_cvent_etl_spark.connectors.rest import read_sink_output

    latest = """SELECT user_id, event_id, upper(event_type) AS event_type,
                       round(value, 2) AS value
                FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn FROM {src}) WHERE rn = 1
                ORDER BY user_id"""
    day1 = f"read_parquet('{os.path.join(etl_dir, 'day1', 'events.parquet')}')"
    both = (f"(SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value FROM {day1} "
            f"UNION ALL SELECT event_id, timezone('UTC', ts) AS ts, user_id, event_type, "
            f"value FROM read_parquet('{os.path.join(etl_dir, 'chunks', '*.parquet')}'))")
    con = duckdb.connect()
    want_push = con.sql(latest.format(src=day1)).fetchall()
    want_final = con.sql(latest.format(src=both)).fetchall()
    batches = read_sink_output(os.path.join(out_dir, "rest"))
    pushed = sorted((r["user_id"], r["event_id"], r["event_type"], r["value"])
                    for b in batches for r in b["records"])
    ops[0].update(rest_rows=len(pushed), rest_batches=len(batches))
    final = con.sql(
        "SELECT user_id, event_id, event_type, value FROM read_parquet("
        f"'{os.path.join(out_dir, 'snapshot', '*.parquet')}') ORDER BY user_id").fetchall()
    con.close()
    want_diff = {a[0] for a, b in zip(want_push, want_final) if a != b}
    got_diff = {a[0] for a, b in zip(pushed, final) if a != b}
    checks = {
        "load_full": [] if pushed == [tuple(r) for r in want_push]
        else [f"pushed rows differ: {len(pushed)} vs oracle {len(want_push)}"],
        "incr": ([] if final == want_final
                 else [f"upsert target differs: {len(final)} vs oracle {len(want_final)}"])
        + ([] if got_diff == want_diff or len(pushed) != len(final)
           else [f"diff differs: {len(got_diff)} users vs oracle {len(want_diff)}"]),
    }
    for op in ops:
        problems = checks["load_full" if op["key"] == "load_full" else "incr"]
        if problems:
            op.update(ok=False, error=" | ".join(problems))


# --- entry point -------------------------------------------------------------

def census(spark, registry: dict, data_dir: str, keys: list[str], log: str) -> None:
    """Classify keys by the Spark jobs their builders launch, one JSON line
    per key. Memoized checkpoints and models are dropped before each key so
    the count is the key's own, whatever ran before it."""
    from ai_to_cvent_etl_spark.io import clear_df_caches
    from ai_to_cvent_etl_spark.operators.kmeans import clear_model_cache

    from tests.harness import compare

    con = oracle_con(data_dir)
    sc = spark.sparkContext
    st = sc.statusTracker()
    with open(log, "a", encoding="utf-8") as out:
        for key in keys:
            clear_df_caches()
            clear_model_cache()
            rec: dict = {"key": key}
            try:
                sc.setJobGroup(f"build:{key}", key)
                t0 = time.perf_counter()
                df = registry[key].builder(spark, data_dir)
                t1 = time.perf_counter()
                sc.setJobGroup(f"exec:{key}", key)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                jobs = st.getJobIdsForGroup(f"build:{key}")
                rec.update(build_s=t1 - t0, exec_s=t2 - t1, build_jobs=len(jobs),
                           build_stages=sum(len(st.getJobInfo(j).stageIds) for j in jobs),
                           exec_jobs=len(st.getJobIdsForGroup(f"exec:{key}")))
                if registry[key].oracle is None:
                    rec["oracle"] = "none: rows-only key"
                else:
                    sc.setJobGroup(f"verify:{key}", key)
                    t3 = time.perf_counter()
                    rec["rows"] = df.count()
                    if rec["rows"] > MAX_CHECK_ROWS:
                        rec["oracle"] = f"not checked: {rec['rows']} output rows"
                    else:
                        problems = checked_compare(compare, df, con, registry[key].oracle)
                        rec["verify_s"] = time.perf_counter() - t3
                        rec["oracle"] = ("ok" if not problems
                                         else "mismatch: " + " | ".join(problems)[:300])
            except Exception as exc:
                rec["oracle"] = f"error: {type(exc).__name__}: {exc}"[:300]
            out.write(json.dumps(rec) + "\n")
            out.flush()
    con.close()


def main(cfg: dict) -> int:
    mode, trace_on = cfg["mode"], bool(cfg.get("trace"))
    spark, registry, setup_parts = setup(cfg["data_dir"])
    result: dict = {"setup": setup_parts}
    if mode == "workload":
        result.update(_workload(spark, registry, cfg, trace_on))
    elif mode == "census":
        keys = cfg.get("keys") or sorted(registry)
        census(spark, registry, cfg["data_dir"], keys, cfg["log"])
    if trace_on:
        spark.stop()  # closes the event log; otherwise exit ends the JVM
    with open(cfg["out"], "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


def _workload(spark, registry, cfg: dict, trace_on: bool) -> dict:
    from spans import Tracer, make_stream_listener, register_query_phases

    workload = cfg["workload"]
    etl = workload == "etl_incremental"
    tracer = Tracer(cfg["run_id"]) if trace_on else None
    phases = register_query_phases(spark) if trace_on and not etl else None
    batches = make_stream_listener() if trace_on and etl else None
    if batches is not None:
        spark.streams.addListener(batches)
    run_ctx = tracer.span("run", workload=workload) if tracer else _null()
    with run_ctx:
        t0 = time.perf_counter()
        wl_ctx = tracer.span("workload", workload=workload) if tracer else _null()
        with wl_ctx:
            if etl:
                ops = run_etl(spark, cfg["etl_dir"], cfg["out_dir"], tracer)
            else:
                ops = run_queries(spark, registry, cfg["data_dir"], cfg["keys"],
                                  tracer, phases)
        wall = time.perf_counter() - t0
        rss = peak_rss_mb()
        if etl:
            with tracer.span("verify") if tracer else _null():
                verify_etl(cfg["etl_dir"], cfg["out_dir"], ops)
        else:
            verify_queries(registry, cfg["data_dir"], ops, tracer)
        verify_s = time.perf_counter() - t0 - wall
    out = {"wall_s": wall, "peak_rss_mb": rss, "verify_s": verify_s,
           "host": host_calibration(spark) if cfg.get("calibrate") else None,
           "ops": [{k: v for k, v in op.items() if k not in ("df", "_span")}
                   for op in ops]}
    if tracer:
        from spans import drain_listener_bus

        drain_listener_bus(spark)
        out["spans"] = tracer.to_json()
        out["microbatches"] = batches.batches if etl else []
        out["graph_edge_cache_entries"] = _graph_cache_entries()
    return out


def _graph_cache_entries() -> int:
    from ai_to_cvent_etl_spark.queries import graph

    return len(graph._EDGE_CACHE) + len(graph._TRADE_EDGE_CACHE)


if __name__ == "__main__":
    with open(sys.argv[1], encoding="utf-8") as f:
        config = json.load(f)
    faulthandler.dump_traceback_later(config.get("timeout_s", 160), exit=True)
    try:
        code = main(config)
    except Exception:
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # The py4j callback server's threads can keep the interpreter from
    # exiting; the session is already stopped and the result written.
    os._exit(code)
