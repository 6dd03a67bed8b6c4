"""End-to-end ETL example: the reference system's daily job, Spark-first.

Extract events from the source table, normalize and keep the latest record
per user, diff against the previous load, and push the changes to the target
system through the batched REST sink — the complete extract-transform-load
loop this engine replaces. Run:

    python examples/etl_pipeline.py [sf_dir] [out_dir] [run_id] [kill_after_batches]

The job is restart-safe: killed anywhere and rerun with the same run_id, it
ends in exactly the state of one clean run (see :func:`run`).

Everything here is the public package API; swap LocalFileTransport for an
HTTP transport and the parquet staging dir for the warehouse path and this
is the production job.
"""

from __future__ import annotations

import os
import sys
import tempfile
import uuid

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


def run(
    sf_dir: str,
    out_dir: str,
    run_id: str | None = None,
    kill_after_batches: int = 0,
) -> dict:
    """One load. The REST push is keyed by ``run_id`` (a fresh id when
    None), and the staging snapshot is written to a versioned path with an
    atomic ``CURRENT`` pointer swap as the final step. Killed anywhere and
    rerun with the same run_id, the job converges to the one-shot state:

      * before the push finished: no pointer swap happened; the rerun
        recomputes identical deterministic batches and replaces them;
      * between push and swap: same — the swap is the commit point;
      * after the swap: the rerun sees the new snapshot and pushes an
        empty diff under a NEW run_id (the caller advances run_id only on
        observed success).

    ``kill_after_batches > 0`` is the fault injection used by the
    integration test: the transport hard-kills its worker process
    (os._exit) INSTEAD of sending partition ``kill_after_batches - 1`` —
    that partition's batches never land, the Spark job aborts, and the
    driver exits nonzero with the sink in a genuinely partial state
    (earlier/parallel partitions may have landed).
    """
    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.connectors import write_parquet
    from ai_to_cvent_etl_spark.connectors.rest import (
        LocalFileTransport,
        RestBatchSink,
    )
    from ai_to_cvent_etl_spark.io import load_table
    from ai_to_cvent_etl_spark.session import get_spark
    from ai_to_cvent_etl_spark.streaming.jobs import latest_per_key

    run_id = run_id or uuid.uuid4().hex[:12]
    spark = get_spark(app_name="etl-example")
    spark.sparkContext.setLogLevel("ERROR")

    # EXTRACT: source events
    events = load_table(spark, sf_dir, "events")

    # TRANSFORM: normalize + latest-record-per-key compaction (CDC upsert)
    current = latest_per_key(
        events.select(
            "event_id",
            "ts",
            "user_id",
            F.upper("event_type").alias("event_type"),
            F.round("value", 2).alias("value"),
        )
    )

    # DIFF against the committed snapshot (first load: all inserts)
    staging = os.path.join(out_dir, "staging")
    pointer = os.path.join(staging, "CURRENT")
    changes = current
    if os.path.exists(pointer):
        with open(pointer) as f:
            prev = spark.read.parquet(os.path.join(staging, f.read().strip()))
        changes = (
            current.join(
                prev.select(
                    "user_id", F.col("event_id").alias("prev_event_id")
                ),
                "user_id",
                "left",
            )
            .filter(
                F.col("prev_event_id").isNull()
                | (F.col("event_id") != F.col("prev_event_id"))
            )
            .drop("prev_event_id")
        )

    # LOAD: batched REST push from the executors. Fixed partitioning and
    # order make the batches identical across reruns.
    rest_out = os.path.join(out_dir, "rest")
    kill_pid = kill_after_batches - 1

    class _Killing(LocalFileTransport):
        def send(self, partition_id, *a, **kw):
            if partition_id == kill_pid:
                os._exit(137)  # hard crash before this partition lands
            super().send(partition_id, *a, **kw)

    transport = _Killing if kill_after_batches else LocalFileTransport
    ordered = changes.repartitionByRange(4, "user_id").sortWithinPartitions(
        "user_id"
    )
    n_pushed = ordered.count()
    RestBatchSink(lambda: transport(rest_out, run_id), batch_size=200).write(
        ordered.select("event_id", "user_id", "event_type", "value")
    )

    # COMMIT POINT: write the new snapshot to a versioned path, then swap
    # the pointer atomically. A crash before os.replace leaves the previous
    # load fully intact.
    new_version = f"v_{run_id}"
    write_parquet(current, os.path.join(staging, new_version))
    tmp_ptr = pointer + ".tmp"
    with open(tmp_ptr, "w") as f:
        f.write(new_version)
    os.replace(tmp_ptr, pointer)

    return {
        "source_rows": events.count(),
        "current_rows": current.count(),
        "pushed_rows": n_pushed,
        "rest_dir": rest_out,
        "run_id": run_id,
        "version": new_version,
    }


if __name__ == "__main__":
    if len(sys.argv) > 2:
        sf, out = sys.argv[1:3]
    else:
        sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
        out = tempfile.mkdtemp(prefix="etl_example_")
    rid = sys.argv[3] if len(sys.argv) > 3 else None
    kill = int(sys.argv[4]) if len(sys.argv) > 4 else 0
    print(run(sf, out, rid, kill_after_batches=kill))
