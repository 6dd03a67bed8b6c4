"""REST batch sink: load records into an HTTP API from the executors (S7).

The "load into a SaaS API" leg of the reference ETL, Spark-first:
``foreachPartition`` posts fixed-size JSON batches directly from executor
tasks — the driver never materializes the data, so throughput scales with
executor count and the API's rate limit, not driver memory.

The transport is injectable. Production wires an HTTP client with retry/
backoff; this environment has no network, so ``LocalFileTransport`` (one
atomically written JSON file per batch) stands in, and ``read_sink_output``
reads a run back, so the batching, retry and restart logic is fully tested
offline.

Scale notes:
  * batch_size bounds per-request payload; one partition = one connection —
    repartition upstream to match the API's concurrency budget.
  * Transports receive an explicit flush per partition end, so partial
    batches are never lost.
  * Idempotency: every batch carries the key (run_id, partition_id,
    attempt_number, batch_index). A retried Spark task re-sends its
    partition under a higher attempt and the reader keeps only the highest;
    a rerun of a killed load with the same run_id replaces the same files.
    Server-side the key maps to PUT-with-idempotency-key semantics.
"""

from __future__ import annotations

import json
import os
import re
import uuid
from typing import Callable

from pyspark.sql import DataFrame


class LocalFileTransport:
    """Network-free, restart-idempotent transport fake: every batch is its own
    JSON file under ``out_dir``, named by the idempotency key
    ``(run_id, partition, attempt, batch)`` and written atomically (temp file,
    then ``os.replace``).

    A rerun of the same load with the same ``run_id`` recomputes the same
    deterministic batches and replaces identical paths, so the sink state
    after "kill anywhere, rerun" equals the clean one-shot state. Server-side
    this maps to PUT-with-idempotency-key semantics."""

    def __init__(self, out_dir: str, run_id: str = "0"):
        self.out_dir = out_dir
        self.run_id = run_id

    def send(
        self,
        partition_id: int,
        batch_index: int,
        records: list[dict],
        attempt_number: int = 0,
    ) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        name = (
            f"run_{self.run_id}_p{partition_id:05d}"
            f"_a{attempt_number:02d}_b{batch_index:04d}.jsonl"
        )
        path = os.path.join(self.out_dir, name)
        tmp = path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(
                json.dumps(
                    {
                        "partition_id": partition_id,
                        "batch_index": batch_index,
                        "attempt_number": attempt_number,
                        "n_records": len(records),
                        "records": records,
                    },
                    sort_keys=True,
                    default=str,
                )
                + "\n"
            )
        os.replace(tmp, path)  # atomic: a kill mid-write leaves only .tmp


def read_sink_output(out_dir: str, run_id: str = "0") -> list[dict]:
    """Read one run's ``LocalFileTransport`` output, deduplicating task
    retries.

    A retried Spark task re-sends its whole partition under a higher attempt
    number, so the only correct read keeps, per partition, the highest
    attempt present and ignores the rest; orphaned ``.tmp`` files
    (kill-mid-write debris) are ignored too. Every consumer of the sink
    output must go through this helper: a naive glob double-counts retried
    partitions. Returns the batch dicts ordered by (partition_id,
    batch_index).
    """
    pat = re.compile(rf"run_{re.escape(run_id)}_p(\d+)_a(\d+)_b\d+\.jsonl")
    names = os.listdir(out_dir) if os.path.isdir(out_dir) else []
    found = [(int(m[1]), int(m[2]), m[0]) for m in map(pat.fullmatch, names) if m]
    best_attempt: dict[int, int] = {}
    for pid, att, _name in found:
        best_attempt[pid] = max(best_attempt.get(pid, -1), att)
    batches = []
    for pid, att, name in found:
        if att == best_attempt[pid]:
            with open(os.path.join(out_dir, name), encoding="utf-8") as f:
                batches.append(json.load(f))
    batches.sort(key=lambda b: (b["partition_id"], b["batch_index"]))
    return batches


class RestBatchSink:
    """Batched executor-side sink over an injectable transport."""

    def __init__(
        self,
        transport_factory: Callable[[], object],
        batch_size: int = 100,
    ):
        self.transport_factory = transport_factory
        self.batch_size = batch_size

    def write(self, df: DataFrame) -> None:
        batch_size = self.batch_size
        factory = self.transport_factory
        columns = df.columns

        def _send_partition(it):
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId()
            attempt = ctx.attemptNumber()
            transport = factory()
            buf: list[dict] = []
            batch_index = 0
            for row in it:
                buf.append(dict(zip(columns, row)))
                if len(buf) >= batch_size:
                    transport.send(pid, batch_index, buf, attempt_number=attempt)
                    batch_index += 1
                    buf = []
            if buf:  # explicit final flush — partial batches are never lost
                transport.send(pid, batch_index, buf, attempt_number=attempt)

        df.foreachPartition(_send_partition)
