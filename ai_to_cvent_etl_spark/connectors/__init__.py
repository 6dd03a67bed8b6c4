"""Connectors: the ETL "extract" and "load" legs (SURVEY §2.1 S4-S7).

The reference system's defining capability is moving records between two
live business systems. This package expresses that surface Spark-first:

* ``files``  — schema-explicit CSV/JSON/Parquet sources and sinks (testable
  everywhere; also the staging format between systems).
* ``jdbc``   — JDBC source/sink config wrappers (partitioned parallel reads,
  batched writes). Config-activated; no database exists in this environment,
  so they are constructed-and-documented but not integration-tested here.
* ``rest``   — executor-side batched REST sink via ``foreachPartition`` with
  an injectable transport. ``LocalFileTransport`` stands in for the remote
  API (one atomically written file per batch, keyed by run, partition,
  attempt and batch) and ``read_sink_output`` reads one run back with task
  retries deduplicated, so batching, retry and restart are tested offline.
"""

from ai_to_cvent_etl_spark.connectors.files import (  # noqa: F401
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    write_csv,
    write_json,
    write_orc,
    write_parquet,
)
from ai_to_cvent_etl_spark.connectors.jdbc import jdbc_reader, jdbc_writer  # noqa: F401
from ai_to_cvent_etl_spark.connectors.rest import (  # noqa: F401
    LocalFileTransport,
    RestBatchSink,
)
