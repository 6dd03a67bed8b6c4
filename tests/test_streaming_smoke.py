"""Streaming smoke tier (SURVEY §2.11 ST1-ST6).

ST1-ST3: stream-table duality — the readStream twins replayed from files must
equal the declared batch forms. ST4: watermark drops late data. ST5:
streaming dedup within watermark. ST6: stateful per-key running aggregate
via applyInPandasWithState.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pytest

from tests.conftest import SF0001

GAP_US = 600_000_000  # 10 minutes


@pytest.fixture(scope="module")
def replay(spark):
    from ai_to_cvent_etl_spark.streaming.jobs import replay_dir

    return replay_dir(spark, SF0001, n_chunks=4)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_st1_tumbling_duality(spark, replay, registry):
    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        tumbling_counts,
    )

    stream = read_events_stream(spark, replay, files_per_trigger=2)
    got = run_available_now(
        tumbling_counts(stream), output_mode="complete", table_suffix="st1"
    )
    want = registry["q_stream_tumbling"].builder(spark, SF0001)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_st2_sliding_duality(spark, replay, registry):
    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        sliding_counts,
    )

    stream = read_events_stream(spark, replay, files_per_trigger=2)
    got = run_available_now(
        sliding_counts(stream), output_mode="complete", table_suffix="st2"
    )
    want = registry["q_stream_sliding"].builder(spark, SF0001)
    cols = ["window_start", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_st3_session_duality(spark, replay, registry):
    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        session_windows,
    )

    stream = read_events_stream(spark, replay, files_per_trigger=2)
    got = run_available_now(
        session_windows(stream), output_mode="complete", table_suffix="st3"
    )
    want = registry["q_stream_session"].builder(spark, SF0001)
    # streaming session_window end = last event + gap; batch end = last event
    got_rows = sorted(
        (r["user_id"], r["session_start"], r["n_events"]) for r in got.collect()
    )
    want_rows = sorted(
        (r["user_id"], r["session_start"], r["n_events"]) for r in want.collect()
    )
    assert got_rows == want_rows


def _write_event_file(path: str, rows: list[tuple]) -> None:
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(path)
    time.sleep(1.1)  # distinct mtimes => deterministic file-source order


def test_st8_stream_stream_join_duality(spark, replay):
    """ST8: the time-bounded stream-stream attribution join (views x
    purchases per user within 1 hour) equals the identical batch join.
    Watermarks on BOTH sides + the explicit time bound are what make the
    join state expirable — the scale contract for streaming joins."""
    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.io import load_table
    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
        view_purchase_join,
    )

    stream = read_events_stream(spark, replay, files_per_trigger=2)
    got = run_available_now(
        view_purchase_join(
            stream.filter(F.col("event_type") == "view"),
            stream.filter(F.col("event_type") == "purchase"),
        ),
        output_mode="append",
        table_suffix="st8",
    )

    ev = load_table(spark, SF0001, "events")
    # batch twin: same predicate on the static table (no watermark needed)
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("interval 1 hour")),
    ).select("v_user", "view_id", "purchase_id", "view_ts", "purchase_ts")

    cols = ["v_user", "view_id", "purchase_id", "view_ts", "purchase_ts"]
    got_rows = _rows(got, cols)
    assert len(got_rows) > 0
    assert got_rows == _rows(want, cols)


def test_st9_stream_static_enrichment_join(spark, replay):
    """ST9: stream-static join — the dimension-enrichment pattern (stream
    joins a static lookup table with NO watermark and NO join state: the
    static side is re-broadcast per micro-batch, so this is the cheap,
    always-safe enrichment shape at any scale). Equals the batch join."""
    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.io import load_table
    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    cust = load_table(spark, SF0001, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = read_events_stream(spark, replay, files_per_trigger=2)
    enriched = stream.join(cust, "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    got = run_available_now(enriched, output_mode="append", table_suffix="st9")

    ev = load_table(spark, SF0001, "events")
    want = ev.join(cust, "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    cols = ["event_id", "user_id", "c_mktsegment"]
    got_rows = _rows(got, cols)
    assert len(got_rows) > 0
    assert got_rows == _rows(want, cols)


def test_st10_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """ST10: availableNow + a shared checkpoint = incremental ETL. The first
    run drains the files present; after new files land, a second run with
    the SAME checkpoint resumes source offsets and processes ONLY the new
    files — the at-least-once-without-reprocessing contract a scheduled
    100 TB ingest job depends on (re-running the job never re-reads
    already-committed input)."""
    import shutil

    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.io import load_table
    from ai_to_cvent_etl_spark.streaming.jobs import read_events_stream

    # stage half the replay files, keep the rest aside
    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = load_table(spark, SF0001, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.repartition(2).write.mode("overwrite").parquet(str(tmp_path / "b1"))
    second.repartition(2).write.mode("overwrite").parquet(str(tmp_path / "b2"))
    for f in os.listdir(str(tmp_path / "b1")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "b1" / f), os.path.join(src, "a_" + f))

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        # parquet sink: the memory sink cannot recover from a checkpoint
        # (probed: AnalysisException), and the file sink is the realistic
        # incremental-ETL shape anyway — exactly-once file commits via the
        # sink's transaction log.
        q = (
            read_events_stream(spark, src, files_per_trigger=1)
            .select("event_id")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == first.count()

    # new files land; SAME checkpoint => only they are processed
    for f in os.listdir(str(tmp_path / "b2")):
        if f.endswith(".parquet"):
            shutil.copy(str(tmp_path / "b2" / f), os.path.join(src, "z_" + f))

    run_once()
    total = spark.read.parquet(out).count()
    assert total - n1 == second.count(), (n1, total)
    # the union of both incremental runs covers the full table exactly once
    assert total == ev.count()


def test_st4_watermark_drops_late_rows(spark, tmp_path):
    """Two incremental availableNow runs over one checkpoint: run 1 ingests
    the on-time data and persists watermark 11:50; run 2 sees only a late row
    for the already-closed 10:00 window and must drop it."""
    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    d = str(tmp_path / "replay")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(d)
    # run 1: five rows in window [10:00, 10:10) + one at 12:00 -> wm = 11:50
    _write_event_file(
        os.path.join(d, "a.parquet"),
        [(i, f"2024-01-01 10:0{i}:00", 1, "a", 1.0, "{}") for i in range(5)],
    )
    _write_event_file(
        os.path.join(d, "b.parquet"), [(6, "2024-01-01 12:00:00", 1, "a", 1.0, "{}")]
    )

    out = str(tmp_path / "out")

    def run_once():
        stream = read_events_stream(spark, d, files_per_trigger=1)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()

    # run 2: a LATE row for the closed window arrives -> dropped; the closed
    # window is emitted with exactly the 5 on-time rows.
    _write_event_file(
        os.path.join(d, "c.parquet"), [(7, "2024-01-01 10:02:30", 1, "a", 1.0, "{}")]
    )
    run_once()
    rows = {
        r["window_start"].isoformat(): r["n"] for r in spark.read.parquet(out).collect()
    }
    assert rows == {"2024-01-01T10:00:00": 5}


def test_st5_dedup_within_watermark(spark, tmp_path):
    from ai_to_cvent_etl_spark.streaming.jobs import (
        dedup_within_watermark,
        read_events_stream,
        run_available_now,
    )

    d = str(tmp_path / "dupes")
    os.makedirs(d)
    _write_event_file(
        os.path.join(d, "a.parquet"),
        [(i, "2024-01-01 10:00:00", 1, "a", 1.0, "{}") for i in (1, 2, 3)],
    )
    _write_event_file(
        os.path.join(d, "b.parquet"),
        [(i, "2024-01-01 10:01:00", 1, "a", 1.0, "{}") for i in (2, 3, 4)],
    )
    stream = read_events_stream(spark, d, files_per_trigger=1)
    got = run_available_now(
        dedup_within_watermark(stream), output_mode="append", table_suffix="st5"
    )
    assert sorted(r["event_id"] for r in got.collect()) == [1, 2, 3, 4]


def test_st6_stateful_running_aggregate(spark, replay):
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ai_to_cvent_etl_spark.io import load_table
    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    def running_count(key, pdfs, state: GroupState):
        (cnt,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    stream = read_events_stream(spark, replay, files_per_trigger=2).filter(
        "user_id < 20"
    )
    sdf = stream.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id bigint, n_events bigint",
        stateStructType="cnt bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    got = run_available_now(sdf, output_mode="update", table_suffix="st6")
    # last emitted running count per user == batch count
    from pyspark.sql import functions as F

    final = {
        r["user_id"]: r["n_events"]
        for r in got.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r["user_id"]: r["cnt"]
        for r in load_table(spark, SF0001, "events")
        .filter("user_id < 20")
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "cnt")
        .collect()
    }
    assert final == want


def test_foreach_batch_upsert_equals_batch_compaction(spark, replay, registry, tmp_path):
    """ST7: incremental foreachBatch CDC upsert over the chunked replay must
    end in exactly the state the one-shot batch compaction (E2) computes —
    the stream-batch duality for the ETL load path."""
    from ai_to_cvent_etl_spark.streaming.jobs import (
        foreach_batch_upsert,
        read_events_stream,
    )

    target = str(tmp_path / "upsert_target")
    ckpt = str(tmp_path / "upsert_ckpt")
    stream = read_events_stream(spark, replay, files_per_trigger=1)
    foreach_batch_upsert(stream, target, ckpt)

    got = spark.read.parquet(target).select("user_id", "event_id", "ts", "event_type")
    want = registry["q_etl_latest_by_key"].builder(spark, SF0001)
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows


def test_foreach_batch_upsert_replay_after_crash_between_renames(
    spark, replay, registry, tmp_path
):
    """A crash between the upsert's two renames leaves the previous target
    only under ``__retired`` (with or without a complete ``__staging``).
    Spark replays the uncommitted batch on restart; the replay must restore
    the previous target and end in the one-shot compaction, not in the
    replayed batch alone."""
    import glob
    import shutil

    from ai_to_cvent_etl_spark.streaming.jobs import (
        foreach_batch_upsert,
        read_events_stream,
    )

    parts = sorted(glob.glob(os.path.join(replay, "part-*.parquet")))
    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")

    def upsert(ckpt_dir):
        foreach_batch_upsert(
            read_events_stream(spark, str(src)), target, ckpt_dir
        )

    # batches 0..n-2, then keep the target as it stood before the last batch
    for p in parts[:-1]:
        shutil.copy(p, src)
    upsert(ckpt)
    before_last = str(tmp_path / "before_last")
    shutil.copytree(target, before_last)
    shutil.copy(parts[-1], src)
    upsert(ckpt)
    last = len(parts) - 1
    assert os.path.exists(os.path.join(ckpt, "commits", str(last)))

    want = registry["q_etl_latest_by_key"].builder(spark, SF0001)
    want_rows = sorted(map(tuple, want.collect()))
    cols = ("user_id", "event_id", "ts", "event_type")
    for with_staging in (True, False):
        run_ckpt = str(tmp_path / f"ckpt_{with_staging}")
        shutil.copytree(ckpt, run_ckpt)
        # crash state: the last batch's offsets are logged but not committed,
        # the old target sits under __retired, the merged one maybe staged
        for f in (str(last), f".{last}.crc"):
            if os.path.exists(os.path.join(run_ckpt, "commits", f)):
                os.remove(os.path.join(run_ckpt, "commits", f))
        shutil.rmtree(f"{target}__retired", ignore_errors=True)
        shutil.copytree(before_last, f"{target}__retired")
        if with_staging:
            shutil.move(target, f"{target}__staging")
        else:
            shutil.rmtree(target)

        upsert(run_ckpt)

        got = spark.read.parquet(target).select(*cols)
        assert sorted(map(tuple, got.collect())) == want_rows, with_staging
        assert os.path.exists(os.path.join(run_ckpt, "commits", str(last)))
        assert not os.path.exists(f"{target}__retired")
        assert not os.path.exists(f"{target}__staging")


def _has_protobuf() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithState's Python worker requires google.protobuf "
    "(not installed in this container); the API wiring below is still "
    "the real usage and runs wherever protobuf exists",
)
def test_st11_transform_with_state_running_max(spark, replay):
    """ST11: the Spark 4 transformWithStateInPandas API (the successor to
    applyInPandasWithState): a StatefulProcessor holding a per-user
    running max of `value` in a ValueState. Final emitted max per user
    must equal the batch max — stream/batch duality for the newest
    stateful operator surface."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    from ai_to_cvent_etl_spark.io import load_table
    from ai_to_cvent_etl_spark.streaming.jobs import (
        read_events_stream,
        run_available_now,
    )

    class RunningMax(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("mx", "mx double")

        def handleInputRows(self, key, rows, timerValues):
            mx = self._state.get()[0] if self._state.exists() else float("-inf")
            for pdf in rows:
                m = float(pdf["value"].max())
                if m > mx:
                    mx = m
            self._state.update((mx,))
            yield pd.DataFrame({"user_id": [key[0]], "max_value": [mx]})

        def close(self) -> None:
            pass

    stream = read_events_stream(spark, replay, files_per_trigger=2).filter(
        "user_id < 20"
    )
    sdf = stream.groupBy("user_id").transformWithStateInPandas(
        RunningMax(),
        outputStructType="user_id bigint, max_value double",
        outputMode="Update",
        timeMode="None",
    )
    # transformWithState requires the RocksDB state store provider
    # (documented constraint); scope it to this query and restore.
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        got = run_available_now(sdf, output_mode="update", table_suffix="st11")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    final = {
        r["user_id"]: r["max_value"]
        for r in got.groupBy("user_id")
        .agg(F.max("max_value").alias("max_value"))
        .collect()
    }
    want = {
        r["user_id"]: r["mx"]
        for r in load_table(spark, SF0001, "events")
        .filter("user_id < 20")
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"))
        .collect()
    }
    assert final == want


def test_st13_python_streaming_datasource(spark, tmp_path):
    """ST13: the Spark 4 SimpleDataSourceStreamReader surface — a pure-
    Python STREAMING source (the readStream twin of S9's batch
    DataSource): initialOffset()/read(start) drive micro-batches, each
    returning (rows, nextOffset). The synthetic feed emits a closed-form
    integer sequence per batch, so the landed sink rows must equal the
    formula exactly — smoke, not oracle-tier (DuckDB has no streaming
    twin to compare). At scale this is how a queue/REST cursor with no
    JVM connector enters Structured Streaming; offsets map to cursor
    positions and the Python boundary is paid per micro-batch."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    rows_per_batch = 5

    class TickReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"pos": 0}

        def read(self, start):
            pos = start["pos"]
            rows = [
                (pos + i, ((pos + i) * 2654435761) % 1000003)
                for i in range(rows_per_batch)
            ]
            return iter(rows), {"pos": pos + rows_per_batch}

    class TickSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_tick_stream"

        def schema(self):
            return "seq bigint, payload bigint"

        def simpleStreamReader(self, schema):
            return TickReader()

    spark.dataSource.register(TickSource)
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("synthetic_tick_stream")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            time.sleep(2)
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
            if n >= 2 * rows_per_batch:
                break
        assert n >= 2 * rows_per_batch, f"only {n} rows landed"
    finally:
        q.stop()
    got = spark.read.parquet(out)
    bad = got.selectExpr(
        "count(case when payload != (seq * 2654435761) % 1000003"
        " then 1 end) as bad"
    ).collect()[0]["bad"]
    assert bad == 0, "payload formula mismatch in streamed rows"
    seqs = sorted(r["seq"] for r in got.select("seq").collect())
    assert seqs == list(range(len(seqs))), "gaps or dups in offsets"
