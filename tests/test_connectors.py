"""Connector tier tests: S4 CSV round-trip, S5 JSON round-trip, S6 partitioned
parquet sink + partition pruning, S7 REST batch sink (file-transport fake) and
JDBC config wrappers."""

from __future__ import annotations

import glob
import json
import os

from tests.conftest import SF0001


def _events(spark, n=200):
    from ai_to_cvent_etl_spark.io import load_table

    return load_table(spark, SF0001, "events").orderBy("event_id").limit(n)


def _as_set(df):
    return sorted(tuple(r) for r in df.collect())


def test_s4_csv_roundtrip(spark, tmp_path):
    from ai_to_cvent_etl_spark.connectors import read_csv, write_csv

    df = _events(spark)
    path = str(tmp_path / "events_csv")
    write_csv(df, path)
    back = read_csv(spark, path, df.schema)
    assert back.schema == df.schema
    assert _as_set(back) == _as_set(df)


def test_s5_json_roundtrip(spark, tmp_path):
    from ai_to_cvent_etl_spark.connectors import read_json, write_json

    df = _events(spark)
    path = str(tmp_path / "events_json")
    write_json(df, path)
    back = read_json(spark, path, df.schema)
    assert back.schema == df.schema
    assert _as_set(back) == _as_set(df)


def test_s6_partitioned_parquet_sink_prunes(spark, tmp_path):
    from ai_to_cvent_etl_spark.connectors import read_parquet, write_parquet
    from ai_to_cvent_etl_spark.io import load_table

    docs = load_table(spark, SF0001, "documents")
    path = str(tmp_path / "docs_by_lang")
    write_parquet(docs, path, partition_by=["lang"])

    # hive-style layout exists
    langs = {os.path.basename(p) for p in glob.glob(os.path.join(path, "lang=*"))}
    assert langs == {f"lang={l}" for l in ("de", "en", "es", "fr", "zh")}

    back = read_parquet(spark, path)
    pruned = back.filter(back.lang == "en")
    # partition filter prunes directories: the physical plan carries it as a
    # partition filter, not a data filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan
    assert pruned.count() == docs.filter(docs.lang == "en").count()
    # round-trip values (column order changes under partitionBy; realign)
    cols = docs.columns
    assert _as_set(back.select(*cols)) == _as_set(docs)


def test_s7_rest_sink_batches(spark, tmp_path):
    from pyspark.sql import functions as F

    from ai_to_cvent_etl_spark.connectors.rest import (
        LocalFileTransport,
        RestBatchSink,
        read_sink_output,
    )
    from ai_to_cvent_etl_spark.io import load_table

    out = str(tmp_path / "rest_out")
    events = load_table(spark, SF0001, "events")
    normalized = events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        F.upper("event_type").alias("event_type"),
        F.round(F.col("value"), 2).alias("value"),
    )
    RestBatchSink(lambda: LocalFileTransport(out), batch_size=64).write(normalized)

    batches = read_sink_output(out)
    # simulate a task retry: partition 0 re-sends everything under attempt 1;
    # the reader must keep only the retry, never both attempts
    p0 = [b for b in batches if b["partition_id"] == 0]
    retry = LocalFileTransport(out)
    for b in p0:
        retry.send(0, b["batch_index"], b["records"], attempt_number=1)
    reread = read_sink_output(out)
    assert sum(b["n_records"] for b in reread) == sum(
        b["n_records"] for b in batches
    )
    assert all(
        b["attempt_number"] == 1 for b in reread if b["partition_id"] == 0
    )

    n_events = events.count()
    assert sum(b["n_records"] for b in batches) == n_events
    assert all(b["n_records"] <= 64 for b in batches)
    # batch indices are contiguous per partition (flush logic is ordered)
    by_pid: dict[int, list[int]] = {}
    for b in batches:
        by_pid.setdefault(b["partition_id"], []).append(b["batch_index"])
    for idxs in by_pid.values():
        assert sorted(idxs) == list(range(len(idxs)))
    # records carry the normalized shape
    rec = batches[0]["records"][0]
    assert set(rec) == {"event_id", "ts", "user_id", "event_type", "value"}
    assert rec["event_type"].isupper()


def test_s7_jdbc_wrappers_configure(spark):
    from ai_to_cvent_etl_spark.connectors import jdbc_reader, jdbc_writer
    from ai_to_cvent_etl_spark.io import load_table

    r = jdbc_reader(
        spark,
        url="jdbc:postgresql://db.example/warehouse",
        table="public.orders",
        partition_column="o_orderkey",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=16,
    )
    # reader is configured and loadable-shaped; no database to .load() here
    assert r is not None

    w = jdbc_writer(
        load_table(spark, SF0001, "orders").limit(1),
        url="jdbc:postgresql://db.example/warehouse",
        table="public.orders_out",
        batch_size=500,
    )
    assert w is not None


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """Scale contract for partitioned sinks: a reader filtering on the
    partition column must prune directories at PLAN time (PartitionFilters
    in the scan, only the matching dir's files listed) — at 100 TB this is
    the difference between listing one lang's files and the whole lake."""
    from ai_to_cvent_etl_spark.connectors import write_parquet
    from ai_to_cvent_etl_spark.io import load_table

    out = str(tmp_path / "docs_by_lang")
    docs = load_table(spark, SF0001, "documents")
    write_parquet(docs, out, partition_by=["lang"])

    back = spark.read.parquet(out).filter("lang = 'en'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "lang" in plan, plan
    n_en = docs.filter("lang = 'en'").count()
    assert back.count() == n_en
    # physical layout: one subdir per lang value
    import os

    langs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert "lang=en" in langs and len(langs) >= 2


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema evolution (the ETL reality: a source adds a column mid-history):
    two parquet batches with divergent schemas read back as one table via
    mergeSchema — old rows NULL-fill the new column, pruning/pushdown still
    work on the union schema. mergeSchema is a read-time option, so the
    historical files are never rewritten (the only sane behavior at 100 TB)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    ev = _events(spark, 100)
    # batch 1: v1 schema
    ev.select("event_id", "user_id", "value").write.mode("append").parquet(out)
    # batch 2: v2 schema adds a column
    ev.select(
        "event_id", "user_id", "value", F.lit("v2").alias("pipeline_version")
    ).write.mode("append").parquet(out)

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {
        "event_id", "user_id", "value", "pipeline_version"
    }
    assert merged.count() == 200
    # old rows NULL-fill; new rows carry the value
    counts = dict(
        merged.groupBy("pipeline_version").count().collect()
    )
    assert counts == {None: 100, "v2": 100}


def test_s8_orc_roundtrip(spark, tmp_path):
    from ai_to_cvent_etl_spark.connectors import read_orc, write_orc

    df = _events(spark)
    path = str(tmp_path / "events_orc")
    write_orc(df, path)
    back = read_orc(spark, path, df.schema)
    assert back.schema == df.schema
    assert _as_set(back) == _as_set(df)


def test_s8_partitioned_orc_sink_prunes(spark, tmp_path):
    """ORC honors the same hive-layout partition-pruning contract as S6's
    parquet sink: a partition predicate must prune to one directory."""
    from ai_to_cvent_etl_spark.connectors import read_orc, write_orc
    from ai_to_cvent_etl_spark.io import load_table

    docs = load_table(spark, SF0001, "documents")
    path = str(tmp_path / "docs_orc")
    write_orc(docs, path, partition_by=["lang"])
    back = read_orc(spark, path).filter("lang = 'de'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # same assertion as the S6 parquet test: pruning shows as
    # PartitionFilters in the scan at PLAN time
    assert "PartitionFilters" in plan and "lang" in plan, plan
    assert back.count() == docs.filter("lang = 'de'").count()
    langs = {d for d in os.listdir(path) if d.startswith("lang=")}
    assert "lang=de" in langs and len(langs) >= 2


def test_dynamic_partition_pruning(spark, tmp_path):
    """A fact table partitioned on the join key must be pruned at RUNTIME
    by the dim-side filter (dynamic partition pruning) — the scan's plan
    carries a dynamicpruning subquery instead of reading every
    partition. The layout half of the SCALE.md scan story (static
    pruning is covered by the partitioned-sink tests)."""
    from ai_to_cvent_etl_spark.io import load_table
    from tests.conftest import SF0001

    fact_dir = str(tmp_path / "orders_by_status")
    orders = load_table(spark, SF0001, "orders")
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(
        fact_dir
    )
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")],
        "st string, label string",
    ).where("label = 'final'")
    fact = spark.read.parquet(fact_dir)
    joined = fact.join(dim, fact.o_orderstatus == dim.st)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the result is exactly the F partition
    assert joined.count() == orders.where("o_orderstatus = 'F'").count()


def test_s11_csv_corrupt_record_handling(spark, tmp_path):
    """S11: PERMISSIVE CSV ingestion with a _corrupt_record column — the
    robustness surface every real feed needs: well-formed rows parse,
    malformed rows land intact in the corrupt column (never dropped
    silently), and DROPMALFORMED mode keeps only the clean rows."""
    p = tmp_path / "feed.csv"
    p.write_text(
        "1,alpha,10.5\n"
        "2,beta,oops_not_a_number\n"
        "3,gamma,7.25\n"
        "not,even,close,to,valid\n"
    )
    schema = "id INT, name STRING, amount DOUBLE, _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(str(p))
        .cache()  # required: corrupt-record queries need the raw row retained
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["amount"] == 10.5 and rows[1]["_corrupt_record"] is None
    assert rows[3]["amount"] == 7.25
    bad = [r for r in df.collect() if r["_corrupt_record"] is not None]
    assert len(bad) == 2  # the bad-number row and the wrong-arity row
    assert any("oops_not_a_number" in r["_corrupt_record"] for r in bad)
    df.unpersist()

    clean = (
        spark.read.schema("id INT, name STRING, amount DOUBLE")
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert sorted(r["id"] for r in clean.collect()) == [1, 3]


def test_s12_python_datasource_writer(spark, tmp_path):
    """S12: the Spark 4 Python DataSource WRITER path — a custom sink
    whose write(iterator) runs per partition and returns a commit
    message (the commit/abort protocol is what makes custom sinks
    idempotent-by-retry, the same discipline as the S7 REST sink's
    attempt-keyed files)."""
    import json as _json
    import os as _os

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    out_dir = str(tmp_path / "jl_sink_out")
    _os.makedirs(out_dir)

    class JLWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options.get("path")

        def write(self, iterator):
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            p = _os.path.join(self.path, f"part-{pid}.jsonl")
            with open(p, "w") as f:
                for row in iterator:
                    f.write(_json.dumps(row.asDict()) + "\n")
            return WriterCommitMessage()

    class JLSink(DataSource):
        @classmethod
        def name(cls):
            return "jl_sink_test"

        def writer(self, schema, overwrite):
            return JLWriter(self.options)

    spark.dataSource.register(JLSink)
    df = spark.range(20).selectExpr("id", "id * 3 AS tripled")
    df.repartition(4).write.format("jl_sink_test").option(
        "path", out_dir
    ).mode("append").save()

    rows = []
    for fn in sorted(_os.listdir(out_dir)):
        with open(_os.path.join(out_dir, fn)) as f:
            rows.extend(_json.loads(line) for line in f)
    assert len(rows) == 20
    assert {r["id"] for r in rows} == set(range(20))
    assert all(r["tripled"] == r["id"] * 3 for r in rows)
