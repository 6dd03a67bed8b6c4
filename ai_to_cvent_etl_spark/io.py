"""Table IO: explicit schemas (FIXTURES.md), parquet loaders, view registration.

Schemas are declared (not inferred) so the engine's contract with the DuckDB
oracle views is pinned: same names, same types, across every scale factor.
Reads go through Spark's vectorized parquet reader; filters/projections the
query builders apply are pushed into the scan by Catalyst (SURVEY §4).
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def _f(name: str, typ) -> StructField:
    return StructField(name, typ, nullable=True)

SCHEMAS: dict[str, StructType] = {
    "region": StructType([_f("r_regionkey", IntegerType()), _f("r_name", StringType())]),
    "nation": StructType(
        [
            _f("n_nationkey", IntegerType()),
            _f("n_name", StringType()),
            _f("n_regionkey", IntegerType()),
        ]
    ),
    "supplier": StructType(
        [
            _f("s_suppkey", LongType()),
            _f("s_name", StringType()),
            _f("s_nationkey", IntegerType()),
            _f("s_acctbal", DoubleType()),
        ]
    ),
    "customer": StructType(
        [
            _f("c_custkey", LongType()),
            _f("c_name", StringType()),
            _f("c_nationkey", IntegerType()),
            _f("c_acctbal", DoubleType()),
            _f("c_mktsegment", StringType()),
        ]
    ),
    "part": StructType(
        [
            _f("p_partkey", LongType()),
            _f("p_name", StringType()),
            _f("p_brand", StringType()),
            _f("p_type", StringType()),
            _f("p_size", IntegerType()),
            _f("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            _f("o_orderkey", LongType()),
            _f("o_custkey", LongType()),
            _f("o_orderstatus", StringType()),
            _f("o_totalprice", DoubleType()),
            _f("o_orderdate", TimestampNTZType()),
            _f("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            _f("l_orderkey", LongType()),
            _f("l_partkey", LongType()),
            _f("l_suppkey", LongType()),
            _f("l_linenumber", IntegerType()),
            _f("l_quantity", DoubleType()),
            _f("l_extendedprice", DoubleType()),
            _f("l_discount", DoubleType()),
            _f("l_tax", DoubleType()),
            _f("l_returnflag", StringType()),
            _f("l_linestatus", StringType()),
            _f("l_shipdate", TimestampNTZType()),
        ]
    ),
    "events": StructType(
        [
            _f("event_id", LongType()),
            _f("ts", TimestampType()),
            _f("user_id", LongType()),
            _f("event_type", StringType()),
            _f("value", DoubleType()),
            _f("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            _f("doc_id", LongType()),
            _f("text", StringType()),
            _f("lang", StringType()),
            _f("source", StringType()),
            _f("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            _f("vec_id", LongType()),
            _f("embedding", ArrayType(FloatType())),
            _f("label", IntegerType()),
        ]
    ),
}


# Serializes the nanosAsLong set/restore in load_table (events read): two
# concurrent calls interleaving set and restore could strand the session-wide
# legacy flag in the flipped state for unrelated parquet reads.
_NANOS_CONF_LOCK = threading.Lock()


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _events_ts_unit(path: str) -> str:
    """Sniff the parquet footer for events.ts time unit ('ns' or 'us').

    The driver has shipped both encodings across rounds (TIMESTAMP(NANOS)
    in r1-r2 test data, TIMESTAMP(MICROS) in r3), so the loader keys off the
    footer instead of assuming one. It runs only when load_table misses
    _DF_MEMO, whose key holds the file's (mtime, size), so the sniff runs
    once per distinct file per session.
    """
    import pyarrow.parquet as papq

    try:
        return getattr(papq.read_schema(path).field("ts").type, "unit", "us")
    except Exception:
        return "us"


# (applicationId, sf_dir, name, (mtime_ns, size)) -> DataFrame.
# r8 (guide §6, measure-first): building a reader WITHOUT an explicit schema
# makes the JVM re-list the path and re-read the parquet footer for schema
# inference on EVERY load_table call — measured 143 ms/call vs 23 ms with
# the declared schema, and builders call load_table 1-4x per query, so plan
# CONSTRUCTION cost rivaled execution on warm tail keys (measured: 12
# random keys, build 6.2 s vs exec 5.7 s). The memo holds the UNEXECUTED
# lazy DataFrame only — the catalog analogue of a registered table. No data
# or results are cached: every action on a derived query still scans the
# parquet in full. Staleness: keyed by file stat (mtime, size), so a
# rewritten fixture invalidates its entry; entries of retired Spark apps
# are evicted on insert (same contract as graph._EDGE_CACHE).
_DF_MEMO: dict = {}
_DF_MEMO_MAX = 64


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table. The parquet footer schema already matches SCHEMAS
    (verified in tests); reading natively keeps predicate pushdown and
    vectorization on the default fast path. Non-events tables read with the
    DECLARED schema (skips footer schema inference at plan-build time —
    the scan itself is unchanged); events keeps footer sniffing (its ts
    encoding varies by data generation) but the built frame is memoized.

    events.ts normalizes to Spark TimestampType (µs) whichever way the file
    encodes it:

    - parquet TIMESTAMP(NANOS): Spark's reader rejects it
      ([PARQUET_TYPE_ILLEGAL]), so we read raw nanos (legacy conf) and
      floor-divide to microseconds — exactly the ns->us truncation DuckDB
      applies when it materializes TIMESTAMP_NS to Python datetimes.
    - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads it as
      TIMESTAMP_NTZ; we cast to TimestampType (identity on wall-clock values
      under the UTC session timezone the engine pins) so every downstream
      query sees one ts type across data generations.
    """
    from ai_to_cvent_etl_spark.session import ensure_worker_imports

    ensure_worker_imports(spark)
    path_ = table_path(sf_dir, name)
    try:
        st = os.stat(path_)
        stat_key = (st.st_mtime_ns, st.st_size)
    except OSError:
        stat_key = None
    memo_key = (spark.sparkContext.applicationId, sf_dir, name, stat_key)
    cached = _DF_MEMO.get(memo_key)
    if cached is not None:
        return cached
    df = _build_table(spark, sf_dir, name)
    stale = [k for k in _DF_MEMO if k[0] != memo_key[0]]
    for k in stale:
        del _DF_MEMO[k]
    while len(_DF_MEMO) >= _DF_MEMO_MAX:
        del _DF_MEMO[next(iter(_DF_MEMO))]
    _DF_MEMO[memo_key] = df
    return df


def _build_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql.types import TimestampNTZType

        path = table_path(sf_dir, name)
        if _events_ts_unit(path) != "ns":
            df = spark.read.parquet(path)
            if isinstance(df.schema["ts"].dataType, TimestampNTZType):
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            return df

        # Scope the legacy-conf flip to this read (set -> build -> restore):
        # Spark snapshots the effective conf into the scan when the DataFrame
        # is BUILT (probed: execution after restore still returns correct ts),
        # so later unrelated parquet reads of TIMESTAMP(NANOS) columns fail
        # loudly instead of silently yielding raw BIGINT nanos (ADVICE r1).
        # The module-level lock serializes concurrent load_table calls on one
        # session so an interleaved restore can never leave the flag flipped
        # for an unrelated read (ADVICE r2).
        key = "spark.sql.legacy.parquet.nanosAsLong"
        with _NANOS_CONF_LOCK:
            try:
                prior = spark.conf.get(key)
            except Exception:
                prior = None
            spark.conf.set(key, "true")
            try:
                df = spark.read.parquet(path)
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
                # Force schema resolution while the conf is active.
                df.schema
            finally:
                if prior is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prior)
        return df
    if name == "embeddings":
        # Input hygiene (r6 adversarial contract): malformed vectors —
        # NULL, zero-length, or containing NaN — are dropped at load, the
        # standard validate-at-ingestion pattern. On well-formed fixtures
        # this predicate is a no-op (verified: all oracle hashes
        # unchanged), so the oracle contract is unaffected; on hostile
        # inputs it keeps the whole vector family (norms, top-k, kmeans
        # seeding) crash-free instead of dying on the first corrupt row.
        return (
            spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))
            .where(
                "embedding IS NOT NULL AND size(embedding) > 0 "
                "AND NOT exists(embedding, x -> isnan(x)) "
                # zero-norm vectors are undefined under cosine and, with
                # ANSI mode on (Spark 4 default), turn every norm division
                # into a runtime error — same ingestion-validation class
                "AND exists(embedding, x -> x <> 0.0F)"
            )
        )
    return spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views (for spark.sql query builders)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def clear_df_caches() -> None:
    """Drop every memoized CHECKPOINTED DataFrame the engine holds
    (the graph edge caches). A measurement harness that unpersists all
    persistent RDDs between queries (perfbench's census,
    tools/stress_merge.py) MUST call this first: the memoized frames
    reference localCheckpoint blocks, and reusing them after an external
    unpersist fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND (observed on the
    iterative graph keys in the r6 sf10 sweep). Plain-Python memo caches
    (kmeans centroid lists) hold no RDD references and are deliberately
    left alone."""
    from ai_to_cvent_etl_spark.queries import graph

    graph._TRADE_EDGE_CACHE.clear()
    graph._EDGE_CACHE.clear()
