"""Loaders for the driver-generated parquet tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from yaml_pipe_spark.lru import Lru

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to session-zoned TIMESTAMP.

    The driver regenerates the parquet tables between rounds and the writer's
    timestamp annotation has varied: round 1-2 data carried TIMESTAMP(NANOS),
    round 3 data is tz-naive micros, which Spark 4 reads as TIMESTAMP_NTZ
    (spark.sql.parquet.inferTimestampNTZ.enabled defaults to true). All query
    code and the DuckDB oracles assume plain TIMESTAMP under a UTC session
    zone (duckdb timestamps are UTC-naive), so normalize here: the NTZ ->
    TIMESTAMP cast reinterprets the wall-clock value in the session zone,
    an identity on the stored micros when that zone is UTC.
    """
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return df


# Both caches below are bounded LRUs: a long-lived driver that keeps
# regenerating tables would otherwise keep every stale key (and, for the
# plan cache, every session it ever saw) alive.
_CACHE_SIZE = 64

# Inferred parquet schemas, keyed by (path, mtime_ns, size): passing an
# explicit schema to the reader skips the per-call footer-inference pass
# (measured 0.35-0.8 s PER load_table call — paid inside the timed region
# of nearly every registered query). This caches METADATA only, never
# data or results: every action still scans the parquet files, and the
# stat-based key drops the entry the moment the driver regenerates a
# table. The production analogue is reading through a catalog/metastore
# instead of re-inferring schemas per query.
_SCHEMA_CACHE = Lru(_CACHE_SIZE)

# Inference results depend on spark.sql.legacy.parquet.nanosAsLong, so
# every inference miss sets it first: a cached schema never depends on
# call order (ADVICE r13), and no per-session bookkeeping is kept.
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _stat_key(path: str) -> tuple:
    try:
        st = os.stat(path)
        return (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return (path, 0, 0)


def raw_parquet_schema(spark: SparkSession, path: str):
    """The file's RAW inferred schema (pre-normalization), via the same
    stat-keyed cache — also the footer probe streaming sources use to
    declare their schema (readStream requires one explicitly). The
    nanosAsLong conf is pinned before every inference so the cached
    schema never depends on call order (ADVICE r13)."""
    key = _stat_key(path)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        spark.conf.set(_NANOS_CONF, "true")
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE.put(key, schema)
    return schema


# Loaded-table DataFrames, keyed by (session id, path, stat key): the
# lazy PLAN for a table, not its data — every action over it still scans
# the parquet files. What re-building the plan per call paid (and the
# cache removes): the reader's relation resolution + file listing
# (~17 ms) and the dtypes/normalization py4j round-trips (~10-60 ms),
# ~300 load_table calls per bench pass. Invalidated by the same stat key
# as the schema cache the moment the driver regenerates a table; the
# production analogue is a catalog table with its cached file index
# (spark.sql.hive.filesourcePartitionFileCacheSize does exactly this).
# values are (session, df) so a hit can identity-check its session
_DF_CACHE = Lru(_CACHE_SIZE)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalizing timestamp physical types.

    `events.ts` has been TIMESTAMP(NANOS) in some driver generations, which
    Spark's parquet reader rejects by default — read nanos as long and
    truncate to microseconds (integer div: double division would lose
    precision at nano-epoch magnitudes), matching DuckDB's nanos->micros
    truncation so oracle comparisons agree. Other generations store tz-naive
    micros; `_normalize_timestamps` handles that case.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (id(spark), *_stat_key(path))
    cached = _DF_CACHE.get(key)
    # identity check: a garbage-collected session's id() can be reused by
    # a new one — never serve a plan bound to a dead session
    if cached is not None and cached[0] is spark:
        return cached[1]
    if name == "events":
        # the conf matters at SCAN time too (the physical reader honors
        # it when the explicit schema says long for a nanos column)
        spark.conf.set(_NANOS_CONF, "true")
    df = spark.read.schema(raw_parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    df = _normalize_timestamps(df)
    _DF_CACHE.put(key, (spark, df))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TABLE_NAMES}
