"""Shared fingerprint/meta machinery for persisted index stores.

Both persisted indexes — the IVF-PQ vector store (operators/ann_index.py)
and the BM25 inverted-index store (operators/retrieval.py) — key their
build-once/serve-many amortization on the same corpus fingerprint:
(row count, bit_xor over per-row xxhash64), computed in ONE narrow
aggregate. The XOR fold is order-free and composes over disjoint row sets,
which is what makes append-only maintenance exact: after any append chain
the composed fingerprint equals the full-corpus scan iff the indexed rows
are exactly the corpus rows. Keeping the construction in one place means a
change to the staleness contract cannot desynchronize the two stores
(review finding, round 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def tiny_local_df(
    spark: SparkSession, data: list[tuple], schema: str
) -> DataFrame:
    """A small local-data DataFrame on ONE slice — for meta rows and
    other driver-built frames that get written as a single file.

    The default `spark.createDataFrame(data, schema)` parallelizes even
    a 1-row list over defaultParallelism Python partitions; a downstream
    `.coalesce(1)` then folds them into ONE task that pays a SEQUENTIAL
    Python-worker round-trip per empty parent partition — measured r13:
    4.4 s to write a 1-row meta frame at local[32], vs 0.35 s on a
    single slice. Every persisted store's meta commit was paying that
    tax on every build/append/forget."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(data, 1), schema
    )


def fingerprint_of(df: DataFrame, *cols: str) -> tuple[int, int]:
    """(n_rows, order-insensitive content hash) in ONE aggregate — a
    single narrow scan, the cheap end of staleness checks.

    bit_xor is order-insensitive and cannot overflow (sum would, under
    ANSI); ids are unique so cancellation needs identical duplicate rows,
    which the count catches."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    row = df.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.bit_xor(h), F.lit(0)).cast("long").alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def read_table(
    spark: SparkSession, path: str, schema=None
) -> DataFrame:
    """A persisted store table. Given `schema` (the DDL string or
    StructType its writer declares) Spark launches no schema-inference
    job; without it the schema is inferred from a file footer."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists, asked of the Hadoop FileSystem of its
    scheme. Reading an absent path through `spark.read` raises, and
    Spark logs the failure as an error with a full stack trace even when
    the caller handles it."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(spark._jsc.hadoopConfiguration()).exists(p))


def read_meta(
    spark: SparkSession, meta_path: str, schema: str | None = None
) -> dict | None:
    """The store's single meta row as a dict; None if absent/unreadable
    (callers treat that as 'stale, rebuild'). `schema` is the DDL the
    store's meta writer declares; a column an older meta lacks reads as
    None, the same as the absent key it used to be."""
    if not path_exists(spark, meta_path):
        return None
    try:
        rows = read_table(spark, meta_path, schema).collect()
    except Exception:
        return None
    return rows[0].asDict() if rows else None
