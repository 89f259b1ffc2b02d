"""SparkSession factory with scale-aware defaults.

Local-mode testing uses local[$SPARK_GRAFT_CPUS]; the config choices are the
ones that transfer to a 1000-executor cluster:

- AQE on (runtime coalescing, skew-join splitting) so the same plan survives
  a 100x scale-up without re-tuning shuffle partition counts by hand.
- shuffle.partitions sized to cores locally; on a real cluster AQE's
  coalescePartitions makes the initial number mostly irrelevant.
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (duckdb timestamps are UTC-naive).
- Arrow enabled: every pandas_udf / mapInPandas boundary is Arrow-batched.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from typing import Any

from pyspark.sql import SparkSession

# the local property SparkContext.setJobDescription sets
_DESCRIPTION = "spark.job.description"


def _default_driver_mem() -> str:
    """Half of the host's physical memory, capped at 24g: the driver
    JVM's RSS grows toward its heap limit, and a limit above the host's
    memory lets one session exhaust it."""
    half = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2
    return f"{min(half >> 20, 24 << 10)}m"


def get_spark(
    app_name: str = "yaml-pipe-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # delete-by-source idempotency (reference sinks.py:65-80) becomes a
        # dynamic partition overwrite instead of a table rewrite:
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _inheriting(thunk: Callable[[], Any]) -> Callable[[], Any]:
    """`thunk` wrapped to run under the calling thread's Spark local
    properties (job description, job group, scheduler pool) and session
    tags, captured now; `thunk` itself when no SparkContext is running."""
    from pyspark import SparkContext
    from pyspark.util import inheritable_thread_target

    if SparkContext._active_spark_context is None:
        return thunk
    # active(), not getActiveSession(): inside a wave's thread no session
    # is active, and a nested wave must still find one
    return inheritable_thread_target(SparkSession.active())(thunk)


def run_wave(*thunks: Callable[[], Any]) -> list:
    """Run independent thunks (each typically ending in Spark actions) as
    one concurrent wave and return their results in submission order.

    Every thunk finishes before this returns or raises, so no store write
    keeps running after the caller moves on to its commit (meta write,
    pointer swap) or its error path; the first failure in submission
    order is then re-raised. Each call gets its own executor with one
    thread per thunk: waves nest (cmd_forget -> HybridRrfRetriever.forget
    -> each arm's forget), and a shared bounded pool would deadlock when
    its workers all wait on inner waves. Each thunk runs under the
    caller's job description and group (see `job_label`), so the wave's
    jobs are attributed to whoever started it."""
    wrapped = [_inheriting(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in wrapped]
    return [f.result() for f in futures]


@contextmanager
def job_label(spark: SparkSession, label: str) -> Iterator[None]:
    """Describe every Spark job the calling thread (and any `run_wave` it
    starts) launches inside the block as `label`; the previous
    description is restored on exit. A label is a thread-local property,
    so it adds no job."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(_DESCRIPTION)
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty(_DESCRIPTION, prev)


_SIZE_SUFFIX = {
    "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40, "b": 1,
}


def _size_bytes(v: str) -> int:
    """Spark size-conf string ('134217728', '128MB', '4m', '1g') -> bytes."""
    s = str(v).strip().lower()
    for suf in sorted(_SIZE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)])) * _SIZE_SUFFIX[suf]
    return int(float(s))


def spread_for_expansion(df, probe_materialized: bool = False):
    """Round-robin repartition a DataFrame to full parallelism IFF it is
    under-partitioned (e.g., a small compressed parquet arriving as one scan
    split) — the guard keeps well-partitioned cluster-scale inputs
    shuffle-free while rescuing the pathological case where a cheap scan
    feeds an expensive expansion (token/shingle explode) on one core.

    Partitioning is probed via `inputFiles()` (logical-plan file listing):
    unlike the previous `df.rdd.getNumPartitions()`, this never forces
    physical planning + RDD DAG conversion on the driver. The SPLIT count
    is then estimated with FilePartition's own arithmetic —
    ceil((bytes + n_files * openCost) / maxPartitionBytes) — so one huge
    splittable file (many scan tasks, never repartition) and many tiny
    bin-packed files (few scan tasks, do repartition) are both classified
    correctly; a raw file count gets BOTH cases wrong. File sizes come
    from the local filesystem; for non-local URIs (no cheap size probe
    from Python) and frames with no file lineage (in-memory frames,
    post-shuffle results) the frame is left alone — parallelize/shuffle
    already spread those, and a cluster-store scan arrives with real
    splits."""
    import os
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files:
        # No file lineage: in-memory / post-shuffle frames are already
        # spread (leave them alone — pinned in tests), but a MATERIALIZED
        # frame (localCheckpoint of a 1-file micro-batch, the
        # stream_bm25_append shape) silently keeps its stranded partition
        # count. Callers that routinely receive checkpointed inputs and
        # feed an expensive expansion (the index-store build/append
        # lifecycle) opt in to a partition-count probe — free on a
        # materialized frame, where `.rdd` is already an RDD, and safe on
        # any frame because the plan is about to be executed by the
        # caller anyway.
        if probe_materialized:
            try:
                n = df.rdd.getNumPartitions()
            except Exception:
                return df
            if n * 2 <= par:
                return df.repartition(par)
        return df
    total = 0
    for f in files:
        # inputFiles() returns percent-encoded URIs — decode before the
        # isfile probe or local paths with spaces/non-ASCII silently take
        # the non-local early return and skip the rescue repartition.
        parsed = urlparse(f)
        if parsed.scheme not in ("", "file"):
            # non-local store (s3a/hdfs/...): no cheap size probe, and the
            # URI's path component must never be probed against the LOCAL
            # filesystem (a coincidentally-existing /tmp/... would drive
            # the split estimate with an unrelated file's size)
            return df
        # only URIs (scheme present) are percent-encoded; a scheme-less
        # inputFiles entry is already a raw local path, and unquoting it
        # would corrupt names that literally contain %-sequences (ADVICE r7)
        path = unquote(parsed.path) if parsed.scheme else f
        if not os.path.isfile(path):
            return df  # no size probe available, leave as-is
        total += os.path.getsize(path)
    max_split = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    )
    est_splits = max(1, -(-(total + len(files) * open_cost) // max_split))
    if est_splits * 2 <= par:
        return df.repartition(par)
    return df
