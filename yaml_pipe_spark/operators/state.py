"""Incremental-processing state: the reference's ledger as a Spark state table.

Reference (SURVEY §2.4, utils/state_manager.py): a JSON/Redis dict
{"processed_items": {item_id -> sha256}, "last_run_timestamp": iso8601}
drives new/changed detection (`has_changed`, state_manager.py:155-178) and is
upserted after each run (state_manager.py:180-196, committed at
core/pipeline.py:96-98).

Spark design: a parquet state table (item_id STRING, content_hash STRING,
updated_at TIMESTAMP). Change detection is ONE left anti-join on
(item_id, content_hash) — the heart of incrementality, and the only join the
reference implicitly performs. Commit order fixes the reference's non-atomic
sink-then-state hazard (SURVEY §3.1 step 5): data write is idempotent
(dynamic partition overwrite), state table is overwritten after.

Bug-fix vs reference (deliberate, documented): hash failures there are
treated as *unchanged* and silently skipped (state_manager.py:167-170); here a
null hash never matches the ledger, so such rows are re-processed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

STATE_SCHEMA = "item_id string, content_hash string, updated_at timestamp"


def changed_rows(
    current: DataFrame,
    state: DataFrame,
    id_col: str = "item_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Rows of `current` that are new or changed w.r.t. the ledger.

    Left anti-join on (item_id, content_hash): a row survives iff no ledger
    entry has the same id AND hash — i.e. new items and changed items both
    pass, unchanged items are pruned. Shuffles both sides on the key; at
    scale, AQE picks broadcast automatically when the ledger is small.
    """
    ledger = state.select(
        F.col(id_col).alias("__sid"), F.col(hash_col).alias("__shash")
    )
    cond = (F.col(id_col) == F.col("__sid")) & (F.col(hash_col) == F.col("__shash"))
    return current.join(ledger, cond, "left_anti")


def read_state(spark: SparkSession, state_path: str) -> DataFrame:
    """Load the ledger; missing/corrupt -> empty ledger (the reference starts
    fresh on corrupt state, state_manager.py:59-61)."""
    from yaml_pipe_spark.operators.index_meta import path_exists

    if not path_exists(spark, state_path):
        return spark.createDataFrame([], STATE_SCHEMA)
    try:
        return spark.read.schema(STATE_SCHEMA).parquet(state_path)
    except Exception:
        return spark.createDataFrame([], STATE_SCHEMA)


def merge_ledger(
    processed: DataFrame,
    prior_state: DataFrame,
    id_col: str = "item_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """T3 upsert as a pure transform: processed rows supersede prior entries
    with the same item_id; everything else carries over. Returns
    (item_id, content_hash) — MERGE emulation without Delta, one anti-join
    plus a union."""
    new = processed.select(
        F.col(id_col).cast("string").alias("item_id"),
        F.col(hash_col).alias("content_hash"),
    ).dropDuplicates(["item_id"])
    kept = prior_state.join(new, "item_id", "left_anti").select(
        "item_id", "content_hash"
    )
    return kept.unionByName(new)


def commit_state(
    processed: DataFrame,
    prior_state: DataFrame,
    state_path: str,
    id_col: str = "item_id",
    hash_col: str = "content_hash",
) -> None:
    """Upsert processed (item_id, hash) into the ledger and persist.

    Single overwrite of the (small) state table; updated_at is the commit
    watermark (T4, state_manager.py:198-202), carried over for rows the
    batch did not touch.
    """
    now = F.current_timestamp()
    new = processed.select(
        F.col(id_col).cast("string").alias("item_id"),
        F.col(hash_col).alias("content_hash"),
    ).dropDuplicates(["item_id"])
    kept = prior_state.join(new, "item_id", "left_anti").select(
        "item_id", "content_hash", "updated_at"
    )
    merged = kept.unionByName(new.withColumn("updated_at", now))
    # The state table is tiny relative to the data (one row per item);
    # localCheckpoint breaks lineage so the overwrite doesn't re-read the
    # path it is replacing.
    merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(state_path)


def last_run_timestamp(state: DataFrame):
    """T4 watermark: max(updated_at) or None on an empty ledger."""
    row = state.agg(F.max("updated_at").alias("ts")).collect()[0]
    return row.ts


def scd2_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 history from an event/fact stream.

    Collapses consecutive rows with an unchanged `attr_col` into versioned
    validity intervals per key: (key, version, attr, valid_from, valid_to,
    is_current), where valid_to is NULL on the open (current) version. This
    is the warehouse-standard dimension-history build the reference's ledger
    (state_manager.py:180-196) cannot express — it keeps only the latest
    hash per item; SCD2 keeps the full lineage of changes.

    Shape: gaps-and-islands. One shuffle on `key_col`; every window below
    reuses that same partitioning (Catalyst schedules them in one Exchange).
    No driver-side state; at 100 TB the cost is the single key shuffle.
    `tiebreak_col` must make (ts, tiebreak) unique per key so version
    boundaries are deterministic.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(attr_col).over(w)
    # null-safe change detection (IS DISTINCT FROM, matching the SQL twin):
    # plain != returns NULL around NULL attrs, which would merge distinct
    # versions or split NULL runs; eqNullSafe treats the leading lag-NULL
    # row as a change only when the attr itself differs, so bump explicitly
    # on the first row via row_number
    rn1 = F.row_number().over(w) == 1
    chg = F.when(rn1 | ~prev.eqNullSafe(F.col(attr_col)), 1).otherwise(0)
    versioned = df.select(
        key_col, ts_col, tiebreak_col, attr_col
    ).withColumn("__chg", chg).withColumn(
        "version",
        F.sum("__chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = versioned.groupBy(key_col, "version", attr_col).agg(
        F.min(ts_col).alias("valid_from")
    )
    wv = Window.partitionBy(key_col).orderBy("version")
    nxt = F.lead("valid_from").over(wv)
    return spans.select(
        F.col(key_col),
        F.col("version").cast("int").alias("version"),
        F.col(attr_col),
        F.col("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
    )


def merge_aggregates(
    prior: DataFrame,
    delta: DataFrame,
    keys: list[str],
) -> DataFrame:
    """Incremental view maintenance for mergeable aggregates: combine a
    previously-materialized per-key aggregate table with the aggregate of a
    new delta batch, without re-scanning history.

    Both inputs carry the partial-aggregate columns (n_events BIGINT,
    sum_value DOUBLE); the merge is a unionByName + one groupBy on the keys
    — count and sum are associative/commutative, so
    merge(agg(prior_rows), agg(delta_rows)) == agg(all_rows). Derived
    measures (avg) are recomputed from the merged partials, never averaged.

    The output keeps sum_value UNROUNDED so it remains a valid partial: the
    next run can feed this result back as `prior` and
    merge(merge(a, b), c) == agg(a ∪ b ∪ c) still holds exactly. Rounding
    is presentation — apply it in the query/report layer, never between
    merges (a rounded partial breaks associativity).

    The 100 TB point: a daily pipeline folds yesterday's aggregate table
    (small, per-key) with today's delta (the only raw scan), exactly like
    Spark's own partial/final aggregation split — but across runs instead
    of across tasks.
    """
    merged = prior.unionByName(delta)
    return merged.groupBy(*keys).agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("sum_value").alias("sum_value"),
    )
