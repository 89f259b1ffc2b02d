"""Structured Streaming twins (stream_*, stateful_*)."""

# Split from the original entrypoints.py monolith (round 11);
# blocks keep their original relative order.

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from yaml_pipe_spark.session import run_wave
from yaml_pipe_spark.tables import load_table

from yaml_pipe_spark.entrypoints._shared import (
    ANN_INDEX_PERSISTED_ORACLE,
    INCREMENTAL_MINHASH_ORACLE,
    INTERVAL_JOIN_ORACLE,
    SESSION_WINDOW_ORACLE,
    _BM25_TOPK_ORACLE,
    register,
)


@register(
    "stream_incremental_dedup",
    INCREMENTAL_MINHASH_ORACLE,
    "Streaming incremental near-dup (streaming.run_incremental_dedup_stream, "
    "closing VERDICT r5 ask #4): the standing 80% of doc_ids preload the "
    "persisted band state + corpus tables, the last 20% arrive as a file-"
    "stream increment, and foreachBatch dedups the micro-batch against the "
    "state via incremental_minhash_dedup then appends its bands/docs — the "
    "reference's run ledger (utils/state_manager.py:155-196) elevated to "
    "its streaming end-state. The availableNow drain equals the batch "
    "two-snapshot answer, so the oracle is INCREMENTAL_MINHASH_ORACLE "
    "unchanged; every state write is content-keyed dynamic partition "
    "overwrite so crash-replay converges (rerun-idempotency unit-tested "
    "in tests/test_stream_incremental_dedup.py).",
)
def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from yaml_pipe_spark.operators.dedup import minhash_band_state
    from yaml_pipe_spark.streaming.stream import run_incremental_dedup_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = docs.agg(
        F.floor(0.8 * F.max("doc_id")).cast("long").alias("__s")
    )
    staged = docs.crossJoin(F.broadcast(split))
    old = staged.filter(F.col("doc_id") < F.col("__s")).select(
        "doc_id", "text"
    )
    new = staged.filter(F.col("doc_id") >= F.col("__s")).select(
        "doc_id", "text"
    )
    base = os.path.join(
        "spark-warehouse",
        f"stream_inc_dedup_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(base, ignore_errors=True)  # fresh drain every invocation
    from yaml_pipe_spark.streaming.stream import commit_band_state

    # the three preload writes (increment file, band state, standing
    # corpus) touch disjoint directories and only the drain afterwards
    # reads any of them — submit them as concurrent jobs instead of three
    # back-to-back writes (guide §2.6)
    def _stage_input():
        # the increment arrives as ONE file -> one micro-batch, so the
        # drain is the exact two-snapshot batch computation
        new.coalesce(1).write.parquet(os.path.join(base, "input"))

    def _stage_bands():
        # preload the standing state the way a corpus build would have
        # left it
        commit_band_state(
            minhash_band_state(old), os.path.join(base, "state")
        )

    def _stage_corpus():
        (
            old.withColumn("__snap", F.lit(-1))
            .write.partitionBy("__snap")
            .parquet(os.path.join(base, "state", "corpus"))
        )

    run_wave(_stage_input, _stage_bands, _stage_corpus)
    run_incremental_dedup_stream(
        spark,
        os.path.join(base, "input"),
        os.path.join(base, "state"),
        os.path.join(base, "ckpt"),
    )
    return spark.read.parquet(os.path.join(base, "state", "verdicts")).select(
        "doc_id", "dup_of", "jaccard", "reason"
    )


_STREAM_COUNTER = [0]


def _drain_to_memory(stream_df, output_mode: str, name: str):
    # Stateful streaming operators pay a per-shuffle-partition state-store
    # cost (open/commit per micro-batch per partition); at test scale 32
    # partitions are pure overhead, so drain with 8. The partition count is
    # baked into the checkpoint at first run — production picks it by target
    # state size per partition, not by core count.
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return name


@register(
    "stream_session_window",
    SESSION_WINDOW_ORACLE,
    "Structured Streaming session_window (complete-mode availableNow drain) "
    "— same oracle as the batch twin",
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stream_events,
        streaming_session_agg,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_session_window_q{_STREAM_COUNTER[0]}"
    agg = streaming_session_agg(stream_events(spark, sf_dir))
    _drain_to_memory(agg, "complete", name)
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "stream_dedup_first_arrival",
    """
SELECT CAST(count(*) AS BIGINT) AS n_kept,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM (SELECT DISTINCT user_id, event_type FROM events)
""",
    "Streaming dropDuplicates on (user_id, event_type) with watermarked "
    "state; kept-row count equals DISTINCT in batch",
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import stream_events, streaming_dedup

    _STREAM_COUNTER[0] += 1
    name = f"stream_dedup_q{_STREAM_COUNTER[0]}"
    dd = streaming_dedup(
        stream_events(spark, sf_dir), ["user_id", "event_type"]
    )
    _drain_to_memory(dd, "append", name)
    return spark.sql(
        f"SELECT CAST(count(*) AS BIGINT) AS n_kept, "
        f"CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM {name}"
    )


@register(
    "stream_watermark_dedup",
    """
SELECT event_type, CAST(count(DISTINCT event_id) AS BIGINT) AS n
FROM events GROUP BY event_type
""",
    "Streaming dropDuplicatesWithinWatermark: the stream is the events "
    "source UNIONED WITH ITSELF (every event arrives exactly twice — the "
    "at-least-once delivery failure mode), deduped on event_id with "
    "watermark-bounded per-key state that is dropped once the duplicate "
    "horizon passes (state scales with the horizon, not key cardinality). "
    "The drained per-type counts must equal the batch DISTINCT counts — "
    "a genuine end-to-end oracle for the dedup semantics.",
)
def q_stream_wm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stream_events,
        streaming_dedup_within_watermark,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_wm_dedup_q{_STREAM_COUNTER[0]}"
    ev = stream_events(spark, sf_dir)
    doubled = ev.union(ev)
    dd = streaming_dedup_within_watermark(doubled, ["event_id"])
    _drain_to_memory(dd, "append", name)
    return spark.sql(
        f"SELECT event_type, CAST(count(*) AS BIGINT) AS n "
        f"FROM {name} GROUP BY event_type"
    )


@register(
    "stream_interval_join",
    INTERVAL_JOIN_ORACLE,
    "Stream-stream interval join with two-sided watermarks (availableNow "
    "drain) — same oracle as the batch twin",
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stream_events,
        streaming_interval_join,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_ij_q{_STREAM_COUNTER[0]}"
    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    p = ev1.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("l_ts"),
    )
    v = ev2.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("r_ts"),
    )
    joined = streaming_interval_join(p, v)
    _drain_to_memory(joined, "append", name)
    return spark.sql(
        f"SELECT purchase_id, user_id, l_ts AS purchase_ts, "
        f"view_id, r_ts AS view_ts FROM {name}"
    )


@register(
    "stream_interval_join_outer",
    """
WITH wm AS (
  SELECT least(
           date_trunc('milliseconds',
             max(CASE WHEN event_type = 'purchase' THEN ts END)),
           date_trunc('milliseconds',
             max(CASE WHEN event_type = 'view' THEN ts END))
         ) - INTERVAL 2 HOUR AS w
  FROM events
),
p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id AS view_id, user_id, ts AS view_ts
      FROM events WHERE event_type = 'view'),
j AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, v.view_id, v.view_ts
  FROM p JOIN v ON p.user_id = v.user_id
   AND v.view_ts >= p.purchase_ts - INTERVAL 1 HOUR
   AND v.view_ts <= p.purchase_ts
),
un AS (
  SELECT p.purchase_id, p.user_id, p.purchase_ts,
         CAST(NULL AS BIGINT) AS view_id,
         CAST(NULL AS TIMESTAMP) AS view_ts
  FROM p, wm
  WHERE p.purchase_ts < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM v
      WHERE v.user_id = p.user_id
        AND v.view_ts >= p.purchase_ts - INTERVAL 1 HOUR
        AND v.view_ts <= p.purchase_ts
    )
)
SELECT * FROM j UNION ALL SELECT * FROM un
""",
    "Stream-stream LEFT OUTER interval join with two-sided watermarks: "
    "matches emit eagerly; a purchase with no view in its 1h lookback "
    "emits with nulls only once the GLOBAL watermark passes it. The "
    "global watermark is the MIN of the per-side watermarks, and each "
    "side's is computed post-filter (max PURCHASE ts / max VIEW ts, "
    "millisecond-truncated, minus the 2h delay) — pinned empirically via "
    "StreamingQueryProgress.eventTime and mirrored exactly in the "
    "oracle's cutoff; no-data batches flush the final eviction wave. The "
    "watermark semantics are themselves under test, not just the join.",
)
def q_stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stream_events,
        streaming_interval_join,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_ij_outer_q{_STREAM_COUNTER[0]}"
    ev1 = stream_events(spark, sf_dir)
    ev2 = stream_events(spark, sf_dir)
    p = ev1.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("l_ts"),
    )
    v = ev2.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("r_ts"),
    )
    joined = streaming_interval_join(p, v, how="left_outer")
    _drain_to_memory(joined, "append", name)
    return spark.sql(
        f"SELECT purchase_id, user_id, l_ts AS purchase_ts, "
        f"view_id, r_ts AS view_ts FROM {name}"
    )


@register(
    "stream_stateful_counter",
    """
SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id
""",
    "Custom stateful op (applyInPandasWithState): per-user running counter; "
    "max(running_total) per key over the drain = plain per-key count",
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stateful_user_counter,
        stream_events,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_stateful_q{_STREAM_COUNTER[0]}"
    counter = stateful_user_counter(stream_events(spark, sf_dir))
    _drain_to_memory(counter, "update", name)
    return spark.sql(
        f"SELECT user_id, max(running_total) AS n_events FROM {name} "
        f"GROUP BY user_id"
    )


@register(
    "stream_tumbling_agg",
    """
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
""",
    "Structured Streaming watermarked tumbling agg (complete-mode "
    "availableNow drain) — same oracle as the batch twin; complete mode "
    "keeps all window state so the drain equals the batch result",
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stream_events,
        streaming_tumbling_agg,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_tumbling_agg_q{_STREAM_COUNTER[0]}"
    agg = streaming_tumbling_agg(stream_events(spark, sf_dir))
    _drain_to_memory(agg, "complete", name)
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "stream_window_topk",
    """
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rn
  FROM counts
)
SELECT window_start, event_type, n_events, CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 2
""",
    "Streaming windowed top-k: the watermarked tumbling aggregation runs "
    "in the streaming runtime (complete-mode availableNow drain), and the "
    "top-2 event types per hour are ranked over the drained state — the "
    "trending-now pattern, with ranking deliberately OUTSIDE the stream "
    "(Structured Streaming cannot run a ranking window on an unbounded "
    "aggregate; the drained sink is where top-k belongs). Deterministic "
    "(count desc, type) tiebreak; oracle recomputes windows, counts, and "
    "ranks from the batch table.",
)
def q_stream_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stream_events,
        streaming_tumbling_agg,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_window_topk_q{_STREAM_COUNTER[0]}"
    agg = streaming_tumbling_agg(stream_events(spark, sf_dir))
    _drain_to_memory(agg, "complete", name)
    return spark.sql(
        f"""
        SELECT window_start, event_type, n_events, rank FROM (
          SELECT window_start, event_type, n_events,
                 CAST(row_number() OVER (
                   PARTITION BY window_start
                   ORDER BY n_events DESC, event_type) AS BIGINT) AS rank
          FROM {name}
        ) WHERE rank <= 2
        """
    )


@register(
    "stream_static_enrich",
    """
WITH profile AS (
  SELECT user_id, count(*) AS user_events FROM events GROUP BY 1
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value,
       CAST(sum(user_events) AS BIGINT) AS activity_weight
FROM events JOIN profile USING (user_id)
GROUP BY event_type
""",
    "Stream-static enrichment join: the event stream joined per-microbatch "
    "against a batch-computed user profile dim (stateless join — no "
    "watermark state), then a complete-mode agg whose drain equals the "
    "batch result. The missing join mode from the stream suite: stream "
    "side unbounded, static side a recomputed-per-batch DataFrame",
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import stream_events

    batch_ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    profile = batch_ev.groupBy("user_id").agg(
        F.count("*").alias("user_events")
    )
    stream = stream_events(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    enriched = stream.join(F.broadcast(profile), "user_id")
    agg = enriched.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.sum("user_events").cast("long").alias("activity_weight"),
    )
    _STREAM_COUNTER[0] += 1
    name = f"stream_static_enrich_q{_STREAM_COUNTER[0]}"
    _drain_to_memory(agg, "complete", name)
    return spark.sql(f"SELECT * FROM {name}")


@register(
    "stream_hopping_agg",
    """
WITH x AS (
  SELECT event_type, value,
         UNNEST([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts)
                   - INTERVAL '30 minutes']) AS window_start
  FROM events
)
SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM x GROUP BY 1, 2
""",
    "Structured Streaming hopping 1h/30min window (complete-mode availableNow "
    "drain, which keeps all window state so the oracle sees every window; "
    "append/update mode is where the watermark bounds state) — same oracle "
    "as the batch twin events_hopping_agg",
)
def q_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from yaml_pipe_spark.streaming.stream import (
        stream_events,
        streaming_hopping_agg,
    )

    _STREAM_COUNTER[0] += 1
    name = f"stream_hopping_agg_q{_STREAM_COUNTER[0]}"
    agg = streaming_hopping_agg(stream_events(spark, sf_dir))
    _drain_to_memory(agg, "complete", name)
    return spark.sql(
        f"SELECT window_start, event_type, CAST(n_events AS BIGINT) AS n_events, "
        f"sum_value FROM {name}"
    )


@register(
    "stream_ann_serve",
    ANN_INDEX_PERSISTED_ORACLE,
    "The ANN production loop closed end to end (operators/ann_index.py::"
    "serve_query_stream): the IVF-PQ index is built ONCE into the "
    "persisted store, then the queries arrive as a file STREAM and each "
    "micro-batch runs the identical three-tier serve (broadcast probes, "
    "dynamic-partition-pruned 2-bit ADC scan, broadcast top-m re-rank) "
    "through foreachBatch, landing in a content-keyed dynamic-overwrite "
    "results table. One drained batch equals the batch serve exactly, so "
    "the oracle is the persisted-index oracle unchanged; replay "
    "idempotency and multi-batch equivalence are unit-tested in "
    "tests/test_ann_index.py.",
)
def q_stream_ann_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from yaml_pipe_spark.operators.ann_index import (
        IvfPqIndexStore,
        serve_query_stream,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").cast("array<double>").alias("qv"),
    )
    corp = emb.filter(F.col("vec_id") >= 20).select("vec_id", "embedding")
    cents = emb.filter(
        (F.col("vec_id") >= 20) & (F.col("vec_id") < 28)
    ).select(
        (F.col("vec_id") - 20).alias("cid"), F.col("embedding").alias("cv")
    )
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    store = IvfPqIndexStore(
        os.path.join("spark-warehouse", f"ann_ivfpq_index_{sf_name}")
    )
    store.build_if_stale(corp, cents)
    base = os.path.join("spark-warehouse", f"stream_ann_serve_{sf_name}")
    shutil.rmtree(base, ignore_errors=True)  # fresh drain every invocation
    q.coalesce(1).write.parquet(os.path.join(base, "queries"))
    serve_query_stream(
        spark,
        store,
        os.path.join(base, "queries"),
        os.path.join(base, "results"),
        os.path.join(base, "ckpt"),
    )
    return spark.read.parquet(os.path.join(base, "results")).select(
        "qid", "rank", "vec_id", "score"
    )


@register(
    "stream_bm25_append",
    _BM25_TOPK_ORACLE,
    "Streaming BM25 index maintenance (streaming.run_bm25_append_stream) "
    "— the lexical twin of stream_ann_serve/stream_incremental_dedup, "
    "closing the build-once/maintain-forever lifecycle on the retrieval "
    "arm: the standing 80% of doc_ids build the persisted index, the "
    "last 20% arrive as a file-stream increment, and foreachBatch "
    "APPENDS each micro-batch (tf/dl rows append; df/cf merge "
    "additively through pointer-committed generations; n_docs/"
    "total_tokens/XOR fingerprint compose over disjoint doc sets). "
    "Because every persisted statistic is additive, the drained serve "
    "is value-identical to a full rebuild on the union — the oracle is "
    "_BM25_TOPK_ORACLE unchanged. At-least-once replay is guarded by "
    "per-batch applied markers; the one unguarded crash window "
    "(between append and marker) is DETECTED by the stale composed "
    "fingerprint, same contract as the batch append.",
)
def q_stream_bm25_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from yaml_pipe_spark.operators.retrieval import Bm25IndexStore
    from yaml_pipe_spark.streaming.stream import run_bm25_append_stream

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    split = docs.agg(
        F.floor(0.8 * F.max("doc_id")).cast("long").alias("__s")
    )
    staged = docs.crossJoin(F.broadcast(split))
    standing = staged.filter(F.col("doc_id") < F.col("__s")).select(
        "doc_id", "text"
    )
    increment = staged.filter(F.col("doc_id") >= F.col("__s")).select(
        "doc_id", "text"
    )
    sf_base = os.path.basename(os.path.normpath(sf_dir))
    # the STANDING index is what production has before the stream starts.
    # Re-invocations REWIND the previous drain to the standing snapshot
    # (restore_manifest: file surgery proportional to the increment)
    # instead of recopying the whole token-scale index (the copytree this
    # replaces), then pay only the drain — the marginal maintenance cost
    # the bench row is meant to measure. The rewind is fingerprint-
    # verified: a bad restore reads as stale and falls back to a clean
    # rebuild, never a silently wrong serve.
    base = os.path.join("spark-warehouse", f"stream_bm25_{sf_base}")
    store = Bm25IndexStore(os.path.join(base, "index"))
    run_dir = os.path.join(base, "run")

    # readying the standing index (rewind + staleness proof, or the cold
    # rebuild) and staging the increment file touch disjoint directories
    # and meet only at the drain — run them as concurrent jobs (guide
    # §2.6). The cold-path rmtree targets the INDEX dir only; the run
    # scratch is cleared and rewritten by its own thread either way.
    def _ready_store():
        if not (store.restore_manifest() and not store.is_stale(standing)):
            shutil.rmtree(store.base_path, ignore_errors=True)
            store.build(standing)
            store.snapshot_manifest()

    def _stage_input():
        # per-run streaming scratch (input + checkpoint) is always fresh;
        # the increment arrives as ONE file -> one micro-batch
        shutil.rmtree(run_dir, ignore_errors=True)
        increment.coalesce(1).write.parquet(os.path.join(run_dir, "input"))

    run_wave(_ready_store, _stage_input)
    run_bm25_append_stream(
        spark,
        os.path.join(run_dir, "input"),
        store,
        os.path.join(run_dir, "ckpt"),
    )
    return store.serve(k=10)
