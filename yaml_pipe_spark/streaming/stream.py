"""Streaming pipeline + windowed aggregation.

The reference simulates incrementality with a JSON ledger re-scanned per run
(SURVEY §1.3/§2.4). Structured Streaming's file source subsumes the whole
ledger: the checkpoint's processed-files log IS T1-T5 — exactly-once file
tracking, no hand-rolled hashes. The chunk/embed operators are ordinary
stateless DataFrame transforms, so the SAME functions run on the stream; the
sink stays an idempotent foreachBatch parquet write.

Batch/stream parity: `streaming_tumbling_agg` is the identical logical plan
to operators.events.tumbling_agg plus a watermark — correctness established
against the DuckDB oracle in batch transfers to the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yaml_pipe_spark.functions.hashing import hash_embedding
from yaml_pipe_spark.functions.text import non_empty
from yaml_pipe_spark.operators.chunkers import fixed_window_chunks
from yaml_pipe_spark.session import run_wave


def stream_text_files(spark: SparkSession, path: str, glob: str = "*.txt"):
    """File-source stream over a directory of text files: each new file is
    one document (S1 as readStream)."""
    return (
        spark.readStream.format("text")
        .option("pathGlobFilter", glob)
        .option("wholetext", "true")
        .load(path)
        .select(
            F.input_file_name().alias("source"),
            F.col("value").alias("content"),
        )
        .filter(non_empty(F.col("content")))
    )


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    chunk_size: int = 200,
    chunk_overlap: int = 40,
    embed_dim: int = 8,
) -> None:
    """source -> chunk -> embed -> parquet, exactly-once via checkpoint.

    Runs with availableNow (drain everything seen, then stop) — the streaming
    twin of one reference `run` invocation; re-invoking after new files land
    processes only the new files, no ledger code at all.
    """
    docs = stream_text_files(spark, input_dir)
    chunks = fixed_window_chunks(docs, "content", chunk_size, chunk_overlap)
    out = (
        chunks.withColumn("embedding", hash_embedding(F.col("chunk"), embed_dim))
        .withColumnRenamed("chunk", "text")
        .drop("content")
    )

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("append").parquet(sink_dir)

    q = (
        out.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def stage_band_state(
    df: DataFrame, state_dir: str, name: str = "bands"
) -> str:
    """Write the NEXT band-state generation directory (`{name}_v{k}`)
    without touching the live pointer — the write half of
    commit_band_state, split out so a caller can overlap this (the only
    data-sized part of the commit) with other independent jobs and still
    swap the pointer strictly last. A crash after staging leaves an
    orphan directory the next finalize's GC sweeps; the live generation
    is untouched. Returns the staged directory name for
    finalize_band_state. Single-writer contract (same as the combined
    commit): concurrent stagers could compute the same next version."""
    import os

    os.makedirs(state_dir, exist_ok=True)
    vs = _band_state_versions(state_dir, name)
    nxt = (int(vs[-1].split("_v")[-1]) + 1) if vs else 1
    target = f"{name}_v{nxt}"
    df.write.mode("overwrite").parquet(os.path.join(state_dir, target))
    return target


def _band_state_versions(state_dir: str, name: str) -> list[str]:
    import os

    return sorted(
        (
            d for d in os.listdir(state_dir)
            if d.startswith(f"{name}_v") and d.split("_v")[-1].isdigit()
        ),
        key=lambda d: int(d.split("_v")[-1]),
    )


def finalize_band_state(
    state_dir: str, target: str, name: str = "bands"
) -> None:
    """Swap the `{name}.current` pointer to a staged generation via
    os.replace (atomic on POSIX) — the commit point — then GC every
    generation older than the direct predecessor (kept one cycle for
    crash forensics)."""
    import os
    import shutil

    tmp = os.path.join(state_dir, f".{name}.current.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(target)
    os.replace(tmp, os.path.join(state_dir, f"{name}.current"))
    for old in _band_state_versions(state_dir, name):
        if old != target and int(old.split("_v")[-1]) < int(
            target.split("_v")[-1]
        ) - 1:
            shutil.rmtree(os.path.join(state_dir, old), ignore_errors=True)


def commit_band_state(df: DataFrame, state_dir: str, name: str = "bands"):
    """Commit a band-state generation ATOMICALLY: write to a fresh
    `{name}_v{k}` directory, then swap the single `{name}.current` pointer
    file via os.replace (atomic on POSIX). A crash anywhere before the
    pointer swap leaves the previous generation fully intact and current —
    a plain `mode("overwrite")` on one directory would delete the standing
    state before rewriting it, and a mid-write crash would truncate the
    corpus's entire LSH state with no error on replay. The previous
    generation is kept for one cycle (crash forensics), older ones are
    GC'd. LOCAL FILESYSTEM ONLY (os/shutil pointer ops — the same
    documented boundary as sinks.compact_parquet); production state tables
    use a transactional format's commit instead."""
    finalize_band_state(state_dir, stage_band_state(df, state_dir, name), name)


def read_band_state(
    spark: SparkSession, state_dir: str, name: str = "bands", schema=None
) -> DataFrame | None:
    """Resolve the `{name}.current` pointer; None if no state committed.
    `schema` declares the generation's schema (no inference job)."""
    import os

    from yaml_pipe_spark.operators.index_meta import read_table

    ptr = os.path.join(state_dir, f"{name}.current")
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as f:
        version = f.read().strip()
    return read_table(spark, os.path.join(state_dir, version), schema)


def run_incremental_dedup_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming incremental near-dup: each micro-batch of documents dedups
    against the STANDING corpus via the persisted MinHash band state, then
    appends its own bands/docs to that state — dedup.incremental_minhash_dedup
    composed with the streaming runtime through foreachBatch. This is the
    reference's run-ledger (utils/state_manager.py:155-196) elevated to its
    streaming end-state: the checkpoint tracks which files were processed,
    the band state tracks what the corpus contains.

    State layout under `state_dir`:
      bands_v{k}/ + bands.current   pointer-committed LSH state generations
                                    (commit_band_state: write-new-then-swap,
                                    never overwrite the live generation)
      corpus/    standing documents, hive-partitioned by __snap
      verdicts/  per-doc (id, dup_of, jaccard, reason), partitioned by __snap

    Idempotent rerun by construction: every batch derives its partition key
    __snap = min(id) from CONTENT (epoch ids are not stable across
    checkpoint resets), verdicts/corpus use dynamic partition overwrite, the
    band state commits via atomic pointer swap (a crash mid-write leaves the
    prior generation current and intact), the band merge supersedes by id,
    and incremental_minhash_dedup's verdicts are stable when the corpus
    already contains the increment (the re-shingle path excludes increment
    ids) — so a crash between or during any writes, followed by a replay of
    the batch, converges to the same state.

    Scale: per batch, ONE equi-join of the increment's bands against the
    band state and a candidate-scale verify — cost tracks the increment,
    never the standing corpus; the state table is bands x n_docs rows (tiny
    next to the corpus text).
    """
    import os

    from yaml_pipe_spark.operators.dedup import (
        incremental_minhash_dedup,
        lsh_band_table,
        merge_band_state,
        minhash_signatures,
        token_shingles,
    )

    corpus_path = os.path.join(state_dir, "corpus")
    verdicts_path = os.path.join(state_dir, "verdicts")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select(id_col, text_col).localCheckpoint()
        row = batch.agg(F.min(id_col).alias("m")).collect()[0]
        if row["m"] is None:
            return
        snap = int(row["m"])
        if os.path.isdir(corpus_path):
            corpus = spark.read.parquet(corpus_path).select(id_col, text_col)
        else:
            corpus = batch.limit(0)
        # the increment's shingles/bands are the dominant per-batch cost:
        # compute them ONCE, feed the same frames to the dedup (verify +
        # candidate generation) and to the state merge
        shingles = token_shingles(
            batch, text_col, id_col, k
        ).localCheckpoint()
        new_bands = lsh_band_table(
            minhash_signatures(shingles, id_col, n_hashes),
            id_col,
            n_hashes,
            bands,
        ).localCheckpoint()
        state = read_band_state(spark, state_dir)
        if state is None:
            state = new_bands.limit(0)
        verdicts = incremental_minhash_dedup(
            batch,
            state,
            corpus,
            text_col,
            id_col,
            k=k,
            n_hashes=n_hashes,
            bands=bands,
            threshold=threshold,
            new_shingles=shingles,
            new_bands=new_bands,
        )
        # the three data-sized writes of the batch — verdicts, corpus, and
        # the merged band-state GENERATION — are independent (disjoint
        # paths, all computed from already-materialized frames plus the
        # still-live prior state generation) and run as concurrent jobs;
        # only the pointer SWAP stays strictly last, so the commit point
        # and the crash-replay contract above are unchanged (guide §2.6)
        def _write_verdicts():
            (
                verdicts.withColumn("__snap", F.lit(snap))
                .write.mode("overwrite")
                .partitionBy("__snap")
                .parquet(verdicts_path)
            )

        def _write_corpus():
            (
                batch.withColumn("__snap", F.lit(snap))
                .write.mode("overwrite")
                .partitionBy("__snap")
                .parquet(corpus_path)
            )

        merged = merge_band_state(state, new_bands, id_col, new_ids=batch)
        _, _, staged = run_wave(
            _write_verdicts,
            _write_corpus,
            lambda: stage_band_state(merged, state_dir),
        )
        finalize_band_state(state_dir, staged)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_bm25_append_stream(
    spark: SparkSession,
    input_dir: str,
    store,
    checkpoint_dir: str,
    schema: str = "doc_id long, text string",
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming BM25 index maintenance: each micro-batch of documents
    appends into a persisted Bm25IndexStore — the lexical twin of the
    streaming ANN serve / incremental-dedup loops, closing the
    build-once/maintain-forever lifecycle on the retrieval arm. Because
    every persisted BM25 statistic is ADDITIVE (tf/dl rows append, df/cf
    merge as sums, n_docs/total_tokens/fingerprint compose over disjoint
    doc sets), a drained stream serves value-identically to a full rebuild
    on the union — the property the oracled stream_bm25_append query pins.

    Exactly-once posture (documented, same contract as the batch append):
    the checkpoint gives at-least-once foreachBatch delivery, and append()
    itself is NOT idempotent, so each applied batch writes an
    `applied/batch_<epoch>` marker AFTER its append and replays skip
    marked batches. The unguarded window is a crash BETWEEN append and
    marker — exactly the batch-append crash window — and it is DETECTED,
    not masked: the composed XOR fingerprint goes stale and
    `is_stale(corpus)` tells the caller to rebuild from a clean directory
    (operators/retrieval.py::Bm25IndexStore docstring).

    Scale: per batch, tokenize ONLY the increment; the one index-sized
    operation is the additive df/cf merge (vocabulary-scale, pointer-
    committed generations) — cost tracks the increment, never the corpus.
    """
    import os

    applied_dir = os.path.join(store.base_path, "applied")

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        marker = os.path.join(applied_dir, f"batch_{epoch_id}")
        if os.path.isdir(marker):
            return  # replay of an already-applied batch
        b = batch_df.select("doc_id", "text").localCheckpoint()
        # a 1-file micro-batch checkpoints to 1 partition, and append()'s
        # token explode inherits that (spread_for_expansion cannot probe a
        # checkpointed frame — no file lineage), serializing the tokenize
        # on one core; the partition probe is free here because the frame
        # is already materialized (round-10 stream_bm25_append
        # decomposition: the 'drain' cost was mostly this)
        par = batch_df.sparkSession.sparkContext.defaultParallelism
        if b.rdd.getNumPartitions() < par:
            b = b.repartition(par)
        store.append(b)
        os.makedirs(marker, exist_ok=True)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_tumbling_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling agg — same plan as the batch twin, late rows
    beyond `watermark` dropped, state bounded."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), key_col, "n_events", "sum_value"
        )
    )


def streaming_session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    key_col: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Native session windows on the stream: F.session_window merges events
    whose [ts, ts+gap) intervals overlap — strict boundary (a gap of exactly
    `gap` starts a NEW session), unlike operators.events.sessionize's
    inclusive ledger semantics. session_end = last event + gap by definition.
    Complete output mode keeps all session state so the availableNow drain
    emits every session."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("w"), F.col(key_col)
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col(key_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming first-arrival dedup: dropDuplicates keyed state with a
    watermark bound (state for keys older than the watermark is dropped —
    the streaming twin of drop_exact_duplicates, with bounded memory)."""
    return events.withWatermark(ts_col, watermark).dropDuplicates(keys)


def streaming_dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """dropDuplicatesWithinWatermark: unlike plain dropDuplicates (state
    kept until the key's event-time expires relative to the GLOBAL
    watermark), state for a key here is dropped once the watermark passes
    its first arrival + delay — the production choice for at-least-once
    sources where duplicates only occur NEAR each other in time; state is
    strictly bounded by (duplicate horizon), not (key cardinality)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stateful_user_counter(
    events: DataFrame, key_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a per-key counter
    carried across micro-batches. Emits (key, running_total) every batch;
    MAX(running_total) per key over the drain equals the plain per-key count
    regardless of how availableNow splits batches — which is what makes this
    oracle-checkable downstream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + n
        state.update((total,))
        yield pd.DataFrame({"user_id": [key[0]], "running_total": [total]})

    return events.groupBy(F.col(key_col)).applyInPandasWithState(
        update,
        outputStructType="user_id long, running_total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    interval: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: right rows within [left.ts - interval,
    left.ts] of the same key. Watermarks on both sides bound the join state
    (right rows older than left's watermark + interval are evicted).

    how="inner": matches emit as soon as both sides arrive.
    how="left_outer": matches emit eagerly; an UNMATCHED left row emits
    (with nulls) only once the watermark passes its event time — no
    earlier match can still arrive — so left rows inside the final
    watermark delay of stream end stay in state and never emit. Spark's
    no-data batches (on by default) flush the eviction wave after the last
    data batch; the batch oracle must mirror the `l_ts < max_ts -
    watermark` cutoff for the null rows."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[on] == r[on])
        & (r[right_ts] >= l[left_ts] - F.expr(f"INTERVAL {interval}"))
        & (r[right_ts] <= l[left_ts])
    )
    return l.join(r, cond, how).drop(r[on])


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the driver events table.

    The file stream needs an explicit schema, and the driver's parquet
    writer has stored `ts` three different ways across data generations
    (TIMESTAMP(NANOS), tz-naive micros -> TIMESTAMP_NTZ, tz-aware micros ->
    TIMESTAMP) — probe the footer with a zero-cost batch read and declare
    the matching stream schema, then normalize to session-zoned TIMESTAMP
    exactly as tables.load_table does for batch, so the batch oracles
    transfer to the stream unchanged."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import os

    from yaml_pipe_spark.tables import raw_parquet_schema

    probe = {
        f.name: f.dataType.simpleString()
        for f in raw_parquet_schema(
            spark, os.path.join(sf_dir, "events.parquet")
        ).fields
    }.get("ts")
    ts_decl = {"bigint": "long", "timestamp_ntz": "timestamp_ntz"}.get(
        probe, "timestamp"
    )
    schema = (
        f"event_id long, ts {ts_decl}, user_id long, event_type string, "
        "value double, props string"
    )
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if ts_decl == "long":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_hopping_agg(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked hopping (sliding) window agg — each event lands in
    window/slide overlapping windows; same logical plan as the batch twin
    operators.events.hopping_agg, so the batch oracle transfers. In
    append/update output the watermark bounds the per-(window, key) state;
    the registered drain uses COMPLETE mode (so every window is emitted for
    the oracle), which — as with streaming_session_agg — retains all
    aggregation state for the run."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window, slide).alias("w"), F.col(key_col)
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            key_col,
            "n_events",
            "sum_value",
        )
    )


def _tws_available() -> bool:
    """transformWithStateInPandas ships a protobuf-based state server; gate
    on the import so environments without a working google.protobuf fall
    back to stateful_user_counter (applyInPandasWithState)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_user_counter_tws(
    events: DataFrame, key_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """The stateful_user_counter twin on the Spark 4 TransformWithState API
    (StatefulProcessor + typed ValueState) — the modern replacement for
    applyInPandasWithState: composable state variables (value/list/map),
    timers, and TTL instead of a single state tuple.

    Same contract as the applyInPandasWithState twin: emits (key,
    running_total) per batch; MAX(running_total) per key over a drain equals
    the plain per-key batch count, which keeps it oracle-checkable.
    Requires a working protobuf (see _tws_available); raises ImportError
    otherwise rather than failing inside the stream.
    """
    if not _tws_available():
        raise ImportError(
            "transformWithStateInPandas needs google.protobuf; use "
            "stateful_user_counter (applyInPandasWithState) instead"
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    class Counter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.total = handle.getValueState(
                "total", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timer_values):
            n = sum(len(pdf) for pdf in rows)
            prev = self.total.get()[0] if self.total.exists() else 0
            self.total.update((prev + n,))
            yield pd.DataFrame(
                {key_col: [key[0]], "running_total": [prev + n]}
            )

        def close(self) -> None:
            pass

    return events.groupBy(F.col(key_col)).transformWithStateInPandas(
        Counter(),
        outputStructType=f"{key_col} long, running_total long",
        outputMode="Update",
        timeMode="None",
    )
