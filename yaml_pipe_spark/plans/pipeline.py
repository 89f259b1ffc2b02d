"""Pipeline compiler/runner (reference P3, core/pipeline.py:35-127).

The reference executes source -> chunk -> embed -> sink as four full
materialization barriers over Python lists (SURVEY §3.1). Here the whole
pipeline compiles to ONE lazy DataFrame chain
    load -> anti-join(state) -> chunk-explode -> embed -> partitioned write
executed by a single write action; the only barrier is the deliberate
state-table commit AFTER the data write (fixing the reference's non-atomic
sink-then-state ordering, pipeline.py:96-98 — our data write is idempotent
via dynamic partition overwrite, so a crash between write and commit only
re-processes, never duplicates).

Error semantics divergence (deliberate): exceptions propagate — the
reference logs and swallows them, exiting 0 on failure (pipeline.py:124-127).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from yaml_pipe_spark.plans.config import PipelineSpec
from yaml_pipe_spark.plans.factory import build_component
from yaml_pipe_spark.retrievers import restamp_fresh
from yaml_pipe_spark.session import job_label


@dataclass
class PipelineResult:
    n_loaded: int
    n_changed: int
    n_chunks: int
    skipped: bool


def run_pipeline(spark: SparkSession, spec: PipelineSpec) -> PipelineResult:
    """Execute the pipeline with ONE data action.

    All three run-report counts come from `Observation` nodes embedded in the
    write plan (collected by the sink write itself), not from separate
    `.count()` actions — at corpus scale a count-before-write would re-scan
    the source and a count-after-write would re-run chunk+embed. A no-state
    run is exactly one Spark action (the write); a stateful run adds only the
    deliberate state-commit action, which re-reads the cached changed set.
    The reference's n_changed==0 short-circuit (pipeline.py:59-61) is
    preserved in effect: the dynamic-partition-overwrite write of an empty
    changed set touches no partitions, and the state commit is skipped.
    """
    from pyspark.sql import Observation

    source = build_component("source", spec.source)
    state = (
        build_component("state_manager", spec.state_manager)
        if spec.state_manager
        else None
    )
    chunker = build_component("chunker", spec.chunker)
    embedder = build_component("embedder", spec.embedder)
    sink = build_component("sink", spec.sink)

    obs_loaded, obs_changed, obs_chunks = Observation(), Observation(), Observation()

    docs = source.load(spark)
    docs = docs.observe(obs_loaded, F.count(F.lit(1)).alias("n"))

    if state is not None:
        item_id = "doc_id" if "doc_id" in docs.columns else "source"
        keyed = docs.withColumn("item_id", F.col(item_id).cast("string"))
        changed = state.filter_changed(keyed, spark)
    else:
        changed = docs.withColumn("item_id", F.col("source").cast("string"))
    changed = changed.observe(obs_changed, F.count(F.lit(1)).alias("n"))
    if state is not None:
        # cache: the changed set feeds both the write and the state commit
        changed = changed.cache()

    filtered = changed
    for fspec in spec.filters:
        filtered = build_component("filter", fspec).apply(filtered)

    chunks = chunker.apply(filtered, "content")
    embedded = embedder.apply(chunks, "chunk")
    out = embedded.withColumnRenamed("chunk", "text")
    out = out.observe(obs_chunks, F.count(F.lit(1)).alias("n"))
    with job_label(spark, "run.write"):
        sink.write(out)  # the single data action; observations resolve here

    n_loaded = int(obs_loaded.get["n"])
    n_changed = int(obs_changed.get["n"])
    n_chunks = int(obs_chunks.get["n"])

    if state is not None:
        if n_changed > 0:
            with job_label(spark, "run.state_commit"):
                state.commit(changed.select("item_id", "content_hash"), spark)
        changed.unpersist()

    if spec.retriever is not None:
        # the reference's build-once step (core/pipeline.py:101-127) made
        # explicit: refresh the persisted serving index off what the sink
        # now holds. The gate rebuilds only stale arms; when the sink's
        # files are the ones an arm's meta records, it proves the arm
        # fresh from two meta reads, with no scan of the corpus.
        retriever = build_component("retriever", spec.retriever)
        with job_label(spark, "run.index_gate"):
            corpus = sink.read(spark)
            gates = retriever.gate(corpus)
        with job_label(spark, "run.index_build"):
            retriever.build(corpus, gates)
            restamp_fresh(corpus, gates)
    return PipelineResult(n_loaded, n_changed, n_chunks, skipped=n_changed == 0)
