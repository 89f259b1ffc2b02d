"""Interactive search over a pipeline's sink (reference Searcher,
app.py:35-61: embed query -> top-k against the vector store).

One function shared by the `search` CLI command and the dashboard
(yaml_pipe_spark.app): build the configured embedder + sink, embed the
query text the same way the pipeline embedded the chunks, then serve via
the spec's retriever — exact cosine by default, or the persisted
IVF-PQ / BM25 / hybrid-RRF stores when the YAML names one
(yaml_pipe_spark/retrievers.py). Only k rows reach the driver either
way, so the same call works against a corpus of any size."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from yaml_pipe_spark.plans.config import PipelineSpec
from yaml_pipe_spark.plans.factory import build_component

MISSING = "<missing from sink>"


def search_corpus(
    spark: SparkSession, spec: PipelineSpec, query: str, k: int = 3
) -> DataFrame:
    """Top-k (rank, source, text, score) for a free-text query, in rank
    order.

    With no `retriever:` key the exact path runs unchanged; with one, the
    query serves from the spec's persisted index (retrievers.py) — the
    reference's query-many half, now strategy-selectable from YAML. The
    retriever takes the sink frame as read, so the freshness gate
    (`ensure_fresh`) can prove it by the sink key; the gate raises on a
    stale index. Past it, a small index answers from the driver snapshot
    the gate returns (snapshot.py) and the result is a local frame;
    otherwise the Spark top-k plan serves, joined back to the deduped
    sink for source and text."""
    from yaml_pipe_spark.retrievers import (
        ExactRetriever,
        ensure_fresh,
        unique_by_id,
    )
    from yaml_pipe_spark.snapshot import collect_queries, local_frame

    embedder = build_component("embedder", spec.embedder)
    sink = build_component("sink", spec.sink)
    retriever = (
        build_component("retriever", spec.retriever)
        if spec.retriever is not None
        else ExactRetriever()
    )

    # built from pandas, the one-row frame is a local relation: embedding
    # and tokenizing it run on the driver without a Spark job
    qdf = local_frame(spark, [(0, query)], "qid long, qtext string")
    queries = embedder.apply(qdf, "qtext").select(
        "qid", "qtext", F.col("embedding").alias("qv")
    )
    corpus = sink.read(spark)
    # serve-time staleness gate: a persisted index that doesn't match the
    # current sink must error, not quietly return short lists
    snap = ensure_fresh(retriever, corpus)
    top = snap.topk(collect_queries(queries), k) if snap is not None else None
    if top is not None:
        rows = [
            (rank, *snap.docs.get(i, (MISSING, MISSING)), score)
            for i, rank, score in top.get(0, [])
        ]
        return local_frame(
            spark, rows, "rank long, source string, text string, score double"
        )
    top = retriever.topk(corpus, queries, k=k)
    # LEFT join: an index row whose id is absent from the sink (should be
    # impossible past the gate above) is surfaced as a marked row instead
    # of silently dropping the rank
    return (
        top.join(
            unique_by_id(corpus).select("__id", "source", "text"),
            "__id",
            "left",
        )
        .select(
            "rank",
            F.coalesce("source", F.lit(MISSING)).alias("source"),
            F.coalesce("text", F.lit(MISSING)).alias("text"),
            "score",
        )
        .orderBy("rank")
    )
