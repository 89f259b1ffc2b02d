"""CLI — the reference's command surface (SURVEY §2.8, cli.py:38-213) on
argparse: run / init / status / list-components / test-connection / clean /
eval. Exit codes are honest (non-zero on failure — the reference exits 0
even when the pipeline fails, core/pipeline.py:124-127)."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

from yaml_pipe_spark.plans.config import (
    DEFAULT_CONFIG_YAML,
    ConfigError,
    load_config,
)


def _spark():
    from yaml_pipe_spark.session import get_spark

    return get_spark("yaml-pipe-spark-cli")


def cmd_run(args) -> int:
    from yaml_pipe_spark.plans.pipeline import run_pipeline

    spec = load_config(args.config)
    res = run_pipeline(_spark(), spec)
    print(
        json.dumps(
            {
                "loaded": res.n_loaded,
                "changed": res.n_changed,
                "chunks": res.n_chunks,
                "skipped": res.skipped,
            }
        )
    )
    return 0


def cmd_init(args) -> int:
    # reference cli.py:59-97: mkdir data/, write default pipeline.yaml
    os.makedirs("data", exist_ok=True)
    if os.path.exists(args.output):
        print(f"{args.output} already exists; not overwriting")
        return 0
    with open(args.output, "w", encoding="utf-8") as f:
        f.write(DEFAULT_CONFIG_YAML)
    print(f"wrote {args.output}")
    return 0


def cmd_status(args) -> int:
    # reference cli.py:100-122: print sorted processed item ids
    from yaml_pipe_spark.plans.factory import build_component

    spec = load_config(args.config)
    if spec.state_manager is None:
        print("no state_manager configured")
        return 1
    state = build_component("state_manager", spec.state_manager)
    rows = state.read(_spark()).orderBy("item_id").collect()
    for r in rows:
        print(f"{r.item_id}\t{r.content_hash}\t{r.updated_at}")
    print(f"{len(rows)} processed item(s)")
    return 0


def cmd_list_components(args) -> int:
    from yaml_pipe_spark.plans.factory import list_components

    for kind, names in list_components().items():
        print(f"{kind}: {', '.join(names)}")
    return 0


def cmd_test_connection(args) -> int:
    # reference cli.py:141-164
    from yaml_pipe_spark.plans.factory import build_component

    spec = load_config(args.config)
    comp_spec = getattr(spec, args.component)
    comp = build_component(args.component, comp_spec)
    try:
        comp.test_connection(_spark())
    except Exception as e:
        print(f"{args.component} connection FAILED: {e}")
        return 1
    print(f"{args.component} connection OK")
    return 0


def cmd_clean(args) -> int:
    # reference cli.py:167-195: delete state + sink dirs, with confirmation.
    # Sinks address their storage as either a directory (parquet `path`) or
    # a single file (duckdb `db_path`). Retriever indexes are part of the
    # pipeline's on-disk state too: the flat `path` key (ivfpq/bm25) or the
    # nested per-arm paths (hybrid_rrf).
    spec = load_config(args.config)
    targets = [
        spec.sink.config.get("path") or spec.sink.config.get("db_path")
    ]
    if spec.state_manager is not None:
        targets.append(spec.state_manager.config.get("path"))
    if spec.retriever is not None:
        rc = spec.retriever.config
        targets.append(rc.get("path"))
        for arm in ("vector", "lexical"):
            if isinstance(rc.get(arm), dict):
                targets.append(rc[arm].get("path"))
    targets = [t for t in targets if t]
    if not args.yes:
        print(f"would delete: {targets} (pass --yes to confirm)")
        return 1
    for t in targets:
        if os.path.isfile(t):
            os.remove(t)
        else:
            shutil.rmtree(t, ignore_errors=True)
        print(f"deleted {t}")
    return 0


def cmd_forget(args) -> int:
    """Right-to-be-forgotten at the pipeline surface: delete every row of
    the given source(s) from the corpus sink AND purge them from the
    spec's persisted retriever indexes (operators/ann_index.py /
    operators/retrieval.py forget — the round-10 deletion machinery),
    then prove completion with the same staleness gate `search` serves
    behind. Order: sink first (the source of truth stops serving the rows
    immediately; a crash in between leaves the indexes stale, which
    ensure_fresh REPORTS rather than serves). Anything the index purge
    cannot compose — e.g. a forgotten vector that seeded an IVF coarse
    centroid, whose data lives in the quantizer itself — shows up as
    staleness and is closed by an automatic rebuild of the remaining
    corpus. The file-state ledger keeps the source's entry on purpose: a
    still-existing upstream file must NOT re-ingest on the next run
    (unchanged hash => skipped); `clean` resets that too."""
    from yaml_pipe_spark.errors import IndexNotBuiltError
    from yaml_pipe_spark.plans.factory import build_component
    from yaml_pipe_spark.retrievers import ExactRetriever, unique_by_id

    from pyspark.sql import functions as F

    spec = load_config(args.config)
    spark = _spark()
    sink = build_component("sink", spec.sink)
    if not hasattr(sink, "delete_sources"):
        print(
            f"sink {spec.sink.type!r} does not support delete_sources",
            file=sys.stderr,
        )
        return 1
    corpus = unique_by_id(sink.read(spark))
    gone = (
        corpus.filter(F.col("source").isin(list(args.sources)))
        .select("__id", "source", "text")
        .localCheckpoint()  # frozen BEFORE the sink rows disappear
    )
    n_rows = gone.count()
    # no early return on an empty match: the staleness reconciliation
    # below must still run so a RETRY of a forget that crashed between
    # the sink delete and the index purge (the sink rows are gone, so
    # the rerun matches nothing) converges instead of reporting success
    # while the index still physically holds the forgotten rows
    retriever = (
        build_component("retriever", spec.retriever)
        if spec.retriever is not None
        else ExactRetriever()
    )
    sink_rows = 0
    index_rows = 0
    if n_rows:
        # The sink delete and the index purge touch DISJOINT storage and
        # both read only the pre-frozen `gone` checkpoint / their own
        # tables — run them as concurrent job chains (guide §2.6). Crash
        # semantics are unchanged in substance: every partial-completion
        # window (sink done / index not, index done / sink not, both
        # half-done) leaves the index fingerprint mismatched against the
        # sink contents, which the reconciliation below — and the serve
        # path's ensure_fresh gate — detects and closes with a rebuild.
        # The sequential order only ever narrowed ONE window (index
        # purged before sink rows vanish), and that direction deletes
        # data EARLIER than requested, never serves forgotten rows.
        from yaml_pipe_spark.session import run_wave

        def _purge_index() -> int:
            try:
                return retriever.forget(gone)
            except IndexNotBuiltError:
                # no persisted index yet (never built, or a pre-layout
                # meta): nothing to purge — the reconciliation below
                # builds fresh from the already-deleted-from sink.
                # Typed, not matched on the message text (ADVICE r10).
                return 0

        sink_rows, index_rows = run_wave(
            lambda: sink.delete_sources(spark, list(args.sources)),
            _purge_index,
        )
    rebuilt = retriever.build(sink.read(spark))
    print(
        json.dumps(
            {
                "sources": args.sources,
                "sink_rows": sink_rows,
                "index_rows": index_rows,
                "index_rebuilt": rebuilt,
            }
        )
    )
    return 0


def cmd_eval(args) -> int:
    # reference cli.py:198-213 + evaluation.py:66-109: JSONL of
    # {question, expected_source}; hit iff any top-k result's source matches.
    # With a `retriever:` key the candidates come from the spec's persisted
    # index (retrievers.py) in ONE batch plan; the default ExactRetriever
    # is the old knn_join path verbatim.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from yaml_pipe_spark.operators.similarity import hit_rate
    from yaml_pipe_spark.plans.factory import build_component
    from yaml_pipe_spark.retrievers import (
        ExactRetriever,
        ensure_fresh,
        unique_by_id,
    )
    from yaml_pipe_spark.snapshot import collect_queries, local_frame

    spec = load_config(args.config)
    spark = _spark()
    sink = build_component("sink", spec.sink)
    embedder = build_component("embedder", spec.embedder)
    retriever = (
        build_component("retriever", spec.retriever)
        if spec.retriever is not None
        else ExactRetriever()
    )
    corpus = sink.read(spark)
    # serve-time staleness gate, before the dataset read: eval against a
    # stale index would quietly report the wrong hit rate
    snap = ensure_fresh(retriever, corpus)

    questions = spark.read.json(args.dataset)
    if "question" not in questions.columns:
        # empty dataset: reference returns 0.0/0/0 (evaluation.py:97-99);
        # spark.read.json of an empty file has no schema to embed
        print(json.dumps({"hit_rate": 0.0, "total_questions": 0, "hits": 0}))
        return 0
    q = embedder.apply(questions, "question").select(
        F.col("question").alias("qid"),
        F.col("question").alias("qtext"),
        F.col("expected_source").alias("expected"),
        F.col("embedding").alias("qv"),
    )
    top = None
    if snap is not None:
        rows = collect_queries(q, "expected")
        top = snap.topk([r[:3] for r in rows], args.k)
    if top is not None:
        # the snapshot's candidates, and the questions they answer, as
        # local frames for the same join and hit_rate plan as below
        qs = local_frame(
            spark,
            [(r.qid, r.expected) for r in rows],
            q.select("qid", "expected").schema,
        )
        nn = local_frame(
            spark,
            [
                (qid, snap.docs[i][0])
                for qid, found in top.items()
                for i, _, _ in found
                if i in snap.docs  # the inner join on __id
            ],
            T.StructType(
                [qs.schema["qid"], T.StructField("cand_source", T.StringType())]
            ),
        )
    else:
        qs = q.select("qid", "expected")
        nn = retriever.topk(corpus, q, k=args.k).join(
            unique_by_id(corpus).select(
                "__id", F.col("source").alias("cand_source")
            ),
            "__id",
        )
    # LEFT join from the question set: an approximate/lexical retriever can
    # return zero candidates for a question, which must count as a miss,
    # not silently shrink total_questions
    nn = qs.join(nn.select("qid", "cand_source"), "qid", "left")
    # NULL candidate (no results) must compare as a miss, not null-propagate
    # through hit_rate's max/avg
    nn = nn.withColumn(
        "cand_source", F.coalesce("cand_source", F.lit("\x00no-result"))
    )
    res = hit_rate(nn, "qid", "expected", "cand_source").collect()[0]
    print(
        json.dumps(
            {
                # empty dataset -> 0.0/0/0 like the reference
                # (evaluation.py:97-99), not nulls from an empty aggregate
                "hit_rate": res.hit_rate if res.hit_rate is not None else 0.0,
                "total_questions": res.total_questions,
                "hits": res.hits if res.hits is not None else 0,
            }
        )
    )
    return 0


def cmd_search(args) -> int:
    # reference app.py:35-61 Searcher surface as a command: embed the query
    # with the pipeline's embedder, serve via the spec's retriever (exact
    # by default; persisted IVF-PQ/BM25/hybrid stores when configured)
    from yaml_pipe_spark.search import search_corpus

    spec = load_config(args.config)
    rows = search_corpus(_spark(), spec, args.query, k=args.k).collect()
    print(
        json.dumps(
            [
                {
                    "rank": r.rank,
                    "source": r.source,
                    "text": r.text,
                    "score": r.score,
                }
                for r in rows
            ]
        )
    )
    return 0


def cmd_sql(args) -> int:
    # ad-hoc SQL over the data directory: every table parquet in --data-dir
    # is registered as a temp view (same loaders/timestamp normalization as
    # the query registry), the statement runs through Catalyst, and rows
    # stream to stdout as JSON lines (or parquet with --output — no driver
    # materialization on that path).
    from yaml_pipe_spark.tables import TABLE_NAMES, load_table

    spark = _spark()
    for name in TABLE_NAMES:
        path = os.path.join(args.data_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, args.data_dir, name).createOrReplaceTempView(
                name
            )
    try:
        df = spark.sql(args.query)
    except Exception as ex:  # analysis errors -> honest non-zero exit
        print(f"SQL error: {ex}", file=sys.stderr)
        return 1
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"written": args.output}))
        return 0
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_explain(args) -> int:
    # the user-facing twin of tests/test_plans.py: print the Catalyst plan
    # for any registered query (or an ad-hoc SQL statement with --sql) so
    # pushdown/broadcast/shuffle behavior can be inspected without writing
    # a test. `explain <query>` resolves against the same registry the
    # driver validates.
    from yaml_pipe_spark.entrypoints import REGISTRY

    spark = _spark()
    if args.sql:
        from yaml_pipe_spark.tables import TABLE_NAMES, load_table

        for name in TABLE_NAMES:
            path = os.path.join(args.data_dir, f"{name}.parquet")
            if os.path.exists(path):
                load_table(spark, args.data_dir, name).createOrReplaceTempView(
                    name
                )
        try:
            df = spark.sql(args.target)
        except Exception as ex:
            print(f"SQL error: {ex}", file=sys.stderr)
            return 1
    else:
        if args.target not in REGISTRY:
            close = [n for n in sorted(REGISTRY) if args.target in n]
            hint = f" (did you mean: {', '.join(close[:5])}?)" if close else ""
            print(f"unknown query: {args.target}{hint}", file=sys.stderr)
            return 1
        df = REGISTRY[args.target].fn(spark, args.data_dir)
    df.explain(args.mode)
    return 0


# The engine's measured-component reports: every approximate or lossy
# operator family ships with an audit query that recomputes its accuracy
# or attrition end to end (VERDICT r4's "closes the loop" family). The
# audit command runs them as a batch so an operator can gate a corpus
# build on the numbers without knowing the registry names.
AUDIT_QUERIES: dict[str, str] = {
    "dedup_funnel": "corpus_dedup_funnel",
    "quality_funnel": "corpus_gopher_funnel",
    "lsh_recall": "dedup_lsh_recall_audit",
    "ann_recall": "ann_recall_measured",
    "lang_confusion": "text_lang_confusion",
    "pq_distortion": "emb_pq_distortion",
    "split_leakage": "corpus_split_leakage_audit",
    "partition_skew": "sink_partition_skew_audit",
    "zipf": "text_zipf_fit",
    "cell_balance": "emb_ivf_cell_balance",
    "dup_by_source": "corpus_dup_rate_by_source",
    "quality_thresholds": "text_quality_thresholds",
    "cms_heavy_hitters": "events_cms_heavy_hitters",
    "distinct_sketch": "sample_bottom_k_sketch",
    # round-6 additions
    "url_dedup": "corpus_url_canonical_dedup",
    "encoding_scrub": "text_encoding_scrub",
    "quality_calibration": "quality_score_calibration",
    "nprobe_curve": "ann_ivf_nprobe_curve",
    "band_curve": "dedup_minhash_band_curve",
    # 6e/6f additions
    "bloom_fp": "text_bloom_decontaminate",
    "snapshot_psi": "corpus_snapshot_psi",
    "zorder_locality": "layout_zorder_locality",
    "snapshot_churn": "corpus_snapshot_churn",
    "self_retrieval": "q3_bm25_topk",
}


def cmd_audit(args) -> int:
    # run the audit-report family against --data-dir and emit one JSON
    # object per audit: {"audit": ..., "query": ..., "rows": [...]}. With
    # --only, run a subset (comma-separated audit keys).
    from yaml_pipe_spark.entrypoints import REGISTRY

    keys = list(AUDIT_QUERIES)
    if args.only:
        keys = [k.strip() for k in args.only.split(",") if k.strip()]
        unknown = [k for k in keys if k not in AUDIT_QUERIES]
        if unknown:
            print(
                f"unknown audit(s): {', '.join(unknown)} "
                f"(available: {', '.join(AUDIT_QUERIES)})",
                file=sys.stderr,
            )
            return 1
    spark = _spark()
    rc = 0
    for key in keys:
        qname = AUDIT_QUERIES[key]
        try:
            rows = [
                r.asDict()
                for r in REGISTRY[qname].fn(spark, args.data_dir).collect()
            ]
            print(
                json.dumps(
                    {"audit": key, "query": qname, "rows": rows},
                    default=str,
                )
            )
        except Exception as ex:  # one broken audit must not hide the rest
            print(
                json.dumps(
                    {"audit": key, "query": qname, "error": str(ex)[:300]}
                )
            )
            rc = 1
    return rc



def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="yaml-pipe-spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    r = sub.add_parser("run", help="execute a pipeline config")
    r.add_argument("-c", "--config", required=True)
    r.set_defaults(fn=cmd_run)

    i = sub.add_parser("init", help="write a default pipeline.yaml")
    i.add_argument("-o", "--output", default="pipeline.yaml")
    i.set_defaults(fn=cmd_init)

    s = sub.add_parser("status", help="list processed items from the ledger")
    s.add_argument("-c", "--config", required=True)
    s.set_defaults(fn=cmd_status)

    lc = sub.add_parser("list-components", help="print component registries")
    lc.set_defaults(fn=cmd_list_components)

    tc = sub.add_parser("test-connection", help="probe a source or sink")
    tc.add_argument("component", choices=["source", "sink"])
    tc.add_argument("-c", "--config", required=True)
    tc.set_defaults(fn=cmd_test_connection)

    cl = sub.add_parser("clean", help="delete sink + state paths")
    cl.add_argument("-c", "--config", required=True)
    cl.add_argument("--yes", action="store_true")
    cl.set_defaults(fn=cmd_clean)

    se = sub.add_parser("search", help="top-k search against a pipeline sink")
    se.add_argument("query")
    se.add_argument("-c", "--config", required=True)
    se.add_argument("-k", type=int, default=3)
    se.set_defaults(fn=cmd_search)

    fo = sub.add_parser(
        "forget",
        help="right-to-be-forgotten: delete source(s) from sink + indexes",
    )
    fo.add_argument("sources", nargs="+", help="source value(s) to delete")
    fo.add_argument("-c", "--config", required=True)
    fo.set_defaults(fn=cmd_forget)

    ev = sub.add_parser("eval", help="retrieval hit-rate over a JSONL dataset")
    ev.add_argument("dataset")
    ev.add_argument("-c", "--config", required=True)
    ev.add_argument("-k", type=int, default=5)
    ev.set_defaults(fn=cmd_eval)

    q = sub.add_parser("sql", help="run SQL over the data-dir tables")
    q.add_argument("query")
    q.add_argument(
        "-d",
        "--data-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    q.add_argument("-o", "--output", help="write result parquet here")
    q.add_argument("--limit", type=int, default=100)
    q.set_defaults(fn=cmd_sql)

    ex = sub.add_parser(
        "explain", help="print the Catalyst plan for a registered query"
    )
    ex.add_argument("target", help="registered query name (or SQL with --sql)")
    ex.add_argument("--sql", action="store_true", help="target is a SQL string")
    ex.add_argument(
        "-m",
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    ex.add_argument(
        "-d",
        "--data-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ex.set_defaults(fn=cmd_explain)

    au = sub.add_parser(
        "audit", help="run the measured-component audit reports"
    )
    au.add_argument(
        "--only", help="comma-separated audit keys (see cli.AUDIT_QUERIES)"
    )
    au.add_argument(
        "-d",
        "--data-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    au.set_defaults(fn=cmd_audit)

    args = p.parse_args(argv)
    try:
        return args.fn(args)
    except ConfigError as e:
        print(f"config error: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(main())
