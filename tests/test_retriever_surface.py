"""CLI/YAML reachability of the persisted index stores (VERDICT r6 ask #2):
a `retriever:` key in the pipeline spec selects the serving strategy,
run_pipeline builds the index, and search/eval serve from it — the
round-trip the reference implements as core/pipeline.py build +
core/evaluation.py / app.py query."""

from __future__ import annotations

import json
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from yaml_pipe_spark.plans.config import parse_config
from yaml_pipe_spark.plans.factory import build_component, list_components
from yaml_pipe_spark.plans.pipeline import run_pipeline
from yaml_pipe_spark.retrievers import (
    Bm25Retriever,
    ExactRetriever,
    HybridRrfRetriever,
    IvfPqRetriever,
    unique_by_id,
    with_stable_id,
)
from yaml_pipe_spark.search import search_corpus

CONFIG_TMPL = """
source:
  type: local_files
  config:
    path: "{data}"
    glob_pattern: "**/*.txt"
chunker:
  type: fixed_window
  config: {{chunk_size: 400, chunk_overlap: 0}}
embedder:
  type: hash
  config: {{dim: 8}}
sink:
  type: parquet
  config: {{path: "{sink}"}}
{retriever_yaml}
"""

IVFPQ_YAML = """
retriever:
  type: ivfpq
  config: {{path: "{index}", n_cells: 3, nprobe: 3, rerank_m: 10}}
"""

BM25_YAML = """
retriever:
  type: bm25
  config: {{path: "{index}"}}
"""

HYBRID_YAML = """
retriever:
  type: hybrid_rrf
  config:
    vector: {{path: "{index}/vec", n_cells: 3, nprobe: 3, rerank_m: 10}}
    lexical: {{path: "{index}/lex"}}
"""


@pytest.fixture()
def workdir():
    with tempfile.TemporaryDirectory() as tmp:
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        docs = {
            "zebra.txt": "zebra savanna stripes gallop herd " * 8,
            "ocean.txt": "ocean coral reef current tide wave " * 8,
            "forest.txt": "forest canopy moss fern shade trail " * 8,
            "desert.txt": "desert dune cactus mirage oasis sand " * 8,
        }
        for name, text in docs.items():
            with open(os.path.join(data, name), "w", encoding="utf-8") as f:
                f.write(text)
        yield {
            "data": data,
            "sink": os.path.join(tmp, "out"),
            "index": os.path.join(tmp, "index"),
        }


def _spec(workdir, retriever_yaml=""):
    ry = retriever_yaml.format(**workdir) if retriever_yaml else ""
    return parse_config(CONFIG_TMPL.format(retriever_yaml=ry, **workdir))


def test_list_components_shows_retrievers():
    comps = list_components()
    assert comps["retriever"] == ["bm25", "exact", "hybrid_rrf", "ivfpq"]


def test_pipeline_builds_ivfpq_index_and_search_serves_it(spark, workdir):
    spec = _spec(workdir, IVFPQ_YAML)
    run_pipeline(spark, spec)
    # the run left a persisted, non-stale index behind
    for sub in ("centroids", "codes", "vectors", "meta"):
        assert os.path.isdir(os.path.join(workdir["index"], sub)), sub
    sink = build_component("sink", spec.sink)
    corpus = with_stable_id(sink.read(spark))
    r = build_component("retriever", spec.retriever)
    vecs, cents = r._frames(corpus)
    assert r.store.is_stale(vecs, centroids=cents) is False

    rows = search_corpus(spark, spec, "desert dune cactus sand", k=2).collect()
    assert [row.rank for row in rows] == [1, 2]
    # the serve must equal the store's own serve joined back to the corpus
    embedder = build_component("embedder", spec.embedder)
    qdf = spark.createDataFrame(
        [(0, "desert dune cactus sand")], "qid long, qtext string"
    )
    qv = embedder.apply(qdf, "qtext").select(
        "qid", F.col("embedding").alias("qv")
    )
    want = (
        r.store.serve(qv, k=2, nprobe=3, rerank_m=10)
        .join(corpus.select("__id", "source", "text"), "__id")
        .select("rank", "source", "text", "score")
        .collect()
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want))


def test_bm25_search_round_trip(spark, workdir):
    spec = _spec(workdir, BM25_YAML)
    run_pipeline(spark, spec)
    rows = search_corpus(spark, spec, "coral reef tide", k=2).collect()
    assert rows and rows[0].source.endswith("ocean.txt")
    assert rows[0].rank == 1 and rows[0].score > 0
    # a query with no indexed terms returns empty, not an error
    assert (
        search_corpus(spark, spec, "xylophone quixotic", k=2).count() == 0
    )


@pytest.mark.slow  # driver fast lane (r14)
def test_hybrid_search_fuses_both_persisted_arms(spark, workdir):
    spec = _spec(workdir, HYBRID_YAML)
    run_pipeline(spark, spec)
    for sub in ("vec/codes", "lex/tf"):
        assert os.path.isdir(os.path.join(workdir["index"], sub)), sub
    rows = search_corpus(spark, spec, "forest canopy moss", k=3).collect()
    assert rows[0].source.endswith("forest.txt")
    # fused score must be exactly sum over arms of 1/(60 + arm rank)
    r = build_component("retriever", spec.retriever)
    sink = build_component("sink", spec.sink)
    embedder = build_component("embedder", spec.embedder)
    corpus = with_stable_id(sink.read(spark))
    qdf = spark.createDataFrame(
        [(0, "forest canopy moss")], "qid long, qtext string"
    )
    queries = embedder.apply(qdf, "qtext").select(
        "qid", "qtext", F.col("embedding").alias("qv")
    )
    top_id = (
        corpus.filter(F.col("source").endswith("forest.txt"))
        .select("__id")
        .collect()[0][0]
    )
    ranks = []
    for arm in (r.vector, r.lexical):
        got = {
            row["__id"]: row["rank"]
            for row in arm.topk(corpus, queries, 3).collect()
        }
        ranks.append(got.get(top_id))
    want = sum(1 / (60 + rk) for rk in ranks if rk is not None)
    assert rows[0].score == pytest.approx(want, abs=1e-6)


def test_no_retriever_key_is_the_exact_path(spark, workdir):
    """Specs without `retriever:` must serve exactly as before."""
    from yaml_pipe_spark.operators.similarity import topk_cosine

    spec = _spec(workdir)
    assert spec.retriever is None
    run_pipeline(spark, spec)
    rows = search_corpus(spark, spec, "zebra stripes herd", k=2).collect()

    embedder = build_component("embedder", spec.embedder)
    sink = build_component("sink", spec.sink)
    qdf = spark.createDataFrame([("zebra stripes herd",)], "q string")
    qv = embedder.apply(qdf, "q").select(F.col("embedding").alias("qv"))
    corpus = with_stable_id(sink.read(spark))
    want = sorted(
        (r.source, r.text, r.score)
        for r in topk_cosine(corpus, qv, k=2, id_col="__id").collect()
    )
    assert sorted((r.source, r.text, r.score) for r in rows) == want


def test_second_run_does_not_rebuild_fresh_index(spark, workdir):
    """A spec without a state ledger rewrites every sink file on each run:
    the second run's fingerprints match, so no index table is rewritten,
    and only the meta row is restamped with the new files' sink key."""
    spec = _spec(workdir, IVFPQ_YAML)
    run_pipeline(spark, spec)
    store = build_component("retriever", spec.retriever).store

    def stamps():
        return {
            d: max(
                os.path.getmtime(os.path.join(root, f))
                for root, _, files in os.walk(os.path.join(store.base_path, d))
                for f in files
            )
            for d in ("centroids", "codes", "vectors")
        }

    tables, meta = stamps(), store._read_meta(spark)
    run_pipeline(spark, spec)  # same corpus -> fingerprint match -> no-op
    assert stamps() == tables
    meta2 = store._read_meta(spark)
    assert meta2["sink_key"] not in (None, meta["sink_key"])
    assert {**meta2, "sink_key": None} == {**meta, "sink_key": None}


def test_cmd_eval_serves_from_retriever(spark, workdir, tmp_path, capsys):
    from yaml_pipe_spark import cli

    spec_yaml = CONFIG_TMPL.format(
        retriever_yaml=BM25_YAML.format(**workdir), **workdir
    )
    cfg = tmp_path / "pipe.yaml"
    cfg.write_text(spec_yaml)
    run_pipeline(spark, parse_config(spec_yaml))

    dataset = tmp_path / "eval.jsonl"
    lines = [
        {"question": "zebra savanna stripes", "expected_source": "zebra"},
        {"question": "coral reef tide", "expected_source": "ocean"},
        # no indexed terms -> zero candidates -> counted as a MISS
        {"question": "xylophone quixotic", "expected_source": "desert"},
    ]
    # expected_source must equal the stored source path
    sink = build_component("sink", parse_config(spec_yaml).sink)
    srcs = {
        os.path.basename(r.source): r.source
        for r in sink.read(spark).select("source").distinct().collect()
    }
    lines[0]["expected_source"] = srcs["zebra.txt"]
    lines[1]["expected_source"] = srcs["ocean.txt"]
    lines[2]["expected_source"] = srcs["desert.txt"]
    dataset.write_text("\n".join(json.dumps(l) for l in lines) + "\n")

    class A:
        config = str(cfg)
        k = 2

    A.dataset = str(dataset)
    assert cli.cmd_eval(A) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["total_questions"] == 3
    assert out["hits"] == 2
    assert out["hit_rate"] == pytest.approx(100 * 2 / 3, abs=0.01)


@pytest.mark.slow  # driver fast lane (r14)
def test_duplicate_chunks_index_once_and_serve_once(spark, tmp_path):
    """Identical (source, text) rows share __id; indexing both would skew
    BM25 tf/dl, duplicate vector-serve ranks, and let the XOR fingerprint
    cancel duplicate pairs (round-7 review finding) — every retriever
    build/serve path dedups to one row per id."""
    from yaml_pipe_spark.retrievers import Bm25Retriever, IvfPqRetriever

    rows = [
        ("a.txt", "zebra savanna stripes gallop", [0.1, 0.9, 0.2, 0.1]),
        ("a.txt", "zebra savanna stripes gallop", [0.1, 0.9, 0.2, 0.1]),
        ("b.txt", "ocean coral reef tide", [0.9, 0.1, 0.1, 0.2]),
    ]
    corpus = spark.createDataFrame(
        rows, "source string, text string, embedding array<double>"
    )
    q = spark.createDataFrame(
        [(0, "zebra savanna stripes", [0.1, 0.9, 0.2, 0.1])],
        "qid long, qtext string, qv array<double>",
    )
    bm = Bm25Retriever(str(tmp_path / "lex"))
    bm.build(corpus)
    got = bm.topk(corpus, q, k=5).collect()
    assert len({r["__id"] for r in got}) == len(got)  # no duplicate ids
    # tf/dl counted the duplicate pair once: n_docs == 2 distinct ids
    assert int(bm.store._read_meta(spark)["n_docs"]) == 2

    iv = IvfPqRetriever(str(tmp_path / "vec"), n_cells=2, nprobe=2)
    iv.build(corpus)
    got = iv.topk(corpus, q, k=5).collect()
    assert len({r["__id"] for r in got}) == len(got)
    # a corpus differing only in duplicate multiplicity is the SAME set:
    # the index must still read fresh (set semantics, not row semantics)
    tripled = corpus.union(corpus.limit(1))
    vecs, cents = iv._frames(tripled)
    assert iv.store.is_stale(vecs, centroids=cents) is False


def test_bm25_empty_index_preserves_qid_type(spark, tmp_path):
    """The zero-token-corpus early return must carry the CALLER's qid
    dtype (cmd_eval passes string qids) — a hardcoded bigint frame would
    break the eval left-join under ANSI (round-7 review finding)."""
    from yaml_pipe_spark.retrievers import Bm25Retriever

    corpus = spark.createDataFrame(
        [("n.txt", "12345 67890 11 22", [0.1, 0.2])],
        "source string, text string, embedding array<double>",
    )
    bm = Bm25Retriever(str(tmp_path / "lex0"))
    bm.build(corpus)  # \\p{L}+ finds no tokens -> n_docs == 0
    q = spark.createDataFrame(
        [("what is it", "what is it", [0.1, 0.2])],
        "qid string, qtext string, qv array<double>",
    )
    out = bm.topk(corpus, q, k=3)
    assert out.count() == 0
    assert dict(out.dtypes)["qid"] == "string"


@pytest.mark.slow  # driver fast lane (r14)
def test_incremental_run_refreshes_index_and_serves_new_doc(
    spark, workdir
):
    """The full lifecycle: run builds the index; a NEW source file makes
    the corpus fingerprint stale, so the next run rebuilds; search then
    retrieves the new document from the persisted index."""
    spec = _spec(workdir, BM25_YAML)
    run_pipeline(spark, spec)
    assert (
        search_corpus(spark, spec, "glacier crevasse moraine", k=2).count()
        == 0
    )
    with open(
        os.path.join(workdir["data"], "glacier.txt"), "w", encoding="utf-8"
    ) as f:
        f.write("glacier crevasse moraine icefall serac " * 8)
    run_pipeline(spark, spec)  # stale fingerprint -> rebuild
    rows = search_corpus(spark, spec, "glacier crevasse moraine", k=2).collect()
    assert rows and rows[0].source.endswith("glacier.txt")


def test_cmd_clean_targets_retriever_indexes(spark, workdir, tmp_path, capsys):
    from yaml_pipe_spark import cli

    spec_yaml = CONFIG_TMPL.format(
        retriever_yaml=HYBRID_YAML.format(**workdir), **workdir
    )
    cfg = tmp_path / "pipe.yaml"
    cfg.write_text(spec_yaml)
    run_pipeline(spark, parse_config(spec_yaml))
    vec = os.path.join(workdir["index"], "vec")
    lex = os.path.join(workdir["index"], "lex")
    assert os.path.isdir(vec) and os.path.isdir(lex)

    class A:
        config = str(cfg)
        yes = True

    assert cli.cmd_clean(A) == 0
    capsys.readouterr()
    assert not os.path.exists(vec) and not os.path.exists(lex)
    assert not os.path.exists(workdir["sink"])


def test_search_raises_on_stale_index(spark, workdir):
    """Serve-time staleness gate (ADVICE r7): a sink that moved on after
    the index build (crash window, or `retriever:` added post-run) must
    error loudly instead of quietly serving short/stale result lists."""
    spec = _spec(workdir, BM25_YAML)
    run_pipeline(spark, spec)
    # grow the sink behind the index's back: write one more chunk row
    # directly through the sink (no index refresh)
    sink = build_component("sink", spec.sink)
    extra = spark.createDataFrame(
        [("late.txt", "glacier icefield crevasse " * 8, [0.0] * 8)],
        "source string, text string, embedding array<double>",
    )
    sink.write(extra)
    with pytest.raises(ValueError, match="stale or missing"):
        search_corpus(spark, spec, "coral reef tide", k=2)


def test_eval_raises_on_missing_index(spark, workdir, tmp_path):
    """eval with a retriever key but no index on disk must fail with the
    actionable message, not report a quietly-wrong hit rate."""
    import argparse

    from yaml_pipe_spark.cli import cmd_eval
    from yaml_pipe_spark.plans.pipeline import run_pipeline as _run

    spec = _spec(workdir)  # no retriever: builds only the sink
    _run(spark, spec)
    cfg = tmp_path / "cfg.yaml"
    ry = BM25_YAML.format(**workdir)
    cfg.write_text(CONFIG_TMPL.format(retriever_yaml=ry, **workdir))
    ds = tmp_path / "qs.jsonl"
    ds.write_text(json.dumps({"question": "coral", "expected_source": "x"}) + "\n")
    with pytest.raises(ValueError, match="stale or missing"):
        cmd_eval(argparse.Namespace(config=str(cfg), dataset=str(ds), k=2))


def test_hybrid_rrf_missing_arm_config_is_a_config_error():
    """ADVICE r7: omitting an arm's config must raise a descriptive
    ValueError at build time, not a bare TypeError from the constructor."""
    with pytest.raises(ValueError, match="'lexical' mapping with a 'path'"):
        HybridRrfRetriever(vector={"path": "/tmp/v"})
    with pytest.raises(ValueError, match="'vector' mapping with a 'path'"):
        HybridRrfRetriever(lexical={"path": "/tmp/l"})
    with pytest.raises(ValueError, match="hybrid_rrf"):
        HybridRrfRetriever()


# -- the serve cache (retrievers.ensure_fresh) ---------------------------


def _jobs(spark) -> int:
    """Jobs launched so far: the DAG scheduler's counter, exact past
    spark.ui.retainedJobs (which caps the status tracker's job lists)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _fresh_hybrid(spark, workdir):
    """Run the pipeline and one search (fresh, so its verdict and snapshot
    are cached); returns (spec, retriever, sink)."""
    spec = _spec(workdir, HYBRID_YAML)
    run_pipeline(spark, spec)
    search_corpus(spark, spec, "coral reef tide", k=2).collect()
    return (
        spec,
        build_component("retriever", spec.retriever),
        build_component("sink", spec.sink),
    )


def _corpus(spark, sink):
    return sink.read(spark)


def test_warm_search_runs_one_job(spark, workdir, monkeypatch):
    """A warm search, plan and collect, runs no Spark job. The sink read
    declares the merged schema kept for its unchanged files, the first
    search cached the fresh verdict with the index snapshot it filled,
    the query frame is a local relation that embeds and tokenizes on the
    driver, and the answer is a local frame already in rank order. The
    Spark top-k, which serves above the row budget, plans with at most
    one job: the BM25 meta-row read."""
    from yaml_pipe_spark.retrievers import ensure_fresh
    from yaml_pipe_spark.streaming.stream import read_band_state

    spec = _spec(workdir, HYBRID_YAML)
    run_pipeline(spark, spec)
    first = search_corpus(spark, spec, "forest canopy moss", k=3).collect()
    j0 = _jobs(spark)
    rows = search_corpus(spark, spec, "forest canopy moss", k=3).collect()
    assert _jobs(spark) == j0
    assert rows == first
    assert [r.rank for r in rows] == [1, 2, 3]
    assert first[0].source.endswith("forest.txt")
    _spark_path(monkeypatch)
    # the first Spark-path search re-gates after the cache reset
    rows = search_corpus(spark, spec, "forest canopy moss", k=3).collect()
    assert rows == first
    j0 = _jobs(spark)
    df = search_corpus(spark, spec, "forest canopy moss", k=3)
    assert _jobs(spark) - j0 <= 1
    assert df.collect() == first

    r = build_component("retriever", spec.retriever)
    corpus = _corpus(spark, build_component("sink", spec.sink))
    j0 = _jobs(spark)
    ensure_fresh(r, corpus)  # cached pass: no job at all
    assert _jobs(spark) == j0
    # ...and it agrees with the uncached verdict
    assert r.is_stale(corpus) is False
    assert r.is_stale(corpus) == any(g.stale for g in r.gate(corpus))

    # the declared schemas are exactly what the writers wrote
    vs = r.vector.store
    vecs, cents = r.vector._frames(corpus)
    declared = vs.table_schemas(vecs.schema, cents.schema)
    for name in ("centroids", "codes", "vectors"):
        got = spark.read.parquet(getattr(vs, f"{name}_path")).schema
        assert got.simpleString() == declared[name].simpleString(), name
    ls = r.lexical.store
    id_type = ls._read_meta(spark)["id_type"]
    assert id_type == "string"
    inferred = (
        spark.read.parquet(ls.tf_path),
        spark.read.parquet(ls.dl_path),
        read_band_state(spark, ls.base_path, "cf"),
    )
    for got, want in zip(ls.live_tables(spark, id_type), inferred):
        assert got.schema.simpleString() == want.schema.simpleString()


def test_gate_cache_raises_after_out_of_band_sink_write(spark, workdir):
    spec, r, sink = _fresh_hybrid(spark, workdir)
    sink.write(
        spark.createDataFrame(
            [("late.txt", "glacier icefield crevasse " * 8, [1.0] * 8)],
            "source string, text string, embedding array<double>",
        )
    )
    corpus = _corpus(spark, sink)
    assert r.is_stale(corpus) is True
    assert r.is_stale(corpus) == any(g.stale for g in r.gate(corpus))
    # a stale verdict is never cached: every call raises
    for _ in range(2):
        with pytest.raises(ValueError, match="stale or missing"):
            search_corpus(spark, spec, "coral reef tide", k=2)
    run_pipeline(spark, spec)  # the unchanged-source run rebuilds the index
    rows = search_corpus(spark, spec, "glacier icefield crevasse", k=3)
    assert "late.txt" in {row.source for row in rows.collect()}


def test_gate_cache_raises_after_arm_meta_rewrite(spark, workdir):
    spec, r, sink = _fresh_hybrid(spark, workdir)
    store = r.lexical.store
    meta = store._read_meta(spark)

    def rewrite(fp_h):
        store._write_meta(
            spark, (meta["fp_n"], fp_h), meta["n_docs"],
            meta["total_tokens"], meta["version"], meta["gen"],
            meta["id_type"],
        )

    rewrite(meta["fp_h"] ^ 1)  # the lexical arm no longer matches the sink
    gates = r.gate(_corpus(spark, sink))
    assert tuple(g.stale for g in gates) == (False, True)
    with pytest.raises(ValueError, match="stale or missing"):
        search_corpus(spark, spec, "coral reef tide", k=2)
    rewrite(meta["fp_h"])  # new meta files, matching again: serves
    assert search_corpus(spark, spec, "coral reef tide", k=2).count() == 2


def test_gate_cache_rechecks_after_sink_file_replaced(spark, workdir):
    """Replacing a sink file in place (same name) re-runs the check: the
    same rows pass and are cached again, edited rows raise."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from yaml_pipe_spark.retrievers import ensure_fresh

    spec, r, sink = _fresh_hybrid(spark, workdir)
    path = next(
        os.path.join(d, f)
        for d, _, files in os.walk(workdir["sink"])
        if "ocean" in d
        for f in files
        if f.endswith(".parquet")
    )
    # a writer outside Hadoop leaves no checksum sidecar behind
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    os.remove(crc)
    table = pq.ParquetFile(path).read()
    pq.write_table(table, path, compression="none")
    corpus = _corpus(spark, sink)
    j0 = _jobs(spark)
    ensure_fresh(r, corpus)
    assert _jobs(spark) > j0  # checked again, and fresh
    j0 = _jobs(spark)
    ensure_fresh(r, corpus)
    assert _jobs(spark) == j0  # cached again

    i = table.schema.get_field_index("text")
    edited = pa.array([t + " tsunami" for t in table.column(i).to_pylist()])
    pq.write_table(table.set_column(i, "text", edited), path)
    with pytest.raises(ValueError, match="stale or missing"):
        search_corpus(spark, spec, "coral reef tide", k=2)


# -- the driver snapshot behind the gate (yaml_pipe_spark/snapshot.py) --


def _spark_path(monkeypatch):
    """Force the Spark top-k: no snapshot fits a row budget of 0."""
    from yaml_pipe_spark import retrievers, snapshot
    from yaml_pipe_spark.lru import Lru

    monkeypatch.setattr(snapshot, "SNAPSHOT_MAX_ROWS", 0)
    monkeypatch.setattr(retrievers, "_SERVE", Lru(2))


def test_snapshot_dropped_after_out_of_band_tf_rewrite(
    spark, workdir, monkeypatch
):
    """A tf file rewritten in place, meta untouched, changes the serve
    stamp: the next search re-checks the gate, which passes, refills the
    snapshot and serves the rewritten counts, as the Spark plan does."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from yaml_pipe_spark import snapshot

    spec = _spec(workdir, BM25_YAML)
    run_pipeline(spark, spec)
    q = "coral reef tide"
    before = search_corpus(spark, spec, q, k=3).collect()
    fills = []
    fill = snapshot._fill
    monkeypatch.setattr(
        snapshot, "_fill", lambda *a: fills.append(1) or fill(*a)
    )
    assert search_corpus(spark, spec, q, k=3).collect() == before
    assert fills == []  # served from the snapshot the first search filled

    tf_dir = os.path.join(workdir["index"], "tf")
    path = next(
        os.path.join(tf_dir, f)
        for f in sorted(os.listdir(tf_dir))
        if f.endswith(".parquet")
        and pq.ParquetFile(os.path.join(tf_dir, f)).metadata.num_rows
    )
    os.remove(os.path.join(tf_dir, f".{os.path.basename(path)}.crc"))
    table = pq.read_table(path)
    i = table.schema.get_field_index("tf")
    pq.write_table(
        table.set_column(i, "tf", pc.multiply(table.column(i), 3)), path
    )
    after = search_corpus(spark, spec, q, k=3).collect()
    assert fills == [1]
    assert after != before
    _spark_path(monkeypatch)
    assert search_corpus(spark, spec, q, k=3).collect() == after


def test_serve_cache_holds_one_entry_per_retriever(
    spark, workdir, monkeypatch
):
    """A store rewrite drops the retriever's entry before the next search
    refills it, so the stale snapshot is released first and the cache
    then holds that retriever's one fresh entry. A third retriever config
    evicts the least recently used one."""
    import gc
    import weakref

    from yaml_pipe_spark import retrievers, snapshot
    from yaml_pipe_spark.lru import Lru

    monkeypatch.setattr(retrievers, "_SERVE", Lru(2))
    spec, r, sink = _fresh_hybrid(spark, workdir)
    key = retrievers._config_key(r)
    stale = weakref.ref(retrievers._SERVE.get(key)[1])
    assert stale() is not None and len(retrievers._SERVE) == 1

    with open(
        os.path.join(workdir["data"], "late.txt"), "w", encoding="utf-8"
    ) as f:
        f.write("glacier icefield crevasse " * 8)
    run_pipeline(spark, spec)  # rewrites the sink and both stores
    at_fill = []
    fill = snapshot._fill

    def spy(*a):
        gc.collect()
        at_fill.append((len(retrievers._SERVE), stale() is None))
        return fill(*a)

    monkeypatch.setattr(snapshot, "_fill", spy)
    rows = search_corpus(spark, spec, "glacier icefield crevasse", k=2)
    assert "late.txt" in {os.path.basename(x.source) for x in rows.collect()}
    assert at_fill == [(0, True)]
    assert len(retrievers._SERVE) == 1
    assert retrievers._SERVE.get(key)[1] is not None

    corpus = _corpus(spark, sink)
    cfg = spec.retriever.config
    others = [HybridRrfRetriever(**cfg, rrf_k=k) for k in (61, 62)]
    for o in others:
        assert retrievers.ensure_fresh(o, corpus) is not None
    assert len(retrievers._SERVE) == 2
    assert retrievers._SERVE.get(key) is None  # the least recently used
    j0 = _jobs(spark)
    retrievers.ensure_fresh(others[1], corpus)
    assert _jobs(spark) == j0
    retrievers.ensure_fresh(r, corpus)  # evicted: re-gates
    assert _jobs(spark) > j0


def test_snapshot_over_budget_serves_with_spark(spark, workdir, monkeypatch):
    spec, _, _ = _fresh_hybrid(spark, workdir)
    q = "forest canopy moss"
    want = search_corpus(spark, spec, q, k=4).collect()
    calls = []
    topk = HybridRrfRetriever.topk
    monkeypatch.setattr(
        HybridRrfRetriever,
        "topk",
        lambda self, *a, **kw: calls.append(1) or topk(self, *a, **kw),
    )
    assert search_corpus(spark, spec, q, k=4).collect() == want
    assert calls == []
    _spark_path(monkeypatch)
    assert search_corpus(spark, spec, q, k=4).collect() == want
    assert calls == [1]


def test_eval_hit_rate_same_from_snapshot_and_spark(
    spark, workdir, tmp_path, capsys, monkeypatch
):
    """cmd_eval reports the same hit rate from the snapshot as from the
    Spark plan, with a repeated question of two expectations, a question
    no indexed token matches and a null expectation in the set."""
    from yaml_pipe_spark import cli

    spec_yaml = CONFIG_TMPL.format(
        retriever_yaml=HYBRID_YAML.format(**workdir), **workdir
    )
    cfg = tmp_path / "pipe.yaml"
    cfg.write_text(spec_yaml)
    run_pipeline(spark, parse_config(spec_yaml))
    srcs = {
        os.path.basename(r.source): r.source
        for r in build_component("sink", parse_config(spec_yaml).sink)
        .read(spark)
        .select("source")
        .distinct()
        .collect()
    }
    lines = [
        ("zebra savanna stripes", srcs["zebra.txt"]),
        ("coral reef tide", srcs["desert.txt"]),
        ("coral reef tide", srcs["ocean.txt"]),
        ("xylophone quixotic", srcs["forest.txt"]),
        ("forest canopy", None),
        ("desert dune", srcs["zebra.txt"]),
    ]
    dataset = tmp_path / "eval.jsonl"
    dataset.write_text(
        "".join(
            json.dumps({"question": q, "expected_source": e}) + "\n"
            for q, e in lines
        )
    )

    class A:
        config = str(cfg)
        k = 2

    A.dataset = str(dataset)

    def run():
        assert cli.cmd_eval(A) == 0
        return capsys.readouterr().out.strip().splitlines()[-1]

    from_snapshot = run()
    _spark_path(monkeypatch)
    assert run() == from_snapshot
    assert json.loads(from_snapshot)["total_questions"] == 5


# -- the index gate's sink key (retrievers.index_gate) -------------------

STATE_YAML = """
state_manager:
  type: parquet
  config: {{path: "{index}_state"}}
"""


def _ledgered(workdir, n_cells=3):
    """A hybrid spec with a state ledger, so an unchanged source is a
    no-op run that leaves the sink files alone."""
    hybrid = HYBRID_YAML.replace("n_cells: 3", f"n_cells: {n_cells}")
    return _spec(workdir, hybrid + STATE_YAML)


class _Spy:
    """Counts the gate's fingerprint waves and each store's rebuilds."""

    def __init__(self, monkeypatch):
        from yaml_pipe_spark import retrievers
        from yaml_pipe_spark.operators.ann_index import IvfPqIndexStore
        from yaml_pipe_spark.operators.retrieval import Bm25IndexStore

        self.calls = []
        for owner, name, tag in (
            (retrievers, "_fingerprint", "scan"),
            (IvfPqIndexStore, "build", "vec_build"),
            (Bm25IndexStore, "build", "lex_build"),
        ):
            real = getattr(owner, name)

            def spy(*a, _real=real, _tag=tag, **kw):
                self.calls.append(_tag)
                return _real(*a, **kw)

            monkeypatch.setattr(owner, name, spy)

    def take(self) -> list:
        out, self.calls = self.calls, []
        return out


def _sink_keys(spark, spec) -> list:
    r = build_component("retriever", spec.retriever)
    return [
        s._read_meta(spark)["sink_key"]
        for s in (r.vector.store, r.lexical.store)
    ]


def test_sink_key_only_for_sink_read(spark, workdir):
    """Every command gates `sink.read()` and gets the key the run stamped.
    Any other frame over the same files gets none: a filter, since the
    files alone no longer decide its rows, and `unique_by_id` or
    `with_stable_id` of the read, which the retrievers apply themselves."""
    from yaml_pipe_spark.retrievers import _sink_key, _sink_state

    spec = _ledgered(workdir)
    run_pipeline(spark, spec)
    r = build_component("retriever", spec.retriever)
    sink = build_component("sink", spec.sink)
    raw = sink.read(spark)
    keys = [_sink_key(a, _sink_state(raw)) for a in (r.vector, r.lexical)]
    assert None not in keys and keys[0] != keys[1]
    assert _sink_keys(spark, spec) == keys
    assert _sink_state(unique_by_id(raw)) is None
    assert _sink_state(raw.filter(F.col("text") != "")) is None
    assert _sink_state(with_stable_id(raw)) is None


def test_sink_state_lists_the_files_spark_reads(spark, tmp_path):
    """`_sink_state` walks the sink's one root path itself. It returns
    what Spark's own listing (`inputFiles`) gives, path for path, on
    partition values Spark escapes in directory names, so sink keys
    stamped from that listing still match. A read of two roots gets
    none."""
    from yaml_pipe_spark.filestats import file_stats, local_path
    from yaml_pipe_spark.operators.sinks import ParquetSink
    from yaml_pipe_spark.retrievers import _sink_state

    sink = ParquetSink(str(tmp_path / "sink"))
    sink.write(
        spark.createDataFrame(
            [("a b", "x", 0), ("c%d", "y", 1), ("plain", "z", 2)],
            "source string, text string, chunk_index int",
        )
    )
    corpus = sink.read(spark)
    via_spark = file_stats(sorted(local_path(u) for u in corpus.inputFiles()))
    state = _sink_state(corpus)
    assert state[1] == via_spark and len(via_spark) == 3
    assert any("source=a b" in p for p, _, _ in via_spark)
    assert any("source=c%25d" in p for p, _, _ in via_spark)
    assert state[0] == corpus._jdf.queryExecution().analyzed().schema(
    ).simpleString()
    parts = [
        os.path.dirname(p) for p, _, _ in via_spark if "plain" not in p
    ]
    assert _sink_state(spark.read.parquet(*parts)) is None


def test_every_command_gates_a_keyed_corpus(
    spark, workdir, tmp_path, capsys, monkeypatch
):
    """`run`, `search`, `eval` and `forget` each hand the index gate the
    sink frame as read, which the sink key describes. A caller that
    wrapped it again would fall back to a fingerprint scan on every
    call."""
    from yaml_pipe_spark import cli, retrievers
    from yaml_pipe_spark.lru import Lru

    spec_yaml = CONFIG_TMPL.format(
        retriever_yaml=HYBRID_YAML.format(**workdir), **workdir
    )
    cfg = str(tmp_path / "pipe.yaml")
    with open(cfg, "w") as f:
        f.write(spec_yaml)
    spec = parse_config(spec_yaml)
    dataset = tmp_path / "eval.jsonl"
    dataset.write_text(
        json.dumps({"question": "coral reef tide", "expected_source": "x"})
        + "\n"
    )
    keyed = []
    gate = retrievers.index_gate

    def spy(arms, corpus):
        keyed.append(retrievers._sink_state(corpus) is not None)
        return gate(arms, corpus)

    monkeypatch.setattr(retrievers, "index_gate", spy)

    def gated(command, *args) -> list:
        """Whether each gate call during `command(*args)` was keyed."""
        monkeypatch.setattr(retrievers, "_SERVE", Lru(2))  # no cached pass
        keyed.clear()
        command(*args)
        return list(keyed)

    q = "coral reef tide"
    assert gated(run_pipeline, spark, spec) == [True]
    assert gated(lambda: search_corpus(spark, spec, q, k=2).count()) == [True]
    assert gated(cli.main, ["eval", str(dataset), "-c", cfg]) == [True]
    zebra = next(
        r.source
        for r in build_component("sink", spec.sink)
        .read(spark)
        .select("source")
        .distinct()
        .collect()
        if r.source.endswith("zebra.txt")
    )
    assert gated(cli.main, ["forget", zebra, "-c", cfg]) == [True]
    evals, forgets = map(json.loads, capsys.readouterr().out.splitlines())
    assert evals["total_questions"] == 1 and forgets["sink_rows"] > 0


def test_sink_file_rewritten_in_place_rechecks_then_rebuilds(
    spark, workdir, monkeypatch
):
    """Same rows in a rewritten sink file: the key misses, the fingerprint
    check passes, nothing rebuilds, and the run restamps the key so the
    next run needs no scan. Edited rows in it: the next run rebuilds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    spec = _ledgered(workdir)
    run_pipeline(spark, spec)
    keys = _sink_keys(spark, spec)
    spy = _Spy(monkeypatch)
    run_pipeline(spark, spec)
    assert spy.take() == []  # proved by the key: no scan, no build

    path = next(
        os.path.join(d, f)
        for d, _, files in os.walk(workdir["sink"])
        if "ocean" in d
        for f in files
        if f.endswith(".parquet")
    )
    # a writer outside Hadoop leaves no checksum sidecar behind
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    os.remove(crc)
    table = pq.ParquetFile(path).read()
    pq.write_table(table, path, compression="none")
    run_pipeline(spark, spec)
    assert spy.take() == ["scan"]
    restamped = _sink_keys(spark, spec)
    assert None not in restamped and restamped != keys
    run_pipeline(spark, spec)
    assert spy.take() == []

    i = table.schema.get_field_index("text")
    edited = pa.array([t + " tsunami" for t in table.column(i).to_pylist()])
    pq.write_table(table.set_column(i, "text", edited), path)
    assert run_pipeline(spark, spec).n_changed == 0
    # the scan first, then each arm once: the stale arms rebuild in one
    # concurrent wave, so their order is not fixed
    scan, *builds = spy.take()
    assert scan == "scan" and sorted(builds) == ["lex_build", "vec_build"]
    r = build_component("retriever", spec.retriever)
    assert r.is_stale(build_component("sink", spec.sink).read(spark)) is False


@pytest.mark.parametrize("failing", ["vec", "lex"])
def test_failed_arm_in_rebuild_wave_reads_stale(
    spark, workdir, monkeypatch, failing
):
    """One arm's rebuild raises inside the wave that rebuilds both: the
    run raises, the other arm commits its meta and passes the gate, the
    failed arm keeps its old meta and reads stale, and the next run
    rebuilds that arm alone."""
    from yaml_pipe_spark.operators.ann_index import IvfPqIndexStore
    from yaml_pipe_spark.streaming import stream

    spec = _ledgered(workdir)
    run_pipeline(spark, spec)
    with open(os.path.join(workdir["data"], "ocean.txt"), "a") as f:
        f.write(" lagoon atoll")

    def boom():
        raise RuntimeError("simulated store write failure")

    # a write late in each store's wave: the vector arm's anchor check
    # after its vectors write, the lexical arm's cf commit after its tf
    # write
    real_anchor = IvfPqIndexStore._anchor_if_fileless
    real_commit = stream.commit_band_state

    def anchor(spark, path, *a):
        if path.endswith("vectors"):
            boom()
        return real_anchor(spark, path, *a)

    def commit(df, state_dir, name="bands"):
        if name == "cf":
            boom()
        return real_commit(df, state_dir, name)

    with monkeypatch.context() as m:
        if failing == "vec":
            m.setattr(IvfPqIndexStore, "_anchor_if_fileless",
                      staticmethod(anchor))
        else:
            m.setattr(stream, "commit_band_state", commit)
        with pytest.raises(RuntimeError, match="simulated store write"):
            run_pipeline(spark, spec)

    r = build_component("retriever", spec.retriever)
    corpus = build_component("sink", spec.sink).read(spark)
    vec, lex = r.gate(corpus)
    ok, bad = (lex, vec) if failing == "vec" else (vec, lex)
    assert ok.keyed and not ok.stale  # its meta landed, stamped
    assert None not in (ok.meta["fp_n"], ok.meta["fp_h"])
    assert bad.stale and not bad.keyed

    spy = _Spy(monkeypatch)
    assert run_pipeline(spark, spec).skipped
    assert spy.take() == ["scan", f"{failing}_build"]
    assert tuple(g.stale for g in r.gate(corpus)) == (False, False)
    run_pipeline(spark, spec)
    assert spy.take() == []


def test_meta_without_sink_key_falls_back_then_restamps(
    spark, workdir, monkeypatch
):
    """A meta row written before the sink key existed reads a null key:
    the gate runs the fingerprint check, and the next run restamps it."""
    from yaml_pipe_spark.operators.index_meta import tiny_local_df

    spec = _ledgered(workdir)
    run_pipeline(spark, spec)
    store = build_component("retriever", spec.retriever).lexical.store
    m = store._read_meta(spark)
    old_ddl = (
        "fp_n long, fp_h long, n_docs long, total_tokens long, "
        "version string, gen long, id_type string"
    )
    tiny_local_df(
        spark,
        [(m["fp_n"], m["fp_h"], m["n_docs"], m["total_tokens"],
          m["version"], m["gen"], m["id_type"])],
        old_ddl,
    ).write.mode("overwrite").parquet(store.meta_path)
    assert store._read_meta(spark) == {**m, "sink_key": None}

    spy = _Spy(monkeypatch)
    assert run_pipeline(spark, spec).skipped
    assert spy.take() == ["scan"]  # fresh by fingerprint: no rebuild
    assert store._read_meta(spark) == m  # restamped with the same key
    run_pipeline(spark, spec)
    assert spy.take() == []


def test_n_cells_change_regates_vector_arm(spark, workdir, monkeypatch):
    spec = _ledgered(workdir, n_cells=3)
    run_pipeline(spark, spec)
    spy = _Spy(monkeypatch)
    run_pipeline(spark, _ledgered(workdir, n_cells=2))
    # the vector arm's config changed: its key misses and its derived
    # centroids differ; the lexical arm's key still holds
    assert spy.take() == ["scan", "vec_build"]
    run_pipeline(spark, _ledgered(workdir, n_cells=2))
    assert spy.take() == []


def test_forget_writes_null_sink_key(spark, workdir):
    """A store's forget composes its fingerprint without knowing the sink:
    it stamps no key, and the next gate checks by fingerprint."""
    spec = _ledgered(workdir)
    run_pipeline(spark, spec)
    r = build_component("retriever", spec.retriever)
    corpus = _corpus(spark, build_component("sink", spec.sink))
    gone = unique_by_id(corpus).filter(F.col("source").endswith("zebra.txt"))
    r.forget(gone)
    assert _sink_keys(spark, spec) == [None, None]
    # the sink still holds the forgotten rows: both arms are stale
    assert tuple(g.stale for g in r.gate(corpus)) == (True, True)
