"""End-to-end pipeline: YAML spec -> compile -> run -> idempotent re-run ->
incremental re-processing (SURVEY §3.1 translated to one lazy chain)."""

from __future__ import annotations

import os
import tempfile

import pytest

from tests.conftest import SF_SMALL
from yaml_pipe_spark.plans.config import ConfigError, parse_config
from yaml_pipe_spark.plans.factory import build_component, list_components
from yaml_pipe_spark.plans.pipeline import run_pipeline

CONFIG_TMPL = """
source:
  type: local_files
  config:
    path: "{data}"
    glob_pattern: "**/*.txt"
chunker:
  type: fixed_window
  config: {{chunk_size: 50, chunk_overlap: 10}}
embedder:
  type: hash
  config: {{dim: 8}}
sink:
  type: parquet
  config: {{path: "{sink}"}}
state_manager:
  type: parquet
  config: {{path: "{state}"}}
"""


def _write(path, text):
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


@pytest.fixture()
def workdir():
    with tempfile.TemporaryDirectory() as tmp:
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        _write(os.path.join(data, "a.txt"), "alpha " * 30)
        _write(os.path.join(data, "b.txt"), "bravo " * 40)
        _write(os.path.join(data, "empty.txt"), "   ")
        yield {
            "data": data,
            "sink": os.path.join(tmp, "out"),
            "state": os.path.join(tmp, "state"),
        }


def _spec(workdir):
    return parse_config(CONFIG_TMPL.format(**workdir))


def test_pipeline_end_to_end(spark, workdir):
    spec = _spec(workdir)
    res = run_pipeline(spark, spec)
    assert res.n_loaded == 2  # empty file skipped (sources.py:94-96 semantics)
    assert res.n_changed == 2
    assert res.n_chunks > 2 and not res.skipped

    sink = build_component("sink", spec.sink)
    out = sink.read(spark)
    assert out.count() == res.n_chunks
    cols = set(out.columns)
    assert {"text", "chunk_index", "embedding", "source"} <= cols
    emb = out.select("embedding").first()[0]
    assert len(emb) == 8

    # re-run with nothing changed: short-circuit, sink untouched
    res2 = run_pipeline(spark, spec)
    assert res2.skipped and res2.n_changed == 0
    assert sink.read(spark).count() == res.n_chunks

    # change one file: only it re-processes; its partition is overwritten
    _write(os.path.join(workdir["data"], "a.txt"), "gamma " * 10)
    res3 = run_pipeline(spark, spec)
    assert res3.n_changed == 1 and not res3.skipped
    final = sink.read(spark)
    a_rows = final.filter(final.source.contains("a.txt"))
    assert 0 < a_rows.count() < res.n_chunks
    assert a_rows.filter(a_rows.text.contains("gamma")).count() == a_rows.count()
    # b.txt rows survive the dynamic partition overwrite
    assert final.filter(final.source.contains("b.txt")).count() > 0


def test_config_validation_errors():
    with pytest.raises(ConfigError):
        parse_config("")
    with pytest.raises(ConfigError):
        parse_config("source: {type: x}")  # missing chunker/embedder/sink
    with pytest.raises(ConfigError):
        parse_config(":\n  - not yaml: [")


def test_factory_unknown_type():
    from yaml_pipe_spark.plans.config import ComponentSpec

    with pytest.raises(ValueError, match="unknown chunker"):
        build_component("chunker", ComponentSpec(type="nope"))
    regs = list_components()
    assert "fixed_window" in regs["chunker"]
    assert "hash" in regs["embedder"]


def test_cli_surface(spark, workdir, capsys):
    from yaml_pipe_spark import cli

    cfg = os.path.join(workdir["data"], "..", "pipeline.yaml")
    _write(cfg, CONFIG_TMPL.format(**workdir))

    assert cli.main(["list-components"]) == 0
    assert "chunker" in capsys.readouterr().out

    assert cli.main(["test-connection", "source", "-c", cfg]) == 0
    assert cli.main(["run", "-c", cfg]) == 0
    out = capsys.readouterr().out
    assert '"skipped": false' in out

    assert cli.main(["status", "-c", cfg]) == 0
    assert "2 processed item(s)" in capsys.readouterr().out

    assert cli.main(["clean", "-c", cfg]) == 1  # refuses without --yes
    assert cli.main(["clean", "-c", cfg, "--yes"]) == 0
    assert not os.path.exists(workdir["sink"])


def test_cli_sql(spark, capsys, tmp_path):
    import json as _json

    from tests.conftest import SF_SMALL
    from yaml_pipe_spark import cli

    assert (
        cli.main(
            [
                "sql",
                "SELECT lang, CAST(count(*) AS BIGINT) AS n "
                "FROM documents GROUP BY lang ORDER BY lang",
                "-d",
                SF_SMALL,
            ]
        )
        == 0
    )
    lines = [
        _json.loads(l)
        for l in capsys.readouterr().out.strip().splitlines()
    ]
    assert {r["lang"] for r in lines} == {"en", "de", "es", "fr", "zh"}
    assert all(r["n"] > 0 for r in lines)

    # parquet output path skips driver materialization
    out = str(tmp_path / "sqlout")
    assert (
        cli.main(
            ["sql", "SELECT doc_id FROM documents", "-d", SF_SMALL, "-o", out]
        )
        == 0
    )
    assert spark.read.parquet(out).count() > 0

    # analysis errors exit non-zero
    assert cli.main(["sql", "SELECT nope FROM documents", "-d", SF_SMALL]) == 1


def test_bucketed_join_has_no_shuffle(spark):
    """BucketedTable: two tables bucketed on the join key join with zero
    Exchange operators — the pay-shuffle-once-at-ingest layout that makes
    recurring fact-fact joins cheap at scale."""
    from pyspark.sql import functions as F

    from yaml_pipe_spark.operators.sinks import BucketedTable
    from yaml_pipe_spark.tables import load_table

    orders_t = BucketedTable("orders_b", "o_orderkey", n_buckets=4)
    li_t = BucketedTable("lineitem_b", "l_orderkey", n_buckets=4)
    try:
        orders_t.write(
            load_table(spark, SF_SMALL, "orders").select(
                "o_orderkey", "o_totalprice"
            )
        )
        li_t.write(
            load_table(spark, SF_SMALL, "lineitem").select(
                "l_orderkey", "l_quantity"
            )
        )
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = orders_t.read(spark).join(
            li_t.read(spark),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # sanity: the join still returns the right row count
        expected = load_table(spark, SF_SMALL, "lineitem").count()
        assert joined.count() == expected
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_pipeline_filters_stage(spark, workdir):
    """Optional document-level filters (dedup/quality/sampling) compose into
    the spec between change detection and chunking."""
    _write(os.path.join(workdir["data"], "dup.txt"), "alpha " * 30)  # = a.txt
    _write(os.path.join(workdir["data"], "tiny.txt"), "hi")
    cfg = CONFIG_TMPL.format(**workdir) + (
        "filters:\n"
        "  - type: exact_dedup\n"
        "    config: {}\n"
        "  - type: quality\n"
        "    config: {min_tokens: 5}\n"
    )
    spec = parse_config(cfg)
    res = run_pipeline(spark, spec)
    # 4 non-empty docs loaded; dup.txt deduped against a.txt, tiny.txt fails
    # the token threshold -> chunks only from 2 survivors
    assert res.n_loaded == 4 and res.n_changed == 4
    sink = build_component("sink", spec.sink)
    out = sink.read(spark)
    sources = {
        os.path.basename(r.source) for r in out.select("source").distinct().collect()
    }
    assert len(sources) == 2
    assert "tiny.txt" not in sources
    # dedup keeps exactly one of the identical pair
    assert len({"a.txt", "dup.txt"} & sources) == 1

    # all 4 changed docs are marked processed (filtered docs must not retry)
    res2 = run_pipeline(spark, spec)
    assert res2.skipped


def test_holdout_and_source_cap_filters(spark):
    from yaml_pipe_spark.plans.factory import (
        HoldoutSplitFilter,
        SourceCapFilter,
    )

    rows = [
        (f"doc{i}", f"host{i % 3}", "useful words " * (5 + i % 7))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["item_id", "source", "content"])

    splits = {
        s: HoldoutSplitFilter(split=s).apply(df).count()
        for s in ("train", "val", "test")
    }
    assert sum(splits.values()) == 30  # partition of the corpus
    assert splits["train"] > splits["val"] + splits["test"]
    # deterministic: same ids land in the same split every time
    a = {r.item_id for r in HoldoutSplitFilter("val").apply(df).collect()}
    b = {r.item_id for r in HoldoutSplitFilter("val").apply(df).collect()}
    assert a == b
    with pytest.raises(ValueError, match="unknown split"):
        HoldoutSplitFilter(split="dev")

    capped = SourceCapFilter(max_per_source=4).apply(df)
    out = capped.groupBy("source").count().collect()
    assert all(r["count"] <= 4 for r in out)
    assert set(capped.columns) == {"item_id", "source", "content"}


def test_novelty_filter(spark):
    from yaml_pipe_spark.plans.factory import NoveltyFilter

    boiler = "the quick brown fox jumps over the lazy dog again"
    rows = [
        ("a", f"{boiler} with unique ending alpha beta gamma delta"),
        ("b", f"{boiler} with unique ending epsilon zeta eta theta"),
        ("c", "entirely original sentence about spark catalyst plans here"),
        ("d", "hi"),  # too short to shingle: undefined novelty, kept
    ]
    df = spark.createDataFrame(rows, ["item_id", "content"])
    kept = {
        r.item_id for r in NoveltyFilter(min_novelty=0.6).apply(df).collect()
    }
    # a and b share the boilerplate span -> low novelty -> dropped;
    # c is fully novel, d opts out
    assert kept == {"c", "d"}
    # a permissive threshold keeps everything
    assert NoveltyFilter(min_novelty=0.0).apply(df).count() == 4


def test_no_state_run_is_single_action(spark, workdir, monkeypatch):
    # run-report counts come from Observation nodes resolved by the write
    # itself — a no-state run must never call count()/collect() (each one
    # re-executes the source scan or the whole transform at corpus scale)
    import pyspark.sql.dataframe as dfmod

    spec = _spec(workdir)
    spec.state_manager = None

    def boom(self, *a, **k):
        raise AssertionError("driver-side action inside run_pipeline")

    monkeypatch.setattr(dfmod.DataFrame, "count", boom)
    monkeypatch.setattr(dfmod.DataFrame, "collect", boom)
    res = run_pipeline(spark, spec)
    assert res.n_loaded == 2 and res.n_changed == 2 and res.n_chunks > 2
    assert not res.skipped


def test_crash_between_write_and_commit_converges(spark, workdir, monkeypatch):
    """Exactly-once commit proof (SURVEY §3.1 step 5 / VERDICT r5 ask #6).

    The commit protocol is: idempotent data write (dynamic partition
    overwrite) FIRST, state-table commit SECOND. A crash between the two
    leaves the sink ahead of the state; the replay must (a) re-detect the
    item as changed (state is the source of truth for incrementality),
    (b) overwrite the same partition with identical rows — converging to
    the exact corpus a crash-free run produces, with no duplicates."""
    from yaml_pipe_spark.plans.factory import ParquetStateBackend

    spec = _spec(workdir)
    run_pipeline(spark, spec)
    sink = build_component("sink", spec.sink)

    def snapshot():
        return sorted(
            (r["source"], r["chunk_index"], r["text"])
            for r in sink.read(spark)
            .select("source", "chunk_index", "text")
            .collect()
        )

    # change one file, then crash AFTER the data write, BEFORE the commit
    _write(os.path.join(workdir["data"], "a.txt"), "delta " * 25)
    real_commit = ParquetStateBackend.commit

    def crash(self, processed, s):
        raise RuntimeError("simulated crash between sink write and commit")

    monkeypatch.setattr(ParquetStateBackend, "commit", crash)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, spec)
    after_crash = snapshot()
    monkeypatch.setattr(ParquetStateBackend, "commit", real_commit)

    # replay: the stale state must re-flag a.txt as changed (no silent skip)
    res = run_pipeline(spark, spec)
    assert res.n_changed == 1 and not res.skipped
    after_replay = snapshot()
    # convergence: the replay rewrote the same partition with the same rows
    assert after_replay == after_crash
    a_rows = [r for r in after_replay if "a.txt" in r[0]]
    assert a_rows and all("delta" in r[2] for r in a_rows)
    # no duplicate (source, chunk_index) keys anywhere
    keys = [(s, i) for s, i, _ in after_replay]
    assert len(keys) == len(set(keys))

    # and the commit landed: a third run is a clean no-op
    res3 = run_pipeline(spark, spec)
    assert res3.skipped and res3.n_changed == 0


HYBRID_YAML = """
retriever:
  type: hybrid_rrf
  config:
    vector: {{path: "{index}/vec", n_cells: 2, nprobe: 2, rerank_m: 10}}
    lexical: {{path: "{index}/lex"}}
"""


def _hybrid_spec(workdir, tmp_path):
    return parse_config(
        (CONFIG_TMPL + HYBRID_YAML).format(index=tmp_path / "index", **workdir)
    )


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def test_noop_run_proves_index_fresh_in_few_jobs(
    spark, workdir, tmp_path, monkeypatch
):
    """A no-op run with a hybrid index launches at most 6 jobs, warm and
    as the first run of a process (no in-process cache filled): the
    source scan and ledger join, the empty write, and the two meta reads
    whose sink keys prove both arms fresh without a fingerprint scan."""
    from yaml_pipe_spark import retrievers
    from yaml_pipe_spark.lru import Lru
    from yaml_pipe_spark.operators import sinks

    spec = _hybrid_spec(workdir, tmp_path)
    run_pipeline(spark, spec)

    def no_scan(*a, **k):
        raise AssertionError("fingerprint scan on a no-op run")

    monkeypatch.setattr(retrievers, "_fingerprint", no_scan)
    j0 = _jobs(spark)
    assert run_pipeline(spark, spec).skipped
    assert _jobs(spark) - j0 <= 6
    monkeypatch.setattr(sinks, "_MERGED_SCHEMAS", Lru(16))
    j0 = _jobs(spark)
    assert run_pipeline(spark, spec).skipped
    assert _jobs(spark) - j0 <= 6


def test_crash_between_write_and_index_build_rebuilds(
    spark, workdir, tmp_path, monkeypatch
):
    """A run that crashes after its sink write and ledger commit, before
    the index build, leaves a no-op next run; that run's gate sees sink
    files the stores' keys do not cover, finds both arms stale by
    fingerprint and rebuilds them."""
    from yaml_pipe_spark.retrievers import HybridRrfRetriever

    spec = _hybrid_spec(workdir, tmp_path)
    run_pipeline(spark, spec)
    _write(os.path.join(workdir["data"], "a.txt"), "delta " * 25)

    def crash(self, corpus, gates=None):
        raise RuntimeError("simulated crash before the index build")

    real_build = HybridRrfRetriever.build
    monkeypatch.setattr(HybridRrfRetriever, "build", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_pipeline(spark, spec)
    retriever = build_component("retriever", spec.retriever)
    corpus = build_component("sink", spec.sink).read(spark)
    assert tuple(g.stale for g in retriever.gate(corpus)) == (True, True)

    rebuilt = []
    monkeypatch.setattr(
        HybridRrfRetriever,
        "build",
        lambda self, c, g=None: rebuilt.append(real_build(self, c, g)),
    )
    res = run_pipeline(spark, spec)
    assert res.skipped and rebuilt == [True]
    assert tuple(g.stale for g in retriever.gate(corpus)) == (False, False)


def test_first_build_reads_no_absent_path(
    spark, workdir, tmp_path, monkeypatch
):
    """A cold run asks the filesystem before it reads the ledger or a
    store's meta: reading an absent path raises inside Spark, which logs
    an error with a stack trace even though the caller handles it."""
    from pyspark.sql.readwriter import DataFrameReader

    absent = []
    real = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        absent.extend(p for p in paths if not os.path.exists(p))
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    run_pipeline(spark, _hybrid_spec(workdir, tmp_path))
    assert absent == []


def test_parquet_sink_read_keeps_merged_schema_per_listing(spark, tmp_path):
    """A read of unchanged sink files declares the schema the last merge
    found, with no Spark job; a write that widens the schema changes the
    listing, so the next read merges again and sees the new column."""
    from yaml_pipe_spark.operators.sinks import ParquetSink

    sink = ParquetSink(str(tmp_path / "sink"))
    sink.write(spark.createDataFrame([("a", "x")], "source string, text string"))
    first = sink.read(spark)
    j0 = _jobs(spark)
    again = sink.read(spark)
    assert _jobs(spark) == j0
    assert again.schema == first.schema
    sink.write(
        spark.createDataFrame(
            [("b", "y", 3)], "source string, text string, n int"
        )
    )
    wide = sink.read(spark)
    assert "n" in wide.columns
    assert sorted(wide.select("source", "n").collect()) == [("a", None), ("b", 3)]


DUCKDB_CONFIG_TMPL = CONFIG_TMPL.replace(
    'type: parquet\n  config: {{path: "{sink}"}}',
    'type: duckdb\n  config: {{db_path: "{sink}.duckdb"}}',
)


def test_duckdb_sink_adapter_idempotent_rerun(spark, workdir):
    # the second factory-registered sink must satisfy the same contract:
    # re-run -> no dup rows; changed source -> only that source replaced
    from yaml_pipe_spark.operators.sinks import Sink
    from yaml_pipe_spark.plans.config import parse_config

    spec = parse_config(DUCKDB_CONFIG_TMPL.format(**workdir))
    sink = build_component("sink", spec.sink)
    assert isinstance(sink, Sink)

    res = run_pipeline(spark, spec)
    assert res.n_chunks > 0
    assert sink.read(spark).count() == res.n_chunks

    res2 = run_pipeline(spark, spec)
    assert res2.skipped
    assert sink.read(spark).count() == res.n_chunks  # no duplicates

    _write(os.path.join(workdir["data"], "a.txt"), "delta " * 12)
    res3 = run_pipeline(spark, spec)
    assert res3.n_changed == 1
    final = sink.read(spark)
    a_rows = final.filter(final.source.contains("a.txt"))
    assert a_rows.count() > 0
    assert a_rows.filter(a_rows.text.contains("delta")).count() == a_rows.count()
    assert final.filter(final.source.contains("b.txt")).count() > 0


def test_all_registered_sinks_satisfy_protocol():
    from yaml_pipe_spark.operators.sinks import Sink
    from yaml_pipe_spark.plans.factory import SINKS

    for name, cls in SINKS.items():
        for method in ("write", "read", "test_connection"):
            assert hasattr(cls, method), f"{name} missing {method}"
    assert "duckdb" in SINKS and "parquet" in SINKS


def test_clean_handles_duckdb_file_sink(spark, workdir, capsys):
    from yaml_pipe_spark import cli
    from yaml_pipe_spark.plans.config import parse_config

    cfg_text = DUCKDB_CONFIG_TMPL.format(**workdir)
    spec = parse_config(cfg_text)
    run_pipeline(spark, spec)
    db = workdir["sink"] + ".duckdb"
    assert os.path.exists(db)
    cfg = os.path.join(os.path.dirname(workdir["data"]), "p.yaml")
    _write(cfg, cfg_text)
    assert cli.main(["clean", "-c", cfg]) == 1  # no --yes: dry-run refuses
    assert os.path.exists(db)
    assert cli.main(["clean", "-c", cfg, "--yes"]) == 0
    assert not os.path.exists(db)


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from yaml_pipe_spark.operators.sinks import compact_parquet

    path = str(tmp_path / "frag")
    # simulate many tiny incremental appends
    for i in range(8):
        spark.range(i * 100, (i + 1) * 100).write.mode("append").parquet(path)
    import pathlib

    before = len(list(pathlib.Path(path).rglob("*.parquet")))
    assert before >= 8
    n = compact_parquet(spark, path, target_bytes_per_file=1 << 30)
    after = len(list(pathlib.Path(path).rglob("*.parquet")))
    assert n == 1 and after == 1
    # contents survive the rewrite
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(800))


def test_compact_parquet_rejects_remote_and_missing_paths(spark, tmp_path):
    import pytest

    from yaml_pipe_spark.operators.sinks import compact_parquet

    # non-local scheme: pathlib would see an empty table and "compact" it
    # to nothing — must refuse loudly instead
    with pytest.raises(ValueError, match="scheme 's3a'"):
        compact_parquet(spark, "s3a://bucket/table")
    with pytest.raises(ValueError, match="scheme 'hdfs'"):
        compact_parquet(spark, "hdfs://nn/warehouse/t")
    with pytest.raises(ValueError, match="not a local directory"):
        compact_parquet(spark, str(tmp_path / "does_not_exist"))
    # file:// is local — accepted and normalized
    p = tmp_path / "ok"
    spark.range(10).write.parquet(str(p))
    assert compact_parquet(spark, "file://" + str(p)) == 1


def test_compact_parquet_preserves_partition_layout(spark, tmp_path):
    from pyspark.sql import functions as F

    from yaml_pipe_spark.operators.sinks import compact_parquet

    path = str(tmp_path / "part")
    for i in range(4):
        (
            spark.range(i * 50, (i + 1) * 50)
            .select((F.col("id") % 3).alias("cid"), "id")
            .write.mode("append")
            .partitionBy("cid")
            .parquet(path)
        )
    compact_parquet(spark, path, target_bytes_per_file=1 << 30)
    import pathlib

    # hive layout survives: cid=N directories still exist
    dirs = {d.name for d in pathlib.Path(path).iterdir() if d.is_dir()}
    assert {"cid=0", "cid=1", "cid=2"} <= dirs
    # and a cid probe is still partition-pruned
    import contextlib
    import io

    probe = spark.read.parquet(path).filter(F.col("cid") == 1)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        probe.explain("formatted")
    assert "PartitionFilters: [isnotnull(cid" in buf.getvalue()
    got = sorted(r.id for r in spark.read.parquet(path).collect())
    assert got == list(range(200))


REDIS_SHAPED_TMPL = """
source:
  type: local_files
  config:
    path: "{data}"
    glob_pattern: "**/*.txt"
chunker:
  type: fixed_window
  config: {{chunk_size: 50, chunk_overlap: 10}}
embedder:
  type: hash
  config: {{dim: 8}}
sink:
  type: parquet
  config: {{path: "{sink}"}}
state_manager:
  type: redis
  config:
    host: localhost
    port: 6379
    db: 0
    state_key: "my_project_state"
    path: "{state}"
"""


def test_redis_state_config_runs_via_parquet_shim(spark, workdir, caplog):
    """A reference-shaped YAML with `state_manager: {type: redis}`
    (pipelines/pipeline_redis.yaml) runs end-to-end unmodified: the shim
    maps the Redis key ledger onto the parquet state table with a logged
    notice, and the incremental contract holds (VERDICT r7 ask #8)."""
    import logging

    spec = parse_config(REDIS_SHAPED_TMPL.format(**workdir))
    with caplog.at_level(logging.WARNING, logger="yaml_pipe_spark.plans.factory"):
        r1 = run_pipeline(spark, spec)
    assert any("redis" in m and "parquet state table" in m
               for m in caplog.messages), caplog.messages
    assert r1.n_changed == 2  # the two non-empty docs
    # second run through the SAME shimmed ledger: nothing changed
    r2 = run_pipeline(spark, spec)
    assert r2.n_changed == 0


def test_redis_shim_default_path_derives_from_state_key(tmp_path, monkeypatch):
    from yaml_pipe_spark.plans.factory import RedisStateShim

    monkeypatch.chdir(tmp_path)
    shim = RedisStateShim(state_key="proj_state")
    assert shim.path == "./.proj_state.state.parquet"


def test_json_state_shim_maps_file_to_parquet_dir():
    from yaml_pipe_spark.plans.factory import JsonStateShim

    shim = JsonStateShim(path="./.yamlpipe_state.json")
    assert shim.path == "./.yamlpipe_state.state.parquet"
    # the reference constructor's kwarg name is accepted too
    shim2 = JsonStateShim(state_file_path="./x/ledger.json")
    assert shim2.path == "./x/ledger.state.parquet"


def test_reference_redis_yaml_state_block_builds():
    """The state_manager block of the reference's pipeline_redis.yaml
    builds against our registry as-is (sink/embedder are import-gated
    separately)."""
    import yaml

    with open("/root/reference/pipelines/pipeline_redis.yaml") as f:
        raw = yaml.safe_load(f)
    from yaml_pipe_spark.plans.config import ComponentSpec
    from yaml_pipe_spark.plans.factory import build_component

    sm = raw["state_manager"]
    backend = build_component(
        "state_manager", ComponentSpec(type=sm["type"], config=sm["config"])
    )
    assert backend.path == "./.my_project_state.state.parquet"
