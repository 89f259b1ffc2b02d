"""Right-to-be-forgotten at the CLI surface (round 10): `forget <source>`
must delete the source's rows from the corpus sink, purge them from every
persisted retriever index the spec configures, close any residue (e.g. a
forgotten centroid seed) with a rebuild, and leave `search` serving
exactly the remaining corpus."""

from __future__ import annotations

import json
import os
import tempfile

import pytest

CONFIG = """
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
retriever:
  type: hybrid_rrf
  config:
    vector: {{path: "{index}/vec", n_cells: 3, nprobe: 3, rerank_m: 10}}
    lexical: {{path: "{index}/lex"}}
"""

DOCS = {
    "a.txt": "alpha alpha unique topic one",
    "b.txt": "bravo bravo different subject two",
    "c.txt": "charlie charlie third matter three",
}


@pytest.fixture()
def workdir():
    with tempfile.TemporaryDirectory() as tmp:
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        for name, text in DOCS.items():
            with open(os.path.join(data, name), "w") as f:
                f.write(text)
        cfg = os.path.join(tmp, "p.yaml")
        with open(cfg, "w") as f:
            f.write(
                CONFIG.format(
                    data=data,
                    sink=os.path.join(tmp, "out"),
                    index=os.path.join(tmp, "idx"),
                )
            )
        yield tmp, data, cfg


def _search(cli, capsys, cfg, query, k=3):
    assert cli.main(["search", query, "-c", cfg, "-k", str(k)]) == 0
    return json.loads(capsys.readouterr().out)


@pytest.mark.slow  # driver fast lane (r14)
def test_forget_cli_purges_sink_and_indexes(spark, capsys, workdir):
    from yaml_pipe_spark import cli

    tmp, data, cfg = workdir
    assert cli.main(["run", "-c", cfg]) == 0
    capsys.readouterr()

    gone_source = f"file:{data}/a.txt"
    hits = _search(cli, capsys, cfg, DOCS["a.txt"])
    assert hits[0]["source"] == gone_source

    assert cli.main(["forget", gone_source, "-c", cfg]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["sink_rows"] == 1 and out["index_rows"] == 1

    # the sink no longer holds the source...
    sink = spark.read.parquet(os.path.join(tmp, "out"))
    assert sink.filter(sink.source == gone_source).count() == 0
    assert sink.count() == 2
    # ...and serving (which runs behind the staleness gate, so this also
    # proves the composed/rebuilt indexes equal the remaining corpus)
    # never returns the forgotten doc
    for q in (DOCS["a.txt"], DOCS["b.txt"]):
        for r in _search(cli, capsys, cfg, q):
            assert r["source"] != gone_source

    # idempotent: forgetting an already-forgotten source is a no-op
    assert cli.main(["forget", gone_source, "-c", cfg]) == 0
    assert json.loads(capsys.readouterr().out)["sink_rows"] == 0


def test_forget_cli_duckdb_sink(spark, capsys):
    """The DuckDB sink path: parameterized DELETE, row count returned."""
    from yaml_pipe_spark import cli

    with tempfile.TemporaryDirectory() as tmp:
        data = os.path.join(tmp, "data")
        os.makedirs(data)
        for name, text in DOCS.items():
            with open(os.path.join(data, name), "w") as f:
                f.write(text)
        cfg = os.path.join(tmp, "p.yaml")
        with open(cfg, "w") as f:
            f.write(
                f"""
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
  type: duckdb
  config: {{db_path: "{tmp}/corpus.duckdb"}}
"""
            )
        assert cli.main(["run", "-c", cfg]) == 0
        capsys.readouterr()
        gone = f"file:{data}/b.txt"
        assert cli.main(["forget", gone, "-c", cfg]) == 0
        out = json.loads(capsys.readouterr().out)
        assert out["sink_rows"] == 1 and out["index_rows"] == 0

        import duckdb

        con = duckdb.connect(os.path.join(tmp, "corpus.duckdb"))
        try:
            rows = con.sql(
                "SELECT source, count(*) FROM corpus GROUP BY 1"
            ).fetchall()
        finally:
            con.close()
        assert gone not in {r[0] for r in rows} and len(rows) == 2


def test_forget_cli_all_sources_and_retry(spark, capsys, workdir):
    """Forgetting EVERY source must leave a readable (0-row) sink, run the
    reconciliation, and stay idempotent on retry — and a forget against a
    crashed-away index (simulated by deleting the index dirs) must purge
    the sink and rebuild rather than crash."""
    from yaml_pipe_spark import cli

    tmp, data, cfg = workdir
    assert cli.main(["run", "-c", cfg]) == 0
    capsys.readouterr()

    # simulate the never-built/crashed index state
    import shutil

    shutil.rmtree(os.path.join(tmp, "idx"), ignore_errors=True)

    sources = [f"file:{data}/{n}" for n in DOCS]
    assert cli.main(["forget", *sources, "-c", cfg]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["sink_rows"] == 3 and out["index_rows"] == 0
    assert out["index_rebuilt"] is True  # rebuilt (empty) from remaining

    # the sink stayed readable with zero rows
    sink = spark.read.parquet(os.path.join(tmp, "out"))
    assert sink.count() == 0

    # retry converges: nothing matches, reconciliation still runs
    assert cli.main(["forget", *sources, "-c", cfg]) == 0
    out2 = json.loads(capsys.readouterr().out)
    assert out2["sink_rows"] == 0
    # the report's keys are part of the CLI contract (index_rebuilt tells
    # an operator whether the reconciliation rebuilt the index)
    assert set(out2) == {
        "sources", "sink_rows", "index_rows", "index_rebuilt"
    }
    assert out2["index_rebuilt"] is False  # the first forget reconciled
