"""Round-14 optimization internals.

Each test pins a structural property an r14 optimization relies on, so a
wall-clock claim on a noisy shared box is backed by a machine-checkable
plan/job-count assertion (VERDICT r13 ask #3):

- the logreg trainer's per-round gradient job must stay shuffle-free on
  the margin side (no Window, no doc-keyed Exchange — only the
  n_buckets-row combine) and cost exactly ONE Spark job per round;
- the load_table DataFrame cache must never serve stale data after the
  underlying parquet is rewritten (plan cache, stat-keyed);
- the forget()/delete_sources() deletion-proportional contracts are
  enforced with a hard cap instead of assumed.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _wmap_all_zero():
    from yaml_pipe_spark.operators.classifier import LOGREG_BUCKETS

    ids = [-2, -1, *range(LOGREG_BUCKETS)]
    return F.create_map(
        *[
            x
            for b in ids
            for x in (F.lit(b).cast("long"), F.lit(0).cast("long"))
        ]
    )


def _docvecs(spark):
    return spark.createDataFrame(
        [
            (1, 1, 1, [(-1, 1000), (0, 500), (3, 500)]),
            (2, 0, 1, [(-1, 1000), (1, 1000)]),
            (3, 1, 0, [(-1, 1000), (2, 1000)]),
        ],
        "doc_id long, __y long, __train int, "
        "fv array<struct<b: bigint, f: bigint>>",
    ).localCheckpoint()


def test_logreg_round_margin_is_shuffle_free(spark):
    """The per-round gradient plan over packed doc vectors: margin is a
    per-row array fold (no Window, no doc-keyed Exchange); the only
    Exchange is the n_buckets-row gradient combine."""
    from yaml_pipe_spark.operators.classifier import _round_gradient_frame

    train = _docvecs(spark).filter(F.col("__train") == 1)
    plan = _plan(_round_gradient_frame(train, _wmap_all_zero()))
    assert "Window" not in plan
    assert "hashpartitioning(doc_id" not in plan
    assert plan.count("Exchange") <= 2  # combine (+ AQE read), never more


def test_logreg_round_is_exactly_one_job(spark):
    """A training round = ONE Spark job (the scan+fold+combine+collect);
    the r12/r13 window formulation paid an extra stage-materialization
    job per round under AQE. Pinned with AQE off, the trainer's loop
    setting."""
    from yaml_pipe_spark.operators.classifier import _round_gradient_frame

    train = _docvecs(spark).filter(F.col("__train") == 1)
    frame = _round_gradient_frame(train, _wmap_all_zero())
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        frame.collect()  # warm any lazy session machinery
        n0 = len(list(tracker.getJobIdsForGroup(None)))
        frame.collect()
        n1 = len(list(tracker.getJobIdsForGroup(None)))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert n1 - n0 == 1


def test_logreg_packed_margin_matches_long_format(spark):
    """The packed per-doc margin fold is value-identical to the long-format
    window sum it replaced (same integer products, order-free sum)."""
    from yaml_pipe_spark.operators.classifier import _doc_margin

    rows = [
        (1, [(-1, 1000), (0, 500), (3, 500)]),
        (2, [(-1, 1000), (1, 1000), (-2, 77)]),
    ]
    w = {-2: 3, -1: -5, 0: 11, 1: -7, 3: 2}
    wmap = F.create_map(
        *[
            x
            for b in sorted(w)
            for x in (F.lit(b).cast("long"), F.lit(w[b]).cast("long"))
        ]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, fv array<struct<b: bigint, f: bigint>>"
    )
    got = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", _doc_margin(wmap).cast("long").alias("s")
        ).collect()
    }
    want = {
        doc: sum(f * w[b] for b, f in fv) for doc, fv in rows
    }
    assert got == want


def test_load_table_df_cache_invalidates_on_rewrite(spark, tmp_path):
    """The cached DataFrame is a lazy plan over the CURRENT files: a
    rewrite (new stat key) must miss the cache and serve the new data,
    and a cache hit must still scan the real files (data, not results)."""
    from yaml_pipe_spark import tables

    sf_dir = str(tmp_path)
    p = os.path.join(sf_dir, "documents.parquet")
    spark.range(3).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df1 = tables.load_table(spark, sf_dir, "documents")
    assert df1.count() == 3
    # cache hit: same object is fine — it must still compute from files
    assert tables.load_table(spark, sf_dir, "documents").count() == 3
    spark.range(7).select(
        F.col("id").alias("doc_id"), F.lit("b").alias("text")
    ).coalesce(1).write.mode("overwrite").parquet(p)
    assert tables.load_table(spark, sf_dir, "documents").count() == 7


def test_load_table_caches_stay_bounded(spark, tmp_path):
    """A long-lived driver loading ever-new tables must not grow the
    schema or plan cache past its fixed bound: the least recently used
    entry goes, the newest stays. Each schema-inference miss also sets
    the nanosAsLong conf it depends on."""
    import shutil

    from yaml_pipe_spark import tables

    src = str(tmp_path / "documents.parquet")
    spark.range(2).select(
        F.col("id").alias("doc_id"), F.lit("a").alias("text")
    ).coalesce(1).write.parquet(src)
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    dirs = []
    for i in range(tables._CACHE_SIZE + 5):
        d = tmp_path / f"sf{i}"
        d.mkdir()
        shutil.copytree(src, d / "documents.parquet")
        dirs.append(str(d))
        last = tables.load_table(spark, dirs[-1], "documents")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert len(tables._SCHEMA_CACHE) == tables._CACHE_SIZE
    assert len(tables._DF_CACHE) == tables._CACHE_SIZE
    assert tables.load_table(spark, dirs[-1], "documents") is last
    first_key = (id(spark), *tables._stat_key(
        os.path.join(dirs[0], "documents.parquet")
    ))
    assert tables._DF_CACHE.get(first_key) is None
    assert last.count() == 2


def test_lru_bound_holds_under_concurrent_puts():
    """Concurrent puts and gets (more threads than cores, a short switch
    interval) neither raise nor evict past the bound."""
    import sys
    import threading

    from yaml_pipe_spark.lru import Lru

    cache = Lru(8)
    errors = []

    def work(t):
        try:
            for i in range(2000):
                cache.put((t, i), i)
                cache.get((t, i - 1))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=work, args=(t,))
            for t in range(4 * (os.cpu_count() or 1))
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    assert len(cache) == 8


def test_bm25_forget_id_cap_enforced(spark, tmp_path, monkeypatch):
    """forget() must FAIL TYPED when the live deletion set exceeds the
    driver-collection cap (the deletion-proportional contract is
    enforced, not assumed), and leave the store intact."""
    from yaml_pipe_spark.operators.retrieval import Bm25IndexStore

    docs = spark.createDataFrame(
        [(i, f"alpha bravo doc{i}") for i in range(6)],
        "doc_id long, text string",
    )
    store = Bm25IndexStore(str(tmp_path / "bm25"))
    store.build(docs)
    monkeypatch.setenv("SPARK_GRAFT_FORGET_ID_CAP", "2")
    with pytest.raises(ValueError, match="SPARK_GRAFT_FORGET_ID_CAP"):
        store.forget(docs.filter(F.col("doc_id") < 4))
    # nothing was written: the store still serves the full corpus
    monkeypatch.delenv("SPARK_GRAFT_FORGET_ID_CAP")
    assert store.is_stale(docs) is False
    # and an in-cap forget still works
    assert store.forget(docs.filter(F.col("doc_id") == 0)) == 1


def test_sink_delete_file_cap_falls_back_to_rewrite(spark, tmp_path, monkeypatch):
    """delete_sources over the file cap must degrade to the distributed
    rewrite branch (correct result, no driver file-set routing)."""
    from yaml_pipe_spark.operators.sinks import ParquetSink

    sink = ParquetSink(str(tmp_path / "sink"))
    df = spark.createDataFrame(
        [(1, "s1", "a"), (2, "s2", "b"), (3, "s3", "c")],
        "doc_id long, source string, text string",
    )
    sink.write(df)
    monkeypatch.setenv("SPARK_GRAFT_DELETE_FILE_CAP", "0")
    assert sink.delete_sources(spark, ["s2"]) == 1
    left = sink.read(spark)
    assert sorted(r["source"] for r in left.collect()) == ["s1", "s3"]
