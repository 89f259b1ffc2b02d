"""run_wave is the one helper for concurrent Spark actions: results in
submission order, every thunk finished before it returns or raises, the
first failure in submission order re-raised, a fresh executor per call
so nested waves cannot deadlock, and the caller's job label on every job
of the wave. Only the label test needs Spark."""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest

from yaml_pipe_spark.session import job_label, run_wave

PKG = pathlib.Path(__file__).resolve().parent.parent / "yaml_pipe_spark"


def test_results_in_submission_order():
    def slow(v):
        def f():
            time.sleep(0.05 * v)
            return v

        return f

    # finishing order is the reverse of submission order
    assert run_wave(slow(3), slow(2), slow(1)) == [3, 2, 1]


def test_raises_only_after_every_thunk_finished():
    done = threading.Event()

    def boom():
        raise ValueError("boom")

    def slow():
        time.sleep(0.3)
        done.set()

    with pytest.raises(ValueError, match="boom"):
        run_wave(boom, slow)
    assert done.is_set()


def test_first_failure_in_submission_order_is_reraised():
    def late_a():
        time.sleep(0.2)
        raise KeyError("a")

    def early_b():
        raise ValueError("b")

    with pytest.raises(KeyError, match="a"):
        run_wave(late_a, early_b)


def test_nested_waves_complete():
    # cmd_forget -> HybridRrfRetriever.forget -> each arm's forget nests
    # waves three deep; a shared bounded pool would deadlock here
    def level(depth):
        if depth == 0:
            return 1
        return sum(run_wave(lambda: level(depth - 1), lambda: level(depth - 1)))

    out = []
    t = threading.Thread(target=lambda: out.append(level(3)), daemon=True)
    t.start()
    t.join(timeout=30)
    assert not t.is_alive(), "nested run_wave did not complete"
    assert out == [8]


def test_only_session_imports_concurrent_futures():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == PKG / "session.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                continue
            if any(m == "concurrent" or m.startswith("concurrent.") for m in mods):
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno}")
    assert not offenders, f"use session.run_wave instead: {offenders}"


def test_wave_jobs_carry_the_callers_label(spark):
    """Every job of a wave, nested waves included, is described by the
    label set around it (read back from the status store), the label adds
    no job, and the caller's own description is restored after."""
    sc = spark.sparkContext
    df = spark.range(10)

    def jobs() -> int:
        return int(sc._jsc.sc().dagScheduler().numTotalJobs())

    def wave():
        run_wave(df.collect, lambda: run_wave(df.collect, df.collect))

    j0 = jobs()
    wave()
    unlabelled = jobs() - j0
    j0 = jobs()
    with job_label(spark, "test.wave_label"):
        wave()
    j1 = jobs()
    df.collect()  # after the block
    assert j1 - j0 == unlabelled == 3

    described = {}
    listed = sc._jsc.sc().statusStore().jobsList(None)
    for n in range(listed.size()):
        job = listed.apply(n)
        d = job.description()
        described[job.jobId()] = d.get() if d.isDefined() else None
    assert [described[j] for j in range(j0, j1)] == ["test.wave_label"] * 3
    assert described[j1] is None
