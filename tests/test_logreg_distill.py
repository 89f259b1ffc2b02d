"""Pins for the GD-trained quality classifier (VERDICT r11 ask #6)."""

from __future__ import annotations

import sys
import threading

from pyspark.sql import functions as F

from yaml_pipe_spark.operators.classifier import SharedConfOverride, _tz_div


def test_tz_div_is_toward_zero_both_signs(spark):
    df = spark.createDataFrame(
        [(7,), (-7,), (8,), (-8,), (0,)], "n long"
    ).select(_tz_div(F.col("n"), F.lit(4)).alias("q"))
    assert [r.q for r in df.collect()] == [1, -1, 2, -2, 0]
    # the hazard this guards: DuckDB // floors (-7 // 4 = -2), Spark DIV
    # truncates (-7 DIV 4 = -1); both engines route through abs
    assert -7 // 4 == -2  # python floors like duckdb


def test_logreg_distill_actually_separates(spark):
    """The trained model must beat the degenerate all-positive/-negative
    fixed points a constant step saturates into (measured: constant-eta
    accuracy never exceeded the 0.52 base rate; the shipped halving
    schedule reaches ~0.88 at sf0.01)."""
    from yaml_pipe_spark.operators.classifier import logreg_quality_distill
    from yaml_pipe_spark.operators.quality import gopher_quality_signals
    from yaml_pipe_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    labels = gopher_quality_signals(docs).select("doc_id", "gopher_pass")
    row = logreg_quality_distill(docs, labels).collect()[0]
    assert row.n_test == row.tp + row.fp + row.fn + row.tn
    # both classes predicted (non-degenerate) and materially better than
    # the base rate
    assert row.tp + row.fp > 0 and row.fn + row.tn > 0
    acc = (row.tp + row.tn) / row.n_test
    assert acc > 0.75, acc


class _FakeConf:
    """A session conf's get/set, recording every value it was set to."""

    def __init__(self, **values):
        self.values = dict(values)
        self.history = []

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        self.values[key] = value
        self.history.append(value)


def test_overlapping_trainers_restore_the_original_aqe_setting():
    """Two trainers hold AQE off with overlapping lifetimes, the first in
    leaving first. The setting stays off while either is inside and only
    the last one out restores the original; a save-and-restore per
    trainer would restore the first's "false" last."""
    key = "spark.sql.adaptive.enabled"
    aqe_off = SharedConfOverride(key, "false")
    conf = _FakeConf(**{key: "true"})
    a_in, b_in, a_out = threading.Event(), threading.Event(), threading.Event()
    seen = {}

    def first():
        with aqe_off.held(conf):
            a_in.set()
            b_in.wait(5)
        a_out.set()

    def second():
        a_in.wait(5)
        with aqe_off.held(conf):
            b_in.set()
            a_out.wait(5)
            seen["after first left"] = conf.get(key)

    threads = [threading.Thread(target=f) for f in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(10)
    assert not any(t.is_alive() for t in threads)
    assert seen == {"after first left": "false"}
    assert conf.get(key) == "true"
    assert conf.history == ["false", "true"]


def test_many_trainers_leave_the_setting_as_found():
    """More trainers than cores, switching threads often: every trainer
    sees AQE off while inside, and the original is back at the end."""
    key = "spark.sql.adaptive.enabled"
    aqe_off = SharedConfOverride(key, "false")
    conf = _FakeConf(**{key: "true"})
    wrong = []

    def trainer():
        for _ in range(200):
            with aqe_off.held(conf):
                if conf.get(key) != "false":
                    wrong.append(conf.get(key))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=trainer) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert wrong == []
    assert conf.get(key) == "true"
