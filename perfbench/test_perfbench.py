"""Tests for the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

from corpus import make_corpus, write_corpus  # noqa: E402
from layertrace import LAYERS, Span, Tracer, union_length  # noqa: E402
from stats import percentile, quartile_spread, tail  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    a, b = make_corpus(7), make_corpus(7)
    write_corpus(str(tmp_path / "a"), a.files)
    write_corpus(str(tmp_path / "b"), b.files)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert a.digest() == b.digest()
    assert (a.dup_pairs, a.lowq, a.needles, a.edits) == (b.dup_pairs, b.lowq, b.needles, b.edits)


def test_different_seed_gives_different_corpus_of_the_same_shape():
    a, b = make_corpus(7), make_corpus(8)
    assert a.digest() != b.digest()
    assert a.files != b.files
    assert sorted(a.files) == sorted(b.files)  # same paths
    assert len(a.dropped) == len(b.dropped)
    assert len(a.edits) == len(b.edits)


def test_planted_documents():
    c = make_corpus(3)
    for copy, orig in c.dup_pairs:
        assert c.files[copy] == c.files[orig]
    texts = [c.files[p] for p in c.files if p not in {x for x, _ in c.dup_pairs}]
    assert len(set(texts)) == len(texts)  # only the planted copies repeat
    for p in c.needles:
        assert len(c.files[p]) < 400  # one chunk
    assert not set(c.edits) & ({o for _, o in c.dup_pairs} | set(c.needles))


@pytest.mark.parametrize(
    "n,label",
    [(1, "max"), (19, "max"), (20, "p50"), (99, "p50"), (100, "p90"),
     (199, "p90"), (200, "p95"), (1000, "p99"), (10000, "p99.9")],
)
def test_tail_picks_highest_percentile_with_ten_samples_beyond(n, label):
    values = [float(i) for i in range(1, n + 1)]
    value, got = tail(values)
    assert got == label
    beyond = sum(1 for v in values if v > value)
    assert beyond >= 10 or label == "max"
    if label == "max":
        assert value == max(values)


def test_percentile_and_spread():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    vals = [10.0] * 9 + [11.0]
    assert quartile_spread(vals) == pytest.approx(0.0)
    assert quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3)


def _tracer(spans):
    t = Tracer()
    for i, (name, parent, start, end, lo, hi, thread) in enumerate(spans):
        depth = 0 if parent is None else t.spans[parent].depth + 1
        t.spans.append(Span(i, name, parent, thread, depth, start, end, lo, hi, True))
    return t


def test_self_time_of_nested_and_concurrent_spans():
    t = _tracer([
        ("root", None, 0.0, 10.0, 0, 0, 1),
        ("a", 0, 1.0, 4.0, 0, 0, 1),
        ("b", 0, 3.0, 6.0, 0, 0, 2),  # overlaps a: a concurrent wave
        ("a1", 1, 2.0, 3.0, 0, 0, 1),
    ])
    assert t.self_time(0) == pytest.approx(10.0 - 5.0)  # union of a, b
    assert t.self_time(1) == pytest.approx(3.0 - 1.0)
    assert t.self_time(2) == pytest.approx(3.0)
    assert t.self_time(3) == pytest.approx(1.0)
    assert union_length([(0, 1), (0.5, 2), (3, 4), (5, 5)]) == pytest.approx(3.0)


def test_job_attribution_innermost_in_a_chain_outermost_in_a_wave():
    t = _tracer([
        ("root", None, 0, 10, 0, 10, 1),
        ("a", 0, 1, 4, 1, 5, 1),
        ("b", 0, 3, 6, 3, 7, 2),  # b's window overlaps a's: ids 3, 4
        ("a1", 1, 2, 3, 1, 2, 1),
    ])
    assert t.owner_of(0) == 0
    assert t.owner_of(1) == 3  # root > a > a1 is a chain
    assert t.owner_of(2) == 1
    assert t.owner_of(3) == 0  # shared by a and b
    assert t.owner_of(5) == 2
    assert t.owner_of(42) is None


def test_wrapper_opens_a_span_per_call():
    t = Tracer()
    calls = []

    def f(x):
        calls.append(x)
        return x + 1

    g = t.wrap("demo.f", f)
    with t.span("outer"):
        assert g(1) == 2
    assert calls == [1]
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("demo.f", 0)]
    assert g.__perfbench_original__ is f


def _bound_objects():
    """Every (owner, attr) -> object the wrappers could touch."""
    import importlib

    out = {}
    for _, modname, attr in LAYERS:
        mod = importlib.import_module(modname)
        if "." in attr:
            cls, meth = attr.split(".")
            owner = getattr(mod, cls)
            out[(owner, meth)] = owner.__dict__[meth]
        else:
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("yaml_pipe_spark") and hasattr(m, attr):
                    out[(m, attr)] = getattr(m, attr)
    return out


def test_uninstall_restores_every_original_function():
    pytest.importorskip("pyspark")
    before = _bound_objects()
    t = Tracer()
    t.install()
    try:
        wrapped = [k for k, v in _bound_objects().items()
                   if hasattr(v, "__perfbench_original__")]
        assert len(wrapped) >= len(LAYERS)
    finally:
        t.uninstall()
    after = _bound_objects()
    assert after.keys() == before.keys()
    for k, v in after.items():
        assert v is before[k], k
        assert not hasattr(v, "__perfbench_original__"), k


def test_benchmark_json_names_every_metric_the_runner_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.E2E
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
