"""`operators.graph.pagerank` on graphs small enough to check by hand,
and the rule that keeps every `operators/*` module in the default lane."""

from __future__ import annotations

import ast
import pathlib

import pytest

from yaml_pipe_spark.operators.graph import pagerank

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _ranks(spark, edges) -> dict:
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    return {
        r.node: (r.degree, r.pagerank) for r in pagerank(pairs).collect()
    }


def test_pagerank_triangle_is_uniform(spark):
    """Every node of a triangle has degree 2 and keeps 1/n each round."""
    got = _ranks(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {n: (2, 0.333333) for n in "abc"}


def test_pagerank_star_by_hand(spark):
    """A star of a centre and 3 leaves (n=4, d=0.85, teleport 0.15/4 =
    0.0375), from 1/4 each; the centre takes 3 leaves' full mass, a leaf
    a third of the centre's:
    round 1: centre 0.0375 + 0.85*3*0.25 = 0.675,
             leaf 0.0375 + 0.85*0.25/3 = 0.108333...
    round 2: centre 0.0375 + 0.85*3*0.108333... = 0.31375,
             leaf 0.0375 + 0.85*0.675/3 = 0.22875
    round 3: centre 0.0375 + 0.85*3*0.22875 = 0.6208125,
             leaf 0.0375 + 0.85*0.31375/3 = 0.126395833...
    Duplicate and reversed pairs are one undirected edge."""
    edges = [("hub", "x"), ("hub", "y"), ("z", "hub"), ("x", "hub")]
    got = _ranks(spark, edges)
    assert got["hub"] == (3, pytest.approx(0.620813, abs=1e-6))
    for leaf in "xyz":
        assert got[leaf] == (1, 0.126396)
    assert sum(p for _, p in got.values()) == pytest.approx(1.0, abs=1e-5)


def _slow_module(tree: ast.Module) -> bool:
    """Whether the file sets a module-level `pytestmark` naming `slow`."""
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "pytestmark"
            for t in node.targets
        ):
            return "slow" in ast.unparse(node.value)
    return False


def _imported_operators(tree: ast.Module) -> set[str]:
    """`yaml_pipe_spark.operators` modules the file imports, anywhere."""
    pkg = "yaml_pipe_spark.operators"
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            names = [node.module]
            if node.module == pkg:
                names = [f"{pkg}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            if name.startswith(pkg + "."):
                out.add(name.split(".")[2])
    return out


def test_every_operators_module_is_imported_by_a_default_lane_test():
    """Each `operators/*.py` module is imported by some test file without
    a module-level `slow` mark, so the default lane exercises it."""
    covered = set()
    for path in sorted((ROOT / "tests").glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        if not _slow_module(tree):
            covered |= _imported_operators(tree)
    modules = {
        p.stem
        for p in (ROOT / "yaml_pipe_spark" / "operators").glob("*.py")
        if p.stem != "__init__"
    }
    assert modules - covered == set()
