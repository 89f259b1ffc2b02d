"""The file listings and stat keys the sink key and the serve stamp trust
(yaml_pipe_spark/filestats.py). No Spark session."""

from __future__ import annotations

import os

from yaml_pipe_spark.filestats import (
    file_stats,
    listed_files,
    local_path,
    tree_stats,
)


def _touch(path: str, data: bytes = b"x") -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)
    return path


def test_local_path_of_bare_path_and_file_uri():
    assert local_path("some/rel") == os.path.abspath("some/rel")
    assert local_path("/abs/part 0.parquet") == "/abs/part 0.parquet"
    assert local_path("file:///tmp/a%20b/x.parquet") == "/tmp/a b/x.parquet"
    assert local_path("file:/tmp/c.parquet") == "/tmp/c.parquet"


def test_local_path_of_other_scheme_is_none():
    assert local_path("hdfs://namenode:8020/sink/part-0.parquet") is None
    assert local_path("s3a://bucket/sink") is None


def test_listed_files_skips_hidden_and_descends_hive_dirs(tmp_path):
    root = str(tmp_path)
    kept = [
        _touch(os.path.join(root, "part-0.parquet")),
        _touch(os.path.join(root, "_p=1", "part-1.parquet")),
        _touch(os.path.join(root, "source=a", "part-2.parquet")),
    ]
    _touch(os.path.join(root, "_SUCCESS"))
    _touch(os.path.join(root, "_x"))
    _touch(os.path.join(root, ".x"))
    _touch(os.path.join(root, ".part-0.parquet.crc"))
    _touch(os.path.join(root, "source=a", ".part-2.parquet.crc"))
    _touch(os.path.join(root, "_temporary", "part-9.parquet"))
    _touch(os.path.join(root, ".hidden", "part-8.parquet"))
    assert listed_files(root) == sorted(kept)


def test_file_stats_keys_size_and_mtime(tmp_path):
    a = _touch(str(tmp_path / "a"), b"abc")
    b = _touch(str(tmp_path / "b"), b"")
    os.utime(a, ns=(1, 2_000_000_000))
    st = file_stats([a, b])
    assert st[0] == (a, 3, 2_000_000_000)
    assert st[1][:2] == (b, 0)
    assert file_stats([]) == ()


def test_file_stats_none_when_a_file_vanished(tmp_path):
    a = _touch(str(tmp_path / "a"))
    b = _touch(str(tmp_path / "b"))
    os.remove(b)
    assert file_stats([a, b]) is None


def test_tree_stats_local_and_non_local(tmp_path):
    p = _touch(str(tmp_path / "k=1" / "part-0.parquet"), b"12")
    _touch(str(tmp_path / "_SUCCESS"))
    want = ((p, 2, os.stat(p).st_mtime_ns),)
    assert tree_stats(str(tmp_path)) == want
    assert tree_stats(f"file://{tmp_path}") == want
    assert tree_stats("hdfs://namenode:8020/index") is None
    assert tree_stats(str(tmp_path / "absent")) == ()
