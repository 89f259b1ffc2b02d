"""Local file listings and stat keys for the driver-side caches.

A cache keyed on `(path, size, mtime_ns)` of the files a read would scan
is invalidated by any rewrite of those files without opening them. The
keys trust size and mtime: a rewrite that keeps both unchanged is not
seen. Paths on any other filesystem than the local one get no key."""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse


def local_path(uri: str) -> str | None:
    """The local filesystem path `uri` names; None for any other scheme."""
    u = urlparse(uri)
    if u.scheme == "":
        return os.path.abspath(uri)
    return unquote(u.path) if u.scheme == "file" else None


def listed_files(root: str) -> list[str]:
    """Files under `root` that Spark's parquet reader lists: it skips
    names starting with `_` or `.`, except hive partition directories."""

    def listed(name: str) -> bool:
        return not (
            name.startswith(".") or (name.startswith("_") and "=" not in name)
        )

    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if listed(x)]
        out += [os.path.join(d, f) for f in files if listed(f)]
    return sorted(out)


def file_stats(paths) -> tuple | None:
    """`(path, size, mtime_ns)` of each path, in order; None when one of
    them cannot be stat'ed (removed meanwhile)."""
    out = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            return None
        out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


def tree_stats(uri: str) -> tuple | None:
    """`file_stats` of every listed file under the directory `uri` names;
    None for a non-local `uri`."""
    root = local_path(uri)
    return None if root is None else file_stats(listed_files(root))
