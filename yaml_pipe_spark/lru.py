"""A fixed-size least-recently-used map for module-level driver caches.

A long-lived driver (the dashboard, a serve loop) calls the cached paths
indefinitely, and every regenerated table or rewritten index file is a
fresh key — so a module-level cache must be bounded, or it grows for the
life of the process."""

from __future__ import annotations

import threading
from collections import OrderedDict


class Lru:
    """Thread-safe map that evicts its least recently used entry once it
    holds more than `maxsize` entries."""

    def __init__(self, maxsize: int):
        self.maxsize = maxsize
        self._d: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._d)

    def get(self, key, default=None):
        with self._lock:
            if key not in self._d:
                return default
            self._d.move_to_end(key)
            return self._d[key]

    def pop(self, key) -> None:
        with self._lock:
            self._d.pop(key, None)

    def put(self, key, value) -> None:
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            while len(self._d) > self.maxsize:
                self._d.popitem(last=False)
