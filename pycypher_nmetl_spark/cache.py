"""Query result cache (reference: result_cache.py, star.py:715-751).

LRU + TTL, keyed by the query text plus its parameters; invalidated by
the catalog's data epoch (bumped on every committed mutation).
Admission is decided from the AST at compile time: the engine never puts
a query that calls a non-deterministic function
(``compiler.astutil.is_nondeterministic``) or mutates the graph, so a
hit can be served before parsing.

What is cached is the *compiled DataFrame* (lazy plan), not collected
rows — so a hit skips parsing and compilation but the data read stays
distributed and re-optimizable; pair with ``df.cache()`` by the caller
when row-level reuse is wanted.

Every method holds one lock: an unlocked ``get`` could lose its key to
another thread's eviction between the lookup and ``move_to_end``.
"""

from __future__ import annotations

import threading
import time
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any


def cache_key(cypher: str, params: dict[str, Any] | None) -> tuple:
    return (cypher, tuple(sorted((k, repr(v)) for k, v in (params or {}).items())))


@dataclass
class _Entry:
    value: Any
    epoch: int
    at: float


class ResultCache:
    def __init__(self, max_entries: int = 128, ttl_seconds: float = 300.0):
        self.max_entries = max_entries
        self.ttl = ttl_seconds
        self._data: OrderedDict[tuple, _Entry] = OrderedDict()
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def get(self, key: tuple, epoch: int) -> Any | None:
        with self._lock:
            entry = self._data.get(key)
            if entry is None or entry.epoch != epoch or time.time() - entry.at > self.ttl:
                if entry is not None:
                    self._data.pop(key, None)
                self.misses += 1
                return None
            self._data.move_to_end(key)
            self.hits += 1
            return entry.value

    def put(self, key: tuple, value: Any, epoch: int) -> None:
        with self._lock:
            self._data[key] = _Entry(value, epoch, time.time())
            self._data.move_to_end(key)
            while len(self._data) > self.max_entries:
                self._data.popitem(last=False)

    def evict(self, key: tuple) -> None:
        """Drop one entry (e.g. a Dataset poisoned by job-group
        cancellation — Spark 4 re-raises on any later action of it)."""
        with self._lock:
            self._data.pop(key, None)

    def clear(self) -> None:
        with self._lock:
            self._data.clear()
