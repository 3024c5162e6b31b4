"""In-memory spans recorded around calls into the program.

Nothing in the program is edited: :meth:`Tracer.install` replaces a few
public callables (the parser symbol the engine calls, the semantic
validator, the complexity guard, ``CypherEngine.execute``/``run``,
``GraphCatalog.commit`` and py4j's client ``send_command``) with wrappers
that time them, and :meth:`Tracer.uninstall` puts the originals back.
Only the main thread is traced; wrappers pass straight through while
``active`` is false, so one traced run can hold traced and untraced ops.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    op: int | None
    py4j_calls: int = 0  # py4j round trips while this was the innermost span


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    # -------------------------------------------------------------- spans
    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    def _tracing(self) -> bool:
        return self.active and threading.get_ident() == self._main

    def wrap(self, owner: object, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self._tracing():
                return orig(*args, **kwargs)
            idx = self.begin(name)
            try:
                return orig(*args, **kwargs)
            finally:
                self.end(idx)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        import py4j.java_gateway
        import pycypher_nmetl_spark.engine as engine_mod
        import pycypher_nmetl_spark.guards as guards_mod
        from pycypher_nmetl_spark.catalog import GraphCatalog
        from pycypher_nmetl_spark.semantic import SemanticValidator

        self.wrap(engine_mod, "parse", "cypher.parse")
        self.wrap(SemanticValidator, "validate", "semantic.validate")
        # engine.execute imports check_complexity from the module per call
        self.wrap(guards_mod, "check_complexity", "guards.complexity")
        self.wrap(engine_mod.CypherEngine, "execute", "engine.execute")
        self.wrap(engine_mod.CypherEngine, "run", "engine.run")
        self.wrap(GraphCatalog, "commit", "catalog.commit")

        client = py4j.java_gateway.GatewayClient
        orig = client.send_command

        @functools.wraps(orig)
        def send_command(gw, *args, **kwargs):
            if self._stack and self._tracing():
                self.spans[self._stack[-1]].py4j_calls += 1
            return orig(gw, *args, **kwargs)

        self._patched.append((client, "send_command", orig))
        client.send_command = send_command

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # ----------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        """Per span: its duration minus what its direct children cover
        (children never overlap: one thread, properly nested)."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def subtree_py4j(self) -> list[int]:
        """Per span: py4j round trips made inside it, children included.
        A child's index is always larger than its parent's."""
        total = [s.py4j_calls for s in self.spans]
        for k in range(len(self.spans) - 1, -1, -1):
            parent = self.spans[k].parent
            if parent is not None:
                total[parent] += total[k]
        return total

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as fh:
            for s, o in zip(self.spans, own):
                fh.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "op": s.op,
                            "self_ms": o * 1000,
                            "py4j_calls": s.py4j_calls,
                        }
                    )
                    + "\n"
                )
