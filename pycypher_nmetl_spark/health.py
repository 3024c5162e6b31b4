"""Health & metrics HTTP endpoint (reference: health_server.py,
shared/metrics.py) plus a minimal query API.

A tiny stdlib HTTP server exposing:
  GET  /health  -> {"status": "ok", "spark": "<version>"}
  GET  /metrics -> catalog + cache counters, Prometheus-ish text
  POST /query   -> {"cypher": "...", "parameters": {...}, "limit": N}
                   -> {"columns": [...], "rows": [[...], ...]}
                   read-only by default: mutation clauses are rejected
                   with 403 unless the server was built with
                   allow_mutations=True (an unauthenticated HTTP surface
                   must not default to write access)

Runs on a daemon thread; intended for pipeline/service deployments.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

_MAX_QUERY_BYTES = 1_048_576  # reference config: MAX_QUERY_SIZE_BYTES
_DEFAULT_ROW_LIMIT = 1000


class HealthServer:
    def __init__(
        self,
        engine,
        host: str = "127.0.0.1",
        port: int = 0,
        allow_mutations: bool = False,
    ):
        self.engine = engine
        self.allow_mutations = allow_mutations
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # silence
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self):  # noqa: N802
                if self.path != "/query":
                    self.send_response(404)
                    self.end_headers()
                    return
                length = int(self.headers.get("Content-Length") or 0)
                if length > _MAX_QUERY_BYTES:
                    self._json(413, {"error": "request too large"})
                    return
                try:
                    doc = json.loads(self.rfile.read(length) or b"{}")
                    cypher = doc["cypher"]
                except (json.JSONDecodeError, KeyError) as e:
                    self._json(400, {"error": f"bad request: {e!s}"})
                    return
                params = doc.get("parameters") or {}
                try:
                    limit = int(doc.get("limit", _DEFAULT_ROW_LIMIT))
                except (TypeError, ValueError):
                    self._json(400, {"error": "bad request: limit must be an int"})
                    return
                limit = max(0, min(limit, 100_000))
                if not outer.allow_mutations and outer._mutates(cypher):
                    self._json(
                        403,
                        {"error": "mutations are disabled on this endpoint"},
                    )
                    return
                try:
                    df = outer.engine.execute(cypher, params)
                    rows = df.take(limit)
                    self._json(
                        200,
                        {
                            "columns": list(df.columns),
                            "rows": [list(r) for r in rows],
                            "row_limit": limit,
                        },
                    )
                except Exception as e:  # noqa: BLE001 — errors are payload
                    self._json(400, {"error": f"{type(e).__name__}: {e}"})

            def do_GET(self):  # noqa: N802
                if self.path == "/health":
                    body = json.dumps(
                        {
                            "status": "ok",
                            "spark": outer.engine.spark.version,
                            "labels": len(outer.engine.catalog.labels()),
                            "rel_types": len(outer.engine.catalog.rel_types()),
                        }
                    ).encode()
                    ctype = "application/json"
                elif self.path == "/metrics":
                    cache = outer.engine.cache
                    lines = [
                        f"catalog_labels {len(outer.engine.catalog.labels())}",
                        f"catalog_rel_types {len(outer.engine.catalog.rel_types())}",
                        f"catalog_data_epoch {outer.engine.catalog.data_epoch}",
                    ]
                    if cache is not None:
                        lines += [
                            f"result_cache_hits {cache.hits}",
                            f"result_cache_misses {cache.misses}",
                        ]
                    metrics = getattr(outer.engine, "metrics", None)
                    if metrics is not None:
                        lines += metrics.as_lines()
                    body = ("\n".join(lines) + "\n").encode()
                    ctype = "text/plain"
                else:
                    self.send_response(404)
                    self.end_headers()
                    return
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self._server = HTTPServer((host, port), Handler)
        self.port = self._server.server_address[1]
        self._thread: threading.Thread | None = None

    @staticmethod
    def _mutates(cypher: str) -> bool:
        """True when the query writes (astutil.mutates). Parse failures
        return False — execute() raises the real error with a proper
        message rather than a misleading 403."""
        from pycypher_nmetl_spark.compiler.astutil import mutates
        from pycypher_nmetl_spark.cypher.parser import parse

        try:
            return mutates(parse(cypher))
        except Exception:  # noqa: BLE001
            return False

    def start(self) -> "HealthServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
