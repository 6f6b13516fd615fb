"""Elasticsearch lookalike for the CDC workloads, run as its own process.

Serves the surface ``graal_cdc_spark.sinks.elasticsearch`` speaks:
``PUT``/``DELETE /{index}/_doc/{id}`` and ``POST /{index}/_bulk`` with
per-item results (a delete of an absent id answers 404, as ES does).
Only the store behind the API is fake. It also counts what arrives,
for the ``sinks.*`` metrics, and exposes two read-only endpoints:

    GET /_bench/stats            {"requests", "docs", "retries"}
    GET /{index}/_bench/store    {id: document}

A retry is an upsert whose document equals the one already stored
under its id: the sink re-sent a delivered document (a transport
retry or a replayed batch). No fault is injected, so a healthy run
reads 0.

Run: python3 perfbench/es_server.py   (prints the bound port, then serves)
"""

from __future__ import annotations

import json
import re
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_DOC = re.compile(r"/([^/]+)/_doc/([^/?]+)")
_BULK = re.compile(r"/([^/]+)/_bulk")
_STORE = re.compile(r"/([^/]+)/_bench/store")


class EsState:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.stores: dict[str, dict[str, dict]] = {}
        self.requests = 0
        self.docs = 0
        self.retries = 0

    def item(self, index: str, action: str, doc_id: str, doc: dict | None) -> dict:
        with self.lock:
            self.docs += 1
            store = self.stores.setdefault(index, {})
            if action == "index":
                if doc is not None and store.get(doc_id) == doc:
                    self.retries += 1
                store[doc_id] = doc or {}
                return {action: {"_id": doc_id, "status": 200}}
            existed = store.pop(doc_id, None) is not None
            return {action: {"_id": doc_id, "status": 200 if existed else 404}}


class Handler(BaseHTTPRequestHandler):
    state: EsState  # set on the subclass the server is built with
    protocol_version = "HTTP/1.1"

    def log_message(self, *args):
        pass

    def _reply(self, code: int, payload) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> str:
        n = int(self.headers.get("Content-Length", 0))
        return self.rfile.read(n).decode()

    def _count(self) -> None:
        with self.state.lock:
            self.state.requests += 1

    def do_GET(self):
        if self.path == "/_bench/stats":
            s = self.state
            with s.lock:
                return self._reply(
                    200, {"requests": s.requests, "docs": s.docs, "retries": s.retries}
                )
        m = _STORE.fullmatch(self.path)
        if m:
            with self.state.lock:
                return self._reply(200, dict(self.state.stores.get(m.group(1), {})))
        self._reply(404, {"error": "no such endpoint"})

    def do_PUT(self):
        self._count()
        m = _DOC.fullmatch(self.path)
        if not m:
            return self._reply(400, {"error": "bad path"})
        item = self.state.item(m.group(1), "index", m.group(2), json.loads(self._body()))
        self._reply(item["index"]["status"], {"result": "updated"})

    def do_DELETE(self):
        self._count()
        m = _DOC.fullmatch(self.path)
        if not m:
            return self._reply(400, {"error": "bad path"})
        item = self.state.item(m.group(1), "delete", m.group(2), None)
        self._reply(item["delete"]["status"], {"result": "deleted"})

    def do_POST(self):
        self._count()
        m = _BULK.fullmatch(self.path)
        if not m:
            return self._reply(400, {"error": "bad path"})
        lines = [ln for ln in self._body().splitlines() if ln.strip()]
        items, i = [], 0
        while i < len(lines):
            meta = json.loads(lines[i])
            action = next(iter(meta))
            doc_id = meta[action]["_id"]
            if action == "index":
                items.append(self.state.item(m.group(1), "index", doc_id, json.loads(lines[i + 1])))
                i += 2
            else:
                items.append(self.state.item(m.group(1), "delete", doc_id, None))
                i += 1
        errors = any(v["status"] >= 300 for it in items for v in it.values())
        self._reply(200, {"errors": errors, "items": items})


def make_server(port: int = 0) -> ThreadingHTTPServer:
    handler = type("BoundHandler", (Handler,), {"state": EsState()})
    srv = ThreadingHTTPServer(("127.0.0.1", port), handler)
    srv.daemon_threads = True
    return srv


def main() -> None:
    srv = make_server()
    print(srv.server_address[1], flush=True)
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        srv.server_close()


if __name__ == "__main__":
    sys.exit(main())
