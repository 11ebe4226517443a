"""The web layer over the spatial_batch point table: ``web.serve`` runs
in-process on a free port; each round sends one seeded burst of requests
(a ``POST /query`` viewport, sometimes a repeated one, a ``this.*``
substatement, ``/cells`` and ``/tiles/…mvt``), one request per client
thread, all at once, so the requests contend for the executors.

Checks: HTTP 200 everywhere; /query feature counts and /cells node counts
equal numpy counts over the generated points; the substatement answers no
features (the table has no ways); tiles are non-empty.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import oracles as O
from harness import Bench
from inputs import HttpParams, RequestStream

ENDPOINTS = ("query", "cells", "tiles")


def _trace_web(b: Bench, web) -> None:
    """Wrap ``web.make_handler``'s class so each request runs inside a span
    named after its endpoint, and the module names the handler calls
    (parse, plan, GeoJSON) inside child spans. Traced run only."""
    for name, layer in (("parse_query", "query.parser.parse_query"),
                        ("plan_query", "query.planner.plan_query"),
                        ("to_geojson_capped", "sources.geojson.to_geojson_capped")):
        fn = getattr(web, name)

        def wrapped(*a, _fn=fn, _layer=layer, **kw):
            with b.span(_layer):
                return _fn(*a, **kw)

        setattr(web, name, wrapped)
    orig_make = web.make_handler

    def make_handler(*a, **kw):
        class Traced(orig_make(*a, **kw)):
            def _span(self):
                ep = next((e for e in ENDPOINTS if self.path.startswith("/" + e)), "other")
                return b.span("web." + ep)

            def do_GET(self):  # noqa: N802 (http.server API)
                with self._span():
                    super().do_GET()

            def do_POST(self):  # noqa: N802
                with self._span():
                    super().do_POST()

        return Traced

    web.make_handler = make_handler


class HttpKind:
    """Owns the server and the client pool; :meth:`close` stops both."""

    def __init__(self, b: Bench, ds, lon, lat, bench_mask):
        from simple_osm_queries_spark import web

        self.b = b
        self.p = HttpParams()
        self.stream = RequestStream(b.seed, self.p)
        self.lon, self.lat, self.bench_mask = lon, lat, bench_mask
        if b.trace:
            _trace_web(b, web)
        self.server = web.serve(ds, port=0)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, name="http",
                                       daemon=True)
        self.thread.start()
        self.pool = ThreadPoolExecutor(max_workers=self.p.clients)

    def close(self) -> None:
        self.pool.shutdown(wait=True)
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=30)

    def _send(self, req):
        t0 = time.perf_counter()
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request(req.method, req.path, body=req.body)
            resp = conn.getresponse()
            body = resp.read()
        finally:
            conn.close()
        return req, resp.status, body, time.perf_counter() - t0

    def op(self):
        """One burst; returns [(request, status, body, latency)]."""
        futs = [self.pool.submit(self._send, r) for r in self.stream.burst()]
        return [f.result() for f in futs]

    def check(self, results) -> str | None:
        for req, status, body, _ in results:
            err = self._check_one(req, status, body)
            if err:
                return err
        return None

    @staticmethod
    def corrupt(results):
        req, _, body, dt = results[0]
        return [(req, 500, body, dt)] + results[1:]

    def _check_one(self, req, status: int, body: bytes) -> str | None:
        if status != 200:
            return f"{req.kind} {req.path} -> HTTP {status}: {body[:200]!r}"
        if req.kind in ("query", "substatement"):
            fc = json.loads(body)
            want = 0 if req.kind == "substatement" else int(
                (self.bench_mask & O.in_box(self.lon, self.lat, req.bbox)).sum())
            if fc.get("truncated") or len(fc["features"]) != want:
                return f"{req.kind} {req.body}: {len(fc['features'])} features, want {want}"
        elif req.kind == "cells":
            got = sum(f["properties"]["count"] for f in json.loads(body)["features"])
            want = int(O.in_box(self.lon, self.lat, req.bbox).sum())
            if got != want:
                return f"cells {req.path}: {got} nodes, numpy has {want}"
        elif not body:
            return f"{req.kind} {req.path}: empty body"
        return None
