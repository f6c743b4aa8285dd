"""Slicer-compatible HTTP façade (SURVEY.md §3.1-3.2; reference contract:
HOWTO.md:31-104, olap_server.py:1-14, slicer.ini, info.json).

A dependency-free WSGI app (stdlib ``wsgiref`` runs it; any WSGI container
can host it) exposing the reference's API over the Spark-backed QueryEngine:

    GET /info                       server info document (info.json shape)
    GET /cubes                      [{name, label}]            (HOWTO.md:31-33)
    GET /cube/<c>/model             cube model JSON            (HOWTO.md:69-71)
    GET /cube/<c>/facts             rows; cut/order/page/pagesize; format=csv
    GET /cube/<c>/aggregate         {summary, cells, total_cell_count}
    GET /cube/<c>/members/<dim>     distinct dimension values
    GET /cube/<c>/fact/<id>         single fact by stable id
    GET /cube/<c>/cell              cut echo + summary

Responses carry CORS (olap_server.py:4,8) and respect the hard 500-row cap
(slicer.ini:6). A malformed parameter or a cut/drilldown/order field the
cube's model does not declare is a 400; an unknown cube, route, dimension or
fact a 404; any other failure a 500. Error bodies are ``{"error": ...}``.
The Spark driver is the web process; executors do the work — the same
topology as the reference's server→PostgreSQL split (SURVEY.md §3.1).
"""

from __future__ import annotations

import csv
import io
import json
from typing import Callable
from urllib.parse import parse_qs

from openapc_olap_spark.query import QueryEngine, QuerySpec


def _json_default(o):
    return str(o)


class HttpError(Exception):
    def __init__(self, status: str, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


class SlicerApp:
    """WSGI callable implementing the slicer API over a QueryEngine."""

    def __init__(self, engine: QueryEngine, info: dict | None = None) -> None:
        self.engine = engine
        self.registry = engine.registry
        self.info = info or {"api_version": 2, "authentication": "none",
                             "json_record_limit": 500}

    # -- WSGI plumbing ------------------------------------------------------

    def __call__(self, environ, start_response):
        path = environ.get("PATH_INFO", "/")
        params = {k: v[0] for k, v in
                  parse_qs(environ.get("QUERY_STRING", "")).items()}
        try:
            body, content_type = self._route(path, params)
            status = "200 OK"
        except HttpError as e:
            body, content_type = self._json({"error": e.message})
            status = e.status
        except Exception as e:         # an engine fault, never the client's
            body, content_type = self._json({"error": f"internal error: {e}"})
            status = "500 Internal Server Error"
        start_response(status, [
            ("Content-Type", content_type),
            ("Content-Length", str(len(body))),
            ("Access-Control-Allow-Origin", "*"),
        ])
        return [body]

    # -- routing ------------------------------------------------------------

    def _route(self, path: str, q: dict) -> tuple[bytes, str]:
        parts = [p for p in path.split("/") if p]
        if parts == ["info"]:
            return self._json(self.info)
        if parts == ["cubes"]:
            return self._json(self.registry.list_cubes())
        if len(parts) >= 3 and parts[0] == "cube":
            name = parts[1]
            if name not in self.registry:
                raise HttpError("404 Not Found", f"unknown cube {name!r}")
            handler: Callable | None = {
                "model": self._model, "facts": self._facts,
                "aggregate": self._aggregate, "cell": self._cell_info,
            }.get(parts[2])
            if handler and len(parts) == 3:
                return handler(name, q)
            if parts[2] == "members" and len(parts) == 4:
                return self._members(name, parts[3], q)
            if parts[2] == "fact" and len(parts) == 4:
                return self._fact(name, parts[3])
        raise HttpError("404 Not Found", f"no route for {path!r}")

    @staticmethod
    def _json(obj) -> tuple[bytes, str]:
        return (json.dumps(obj, default=_json_default).encode(),
                "application/json")

    @staticmethod
    def _csv(rows: list[dict], fieldnames: list[str]) -> tuple[bytes, str]:
        buf = io.StringIO()
        writer = csv.DictWriter(buf, fieldnames=fieldnames)
        writer.writeheader()
        writer.writerows(rows)
        return buf.getvalue().encode(), "text/csv"

    def _spec(self, cube: str, q: dict) -> QuerySpec:
        """Parse the query parameters; a malformed value or a cut,
        drilldown or order field the cube's model does not declare is a
        client error."""
        try:
            spec = QuerySpec.from_params(
                cube, cut=q.get("cut"), drilldown=q.get("drilldown"),
                order=q.get("order"), page=q.get("page"),
                pagesize=q.get("pagesize"))
        except Exception as e:
            raise HttpError("400 Bad Request", f"bad query: {e}") from e
        c = self.registry.get(cube)
        declared = {*c.dimensions, *c.measures, c.fact_id,
                    *(a.name for a in c.aggregates)}
        unknown = [f for f in [*(cut.dim for cut in spec.cuts),
                               *spec.drilldown, *(t.field for t in spec.order)]
                   if f not in declared]
        if unknown:
            raise HttpError("400 Bad Request",
                            f"cube {cube!r} declares no field {unknown[0]!r}")
        return spec

    # -- endpoints ----------------------------------------------------------

    def _model(self, name: str, q: dict) -> tuple[bytes, str]:
        return self._json(self.registry.get(name).to_model_dict())

    def _facts(self, name: str, q: dict) -> tuple[bytes, str]:
        df = self.engine.facts(self._spec(name, q))
        rows = [r.asDict() for r in df.collect()]
        if q.get("format") == "csv":                       # S7 CSV export
            return self._csv(rows, df.columns)
        return self._json(rows)

    def _aggregate(self, name: str, q: dict) -> tuple[bytes, str]:
        spec = self._spec(name, q)
        # ?approx_total=1 -> total_cell_count via approx_count_distinct
        # (Q11 envelope semantics otherwise unchanged)
        approx = str(q.get("approx_total", "")).lower() in ("1", "true")
        env = self.engine.aggregate_envelope(spec, approx_total=approx)
        env["cell"] = [c.to_string() for c in spec.cuts]
        env["drilldown"] = list(spec.drilldown)
        if q.get("format") == "csv":
            # cubes' slicer serves aggregate CSV as the drilldown cells
            # (or the lone summary row when there is no drilldown) —
            # completes the S7 surface beyond facts (VERDICT r06 item 6)
            rows = env["cells"] or [env["summary"]]
            return self._csv(rows, list(rows[0]))
        return self._json(env)

    def _members(self, name: str, dim: str, q: dict) -> tuple[bytes, str]:
        spec = self._spec(name, q)
        try:
            df = self.engine.members(name, dim, spec.page, spec.pagesize)
        except ValueError as e:        # unknown cube / dimension
            raise HttpError("404 Not Found", str(e)) from e
        return self._json([r[dim] for r in df.collect()])

    def _fact(self, name: str, fact_id: str) -> tuple[bytes, str]:
        cube = self.registry.get(name)
        value: object = fact_id
        # fact ids are stable row numbers / integer keys where declared
        if fact_id.lstrip("-").isdigit():
            value = int(fact_id)
        try:
            rows = [r.asDict() for r in self.engine.fact(name, value).collect()]
        except ValueError as e:        # cube declares no fact_id column
            raise HttpError("404 Not Found", str(e)) from e
        if not rows:
            raise HttpError("404 Not Found", f"no fact {fact_id!r}")
        return self._json(rows[0])

    def _cell_info(self, name: str, q: dict) -> tuple[bytes, str]:
        spec = self._spec(name, q)
        summary_rows = self.engine.cells(
            QuerySpec(cube=name, cuts=spec.cuts)).collect()
        return self._json({
            "cube": name,
            "cell": [c.to_string() for c in spec.cuts],
            "summary": summary_rows[0].asDict() if summary_rows else {},
        })


def serve(app: SlicerApp, host: str = "127.0.0.1", port: int = 5000) -> None:
    """Dev server (reference runs Flask's; production would front the WSGI
    app the same way openapc-olap.wsgi fronts the slicer)."""
    from wsgiref.simple_server import make_server
    with make_server(host, port, app) as srv:
        srv.serve_forever()
