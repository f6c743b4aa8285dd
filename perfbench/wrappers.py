"""Wrappers a traced run puts around the calls into the slicer's layers.

``TracedApp`` wraps the WSGI app handed to ``server.serve``; the engine
wrapper records the query layer's calls; ``patch`` swaps the server's
``QuerySpec`` for a subclass whose ``from_params`` records the cut parser,
and wraps the Spark actions (``collect``, ``count``) the server and the
query layer run while serving a request. Untraced runs install none of
this.
"""

from __future__ import annotations

import contextlib

from perfbench.trace import Tracer, jobs_and_tasks, plan_ms


def traced_engine(engine, tracer: Tracer):
    """The QueryEngine with each query-layer call recorded as a span."""
    from openapc_olap_spark.query import QueryEngine

    class TracedEngine(QueryEngine):
        def facts(self, spec):
            with tracer.span("query.build"):
                return super().facts(spec)

        def fact(self, cube_name, value):
            with tracer.span("query.build"):
                return super().fact(cube_name, value)

        def members(self, *a, **k):
            with tracer.span("query.build"):
                return super().members(*a, **k)

        def cells(self, spec):
            with tracer.span("query.build"):
                return super().cells(spec)

        def aggregate_envelope(self, spec, approx_total=False):
            with tracer.span("query.envelope"):
                return super().aggregate_envelope(spec, approx_total=approx_total)

    return TracedEngine(engine.spark, engine.registry)


@contextlib.contextmanager
def patch(tracer: Tracer):
    """Record the cut parser and the Spark actions while active."""
    import openapc_olap_spark.server as server
    from pyspark.sql.classic.dataframe import DataFrame

    from openapc_olap_spark.query import QuerySpec

    class TracedSpec(QuerySpec):
        @classmethod
        def from_params(cls, *a, **k):
            with tracer.span("cuts.parse"):
                return QuerySpec.from_params(*a, **k)

    orig = {"collect": DataFrame.collect, "count": DataFrame.count}

    def action(name):
        fn = orig[name]

        def run(self, *a, **k):
            # only inside a request: elsewhere the action is the work of
            # the layer that runs it, and stays in that layer's span
            if not tracer.rid:
                return fn(self, *a, **k)
            with tracer.span("spark.collect"):
                out = fn(self, *a, **k)
            with tracer.bookkeeping():
                tracer.acc["spark.plan_ms"] += plan_ms(self)
            return out
        return run

    server.QuerySpec = TracedSpec
    DataFrame.collect, DataFrame.count = action("collect"), action("count")
    try:
        yield
    finally:
        server.QuerySpec = QuerySpec
        DataFrame.collect, DataFrame.count = orig["collect"], orig["count"]


class TracedApp:
    """WSGI wrapper: one span per request, its Spark jobs under a job group
    named by the request id, and the per-request counters."""

    def __init__(self, app, tracer: Tracer, sc) -> None:
        self.app, self.tracer, self.sc = app, tracer, sc

    def __call__(self, environ, start_response):
        """The client names each request with ``X-Request-Id``; its first
        letter is the request's class."""
        tr, sc = self.tracer, self.sc
        with tr.bookkeeping():
            rid = tr.rid = environ["HTTP_X_REQUEST_ID"]
            tr.acc.clear()
            sc.setJobGroup(rid, rid)
            persisted = sc._jsc.getPersistentRDDs().size()
        with tr.span("server.request"):
            body = self.app(environ, start_response)
        with tr.bookkeeping():
            cls = rid[0]
            jobs, tasks = jobs_and_tasks(sc, rid)
            tr.add(f"{cls}:server.response_bytes", sum(len(b) for b in body))
            tr.add(f"{cls}:spark.jobs_per_request", jobs)
            tr.add(f"{cls}:spark.tasks_per_request", tasks)
            tr.add(f"{cls}:spark.plan_ms", tr.acc.get("spark.plan_ms", 0.0))
            tr.add(f"{cls}:spark.persisted_after_request",
                   sc._jsc.getPersistentRDDs().size() - persisted)
            tr.rid = None
        return body
