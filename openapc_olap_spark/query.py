"""QuerySpec IR + compiler: the slicer query surface on Spark DataFrames.

Re-implements the query API contract of the reference's slicer server
(reference: HOWTO.md:35-104, olap_server.py:1-14, slicer.ini:6; execution
semantics of the pinned cubes dep, requirements.txt:1) as a tiny IR compiled
to declarative DataFrame plans:

- facts listing w/ cuts + stable pagination          (Q1, Q2-Q5, Q10, Q12)
- aggregate w/ drilldown + summary+cells envelope    (Q6-Q9, Q11, Q15)
- dimension members                                  (Q14)
- single fact by id                                  (Q13)

Everything is built-in Column expressions, so Catalyst gets the whole plan:
cuts push down to the Parquet scan and aggregates are partial+final hash
aggs. The summary+cells envelope is two plain plans over the cut cell: a
global aggregate (summary and cell count) and the grouped, ordered, paged
cells, run side by side. Nothing is cached between them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from openapc_olap_spark.cuts import Cut, cuts_to_predicate, parse_cuts
from openapc_olap_spark.model import Cube

# The server's hard response cap (slicer.ini:6 `json_record_limit: 500`;
# HOWTO.md:15 — un-paginated responses silently truncate at this size).
JSON_RECORD_LIMIT = 500


@dataclass(frozen=True)
class OrderTerm:
    field: str
    ascending: bool = True

    @classmethod
    def parse(cls, token: str) -> "OrderTerm":
        if ":" in token:
            name, direction = token.rsplit(":", 1)
            return cls(name, direction.lower() != "desc")
        return cls(token, True)


def parse_order(param: str | None) -> tuple[OrderTerm, ...]:
    """``order=field[:desc][,field2...]`` (cubes order grammar)."""
    if not param:
        return ()
    return tuple(OrderTerm.parse(t) for t in param.split(",") if t)


@dataclass(frozen=True)
class QuerySpec:
    """One parsed slicer request (the IR of SURVEY.md §3.1 step 3)."""

    cube: str
    cuts: tuple[Cut, ...] = ()
    drilldown: tuple[str, ...] = ()
    order: tuple[OrderTerm, ...] = ()
    page: int | None = None
    pagesize: int | None = None

    @classmethod
    def from_params(cls, cube: str, cut: str | None = None,
                    drilldown: str | None = None, order: str | None = None,
                    page: int | str | None = None,
                    pagesize: int | str | None = None) -> "QuerySpec":
        dd = tuple(d for d in (drilldown or "").split("|") if d)
        return cls(
            cube=cube,
            cuts=tuple(parse_cuts(cut)),
            drilldown=dd,
            order=parse_order(order),
            page=int(page) if page is not None else None,
            pagesize=int(pagesize) if pagesize is not None else None,
        )


class QueryEngine:
    """Compiles QuerySpecs against registered cubes into DataFrame plans."""

    def __init__(self, spark: SparkSession, registry) -> None:
        self.spark = spark
        self.registry = registry

    # -- plan building blocks -------------------------------------------------

    def _cell(self, cube: Cube) -> DataFrame:
        """The cube's cut-able cell source (a table scan; cuts applied later
        so Catalyst can push them into it). A cube-level ``where`` (the
        institutional-cube slice) is part of the source definition."""
        df = self.spark.table(cube.table)
        return df.filter(cube.where) if cube.where else df

    def _apply_cuts(self, df: DataFrame, spec: QuerySpec) -> DataFrame:
        pred = cuts_to_predicate(list(spec.cuts))
        return df.filter(pred) if pred is not None else df

    @staticmethod
    def _apply_order(df: DataFrame, order: tuple[OrderTerm, ...],
                     tiebreak: list[str] | None = None) -> DataFrame:
        cols: list[Column] = [
            F.col(t.field).asc() if t.ascending else F.col(t.field).desc()
            for t in order
        ]
        ordered_names = {t.field for t in order}
        for tb in tiebreak or []:
            if tb not in ordered_names:
                cols.append(F.col(tb).asc())
        return df.orderBy(*cols) if cols else df

    @staticmethod
    def _paginate(df: DataFrame, page: int | None, pagesize: int | None) -> DataFrame:
        """0-based page / pagesize, capped at JSON_RECORD_LIMIT; a request
        without pagination silently truncates at the cap (HOWTO.md:15,39-43)."""
        size = min(pagesize or JSON_RECORD_LIMIT, JSON_RECORD_LIMIT)
        offset = (page or 0) * size
        if offset:
            df = df.offset(offset)
        return df.limit(size)

    # -- the four query classes ----------------------------------------------

    def facts(self, spec: QuerySpec) -> DataFrame:
        """``/cube/<c>/facts`` — rows of the cut cell, deterministically
        ordered (by fact id unless the spec orders otherwise) and paginated."""
        cube = self.registry.get(spec.cube)
        df = self._apply_cuts(self._cell(cube), spec)
        tiebreak = [cube.fact_id] if cube.fact_id else []
        df = self._apply_order(df, spec.order, tiebreak)
        return self._paginate(df, spec.page, spec.pagesize)

    def fact(self, cube_name: str, fact_id_value) -> DataFrame:
        """``/cube/<c>/fact/<id>`` — single fact by stable id (Q13)."""
        cube = self.registry.get(cube_name)
        if not cube.fact_id:
            raise ValueError(f"cube {cube_name!r} declares no fact_id column")
        return self._cell(cube).filter(F.col(cube.fact_id) == F.lit(fact_id_value))

    def members(self, cube_name: str, dim: str, page: int | None = None,
                pagesize: int | None = None) -> DataFrame:
        """``/cube/<c>/members/<dim>`` — distinct dimension values (Q14)."""
        cube = self.registry.get(cube_name)
        if dim not in cube.dimensions:
            raise ValueError(f"cube {cube_name!r} has no dimension {dim!r}")
        df = self._cell(cube).select(dim).distinct().orderBy(F.col(dim).asc())
        return self._paginate(df, page, pagesize)

    def cells(self, spec: QuerySpec) -> DataFrame:
        """The per-group rows of an aggregate request: cuts -> groupBy
        drilldown -> all declared aggregates -> order -> page.

        With no drilldown this is the single summary row (Q6); with
        drilldown(s) it's one row per existing combination — inner group-by,
        no zero-fill (HOWTO.md:59-61).
        """
        cube = self.registry.get(spec.cube)
        df = self._apply_cuts(self._cell(cube), spec)
        aggs = [a.to_column() for a in cube.aggregates]
        if not aggs:
            raise ValueError(f"cube {spec.cube!r} declares no aggregates")
        if spec.drilldown:
            out = df.groupBy(*[F.col(d) for d in spec.drilldown]).agg(*aggs)
        else:
            out = df.agg(*aggs)
        out = self._apply_order(out, spec.order, list(spec.drilldown))
        return self._paginate(out, spec.page, spec.pagesize)

    def aggregate_envelope(self, spec: QuerySpec,
                           approx_total: bool = False) -> dict:
        """``/cube/<c>/aggregate`` response: ``{summary, cells,
        total_cell_count}`` (Q11).

        The summary is the cut cell's global aggregate, which yields one row
        even over an empty cell (count 0, sums null — the same summary
        ``/cell`` serves). With a drilldown, that same aggregate also counts
        the distinct drilldown tuples as ``total_cell_count`` (NULL values
        form a group, as in the cells' group-by), exactly or, with
        ``approx_total=True``, by ``approx_count_distinct`` (HLL++, ~2% rsd);
        the cells are the :meth:`cells` plan (order, then page), run at the
        same time as the summary.
        """
        cube = self.registry.get(spec.cube)
        aggs = [a.to_column() for a in cube.aggregates]
        if spec.drilldown:
            count = F.approx_count_distinct if approx_total else F.count_distinct
            aggs.append(count(F.struct(*spec.drilldown)).alias("total_cell_count"))
        summary_df = self._apply_cuts(self._cell(cube), spec).agg(*aggs)
        # the two plans share nothing, so the cells job runs beside the
        # summary job, in a thread that keeps the caller's job group
        with ThreadPoolExecutor(1) as pool:
            pending = (pool.submit(inheritable_thread_target(self.spark)(
                self.cells(spec).collect)) if spec.drilldown else None)
            summary = summary_df.collect()[0].asDict()
            cells = [r.asDict() for r in pending.result()] if pending else []
        total = summary.pop("total_cell_count", 0)
        return {"summary": summary, "cells": cells, "total_cell_count": total}

    def with_total_percentage(self, spec: QuerySpec, aggregate: str,
                              out_col: str = "total_percentage") -> DataFrame:
        """The treemap client's derived metric (YAML_STATIC_PART_APC:23-27):
        each cell's share of the result-set total, as a percentage (A6).

        The grand total is a 1-row re-aggregation of the cells frame
        broadcast-joined back onto it — NOT an empty-partition window
        (``Window.partitionBy()``), which would funnel every group of a
        10^8-cell drilldown through one task. The cells plan is computed
        twice (once per branch); for the sub-second API grain that beats
        a persist round-trip, and at 100 TB the duplicated branch is the
        already-aggregated group frame, not the fact scan."""
        cells = self.cells(spec)
        total = cells.agg(F.sum(F.col(aggregate)).alias("__total__"))
        return (cells.join(F.broadcast(total))
                .withColumn(out_col,
                            F.col(aggregate) / F.col("__total__") * 100.0)
                .drop("__total__"))
