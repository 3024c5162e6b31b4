"""Built-in procedures (reference: relational_models.py:150-279).

A procedure is ``fn(engine, arg_columns) -> DataFrame``; CALL cross-joins
its rows into the bindings. Built-ins are catalog introspection — tiny
driver-side frames built by ``session.local_frame``, so calling one
starts no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from pycypher_nmetl_spark.session import local_frame


def _names(engine, column: str, names: list[str]) -> DataFrame:
    return local_frame(
        engine.spark,
        [(n,) for n in names],
        T.StructType([T.StructField(column, T.StringType())]),
    )


def _db_labels(engine, args) -> DataFrame:
    return _names(engine, "label", engine.catalog.labels())


def _db_relationship_types(engine, args) -> DataFrame:
    return _names(engine, "relationshipType", engine.catalog.rel_types())


def _db_property_keys(engine, args) -> DataFrame:
    return _names(engine, "propertyKey", engine.catalog.property_keys())


def _graph_pagerank(engine, args) -> DataFrame:
    from pycypher_nmetl_spark.algorithms import proc_pagerank

    return proc_pagerank(engine, args)


def _graph_components(engine, args) -> DataFrame:
    from pycypher_nmetl_spark.algorithms import proc_connected_components

    return proc_connected_components(engine, args)


def _graph_triangles(engine, args) -> DataFrame:
    from pycypher_nmetl_spark.algorithms import proc_triangle_count

    return proc_triangle_count(engine, args)


def _llm_procedures():
    from pycypher_nmetl_spark.llmops.procs import LLM_PROCEDURES

    return LLM_PROCEDURES


def _temporal_asof(engine, args) -> DataFrame:
    """temporal.asofJoin(leftLabel, rightLabel, on, by, direction='backward')
    -> left rows + latest/nearest right properties (temporal_joins.asof_join:
    one exchange, zero joins)."""
    from pycypher_nmetl_spark.temporal_joins import asof_join

    if len(args) < 4 or not all(isinstance(a, str) for a in args[:4]):
        raise TypeError(
            "temporal.asofJoin takes (leftLabel, rightLabel, on, by [, direction])"
        )
    left = engine.catalog.nodes(args[0]).withColumnRenamed("id", "left_id")
    right = engine.catalog.nodes(args[1]).withColumnRenamed("id", "right_id")
    direction = args[4] if len(args) > 4 and args[4] is not None else "backward"
    return asof_join(left, right, on=args[2], by=args[3], direction=direction)


def _temporal_range(engine, args) -> DataFrame:
    """temporal.rangeJoin(leftLabel, rightLabel, leftOn, rightStart,
    rightEnd, by) -> point-in-interval matches (temporal_joins.range_join:
    bin-bucketed equi-join, never a nested-loop)."""
    from pycypher_nmetl_spark.temporal_joins import range_join

    if len(args) < 6 or not all(isinstance(a, str) for a in args[:6]):
        raise TypeError(
            "temporal.rangeJoin takes (leftLabel, rightLabel, leftOn, "
            "rightStart, rightEnd, by)"
        )
    left = engine.catalog.nodes(args[0]).withColumnRenamed("id", "left_id")
    right = engine.catalog.nodes(args[1]).withColumnRenamed("id", "right_id")
    return range_join(left, right, args[2], args[3], args[4], by=args[5])


BUILTIN_PROCEDURES = {
    "db.labels": _db_labels,
    "db.relationshiptypes": _db_relationship_types,
    "db.propertykeys": _db_property_keys,
    "graph.pagerank": _graph_pagerank,
    "graph.connectedcomponents": _graph_components,
    "graph.trianglecount": _graph_triangles,
    "temporal.asofjoin": _temporal_asof,
    "temporal.rangejoin": _temporal_range,
    **_llm_procedures(),
}
