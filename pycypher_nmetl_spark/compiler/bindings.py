"""Bindings — the compile-time IR: a DataFrame whose columns are Cypher
variables, plus a scope describing what each variable is.

Column conventions (the whole engine hangs off these):

  * node variable ``n``   -> column ``n`` (entity id), property columns
    ``n__<prop>`` for the properties the query reads
    (astutil.property_uses), optional ``n__label`` when the scan
    spanned multiple labels;
  * rel variable ``r``    -> column ``r`` (edge id), ``r__src``,
    ``r__dst``, ``r__type`` (when multi-type), plus ``r__<prop>``;
  * value variable ``x``  -> column ``x``;
  * path variable ``p``   -> column ``p__length`` (hop count).

Reference equivalent: BindingFrame
(reference: packages/pycypher/src/pycypher/binding_frame.py:249-297) —
but the properties a query reads ride along from the scan instead of
being fetched by ID-keyed lookup (binding_frame.py:429-885).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field, replace

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_counter = itertools.count()


def fresh_name(prefix: str = "_gen") -> str:
    return f"{prefix}{next(_counter)}"


def pcol(var: str, prop: str) -> str:
    """Physical column name for a property of a variable."""
    return f"{var}__{prop}"


@dataclass(frozen=True)
class VarInfo:
    kind: str  # 'node' | 'rel' | 'value' | 'path'
    labels: tuple[str, ...] = ()  # node labels / rel types (statically known)
    anon: bool = False
    # for 'value' vars holding collected entity ids (collect(n) -> FOREACH):
    # 'node' | 'rel' so mutations can resolve the right tables instead of
    # fanning an id-keyed update out to every label (ids are per-label)
    elem_kind: str | None = None
    # for 'rel' vars: the bound node variables at the edge's endpoints
    # (pattern-traversal order for undirected), so startNode(r).prop /
    # endNode(r).prop resolve to the endpoint variable's property columns
    src_var: str | None = None
    dst_var: str | None = None
    # for 'path' vars: the pattern's node / relationship variables in
    # traversal order, so nodes(p)/relationships(p) compile to arrays of
    # the bound id columns. Empty path_nodes = the path has a variable-
    # length segment whose interior nodes were never materialized.
    path_nodes: tuple[str, ...] = ()
    path_rels: tuple[str, ...] = ()
    # True when a WITH rescope (aggregation/DISTINCT) dropped the columns
    # path_nodes/path_rels pointed at — nodes()/relationships() then raise
    # a precise error instead of the variable-length message / silent []
    path_dropped: bool = False


@dataclass
class Bindings:
    df: DataFrame
    vars: dict[str, VarInfo] = field(default_factory=dict)

    # ------------------------------------------------------------------ #
    @staticmethod
    def unit(spark) -> "Bindings":
        """One row, zero variables — the identity for the first MATCH/cross."""
        return Bindings(spark.range(1).drop("id"), {})

    @property
    def is_unit(self) -> bool:
        return not self.vars and not self.df.columns

    def var_columns(self, var: str) -> list[str]:
        """All physical columns belonging to a variable."""
        prefix = f"{var}__"
        return [c for c in self.df.columns if c == var or c.startswith(prefix)]

    def prop_columns(self, var: str) -> list[str]:
        prefix = f"{var}__"
        skip = {
            pcol(var, "src"), pcol(var, "dst"), pcol(var, "type"),
            pcol(var, "label"), pcol(var, "__sw"),
        }
        return [c for c in self.df.columns if c.startswith(prefix) and c not in skip]

    def dtype(self, column: Column) -> T.DataType:
        """Probe the Spark type of an expression against this frame
        (driver-side Catalyst analysis only — never an action).

        Expressions referencing lambda variables can't be analyzed
        standalone; report NullType so callers fall back to generic
        behavior."""
        try:
            return self.df.select(column.alias("_t")).schema[0].dataType
        except Exception:
            return T.NullType()

    def with_df(self, df: DataFrame) -> "Bindings":
        return Bindings(df, dict(self.vars))

    def add_var(self, name: str, info: VarInfo) -> "Bindings":
        new = dict(self.vars)
        new[name] = info
        return Bindings(self.df, new)

    # ------------------------------------------------------------------ #
    def rename_var(self, old: str, new: str) -> "Bindings":
        df = self.df
        for c in self.var_columns(old):
            target = new if c == old else pcol(new, c[len(old) + 2 :])
            df = df.withColumnRenamed(c, target)
        vars_ = dict(self.vars)
        vars_[new] = vars_.pop(old)
        return Bindings(df, vars_)

    def drop_var(self, var: str) -> "Bindings":
        df = self.df.drop(*self.var_columns(var))
        vars_ = {k: v for k, v in self.vars.items() if k != var}
        return Bindings(df, vars_)

    def shared_vars(self, other: "Bindings") -> list[str]:
        return [v for v in self.vars if v in other.vars]
