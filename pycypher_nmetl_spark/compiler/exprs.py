"""Expression compiler: Cypher AST expression -> pyspark Column.

Cypher semantics that differ from Spark defaults are handled here
(SURVEY.md §1.2, reference: arithmetic_evaluator.py:50-181,
boolean_evaluator.py:40-339, comparison_evaluator.py:99-192):

  * integer `/` is integer division (truncation toward zero, Java-style)
    -> ``(l / r).cast(long)``;
  * `%` follows the dividend's sign — Spark's `%` already does;
  * `^` is float pow -> ``F.pow``;
  * Kleene 3-valued AND/OR/NOT/XOR — Spark NULL semantics match natively
    (XOR compiles to `!=` on booleans, which is null-propagating);
  * `=~` matches the FULL string -> pattern anchored with ^(?:...)$;
  * list index is 0-based, out-of-bounds -> null (try_element_at);
  * temporal component access (d.year) compiles to extract().

Pattern-shaped sub-expressions (EXISTS subqueries, pattern predicates,
pattern comprehensions) cannot be pure Columns — they are materialized
into hidden boolean/array columns on the bindings frame *before* this
compiler runs (see patterns.materialize_subpatterns), and looked up here
via ``subst`` (an id(ast-node) -> column-name map).
"""

from __future__ import annotations

import datetime
import functools
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pycypher_nmetl_spark.compiler.astutil import is_nondeterministic
from pycypher_nmetl_spark.compiler.bindings import Bindings, pcol
from pycypher_nmetl_spark.cypher.ast_nodes import (
    BinOp, BoolOp, CaseExpr, Cmp, CountStar, ExistsSub, Expr, FuncCall,
    Index, InList, IsNull, LabelPred, ListComp, ListLit, Literal, MapLit,
    MapProjection, Not, Param, PatternComp, PatternPred, Prop, Quantifier,
    Reduce, Slice, StringPred, UnaryOp, Var,
)
from pycypher_nmetl_spark.functions.scalar import AGGREGATE_FUNCTIONS, SCALAR_FUNCTIONS

#: extract() units for temporal component access; dayofweek is handled
#: separately (reference binding_evaluator.py:258 / collection_evaluator
#: .py:97: ISO convention, Monday=1..Sunday=7 — Spark's 'dayofweek'
#: extract unit is Sunday=1, so it compiles to weekday()+1 instead).
#: dayofyear/ordinalday per reference "dayOfYear"; milliseconds and
#: microseconds are within-second components as in the reference.
_TEMPORAL_FIELDS = {
    "year": "year", "month": "month", "day": "day", "hour": "hour",
    "minute": "minute", "second": "second", "week": "week",
    "quarter": "quarter", "ordinalday": "doy", "dayofyear": "doy",
    "epochmillis": None, "epochseconds": None, "dayofweek": None,
    "millisecond": None, "microsecond": None,
}

_INT_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _dtype_kind(dt: T.DataType) -> str | None:
    """Spark type -> static kind bucket (None = don't reason about it)."""
    from pycypher_nmetl_spark.compiler.dynval import is_dyn

    if is_dyn(dt):
        return "dyn"
    if isinstance(dt, _INT_TYPES):
        return "int"
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return "float"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampType):
        return "timestamp"
    if isinstance(dt, T.TimestampNTZType):
        return "timestampntz"  # localdatetime: own dyn rank
    if isinstance(dt, T.ArrayType):
        return "array"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.StructType):
        return "struct"
    if isinstance(dt, T.NullType):
        return "null"
    return None


def _py_kind(v) -> str | None:
    import datetime

    if v is None:
        return "null"
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "string"
    if isinstance(v, (list, tuple)):
        return "array"
    if isinstance(v, dict):
        return "map"
    if isinstance(v, datetime.datetime):
        return "timestamp"
    if isinstance(v, datetime.date):
        return "date"
    return None


_NUMERIC_KINDS = {"int", "float"}
_STRING_COERCIBLE = {
    "string", "int", "float", "bool", "date", "timestamp", "timestampntz",
}


_SCALAR_CMP_KINDS = {
    "int", "float", "string", "bool", "date", "timestamp", "timestampntz",
}


def _statically_comparable(lk: str | None, rk: str | None) -> bool | str | None:
    """Static decision for a binary comparison of these kinds.

    True   -> kinds coerce; use the native Spark comparison.
    "cross"-> two DIFFERENT value types (Neo4j: `'1' = 1` is false, the
              reference's pandas evaluator agrees): equality is false,
              inequality true, orderings null — never Spark's implicit
              cast, which would make '1' = 1 true.
    False  -> Spark rejects the comparison and Cypher yields null.
    None   -> unknown; caller falls back to an analyzer probe.

    Same-kind, numeric x numeric and date x timestamp compare natively;
    string x date/timestamp keeps SQL-style coercion (the one documented
    divergence — temporal properties round-trip through strings in the
    TPC-H fixtures and DuckDB oracles coerce identically).
    """
    if lk is None or rk is None:
        return None
    if "dyn" in (lk, rk):
        return None  # dynamic values: callers take the _dyn_cmp path
    if "struct" in (lk, rk):
        return None  # field-wise rules; rare — probe
    if "map" in (lk, rk):
        return False  # Spark rejects map comparison even with itself
    if lk == "null" or rk == "null":
        return True
    if lk == "array" and rk == "array":
        # decided at the call site from element kinds (_c_Cmp): statically
        # coercible element kinds -> native comparison, incomparable ->
        # Cypher list semantics (size mismatch = false), unknown -> probe
        return None
    if lk == rk:
        return True
    if lk in _NUMERIC_KINDS and rk in _NUMERIC_KINDS:
        return True
    if {lk, rk} <= {"date", "timestamp", "timestampntz"}:
        return True
    if "string" in (lk, rk) and {lk, rk} <= {
        "string", "date", "timestamp", "timestampntz",
    }:
        return True
    if lk in _SCALAR_CMP_KINDS and rk in _SCALAR_CMP_KINDS:
        return "cross"
    return False


_SCALAR_KINDS = {
    "int", "float", "string", "bool", "date", "timestamp", "timestampntz",
}


def _array_elems_comparable(lek: str | None, rek: str | None) -> bool | None:
    """Would Spark coerce array<lek> vs array<rek> in a comparison?

    Stricter than the scalar matrix: inside arrays Spark only unifies
    same-kind, numeric x numeric and date x timestamp (measured on
    Spark 4: array<bigint> = array<string> is DATATYPE_MISMATCH even
    though bigint = string coerces as scalars). False means Cypher
    incomparable-element list semantics apply; None means probe (empty
    lists / nested arrays / unknown kinds).
    """
    if lek is None or rek is None or "null" in (lek, rek):
        return None
    if lek == rek:
        return True if lek in _SCALAR_KINDS else None
    if {lek, rek} <= _NUMERIC_KINDS or {lek, rek} <= {
        "date", "timestamp", "timestampntz",
    }:
        return True
    if lek in _SCALAR_KINDS and rek in _SCALAR_KINDS:
        return False
    return None


def lit_value(value: Any) -> Column:
    """Python value -> literal Column (lists/maps supported, for params).

    A heterogeneous SCALAR list parameter ([1, 'a']) gets the dynamic-
    value encoding (compiler/dynval.py) — same treatment as a
    heterogeneous list literal, so UNWIND/ORDER BY/min/max over it
    follow openCypher global orderability instead of crashing on
    Spark's array type coercion."""
    if isinstance(value, list):
        buckets = {
            "num"
            if isinstance(v, (int, float)) and not isinstance(v, bool)
            else ("list" if isinstance(v, (list, tuple)) else type(v).__name__)
            for v in value
            if v is not None
        }
        if len(buckets) > 1:
            # heterogeneous: scalars and one-level lists-of-scalars get
            # the dynamic encoding; anything deeper (encode_py -> None)
            # falls through to the native path and its loud coercion
            # error
            from pycypher_nmetl_spark.compiler.dynval import encode_py

            enc = [encode_py(v) for v in value]
            if all(c is not None for c in enc):
                return F.array(*enc)
        return F.array(*[lit_value(v) for v in value])
    if isinstance(value, dict):
        return F.struct(*[lit_value(v).alias(k) for k, v in value.items()])
    return F.lit(value)


class ExprCompiler:
    def __init__(
        self,
        bindings: Bindings,
        params: dict[str, Any] | None = None,
        subst: dict[int, str] | None = None,
        functions: dict[str, Any] | None = None,
        agg_map: dict[Any, str] | None = None,
    ):
        self.bindings = bindings
        self.params = params or {}
        self.subst = subst or {}  # id(ast node) -> physical column name
        self.lambda_vars: dict[str, Column] = {}
        # statically-inferred kind per lambda var: 'int'|'float'|'string'|'array'|None
        self.lambda_kinds: dict[str, str | None] = {}
        self.functions = functions or {}
        # structural-key -> column name for pre-computed aggregates
        # (lets ORDER BY count(*) find the same agg as the RETURN item)
        self.agg_map = agg_map or {}

    # ------------------------------------------------------------------ #
    def col(self, e: Expr) -> Column:
        if id(e) in self.subst:
            return self.bindings.df[self.subst[id(e)]]
        method = getattr(self, f"_c_{type(e).__name__}", None)
        if method is None:
            raise NotImplementedError(f"cannot compile {type(e).__name__}")
        return method(e)

    # ------------------------------------------------------------------ #
    def _c_Literal(self, e: Literal) -> Column:
        if e.value is None:
            return F.lit(None)
        return F.lit(e.value)

    def _c_ListLit(self, e: ListLit) -> Column:
        if not e.items:
            return F.array()
        cols = [self.col(x) for x in e.items]
        # heterogeneous lists (e.g. [1, 'a'] or [[1,2], 'a']) get the
        # dynamic-value encoding so openCypher global orderability
        # holds; mono-typed lists (the hot path) stay native Spark
        # arrays untouched
        if not self.lambda_vars:
            from pycypher_nmetl_spark.compiler.dynval import (
                ENCODABLE_KINDS, encode_array, encode_kind, is_dyn,
            )

            kinds = [self._static_kind(x) for x in e.items]
            # entity vars report kind 'int' (their id column) — never
            # encode a node/rel/path as a number; force the native path
            # so mixing entities with scalars still fails loudly
            for i, x in enumerate(e.items):
                if isinstance(x, Var):
                    info = self.bindings.vars.get(x.name)
                    if info is not None and info.kind in ("node", "rel", "path"):
                        kinds[i] = "entity"
            dtypes: list | None = None
            if any(k is None for k in kinds) or "array" in kinds:
                try:
                    sch = self.bindings.df.select(
                        *[c.alias(f"_e{i}") for i, c in enumerate(cols)]
                    ).schema
                    dtypes = [f.dataType for f in sch.fields]
                    kinds = [
                        k if k is not None else _dtype_kind(sch[i].dataType)
                        for i, k in enumerate(kinds)
                    ]
                except Exception:  # noqa: BLE001 — unanalyzable: native
                    kinds = [None]
            if all(
                k in ENCODABLE_KINDS or k in ("dyn", "array") for k in kinds
            ):
                buckets = {
                    "num" if k in ("int", "float") else k
                    for k in kinds
                    if k not in (None, "null")
                }
                hetero = len(buckets) > 1 or "dyn" in buckets
                if not hetero and buckets == {"array"} and dtypes is not None:
                    # lists-only literal: heterogeneous when the element
                    # kinds conflict beyond numeric widening (native
                    # coercion handles array<int> vs array<double>)
                    eks = set()
                    for dt in dtypes:
                        if isinstance(dt, T.ArrayType):
                            ek = (
                                "dyn" if is_dyn(dt.elementType)
                                else _dtype_kind(dt.elementType)
                            )
                            if ek not in (None, "null"):
                                eks.add("num" if ek in ("int", "float") else ek)
                    hetero = len(eks) > 1 or "dyn" in eks
                if hetero:
                    enc = []
                    for i, (c, k) in enumerate(zip(cols, kinds)):
                        if k == "array":
                            dt = dtypes[i] if dtypes else None
                            ek = None
                            if isinstance(dt, T.ArrayType):
                                ek = (
                                    "dyn" if is_dyn(dt.elementType)
                                    else _dtype_kind(dt.elementType)
                                )
                            ec = encode_array(c, ek or "")
                            if ec is None:
                                raise NotImplementedError(
                                    "mixed-type list: a list element may "
                                    "itself be a list of scalars, but "
                                    "deeper nesting (lists of lists / "
                                    "maps inside a mixed list) is not "
                                    "orderable by this engine"
                                )
                        else:
                            ec = encode_kind(c, k)
                        enc.append(ec)
                    return F.array(*enc)
        return F.array(*cols)

    def _c_MapLit(self, e: MapLit) -> Column:
        return F.struct(*[self.col(v).alias(k) for k, v in e.pairs])

    def _c_Param(self, e: Param) -> Column:
        if e.name not in self.params:
            raise KeyError(f"missing parameter ${e.name}")
        return lit_value(self.params[e.name])

    def _c_Var(self, e: Var) -> Column:
        if e.name in self.lambda_vars:
            return self.lambda_vars[e.name]
        info = self.bindings.vars.get(e.name)
        if info is None:
            raise KeyError(
                f"undefined variable {e.name!r}; in scope: {sorted(self.bindings.vars)}"
            )
        if info.kind == "path":
            return F.col(f"{e.name}__length")
        return self.bindings.df[e.name]

    def _c_Prop(self, e: Prop) -> Column:
        # startNode(r).prop / endNode(r).prop: the function itself
        # returns the endpoint's id; a property access on it resolves
        # through the node VARIABLE bound at that endpoint (recorded on
        # the rel's VarInfo at pattern-compile time) — otherwise the id
        # (a long) would silently null under missing-property semantics
        if (
            isinstance(e.target, FuncCall)
            and e.target.name.lower() in ("startnode", "endnode")
            and len(e.target.args) == 1
            and isinstance(e.target.args[0], Var)
        ):
            rvar = e.target.args[0].name
            rinfo = self.bindings.vars.get(rvar)
            if rinfo is not None and rinfo.kind == "rel":
                is_start = e.target.name.lower() == "startnode"
                end = rinfo.src_var if is_start else rinfo.dst_var
                other = rinfo.dst_var if is_start else rinfo.src_var
                if end is not None and end in self.bindings.vars:
                    # undirected: src_var/dst_var are traversal order; the
                    # per-row __sw flag marks rows traversed against the
                    # stored orientation, where start/end swap (patterns.py)
                    sw = pcol(rvar, "__sw")
                    if sw in self.bindings.df.columns and other in self.bindings.vars:
                        return F.when(
                            F.col(sw), self._c_Prop(Prop(Var(other), e.key))
                        ).otherwise(self._c_Prop(Prop(Var(end), e.key)))
                    return self._c_Prop(Prop(Var(end), e.key))
        if isinstance(e.target, Var) and e.target.name not in self.lambda_vars:
            info = self.bindings.vars.get(e.target.name)
            if info is None:
                raise KeyError(f"undefined variable {e.target.name!r}")
            if info.kind in ("node", "rel"):
                if e.key == "id":
                    # the `id` property IS the entity id column
                    return self.bindings.df[e.target.name]
                phys = pcol(e.target.name, e.key)
                if phys in self.bindings.df.columns:
                    return self.bindings.df[phys]
                return F.lit(None)
        target = self.col(e.target)
        return self._dynamic_prop(target, e.key)

    def _dynamic_prop(self, target: Column, key: str) -> Column:
        if self.lambda_vars:
            # un-analyzable inside a lambda: getItem covers struct & map
            return target.getItem(key)
        dt = self.bindings.dtype(target)
        if isinstance(dt, T.StructType):
            if key in dt.fieldNames():
                return target.getField(key)
            return F.lit(None)
        if isinstance(dt, T.MapType):
            return F.try_element_at(target, F.lit(key))
        if isinstance(dt, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            fld = key.lower()
            if fld == "epochmillis":
                return (target.cast("timestamp").cast("double") * 1000).cast("long")
            if fld == "epochseconds":
                return target.cast("timestamp").cast("double").cast("long")
            if fld == "dayofweek":
                # ISO convention (Monday=1..Sunday=7) per the reference;
                # Spark's extract('dayofweek') would be Sunday=1
                return (F.weekday(target) + 1).cast("long")
            if fld in ("millisecond", "microsecond"):
                # integer microseconds via round (the raw double product
                # sits one ulp under the integer, e.g. 123455.99...);
                # millisecond = microsecond // 1000 per the reference
                us = F.round(
                    F.extract(F.lit("second"), target.cast("timestamp"))
                    .cast("double") % 1 * 1000000
                ).cast("long")
                return us if fld == "microsecond" else F.floor(us / 1000).cast("long")
            if fld in _TEMPORAL_FIELDS:
                unit = _TEMPORAL_FIELDS[fld]
                return F.extract(F.lit(unit), target).cast("long")
        if isinstance(dt, T.DayTimeIntervalType) or dt.simpleString() == "interval":
            # duration component access — approximate via casts
            secs = target.cast("bigint")
            comps = {
                "days": secs / 86400, "hours": secs / 3600,
                "minutes": secs / 60, "seconds": secs,
            }
            if key in comps:
                return comps[key].cast("long")
        return F.lit(None)

    # ------------------------------------------------------------------ #
    def _numeric_kinds(self, *cols: Column):
        # inside a lambda body the expression can't be analyzed standalone;
        # report unknown so callers use generic numeric behavior
        if self.lambda_vars:
            return [T.NullType() for _ in cols]
        return [self.bindings.dtype(c) for c in cols]

    # -- lightweight static type inference (needed inside lambda bodies,
    #    where Catalyst can't analyze sub-expressions standalone, and to
    #    decide comparability without per-comparison analyzer probes) --- #
    @property
    def _schema_kinds(self) -> dict:
        """Column name -> kind for the bindings frame (schema access is
        free — the frame is already analyzed)."""
        m = getattr(self, "_schema_kinds_cache", None)
        if m is None:
            m = {f.name: _dtype_kind(f.dataType) for f in self.bindings.df.schema.fields}
            self._schema_kinds_cache = m
        return m

    def _static_kind(self, e) -> str | None:
        from pycypher_nmetl_spark.cypher.ast_nodes import (
            BinOp as _B, ListLit as _LL, Literal as _L, Var as _V, FuncCall as _FC,
            Param as _P, Prop as _PR, UnaryOp as _U,
        )

        if isinstance(e, _L):
            v = e.value
            if v is None:
                return "null"
            if isinstance(v, bool):
                return "bool"
            if isinstance(v, str):
                return "string"
            if isinstance(v, int):
                return "int"
            if isinstance(v, float):
                return "float"
            return None
        if isinstance(e, _P):
            return _py_kind(self.params.get(e.name))
        if isinstance(e, _U):
            k = self._static_kind(e.operand)
            return k if k in ("int", "float") else None
        if isinstance(e, _V) and e.name not in self.lambda_vars:
            info = self.bindings.vars.get(e.name)
            if info is not None:
                if info.kind in ("node", "rel", "path"):
                    return "int"  # entity id / path length columns are long
                return self._schema_kinds.get(e.name)
        if isinstance(e, _PR) and isinstance(e.target, _V) and (
            e.target.name not in self.lambda_vars
        ):
            info = self.bindings.vars.get(e.target.name)
            if info is not None and info.kind in ("node", "rel"):
                if e.key == "id":
                    return "int"
                phys = pcol(e.target.name, e.key)
                if phys in self._schema_kinds:
                    return self._schema_kinds[phys]
                return "null"  # missing property compiles to lit(None)
        if isinstance(e, _LL):
            return "array"
        if isinstance(e, _V) and e.name in self.lambda_kinds:
            return self.lambda_kinds[e.name]
        if isinstance(e, _FC):
            if e.name in ("tostring", "join", "toupper", "tolower", "trim", "substring"):
                return "string"
            if e.name in ("tointeger", "size", "length"):
                return "int"
            if e.name in ("tofloat",):
                return "float"
            if e.name in ("range", "collect", "split", "tail", "sort", "flatten"):
                return "array"
        if isinstance(e, _B) and e.op == "+":
            lk, rk = self._static_kind(e.left), self._static_kind(e.right)
            if "string" in (lk, rk):
                return "string"
            if "array" in (lk, rk):
                return "array"
            if "float" in (lk, rk):
                return "float"
            if lk == rk == "int":
                return "int"
        return None

    @property
    def _field_dtypes(self) -> dict:
        m = getattr(self, "_field_dtypes_cache", None)
        if m is None:
            m = {f.name: f.dataType for f in self.bindings.df.schema.fields}
            self._field_dtypes_cache = m
        return m

    def _static_elem_kind(self, e) -> str | None:
        """Element kind of an array-valued expression, decided statically
        (no analyzer probe): list literals unify their items' kinds,
        params inspect the Python list, vars/props read ArrayType.
        elementType off the already-analyzed schema. None = unknown."""
        from pycypher_nmetl_spark.cypher.ast_nodes import (
            ListLit as _LL, Param as _P, Prop as _PR, Var as _V,
        )

        def _unify(kinds: set) -> str | None:
            kinds.discard("null")
            kinds.discard(None)
            if not kinds:
                return "null"
            if len(kinds) == 1:
                return kinds.pop()
            if kinds <= _NUMERIC_KINDS:
                return "float"
            return None

        if isinstance(e, _LL):
            ks = set()
            for x in e.items:
                k = self._static_kind(x)
                if isinstance(x, _V):
                    info = self.bindings.vars.get(x.name)
                    if info is not None and info.kind in ("node", "rel", "path"):
                        k = "entity"
                ks.add(k)
            u = _unify(set(ks))
            if u is None:
                # heterogeneous SCALAR literal: compiles to the dynamic
                # encoding (_c_ListLit) — report its element kind so
                # lambdas (toString etc.) dispatch correctly
                ks.discard("null")
                ks.discard(None)
                buckets = {
                    "num" if k in ("int", "float") else k for k in ks
                }
                # "array" joins the encodable buckets: a list mixing
                # lists with scalars compiles to the dynamic encoding
                # too (lists-only literals stay kind 'array' via _unify
                # above — they only encode when element types conflict,
                # which static inference can't always see)
                if buckets and buckets <= {
                    "num", "string", "bool", "dyn", "date", "timestamp",
                    "timestampntz", "array",
                }:
                    return "dyn"
            return u
        if isinstance(e, _P):
            v = self.params.get(e.name)
            if isinstance(v, (list, tuple)):
                return _unify({_py_kind(x) for x in v})
            return None
        dt = None
        if isinstance(e, _V) and e.name not in self.lambda_vars:
            dt = self._field_dtypes.get(e.name)
        elif isinstance(e, _PR) and isinstance(e.target, _V) and (
            e.target.name not in self.lambda_vars
        ):
            info = self.bindings.vars.get(e.target.name)
            if info is not None and info.kind in ("node", "rel"):
                dt = self._field_dtypes.get(pcol(e.target.name, e.key))
        if isinstance(dt, T.ArrayType):
            return _dtype_kind(dt.elementType)
        return None

    def _elem_kind(self, collection) -> str | None:
        """Element kind of a list expression (for lambda var typing)."""
        from pycypher_nmetl_spark.cypher.ast_nodes import ListLit as _LL, FuncCall as _FC

        if isinstance(collection, _LL):
            kinds = {self._static_kind(x) for x in collection.items}
            if None not in kinds:
                if len(kinds) == 1:
                    return kinds.pop()
                # mirror _static_elem_kind: a heterogeneous scalar
                # literal compiles to the dynamic encoding, so its
                # lambda elements are 'dyn' (toString etc. dispatch on
                # this)
                return self._static_elem_kind(collection)
            # an item of unknown static kind (e.g. a function call):
            # the ListLit compiler may still have chosen the dynamic
            # encoding after its own schema probe — fall through to the
            # analyzer probe below rather than guess from the known
            # items ([localdatetime(..), 1] is dyn, not 'int')
        elif isinstance(collection, _FC) and collection.name == "range":
            return "int"
        if not self.lambda_vars:
            from pycypher_nmetl_spark.compiler.dynval import is_dyn

            dt = self.bindings.dtype(self.col(collection))
            if isinstance(dt, T.ArrayType):
                if is_dyn(dt.elementType):
                    return "dyn"
                el = dt.elementType
                if isinstance(el, T.StringType):
                    return "string"
                if isinstance(el, _INT_TYPES):
                    return "int"
                if isinstance(el, (T.DoubleType, T.FloatType)):
                    return "float"
                if isinstance(el, T.ArrayType):
                    return "array"
        return None

    def _c_BinOp(self, e: BinOp) -> Column:
        if self._static_kind(e.left) == self._static_kind(e.right) == "null":
            # null <op> null is an untyped null; Spark would type it
            # double and cast a CASE's other branches to double with it
            return F.lit(None)
        l, r = self.col(e.left), self.col(e.right)
        if e.op == "+":
            lk, rk = self._static_kind(e.left), self._static_kind(e.right)
            if "string" in (lk, rk):
                return F.concat(l.cast("string"), r.cast("string"))
            if lk == "array" and rk == "array":
                return F.concat(l, r)
            if lk == "array":
                return F.concat(l, F.array(r))
            if rk == "array":
                return F.concat(F.array(l), r)
            if lk in ("int", "float") and rk in ("int", "float"):
                return l + r
            lt, rt = self._numeric_kinds(l, r)
            if isinstance(lt, T.StringType) or isinstance(rt, T.StringType):
                return F.concat(l.cast("string"), r.cast("string"))
            if isinstance(lt, T.ArrayType) and isinstance(rt, T.ArrayType):
                return F.concat(l, r)
            if isinstance(lt, T.ArrayType):
                return F.concat(l, F.array(r))
            if isinstance(rt, T.ArrayType):
                return F.concat(F.array(l), r)
            if self._null_with_interval(lt, rt):
                return F.lit(None).cast("timestamp_ntz")
            l, r = self._widen_date_for_interval(l, r, lt, rt)
            return self._temporal_result(l + r, lt, rt)
        if e.op == "-":
            lt, rt = self._numeric_kinds(l, r)
            if self._null_with_interval(lt, rt):
                return F.lit(None).cast("timestamp_ntz")
            l, r = self._widen_date_for_interval(l, r, lt, rt)
            return self._temporal_result(l - r, lt, rt)
        if e.op == "*":
            return l * r
        if e.op == "%":
            # x % 0 -> null, truncating remainder with the dividend's
            # sign (reference: arithmetic_evaluator.py:96-138). try_mod
            # nulls the zero-divisor rows instead of raising under
            # Spark's ANSI mode, and stays safe under constant folding
            # (a WHEN-guard would still fold-and-raise on `RETURN 1 % 0`).
            return F.try_mod(l, r)
        if e.op == "^":
            return F.pow(l, r)
        if e.op == "/":
            lk, rk = self._static_kind(e.left), self._static_kind(e.right)
            if lk == rk == "int":
                return self._int_div(l, r)
            if "float" in (lk, rk):
                return self._float_div(l, r)
            lt, rt = self._numeric_kinds(l, r)
            if isinstance(lt, _INT_TYPES) and isinstance(rt, _INT_TYPES):
                return self._int_div(l, r)
            return self._float_div(l, r)
        raise NotImplementedError(f"operator {e.op}")

    @staticmethod
    def _widen_date_for_interval(l: Column, r: Column, lt, rt):
        """date +- duration computes at timestamp resolution (Spark
        raises on date + interval with a sub-day part), then
        _temporal_result casts back to date — matching the reference's
        date-resolution semantics (sub-day components applied, result
        truncated to the date)."""
        interval = (
            T.DayTimeIntervalType, T.YearMonthIntervalType,
            T.CalendarIntervalType,
        )
        if isinstance(lt, T.DateType) and isinstance(rt, interval):
            return l.cast("timestamp_ntz"), r
        if isinstance(rt, T.DateType) and isinstance(lt, interval):
            return l, r.cast("timestamp_ntz")
        return l, r

    @staticmethod
    def _null_with_interval(lt, rt) -> bool:
        """null +- duration is null (reference: arithmetic null
        propagation); Spark rejects VOID + interval at analysis time, so
        the typed-null short-circuit happens here."""
        interval = (
            T.DayTimeIntervalType, T.YearMonthIntervalType,
            T.CalendarIntervalType,
        )
        return (isinstance(lt, T.NullType) and isinstance(rt, interval)) or (
            isinstance(rt, T.NullType) and isinstance(lt, interval)
        )

    @staticmethod
    def _temporal_result(res: Column, lt, rt) -> Column:
        """date ± duration stays a date (Cypher: components below the
        temporal type's resolution are discarded). Spark returns a
        timestamp for date ± day-time interval — cast back."""
        interval = (
            T.DayTimeIntervalType, T.YearMonthIntervalType,
            T.CalendarIntervalType,
        )
        if (isinstance(lt, T.DateType) and isinstance(rt, interval)) or (
            isinstance(rt, T.DateType) and isinstance(lt, interval)
        ):
            return res.cast("date")
        return res

    @staticmethod
    def _int_div(l: Column, r: Column) -> Column:
        """Integer division: truncation toward zero, x / 0 -> null
        (reference: arithmetic_evaluator.py:50-103). IntegralDivide
        (`div`) stays in 64-bit long arithmetic — a double round-trip
        (try_divide then cast) would lose precision for |q| > 2^53.
        The when() guard keeps zero divisors from reaching div under
        ANSI mode (CaseWhen branches evaluate lazily)."""
        return F.when(r == 0, F.lit(None).cast("long")).otherwise(
            F.call_function("div", l, r)
        )

    @staticmethod
    def _float_div(l: Column, r: Column) -> Column:
        """Float division: x/0.0 -> ±Infinity, 0.0/0.0 -> NaN (Cypher/IEEE
        semantics; Spark's ANSI mode would raise instead). try_divide keeps
        constant folding safe; the zero-divisor branch restores IEEE."""
        return (
            F.when(l.isNull() | r.isNull(), F.lit(None).cast("double"))
            .when(
                r == 0,
                F.when(l > 0, F.lit(float("inf")))
                .when(l < 0, F.lit(float("-inf")))
                .otherwise(F.lit(float("nan"))),
            )
            .otherwise(F.try_divide(l, r))
        )

    def _c_UnaryOp(self, e: UnaryOp) -> Column:
        c = self.col(e.operand)
        return -c if e.op == "-" else c

    def _c_Cmp(self, e: Cmp) -> Column:
        ops = {
            "=": lambda a, b: a == b,
            "<>": lambda a, b: a != b,
            "<": lambda a, b: a < b,
            "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b,
            ">=": lambda a, b: a >= b,
        }
        left = self.col(e.first)
        left_ast = e.first
        conds = []
        for op, rhs_ast in e.rest:
            right = self.col(rhs_ast)
            cond = ops[op](left, right)
            # Cypher: comparing incomparable types yields null, never an
            # error (reference: comparison_evaluator.py:99-158). Spark
            # rejects e.g. INT = BOOLEAN at analysis. Decide statically
            # from tracked kinds (free); only truly-unknown pairs pay a
            # driver-side analyzer probe — the probe is O(plan size), so
            # per-comparison probing was real latency on deep plans.
            if self.lambda_vars:
                # lambda scope: the frame can't be analyzer-probed (a
                # lambda variable is unresolvable outside its HOF), but
                # the TRACKED kinds still decide — a dyn-encoded element
                # (e.g. x in [x IN [1,'a'] WHERE x > 0]) compared
                # natively is an analysis error (struct vs literal), and
                # cross-type pairs must follow Cypher's rules, not SQL
                # coercion. Unknown kinds keep the native comparison
                # (today's behavior); vs a dyn side they fall to
                # cross-type semantics — the probe-free approximation.
                lk, rk = self._static_kind(left_ast), self._static_kind(rhs_ast)
                if "dyn" in (lk, rk):
                    cond = self._dyn_cmp(op, left, right, lk, rk, probe=False)
                else:
                    dec = _statically_comparable(lk, rk)
                    if dec == "cross":
                        cond = self._cross_type_cmp(op, left, right)
                    elif dec is False:
                        cond = F.lit(None).cast("boolean")
            else:
                lk, rk = self._static_kind(left_ast), self._static_kind(rhs_ast)
                if lk == "array" and rk == "array":
                    # element kinds decide statically where possible;
                    # only unknown element kinds pay the analyzer probe
                    lek = self._static_elem_kind(left_ast)
                    rek = self._static_elem_kind(rhs_ast)
                    edec = _array_elems_comparable(lek, rek)
                    if edec is None:
                        try:
                            self.bindings.df.select(cond.alias("_t")).schema  # noqa: B018
                            edec = True
                        except Exception:  # noqa: BLE001
                            edec = False
                    if edec is False:
                        cond = self._incomparable_list_cmp(op, left, right)
                elif "dyn" in (lk, rk):
                    cond = self._dyn_cmp(op, left, right, lk, rk)
                else:
                    dec = _statically_comparable(lk, rk)
                    if dec == "cross":
                        cond = self._cross_type_cmp(op, left, right)
                    elif dec is False:
                        cond = F.lit(None).cast("boolean")
                    elif dec is None:
                        # unknown static kind(s): one analyzer probe for
                        # BOTH dtypes — a dynamic-value column hiding
                        # behind an untracked expression (min(x), x[0])
                        # must take the dyn path, not native struct order
                        lk2, rk2 = self._probe_pair_kinds(left, right, lk, rk)
                        if "dyn" in (lk2, rk2):
                            cond = self._dyn_cmp(op, left, right, lk2, rk2)
                        else:
                            try:
                                self.bindings.df.select(cond.alias("_t")).schema  # noqa: B018
                            except Exception:  # noqa: BLE001
                                cond = F.lit(None).cast("boolean")
            conds.append(cond)
            left = right
            left_ast = rhs_ast
        return functools.reduce(lambda a, b: a & b, conds)

    def _probe_pair_kinds(self, left: Column, right: Column, lk, rk):
        """Resolve unknown kinds with ONE analyzer probe over both
        compiled columns (schema only — no job)."""
        if lk is not None and rk is not None:
            return lk, rk
        try:
            sch = self.bindings.df.select(
                left.alias("_l"), right.alias("_r")
            ).schema
            return (
                lk if lk is not None else _dtype_kind(sch[0].dataType),
                rk if rk is not None else _dtype_kind(sch[1].dataType),
            )
        except Exception:  # noqa: BLE001
            return lk, rk

    def _dyn_cmp(
        self, op: str, l: Column, r: Column, lk, rk, probe: bool = True
    ) -> Column:
        """Comparison where at least one side is a dynamic value: encode
        the other side, then native struct equality (cross-rank = false,
        exactly Cypher's cross-type rule) or rank-guarded ordering
        (cross-rank ordering = null). A side whose kind can't encode
        (map/array/entity) is a different VALUE TYPE from any runtime
        scalar the dynamic side can hold -> cross-type rules. ``probe``
        is off inside lambda scope, where the analyzer can't resolve
        lambda variables."""
        from pycypher_nmetl_spark.compiler.dynval import (
            dyn_order_cmp, encode_kind,
        )

        if probe:
            lk, rk = self._probe_pair_kinds(l, r, lk, rk)
        le = encode_kind(l, lk or "")
        re_ = encode_kind(r, rk or "")
        if le is None and lk == "array":
            le = self._encode_array_side(l)
        if re_ is None and rk == "array":
            re_ = self._encode_array_side(r)
        if le is None or re_ is None:
            return self._cross_type_cmp(op, l, r)
        if op == "=":
            return le == re_
        if op == "<>":
            return le != re_
        return dyn_order_cmp(op, le, re_)

    def _encode_array_side(self, c: Column) -> Column | None:
        """A native array side of a dyn comparison -> encoded LIST value
        (so `x = [1,2]` matches when a dynamic x holds the list [1,2]).
        None when the element type can't encode (nested/map/entity) —
        the caller falls back to cross-type semantics."""
        from pycypher_nmetl_spark.compiler.dynval import (
            encode_array, is_dyn,
        )

        try:
            dt = self.bindings.dtype(c)
        except Exception:  # noqa: BLE001 — unanalyzable
            return None
        if not isinstance(dt, T.ArrayType):
            return None
        ek = (
            "dyn" if is_dyn(dt.elementType) else _dtype_kind(dt.elementType)
        )
        return encode_array(c, ek or "")

    @staticmethod
    def _cross_type_cmp(op: str, l: Column, r: Column) -> Column:
        """Comparison of two DIFFERENT value types (string vs number,
        bool vs number, temporal vs number, ...): Neo4j defines `=` as
        false and `<>` as true across value types (null-propagating),
        and orderings as null. Reference: comparison_evaluator.py:99-158
        (raw pandas equality — '1' == 1 is False, never coerced)."""
        null = F.lit(None).cast("boolean")
        base = F.when(l.isNull() | r.isNull(), null)
        if op == "=":
            return base.otherwise(F.lit(False))
        if op == "<>":
            return base.otherwise(F.lit(True))
        return null

    @staticmethod
    def _incomparable_list_cmp(op: str, l: Column, r: Column) -> Column:
        """Cypher comparison of two lists whose element kinds can NEVER
        coerce (e.g. array<bigint> vs array<string>). Neo4j compares lists
        lexicographically with ternary element comparisons, so when every
        element-pair comparison is null the outcome is decided by sizes
        alone: `[1,2,3] = ['a','b']` -> false (size mismatch), equal-size
        non-empty -> null (first pair is null), `[] = []` -> true, and
        orderings resolve only via empty prefixes (`[] < [x]` -> true).
        Reference: comparison_evaluator.py evaluate_comparison (Python
        list equality -> False) + openCypher CIP-2016-06-14 ordering."""
        null = F.lit(None).cast("boolean")
        ls, rs = F.size(l), F.size(r)
        base = F.when(l.isNull() | r.isNull(), null)
        if op == "=":
            return (
                base.when(ls != rs, F.lit(False))
                .when((ls == 0) & (rs == 0), F.lit(True))
                .otherwise(null)
            )
        if op == "<>":
            return (
                base.when(ls != rs, F.lit(True))
                .when((ls == 0) & (rs == 0), F.lit(False))
                .otherwise(null)
            )
        if op == "<":
            return (
                base.when((ls == 0) & (rs > 0), F.lit(True))
                .when(rs == 0, F.lit(False))
                .otherwise(null)
            )
        if op == "<=":
            return (
                base.when(ls == 0, F.lit(True))
                .when(rs == 0, F.lit(False))
                .otherwise(null)
            )
        if op == ">":
            return (
                base.when((rs == 0) & (ls > 0), F.lit(True))
                .when(ls == 0, F.lit(False))
                .otherwise(null)
            )
        if op == ">=":
            return (
                base.when(rs == 0, F.lit(True))
                .when(ls == 0, F.lit(False))
                .otherwise(null)
            )
        return null

    def _c_BoolOp(self, e: BoolOp) -> Column:
        cols = [self.col(x).cast("boolean") for x in e.operands]
        if e.op == "AND":
            return functools.reduce(lambda a, b: a & b, cols)
        if e.op == "OR":
            return functools.reduce(lambda a, b: a | b, cols)
        # XOR: null-propagating inequality on booleans (Kleene-correct)
        return functools.reduce(lambda a, b: a != b, cols)

    def _c_Not(self, e: Not) -> Column:
        return ~self.col(e.operand).cast("boolean")

    def _c_IsNull(self, e: IsNull) -> Column:
        c = self.col(e.operand)
        return c.isNotNull() if e.negated else c.isNull()

    def _c_StringPred(self, e: StringPred) -> Column:
        l, r = self.col(e.left), self.col(e.right)
        if e.kind == "STARTS_WITH":
            return l.startswith(r)
        if e.kind == "ENDS_WITH":
            return l.endswith(r)
        if e.kind == "CONTAINS":
            return l.contains(r)
        # full-string regex match (Cypher `=~`)
        if isinstance(e.right, Literal) and isinstance(e.right.value, str):
            return l.rlike(f"^(?:{e.right.value})$")
        return F.regexp_like(l, F.concat(F.lit("^(?:"), r, F.lit(")$")))

    def _c_InList(self, e: InList) -> Column:
        """`x IN list` — ternary OR over element equalities, using the
        same cross-type rules as `=`: `1 IN ['1']` is false (Neo4j),
        never Spark's implicit cast making it true.

        Round-5 ADVICE fix: when the item's kind is not statically
        known, probe the analyzer for its Spark dtype (driver-side
        only), so `$p IN ['1']` keeps cross-type semantics regardless
        of whether the param kind was tracked. Inside lambdas (where
        probing can't analyze the expression) a literal element list
        falls back to a runtime `typeof`-guarded ternary OR."""
        item = self.col(e.item)
        # _static_kind is lambda-aware (lambda_kinds), so a dyn-encoded
        # lambda element (x IN ... inside [x IN [1,'a'] | ...]) routes
        # through the dyn paths instead of a native struct comparison
        ik = self._static_kind(e.item)
        if ik is None and not self.lambda_vars:
            probed = _dtype_kind(self.bindings.dtype(item))
            # a failed probe reports NullType -> "null"; the native
            # operators already yield null for a null-typed item, so
            # only adopt definite non-null kinds
            if probed not in (None, "null"):
                ik = probed

        def _elem_match(k1, k2):
            # True: native equality applies; False: cross-type (never
            # equal); None: unknown — fall back to the native operator
            dec = _statically_comparable(k1, k2) if k1 and k2 else None
            return {True: True, "cross": False, False: False}.get(dec)

        # a Param bound to a concrete scalar list is as statically known
        # as a literal list — route it through the same element-wise
        # cross-type filtering (round-5 fix: it previously fell through
        # to array_contains over a type-coerced literal array, so
        # `p.size IN $sizes` with sizes=[1,'5'] matched size 5)
        vals = None
        if isinstance(e.collection, ListLit) and all(
            isinstance(x, Literal) for x in e.collection.items
        ):
            vals = [x.value for x in e.collection.items]
        elif isinstance(e.collection, Param):
            pv = self.params.get(e.collection.name)
            if isinstance(pv, (list, tuple)) and not any(
                isinstance(x, (list, tuple, dict)) for x in pv
            ):
                vals = list(pv)
        if vals is not None:
            if not vals:
                return F.lit(False)  # openCypher: x IN [] is false, even null x
            if ik == "dyn":
                return self._dyn_in_literals(item, vals)
            if ik is not None:
                keep, unknown = [], False
                for v in vals:
                    m = True if v is None else _elem_match(ik, _py_kind(v))
                    if m is None:
                        unknown = True
                        break
                    if m:
                        keep.append(v)
                if not unknown:
                    if not keep:  # all elements cross-type, none null
                        return F.when(
                            item.isNull(), F.lit(None).cast("boolean")
                        ).otherwise(F.lit(False))
                    return item.isin(keep)
            if self.lambda_vars:
                return self._runtime_in_literals(item, vals)
            return item.isin(vals)
        coll = self.col(e.collection)
        ek = self._static_elem_kind(e.collection)
        if ek is None and not self.lambda_vars:
            cdt = self.bindings.dtype(coll)
            if isinstance(cdt, T.ArrayType):
                ek = _dtype_kind(cdt.elementType)
        if "dyn" in (ik, ek):
            from pycypher_nmetl_spark.compiler.dynval import encode_kind

            if ek == "dyn":
                probe = encode_kind(item, ik or "")
                if probe is None and ik == "array":
                    probe = self._encode_array_side(item)
                if probe is not None:
                    return F.array_contains(coll, probe)
            elif ek not in (None, "null") and encode_kind(F.lit(None), ek) is not None:
                # dynamic item vs mono-typed collection: lift the
                # elements into the dynamic encoding
                return F.array_contains(
                    F.transform(coll, lambda x: encode_kind(x, ek)), item
                )
            # unencodable pairing: the dynamic side can never equal a
            # map/list/entity element — incomparable semantics below
            null = F.lit(None).cast("boolean")
            return (
                F.when(item.isNull() | coll.isNull(), null)
                .when(F.exists(coll, lambda x: x.isNull()), null)
                .otherwise(F.lit(False))
            )
        if ek not in (None, "null") and _elem_match(ik, ek) is False:
            null = F.lit(None).cast("boolean")
            return (
                F.when(item.isNull() | coll.isNull(), null)
                .when(F.exists(coll, lambda x: x.isNull()), null)
                .otherwise(F.lit(False))
            )
        return F.array_contains(coll, item)

    def _dyn_in_literals(self, item: Column, vals: list) -> Column:
        """`x IN [literals]` for a dynamic x: encode each literal and
        use null-tail IN semantics (match -> true; no match -> null if
        the list holds null, else false; null x -> null)."""
        from pycypher_nmetl_spark.compiler.dynval import encode_py

        null = F.lit(None).cast("boolean")
        enc = [encode_py(v) for v in vals if v is not None]
        enc = [c for c in enc if c is not None]
        has_null = any(v is None for v in vals)
        matched = (
            F.array_contains(F.array(*enc), item) if enc else F.lit(False)
        )
        return (
            F.when(item.isNull(), null)
            .when(matched, F.lit(True))
            .otherwise(null if has_null else F.lit(False))
        )

    @staticmethod
    def _runtime_in_literals(item: Column, vals: list) -> Column:
        """`x IN [literals...]` when x's kind is unknowable at compile
        time (lambda context): guard each element equality with a
        runtime check that x's Spark type class matches the literal's —
        `typeof()` is constant-folded per column, so the guard costs
        nothing per row. try_cast keeps ANSI mode from throwing on the
        unreached branch (`false AND <error>` never evaluates safely in
        Spark — there is no short-circuit guarantee)."""
        t = F.typeof(item)
        kind_class = (
            F.when(
                t.rlike("^(tinyint|smallint|int|bigint|float|double|decimal.*)$"),
                F.lit("num"),
            )
            .when(t == "string", F.lit("string"))
            .when(t == "boolean", F.lit("bool"))
            .otherwise(F.concat(F.lit("other:"), t))
        )

        def _match(v) -> Column:
            if isinstance(v, bool):
                return (kind_class == "bool") & (
                    item.try_cast("boolean") == F.lit(v)
                )
            if isinstance(v, (int, float)):
                return (kind_class == "num") & (
                    item.try_cast("double") == F.lit(float(v))
                )
            if isinstance(v, str):
                return (kind_class == "string") & (
                    item.try_cast("string") == F.lit(v)
                )
            # non-scalar literal kinds can't appear in a parsed literal
            # list; be safe and never match
            return F.lit(False)

        null = F.lit(None).cast("boolean")
        non_null = [v for v in vals if v is not None]
        any_match = (
            functools.reduce(lambda a, b: a | b, [_match(v) for v in non_null])
            if non_null
            else F.lit(False)
        )
        tail = null if len(non_null) < len(vals) else F.lit(False)
        return (
            F.when(item.isNull(), null)
            .when(any_match, F.lit(True))
            .otherwise(tail)
        )

    def _c_Index(self, e: Index) -> Column:
        # n['key'] on a node/rel variable is dynamic property access
        # (reference: binding_evaluator.py:612-640)
        if (
            isinstance(e.target, Var)
            and e.target.name not in self.lambda_vars
            and isinstance(e.index, Literal)
            and isinstance(e.index.value, str)
        ):
            info = self.bindings.vars.get(e.target.name)
            if info is not None and info.kind in ("node", "rel"):
                return self._c_Prop(Prop(e.target, e.index.value))
        target = self.col(e.target)
        dt = T.NullType() if self.lambda_vars else self.bindings.dtype(target)
        idx = self.col(e.index)
        if not self.lambda_vars and isinstance(dt, T.NullType):
            # null[anything] is null (TCK: null-subscript); Spark's
            # element_at rejects a VOID-typed target at analysis time
            return F.lit(None)
        if isinstance(dt, T.MapType):
            return F.try_element_at(target, idx)
        if isinstance(dt, T.StructType):
            if isinstance(e.index, Literal) and isinstance(e.index.value, str):
                if e.index.value in dt.fieldNames():
                    return target.getField(e.index.value)
                return F.lit(None)
            # dynamic key over a struct-modelled map (TCK: m[k] with a
            # variable key): a CASE over the statically-known fields —
            # the field set IS static in the struct model, only the
            # lookup key is runtime data
            key = idx.cast("string")
            result = None
            for name in dt.fieldNames():
                branch = target.getField(name)
                result = (
                    F.when(key == name, branch)
                    if result is None
                    else result.when(key == name, branch)
                )
            return result if result is not None else F.lit(None)
        if isinstance(e.index, Literal) and isinstance(e.index.value, int):
            i = e.index.value
            return F.try_element_at(target, F.lit(i + 1 if i >= 0 else i))
        idx = idx.cast("int")
        return F.when(idx >= 0, F.try_element_at(target, idx + F.lit(1))).otherwise(
            F.try_element_at(target, idx)
        )

    def _c_Slice(self, e: Slice) -> Column:
        xs = self.col(e.target)
        n = F.size(xs)
        lo = self.col(e.lo).cast("int") if e.lo is not None else F.lit(0)
        hi = self.col(e.hi).cast("int") if e.hi is not None else n
        lo = F.when(lo < 0, F.greatest(n + lo, F.lit(0))).otherwise(F.least(lo, n))
        hi = F.when(hi < 0, F.greatest(n + hi, F.lit(0))).otherwise(F.least(hi, n))
        length = F.greatest(hi - lo, F.lit(0))
        return F.when(length == 0, F.slice(xs, 1, 0)).otherwise(F.slice(xs, lo + 1, length))

    def _c_CaseExpr(self, e: CaseExpr) -> Column:
        result = None
        if e.operand is not None:
            if is_nondeterministic(e.operand):
                # CASE rand() WHEN ...: the operand must be evaluated
                # ONCE per row — expanding it into each WHEN's Cmp would
                # draw a fresh rand() per branch. Bind it as a HOF
                # lambda element (array(op) evaluates the operand once;
                # every reference to the lambda variable sees that one
                # value), then run the normal WHEN chain over the bound
                # variable. Interpreted (not codegen) — acceptable for
                # the rare nondeterministic-operand shape only.
                opc = self.col(e.operand)
                ok = self._static_kind(e.operand)

                def _chain(bound: Column) -> Column:
                    res = None
                    for cond_ast, val_ast in e.whens:
                        cond = self._with_lambda(
                            "__case_op",
                            bound,
                            lambda ca=cond_ast: self._c_Cmp(
                                Cmp(Var("__case_op"), [("=", ca)])
                            ),
                            ok,
                        )
                        val = self.col(val_ast)
                        res = (
                            F.when(cond, val)
                            if res is None
                            else res.when(cond, val)
                        )
                    if e.default is not None:
                        res = res.otherwise(self.col(e.default))
                    return res

                return F.get(F.transform(F.array(opc), _chain), 0)
            for cond_ast, val_ast in e.whens:
                # route through the full comparison machinery: dynamic
                # (mixed-type) operands encode, cross-type WHENs are
                # false instead of an analysis error
                cond = self._c_Cmp(Cmp(e.operand, [("=", cond_ast)]))
                val = self.col(val_ast)
                result = F.when(cond, val) if result is None else result.when(cond, val)
        else:
            for cond_ast, val_ast in e.whens:
                cond = self.col(cond_ast).cast("boolean")
                val = self.col(val_ast)
                result = F.when(cond, val) if result is None else result.when(cond, val)
        if e.default is not None:
            result = result.otherwise(self.col(e.default))
        return result

    # ------------------------------------------------------------------ #
    # higher-order list operations -> Spark lambda functions
    # (reference: collection_evaluator.py:319-733)
    # ------------------------------------------------------------------ #
    def _with_lambda(self, name: str, col: Column, body_fn, kind: str | None = None):
        saved = self.lambda_vars.get(name)
        saved_kind = self.lambda_kinds.get(name)
        self.lambda_vars[name] = col
        self.lambda_kinds[name] = kind
        try:
            return body_fn()
        finally:
            if saved is None:
                self.lambda_vars.pop(name, None)
                self.lambda_kinds.pop(name, None)
            else:
                self.lambda_vars[name] = saved
                self.lambda_kinds[name] = saved_kind

    def _c_ListComp(self, e: ListComp) -> Column:
        ek = self._elem_kind(e.collection)
        out = self.col(e.collection)
        if e.where is not None:
            out = F.filter(
                out,
                lambda x: self._with_lambda(
                    e.var, x, lambda: self.col(e.where).cast("boolean"), ek
                ),
            )
        if e.projection is not None:
            out = F.transform(
                out,
                lambda x: self._with_lambda(
                    e.var, x, lambda: self.col(e.projection), ek
                ),
            )
        return out

    def _c_Quantifier(self, e: Quantifier) -> Column:
        ek = self._elem_kind(e.collection)
        coll = self.col(e.collection)
        pred = lambda x: self._with_lambda(  # noqa: E731
            e.var, x, lambda: self.col(e.where).cast("boolean"), ek
        ) if e.where is not None else F.lit(True)
        if e.kind == "ALL":
            return F.forall(coll, pred)
        if e.kind == "ANY":
            return F.exists(coll, pred)
        if e.kind == "NONE":
            return ~F.exists(coll, pred)
        # SINGLE
        return F.size(F.filter(coll, pred)) == 1

    def _c_Reduce(self, e: Reduce) -> Column:
        ek = self._elem_kind(e.collection)
        ak = self._static_kind(e.init)
        # Spark's aggregate() requires the zero type to equal the merge
        # lambda's result type, but Cypher's accumulator is dynamically
        # typed: `reduce(acc = 5, x IN bigints | acc + x)` must not fail
        # on INT-vs-BIGINT. Infer the merge-body kind with acc/x bound,
        # then unify: int accumulators run as BIGINT (Cypher ints are
        # 64-bit), any float in the tower promotes the fold to DOUBLE.
        _missing = object()
        saved = {
            n: (self.lambda_vars.get(n, _missing), self.lambda_kinds.get(n, _missing))
            for n in (e.var, e.acc)
        }
        self.lambda_vars[e.var] = F.lit(None)
        self.lambda_kinds[e.var] = ek
        self.lambda_vars[e.acc] = F.lit(None)
        self.lambda_kinds[e.acc] = ak
        try:
            bk = self._static_kind(e.body)
        finally:
            for n, (sv, sk) in saved.items():
                if sv is _missing:
                    self.lambda_vars.pop(n, None)
                else:
                    self.lambda_vars[n] = sv
                if sk is _missing:
                    self.lambda_kinds.pop(n, None)
                else:
                    self.lambda_kinds[n] = sk
        kinds = {k for k in (ak, bk) if k not in (None, "null")}
        acc_cast = None
        if kinds == {"int"}:
            acc_cast = "long"
        elif kinds and kinds <= {"int", "float"}:
            acc_cast = "double"
        coll = self.col(e.collection)
        init = self.col(e.init)
        if acc_cast:
            init = init.cast(acc_cast)

        unified_ak = {"long": "int", "double": "float"}.get(acc_cast, ak)

        def merge(acc, x):
            def body():
                saved = self.lambda_vars.get(e.acc)
                saved_kind = self.lambda_kinds.get(e.acc)
                self.lambda_vars[e.acc] = acc
                self.lambda_kinds[e.acc] = unified_ak
                try:
                    out = self.col(e.body)
                    return out.cast(acc_cast) if acc_cast else out
                finally:
                    if saved is None:
                        self.lambda_vars.pop(e.acc, None)
                        self.lambda_kinds.pop(e.acc, None)
                    else:
                        self.lambda_vars[e.acc] = saved
                        self.lambda_kinds[e.acc] = saved_kind

            return self._with_lambda(e.var, x, body, ek)

        return F.aggregate(coll, init, merge)

    # ------------------------------------------------------------------ #
    def _c_LabelPred(self, e: LabelPred) -> Column:
        info = self.bindings.vars.get(e.var)
        if info is None:
            raise KeyError(f"undefined variable {e.var!r}")
        label_col = pcol(e.var, "label")
        if label_col in self.bindings.df.columns:
            return self.bindings.df[label_col].isin(list(e.labels))
        hit = all(l in info.labels for l in e.labels)
        return F.when(self.bindings.df[e.var].isNull(), F.lit(None).cast("boolean")).otherwise(F.lit(hit))

    def _c_MapProjection(self, e: MapProjection) -> Column:
        info = self.bindings.vars.get(e.var)
        fields: list[Column] = []
        for kind, payload in e.items:
            if kind == "prop":
                fields.append(self.col(Prop(Var(e.var), payload)).alias(payload))
            elif kind == "var":
                fields.append(self.col(Var(payload)).alias(payload))
            elif kind == "expr":
                key, expr = payload
                fields.append(self.col(expr).alias(key))
            elif kind == "all":
                if info and info.kind in ("node", "rel"):
                    for c in self.bindings.prop_columns(e.var):
                        fields.append(self.bindings.df[c].alias(c[len(e.var) + 2 :]))
                else:
                    # `.*` on a plain map/struct value (TCK
                    # map-projection-all): spread its statically-known
                    # fields — the struct model makes the key set static
                    target = self.col(Var(e.var))
                    dt = self.bindings.dtype(target)
                    if isinstance(dt, T.StructType):
                        for fname in dt.fieldNames():
                            fields.append(target.getField(fname).alias(fname))
        return F.struct(*fields)

    def _c_FuncCall(self, e: FuncCall) -> Column:
        name = e.name
        if (
            name in ("min", "max")
            and len(e.args) == 1
            and isinstance(e.args[0], ListLit)
        ):
            # scalar list variant (reference: scalar_function_evaluator.py:474-515)
            fn = F.array_min if name == "min" else F.array_max
            return fn(self.col(e.args[0]))
        if name in AGGREGATE_FUNCTIONS:
            if self.agg_map:
                from pycypher_nmetl_spark.compiler.astutil import ast_key

                k = ast_key(e)
                if k in self.agg_map:
                    return self.bindings.df[self.agg_map[k]]
            raise ValueError(
                f"aggregate function {name}() used outside RETURN/WITH projection"
            )
        if name in self.functions:
            return self.functions[name](self, e.args)
        if name in SCALAR_FUNCTIONS:
            return SCALAR_FUNCTIONS[name](self, e.args)
        raise KeyError(f"unknown function {name}()")

    def _c_CountStar(self, e: CountStar) -> Column:
        if self.agg_map:
            from pycypher_nmetl_spark.compiler.astutil import ast_key

            k = ast_key(e)
            if k in self.agg_map:
                return self.bindings.df[self.agg_map[k]]
        raise ValueError("count(*) used outside RETURN/WITH projection")

    def _c_ExistsSub(self, e: ExistsSub) -> Column:
        raise NotImplementedError(
            "EXISTS subquery must be materialized before expression compilation"
        )

    _c_PatternPred = _c_ExistsSub
    _c_PatternComp = _c_ExistsSub
