"""Generic AST walking / structural keys for the compiler."""

from __future__ import annotations

import dataclasses
from collections import Counter
from typing import Any, Iterator

from pycypher_nmetl_spark.cypher.ast_nodes import (
    Create, CountStar, Delete, Expr, Foreach, FuncCall, MapLit, MapProjection,
    Merge, NodePattern, PathPattern, Projection, Prop, QuantPathPattern,
    RelPattern, Remove, SetClause, UnionQuery, Var,
)
from pycypher_nmetl_spark.functions.scalar import AGGREGATE_FUNCTIONS


def walk(node: Any, stop: tuple[type, ...] = ()) -> Iterator[Any]:
    """Yield node and all dataclass descendants, pre-order and left to
    right; subtrees rooted at a ``stop`` type are skipped (not yielded)."""
    stack = [node]
    while stack:
        n = stack.pop()
        if isinstance(n, (list, tuple)):
            stack.extend(reversed(n))
        elif (
            dataclasses.is_dataclass(n)
            and not isinstance(n, type)
            and not isinstance(n, stop)
        ):
            yield n
            stack.extend(
                getattr(n, f.name) for f in reversed(dataclasses.fields(n))
            )


#: every call draws a fresh value
_RANDOM_FUNCTIONS = frozenset({"rand", "randomuuid"})
#: the clock functions of functions/scalar.py: a zero-argument call reads
#: the current date/time
_CLOCK_FUNCTIONS = frozenset(
    {"date", "datetime", "localdate", "localdatetime", "localtime", "timestamp", "now"}
)


def is_nondeterministic(node: Any) -> bool:
    """True when the AST (query / clause / expression, any nesting) calls
    a function whose value can differ between two evaluations: rand(),
    randomUUID() or a zero-argument clock call such as datetime().

    The package's one AST-level nondeterminism rule: it decides result-
    cache admission, CALL {} invocation granularity (a nondeterministic
    body runs once per invoking row), the evaluate-once binding of a CASE
    operand, and the fallback of the engine's analyzed-plan check."""
    return any(
        isinstance(n, FuncCall)
        and (
            n.name in _RANDOM_FUNCTIONS
            or (not n.args and n.name in _CLOCK_FUNCTIONS)
        )
        for n in walk(node)
    )


#: the clauses that write to the catalog
MUTATION_CLAUSES = (Create, SetClause, Remove, Delete, Merge, Foreach)


def mutates(query: Any) -> bool:
    """True when a top-level clause of the query (of every UNION branch;
    a CALL {} branch counts as a query) writes. The package's one write
    rule: it picks the transaction a query runs in, keeps writes out of
    the result cache and out of CALL {} bodies, and gates the health
    server's read-only /query endpoint."""
    branches = query.branches if isinstance(query, UnionQuery) else [query]
    return any(isinstance(c, MUTATION_CLAUSES) for b in branches for c in b.clauses)


def property_uses(queries: Any) -> dict[str, frozenset[str]]:
    """{name: the property keys the variable reads} over the queries'
    UNION branches and subquery bodies. The package's one property-use
    rule: scans bind only these properties (patterns._bound_props).

    Fail-safe: an absent name reads every property. A name is left out
    when its set cannot be proven: a bare use (``RETURN n``, ``count(n)``,
    ``WITH n AS m``, ``n[k]``, ``properties(n)``), a ``n{.*}`` or ``{v}``
    map-projection item, a ``$param`` property map, an element of a named
    or quantified path, a name the query does not spell (``_anon*``,
    ``_vl*``, qpp.py's renames). A mutating query or a ``*`` projection
    gives {}. A property read off a non-variable (``startNode(r).k``)
    adds its key to every set."""
    uses: dict[str, set[str]] = {}
    bare: Counter = Counter()  # Var occurrences that are not a Prop target
    every: set[str] = set()
    extra: set[str] = set()
    for n in walk(queries):
        if isinstance(n, MUTATION_CLAUSES) or (isinstance(n, Projection) and n.star):
            return {}
        if isinstance(n, Var):
            bare[n.name] += 1
        elif isinstance(n, Prop) and isinstance(n.target, Var):
            uses.setdefault(n.target.name, set()).add(n.key)
            bare[n.target.name] -= 1
        elif isinstance(n, Prop):
            extra.add(n.key)
        elif isinstance(n, MapProjection):
            for kind, payload in n.items:
                if kind == "prop":
                    uses.setdefault(n.var, set()).add(payload)
                elif kind in ("all", "var"):
                    every.add(n.var if kind == "all" else payload)
        elif isinstance(n, (NodePattern, RelPattern)):
            # _ensure_var writes _anon names into the (cached) AST
            if n.var and not n.var.startswith("_anon"):
                keys = uses.setdefault(n.var, set())
                if isinstance(n.props, MapLit):
                    keys.update(k for k, _ in n.props.pairs)
                elif n.props is not None:
                    every.add(n.var)
        elif isinstance(n, PathPattern) and (
            n.var or any(isinstance(e, QuantPathPattern) for e in n.elements)
        ):
            every.update(e.var for e in walk(n.elements) if hasattr(e, "var"))
    every.update(v for v, cnt in bare.items() if cnt > 0)
    return {v: frozenset(k | extra) for v, k in uses.items() if v not in every}


def ast_key(node: Any) -> Any:
    """Structural (hashable) key for an AST node — used to match the same
    aggregate expression appearing in both RETURN items and ORDER BY."""
    if dataclasses.is_dataclass(node) and not isinstance(node, type):
        return (
            type(node).__name__,
            tuple(ast_key(getattr(node, f.name)) for f in dataclasses.fields(node)),
        )
    if isinstance(node, (list, tuple)):
        return tuple(ast_key(x) for x in node)
    return node


def find_aggregates(expr: Expr) -> list[Expr]:
    """All aggregate-function call nodes in an expression tree.

    min/max over a *literal list* are the scalar array-min/max variants
    (reference: scalar_function_evaluator.py:474-515), not aggregates.
    """
    from pycypher_nmetl_spark.cypher.ast_nodes import ListLit

    out = []
    for n in walk(expr):
        if isinstance(n, CountStar):
            out.append(n)
        elif isinstance(n, FuncCall) and n.name in AGGREGATE_FUNCTIONS:
            if (
                n.name in ("min", "max")
                and len(n.args) == 1
                and isinstance(n.args[0], ListLit)
            ):
                continue
            out.append(n)
    return out


def contains_aggregate(expr: Expr) -> bool:
    return bool(find_aggregates(expr))
