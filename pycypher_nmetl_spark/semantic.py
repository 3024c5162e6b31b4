"""Pre-execution semantic validation with the reference's error taxonomy.

Reference parity: semantic_validator.py (SemanticValidator,
VariableScope, ValidationError, validate_query) — undefined-variable
errors with "Defined variables: ..." listings and did-you-mean hints
(shared/helpers.py:81 suggest_close_match), WITH-scope shadowing,
mixed-aggregation warnings on RETURN, plus aggregation-misuse in WHERE.

Everything here is a pure-Python AST walk: deterministic messages,
raised BEFORE any Spark plan is built or job launched. The engine runs
it at the top of execute(); tests/test_semantic_validation.py mirrors
the reference's test cases and tests/test_error_resilience.py asserts
no Spark job is launched for invalid queries.
"""

from __future__ import annotations

import dataclasses
from dataclasses import dataclass, field
from difflib import get_close_matches
from enum import Enum
from typing import Any, Iterable

from pycypher_nmetl_spark.compiler.astutil import walk
from pycypher_nmetl_spark.cypher.ast_nodes import (
    CallProc, CallSubquery, CountStar, Create, Delete, ExistsSub, Expr,
    Foreach, FuncCall, ListComp, MapProjection, Match, Merge, NodePattern,
    PathPattern, PatternComp, PatternPred, Projection, Quantifier, Query,
    Reduce, RelPattern, Remove, SetClause, UnionQuery, Unwind, Var,
)


class ErrorSeverity(Enum):
    """Severity levels for validation errors (reference parity)."""

    ERROR = "error"
    WARNING = "warning"
    INFO = "info"


@dataclass
class ValidationError:
    """One semantic finding (reference: semantic_validator.py:47-64)."""

    severity: ErrorSeverity
    message: str
    line: int | None = None
    column: int | None = None
    node_type: str | None = None
    variable_name: str | None = None

    def __str__(self) -> str:
        location = ""
        if self.line is not None:
            location = f"Line {self.line}"
            if self.column is not None:
                location += f":{self.column}"
            location += " - "
        return f"{location}{self.severity.value.upper()}: {self.message}"


class SemanticValidationError(ValueError):
    """Raised by the engine when validation finds ERROR-severity issues."""

    def __init__(self, errors: list[ValidationError]):
        self.errors = errors
        super().__init__("; ".join(str(e) for e in errors))


def suggest_close_match(target: str, candidates: Iterable[str]) -> str:
    """Did-you-mean hint (reference shared/helpers.py:81-110): empty when
    the target is already valid or nothing is close enough."""
    cands = list(candidates)
    if target in cands:
        return ""
    hits = get_close_matches(target, cands, n=1, cutoff=0.6)
    return f"  Did you mean '{hits[0]}'?" if hits else ""


class VariableScope:
    """Variable bindings for one WITH-delimited query segment
    (reference: semantic_validator.py:68-108)."""

    def __init__(self, parent: "VariableScope | None" = None) -> None:
        self.parent = parent
        self.defined_vars: set[str] = set()
        self.used_vars: set[str] = set()
        #: a CALL without YIELD exposes implicit columns the validator
        #: cannot enumerate; an open scope suppresses undefined checks
        self.open = False

    def define(self, var_name: str) -> None:
        self.defined_vars.add(var_name)

    def use(self, var_name: str) -> None:
        self.used_vars.add(var_name)

    def is_defined(self, var_name: str) -> bool:
        if var_name in self.defined_vars:
            return True
        if self.parent is not None:
            return self.parent.is_defined(var_name)
        return False

    def is_open(self) -> bool:
        return self.open or (self.parent is not None and self.parent.is_open())

    def get_undefined_vars(self) -> set[str]:
        if self.is_open():
            return set()
        return {v for v in self.used_vars if not self.is_defined(v)}

    def all_defined(self) -> set[str]:
        out = set(self.defined_vars)
        if self.parent is not None:
            out |= self.parent.all_defined()
        return out

    def create_child_scope(self) -> "VariableScope":
        return VariableScope(parent=self)


def _agg_names() -> frozenset[str]:
    from pycypher_nmetl_spark.functions.scalar import AGGREGATE_FUNCTIONS

    return frozenset(AGGREGATE_FUNCTIONS)


def _known_functions() -> set[str]:
    from pycypher_nmetl_spark.functions.scalar import (
        AGGREGATE_FUNCTIONS, SCALAR_FUNCTIONS,
    )

    return set(SCALAR_FUNCTIONS) | set(AGGREGATE_FUNCTIONS)


class SemanticValidator:
    """Walks the parsed AST, tracking scopes and collecting findings.

    Checks (reference semantic_validator.py:111-509):
    - undefined variables, with defined-variable listing + close-match
      hint, scope-aware across WITH boundaries (shadowing)
    - mixed aggregated / non-aggregated RETURN items -> WARNING about
      implicit grouping
    - aggregation calls inside WHERE -> ERROR (use WITH ... WHERE)
    - unknown function names -> WARNING with did-you-mean
    """

    def __init__(self, extra_functions: Iterable[str] = ()) -> None:
        self.errors: list[ValidationError] = []
        self._aggs = _agg_names()
        self._functions = _known_functions() | {f.lower() for f in extra_functions}

    # ------------------------------------------------------------------ #
    def validate(self, ast: Query | UnionQuery) -> list[ValidationError]:
        self.errors = []
        self._check_reserved_names(ast)
        if isinstance(ast, UnionQuery):
            for branch in ast.branches:
                self._validate_query(branch)
        else:
            self._validate_query(ast)
        return self.errors

    def _check_reserved_names(self, ast: Any) -> None:
        """Variables with the ``__cq`` prefix are reserved for the CALL
        subquery carry keys (compile_projection treats them specially) —
        reject them anywhere in the AST before they can corrupt a plan."""
        for node in walk(ast):
            name = getattr(node, "var", None) or (
                node.name if isinstance(node, Var) else None
            )
            alias = getattr(node, "alias", None)
            for n in (name, alias):
                if isinstance(n, str) and n.startswith("__cq"):
                    self.errors.append(
                        ValidationError(
                            severity=ErrorSeverity.ERROR,
                            message=f"variable name '{n}' uses the reserved "
                            "'__cq' prefix (CALL subquery carry keys)",
                            variable_name=n,
                        )
                    )

    # ------------------------------------------------------------------ #
    def _validate_query(self, q: Query) -> None:
        scope = VariableScope()
        for clause in q.clauses:
            scope = self._clause(clause, scope)
        self._close_scope(scope)

    def _close_scope(self, scope: VariableScope) -> None:
        defined = sorted(scope.all_defined())
        for var in sorted(scope.get_undefined_vars()):
            msg = f"Variable '{var}' is used but not defined"
            if defined:
                msg += f". Defined variables: {', '.join(defined)}"
            hint = suggest_close_match(var, defined)
            if hint:
                msg += f".{hint}"
            self.errors.append(
                ValidationError(
                    severity=ErrorSeverity.ERROR, message=msg, variable_name=var
                )
            )

    # ------------------------------------------------------------------ #
    def _clause(self, clause: Any, scope: VariableScope) -> VariableScope:
        if isinstance(clause, Match):
            for p in clause.paths:
                self._define_path(p, scope)
            if clause.where is not None:
                self._check_where(clause.where, "WHERE")
                self._use_expr(clause.where, scope)
            return scope
        if isinstance(clause, Unwind):
            self._use_expr(clause.expr, scope)
            scope.define(clause.var)
            return scope
        if isinstance(clause, Create):
            for p in clause.paths:
                self._define_path(p, scope, also_use_props=True)
            return scope
        if isinstance(clause, Merge):
            self._define_path(clause.path, scope, also_use_props=True)
            for item in clause.on_create + clause.on_match:
                self._use_set_item(item, scope)
            return scope
        if isinstance(clause, SetClause):
            for item in clause.items:
                self._use_set_item(item, scope)
            return scope
        if isinstance(clause, Remove):
            for item in clause.items:
                self._use_expr(item.target, scope)
            return scope
        if isinstance(clause, Delete):
            for e in clause.exprs:
                self._use_expr(e, scope)
            return scope
        if isinstance(clause, Foreach):
            self._use_expr(clause.collection, scope)
            child = scope.create_child_scope()
            child.define(clause.var)
            for sub in clause.clauses:
                child = self._clause(sub, child)
            # FOREACH does not leak bindings; report its scope now
            self._close_scope(child)
            return scope
        if isinstance(clause, CallProc):
            for a in clause.args:
                self._use_expr(a, scope)
            if clause.yields:
                for fld, alias in clause.yields:
                    scope.define(alias or fld)
            else:
                # CALL without YIELD exposes implicit result columns
                scope.open = True
            if clause.where is not None:
                self._use_expr(clause.where, scope)
            return scope
        if isinstance(clause, CallSubquery):
            # imports must exist outside; the body validates in its own
            # scope seeded ONLY by the imports; exports define into the
            # invoking scope (Neo4j 4.x subquery scoping). With UNION
            # inside the braces, each branch validates independently
            # (its own importing WITH) and every branch's exports define.
            for branch in clause.branches or [clause]:
                inner = VariableScope()
                for v in branch.imports:
                    self._use_expr(Var(v), scope)
                    inner.define(v)
                sub = inner
                for c in branch.clauses:
                    sub = self._clause(c, sub)
                last = branch.clauses[-1] if branch.clauses else None
                if isinstance(last, Projection):
                    for item in last.items:
                        if item.alias:
                            scope.define(item.alias)
                        elif isinstance(item.expr, Var):
                            scope.define(item.expr.name)
                        else:
                            scope.define(item.text)
            return scope
        if isinstance(clause, Projection):
            return self._projection(clause, scope)
        return scope

    # ------------------------------------------------------------------ #
    def _projection(self, proj: Projection, scope: VariableScope) -> VariableScope:
        new_scope = VariableScope()
        if proj.star:
            new_scope.defined_vars |= scope.all_defined()
            new_scope.open = scope.is_open()
        # aliases first so ORDER BY can reference them (reference
        # semantic_validator.py:222-246 and _fixes ORDER BY cases)
        for item in proj.items:
            if item.alias:
                new_scope.define(item.alias)
            elif isinstance(item.expr, Var):
                new_scope.define(item.expr.name)
        for item in proj.items:
            self._use_expr(item.expr, scope)
            self._check_unknown_functions(item.expr)
        for o in proj.order_by:
            # ORDER BY sees both the projected aliases and the input
            # vars (reference _fixes: ORDER BY on a RETURN alias is not
            # an undefined variable) — uses unresolved against the union
            # surface in the outgoing scope's report
            tmp = VariableScope()
            self._use_expr(o.expr, tmp)
            union_defined = scope.all_defined() | new_scope.all_defined()
            for v in tmp.used_vars:
                if v not in union_defined:
                    new_scope.use(v)
        for e in (proj.skip, proj.limit):
            if e is not None:
                self._use_expr(e, scope)
        if proj.where is not None:  # trailing WHERE (WITH only)
            self._check_where(proj.where, "WHERE")
            self._use_expr(proj.where, new_scope)
        if proj.is_return:
            self._check_mixed_aggregation(proj)
        # the outgoing scope is finished: report its undefined uses now
        self._close_scope(scope)
        return new_scope

    def _check_mixed_aggregation(self, proj: Projection) -> None:
        has_agg = has_plain = False
        for item in proj.items:
            if self._contains_aggregation(item.expr):
                has_agg = True
            else:
                has_plain = True
        if has_agg and has_plain:
            self.errors.append(
                ValidationError(
                    severity=ErrorSeverity.WARNING,
                    message=(
                        "Mixing aggregated and non-aggregated expressions"
                        " in RETURN causes implicit grouping by the"
                        " non-aggregated columns. Use WITH ... for"
                        " explicit grouping to make intent clear, e.g."
                        " WITH n, count(*) AS cnt RETURN n, cnt"
                    ),
                    node_type="return_clause",
                )
            )

    def _check_where(self, expr: Any, where_kind: str) -> None:
        name = self._find_aggregation(expr)
        if name is not None:
            self.errors.append(
                ValidationError(
                    severity=ErrorSeverity.ERROR,
                    message=(
                        f"Invalid use of aggregating function {name}() in a"
                        f" {where_kind} clause. Aggregate in a WITH clause"
                        " and filter on the alias instead, e.g."
                        f" WITH n, {name}(...) AS agg WHERE agg > 0"
                    ),
                    node_type="where_clause",
                )
            )

    def _check_unknown_functions(self, expr: Any) -> None:
        for node in walk(expr):
            if isinstance(node, FuncCall):
                name = node.name.lower()
                if name not in self._functions:
                    hint = suggest_close_match(name, sorted(self._functions))
                    self.errors.append(
                        ValidationError(
                            severity=ErrorSeverity.WARNING,
                            message=f"Unknown function '{node.name}'."
                            + (hint if hint else ""),
                            node_type="function_call",
                        )
                    )

    # ------------------------------------------------------------------ #
    def _contains_aggregation(self, expr: Any) -> bool:
        return self._find_aggregation(expr) is not None

    def _find_aggregation(self, expr: Any) -> str | None:
        for node in walk(expr, stop=(ExistsSub, PatternComp, PatternPred)):
            if isinstance(node, CountStar):
                return "count"
            if isinstance(node, FuncCall) and node.name.lower() in self._aggs:
                return node.name.lower()
        return None

    # ------------------------------------------------------------------ #
    def _define_path(
        self, p: PathPattern, scope: VariableScope, also_use_props: bool = False
    ) -> None:
        if p.var:
            scope.define(p.var)
        for el in p.elements:
            if isinstance(el, (NodePattern, RelPattern)) and el.var:
                scope.define(el.var)
            props = getattr(el, "props", None)
            if props is not None:
                self._use_expr(props, scope)
            inner = getattr(el, "elements", None)  # QuantPathPattern:
            if inner is not None:  # inner vars become GROUP vars outside
                for iel in inner:
                    if isinstance(iel, (NodePattern, RelPattern)) and iel.var:
                        scope.define(iel.var)
                    iprops = getattr(iel, "props", None)
                    if iprops is not None:
                        self._use_expr(iprops, scope)

    def _use_set_item(self, item: Any, scope: VariableScope) -> None:
        self._use_expr(item.target, scope)
        if item.value is not None:
            self._use_expr(item.value, scope)
        if item.key_expr is not None:
            self._use_expr(item.key_expr, scope)

    # ------------------------------------------------------------------ #
    def _use_expr(self, expr: Any, scope: VariableScope) -> None:
        """Record variable uses, honoring binder forms (comprehensions,
        reduce, quantifiers, pattern sub-expressions)."""
        if expr is None:
            return
        if isinstance(expr, Var):
            scope.use(expr.name)
            return
        if isinstance(expr, ListComp):
            self._use_expr(expr.collection, scope)
            child = scope.create_child_scope()
            child.define(expr.var)
            self._use_expr(expr.where, child)
            self._use_expr(expr.projection, child)
            self._merge_child(child, scope)
            return
        if isinstance(expr, Quantifier):
            self._use_expr(expr.collection, scope)
            child = scope.create_child_scope()
            child.define(expr.var)
            self._use_expr(expr.where, child)
            self._merge_child(child, scope)
            return
        if isinstance(expr, Reduce):
            self._use_expr(expr.init, scope)
            self._use_expr(expr.collection, scope)
            child = scope.create_child_scope()
            child.define(expr.acc)
            child.define(expr.var)
            self._use_expr(expr.body, child)
            self._merge_child(child, scope)
            return
        if isinstance(expr, (PatternPred, ExistsSub, PatternComp)):
            paths = (
                expr.paths if isinstance(expr, ExistsSub) else [expr.path]
            )
            child = scope.create_child_scope()
            for p in paths:
                self._define_path(p, child)
            where = getattr(expr, "where", None)
            self._use_expr(where, child)
            proj = getattr(expr, "projection", None)
            self._use_expr(proj, child)
            self._merge_child(child, scope)
            return
        if isinstance(expr, MapProjection):
            scope.use(expr.var)
            for kind, payload in expr.items:
                if kind == "var":
                    scope.use(payload)
                elif kind == "expr":
                    self._use_expr(payload[1], scope)
            return
        if isinstance(expr, FuncCall):
            for a in expr.args:
                self._use_expr(a, scope)
            return
        if isinstance(expr, Expr) or dataclasses.is_dataclass(expr):
            for f in dataclasses.fields(expr):
                self._use_value(getattr(expr, f.name), scope)
            return

    def _use_value(self, v: Any, scope: VariableScope) -> None:
        if isinstance(v, (Expr,)) or dataclasses.is_dataclass(v):
            self._use_expr(v, scope)
        elif isinstance(v, (list, tuple)):
            for x in v:
                self._use_value(x, scope)

    @staticmethod
    def _merge_child(child: VariableScope, scope: VariableScope) -> None:
        """Propagate uses that the child scope could not resolve locally
        up to the parent, where they are checked at scope close."""
        for v in child.used_vars:
            if v not in child.defined_vars:
                scope.use(v)


def validate_query(
    query_string: str, extra_functions: Iterable[str] = ()
) -> list[ValidationError]:
    """Parse + validate; syntax errors come back as findings, not raises
    (reference: semantic_validator.py:511-545)."""
    from pycypher_nmetl_spark.cypher.parser import parse
    from pycypher_nmetl_spark.cypher.tokenizer import CypherSyntaxError

    try:
        ast = parse(query_string)
    except (CypherSyntaxError, SyntaxError, ValueError) as e:
        return [
            ValidationError(
                severity=ErrorSeverity.ERROR, message=f"Syntax error: {e!s}"
            )
        ]
    return SemanticValidator(extra_functions).validate(ast)
