"""Random query generator for property-based differential testing.

One abstract spec is rendered to BOTH Cypher (for the engine) and ANSI
SQL (for DuckDB) so any result mismatch is a semantics bug in one of
the renderings or — the point — in the engine. This is the reference's
property-based strategy (tests/property_based/strategies.py,
test_query_properties.py) upgraded from metamorphic identities to a
full differential oracle.

Semantic pairings encoded here (engine follows Neo4j/openCypher):
  * sum() over zero non-null inputs is 0   -> SQL coalesce(sum(x), 0)
  * ORDER BY treats null as largest        -> SQL NULLS LAST / FIRST
  * XOR is ternary                         -> SQL (a) <> (b) on booleans
  * relationship uniqueness inside a MATCH -> SQL r1.id <> r2.id
  * OPTIONAL MATCH ... WHERE pred          -> SQL LEFT JOIN ... ON pred
Comparisons are order-insensitive (sorted multisets) unless the query
ORDER BYs *every* output column, which makes the row sequence unique.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from hypothesis import strategies as st

# ------------------------------------------------------------------ #
# schema of the fuzz graph (see test_property_differential.py fixture)
# ------------------------------------------------------------------ #
PERSON_PROPS = {"name": "str", "age": "int", "dept": "str", "salary": "float"}
COMPANY_PROPS = {"cname": "str", "industry": "str"}
KNOWS_PROPS = {"since": "int"}

STR_CONSTS = ["Alice", "alice", "Bob", "Engineering", "Sales", "Zed", "e", "li"]
INT_CONSTS = [25, 28, 30, 35, 41, 2016, 2019, 2020, 0]
FLOAT_CONSTS = [80.0, 95.5, 100.0, 110.0]


@dataclass
class Scope:
    """var -> (props dict, sql renderer for (var, prop))."""

    props: dict[str, dict[str, str]]
    sqlref: dict[tuple[str, str], str]

    def ref(self, var: str, prop: str) -> "Item":
        kind = self.props[var][prop]
        return Item(f"{var}.{prop}", self.sqlref[(var, prop)], kind)


@dataclass
class Item:
    cy: str
    sql: str
    kind: str  # 'int' | 'float' | 'str' | 'bool'


@dataclass
class Pattern:
    cypher_match: str
    sql_from: str
    scope: Scope
    optional_where_slot: bool = False  # optional-match queries fill WHERE
    sql_from_opt: str | None = None    # template with {optpred} hole


# ------------------------------------------------------------------ #
# patterns
# ------------------------------------------------------------------ #
def _person_scope(var: str, alias: str | None = None) -> tuple[dict, dict]:
    a = alias or var
    return (
        {var: PERSON_PROPS},
        {(var, p): f"{a}.{p}" for p in PERSON_PROPS},
    )


def pattern_scan_person() -> Pattern:
    props, refs = _person_scope("n")
    return Pattern("MATCH (n:Person)", "FROM person n", Scope(props, refs))


def pattern_scan_company() -> Pattern:
    return Pattern(
        "MATCH (c:Company)",
        "FROM company c",
        Scope({"c": COMPANY_PROPS}, {("c", p): f"c.{p}" for p in COMPANY_PROPS}),
    )


def pattern_hop(direction: str) -> Pattern:
    props = {"n": PERSON_PROPS, "m": PERSON_PROPS, "r": KNOWS_PROPS}
    refs = {
        **{("n", p): f"n.{p}" for p in PERSON_PROPS},
        **{("m", p): f"m.{p}" for p in PERSON_PROPS},
        ("r", "since"): "r.since",
    }
    if direction == "R":
        cy = "MATCH (n:Person)-[r:KNOWS]->(m:Person)"
        sql = ("FROM person n JOIN knows r ON r.src = n.id "
               "JOIN person m ON m.id = r.dst")
    elif direction == "L":
        cy = "MATCH (n:Person)<-[r:KNOWS]-(m:Person)"
        sql = ("FROM person n JOIN knows r ON r.dst = n.id "
               "JOIN person m ON m.id = r.src")
    else:  # undirected: each non-loop edge in both orientations, loops once
        cy = "MATCH (n:Person)-[r:KNOWS]-(m:Person)"
        sql = (
            "FROM person n JOIN knows r ON (r.src = n.id OR r.dst = n.id) "
            "JOIN person m ON m.id = "
            "(CASE WHEN r.src = n.id THEN r.dst ELSE r.src END)"
        )
    return Pattern(cy, sql, Scope(props, refs))


def pattern_works_at() -> Pattern:
    props = {"n": PERSON_PROPS, "c": COMPANY_PROPS}
    refs = {
        **{("n", p): f"n.{p}" for p in PERSON_PROPS},
        **{("c", p): f"c.{p}" for p in COMPANY_PROPS},
    }
    return Pattern(
        "MATCH (n:Person)-[:WORKS_AT]->(c:Company)",
        "FROM person n JOIN works_at w ON w.src = n.id "
        "JOIN company c ON c.id = w.dst",
        Scope(props, refs),
    )


def pattern_two_hop() -> Pattern:
    props = {"a": PERSON_PROPS, "b": PERSON_PROPS, "c2": PERSON_PROPS,
             "r1": KNOWS_PROPS, "r2": KNOWS_PROPS}
    refs = {
        **{("a", p): f"a.{p}" for p in PERSON_PROPS},
        **{("b", p): f"b.{p}" for p in PERSON_PROPS},
        **{("c2", p): f"c2.{p}" for p in PERSON_PROPS},
        ("r1", "since"): "r1.since",
        ("r2", "since"): "r2.since",
    }
    return Pattern(
        "MATCH (a:Person)-[r1:KNOWS]->(b:Person)-[r2:KNOWS]->(c2:Person)",
        "FROM person a JOIN knows r1 ON r1.src = a.id "
        "JOIN person b ON b.id = r1.dst "
        "JOIN knows r2 ON r2.src = b.id AND r2.id <> r1.id "
        "JOIN person c2 ON c2.id = r2.dst",
        Scope(props, refs),
    )


def pattern_optional() -> Pattern:
    """MATCH (n:Person) OPTIONAL MATCH (n)-[r:KNOWS]->(m:Person).

    The optional predicate (if drawn) lands in the Cypher OPTIONAL
    MATCH's WHERE and in the SQL LEFT JOIN's ON — identical keep-null
    semantics."""
    props = {"n": PERSON_PROPS, "m": PERSON_PROPS, "r": KNOWS_PROPS}
    sub_cols = ", ".join(
        ["r.id AS r_id", "r.src AS r_src", "r.since AS r_since"]
        + [f"m.{p} AS m_{p}" for p in ["id", *PERSON_PROPS]]
    )
    refs = {
        **{("n", p): f"n.{p}" for p in PERSON_PROPS},
        **{("m", p): f"q.m_{p}" for p in PERSON_PROPS},
        ("r", "since"): "q.r_since",
    }
    return Pattern(
        "MATCH (n:Person) OPTIONAL MATCH (n)-[r:KNOWS]->(m:Person)",
        f"FROM person n LEFT JOIN (SELECT {sub_cols} FROM knows r "
        "JOIN person m ON m.id = r.dst) q ON q.r_src = n.id",
        Scope(props, refs),
        optional_where_slot=True,
        sql_from_opt=(
            f"FROM person n LEFT JOIN (SELECT {sub_cols} FROM knows r "
            "JOIN person m ON m.id = r.dst) q ON q.r_src = n.id "
            "AND ({optpred})"
        ),
    )


PATTERNS = [
    pattern_scan_person, pattern_scan_company,
    lambda: pattern_hop("R"), lambda: pattern_hop("L"),
    lambda: pattern_hop("U"), pattern_works_at, pattern_two_hop,
]


# ------------------------------------------------------------------ #
# predicates
# ------------------------------------------------------------------ #
def _lit(kind: str, v) -> tuple[str, str]:
    if kind == "str":
        return f"'{v}'", f"'{v}'"
    return str(v), str(v)


@st.composite
def predicates(draw, scope: Scope, depth: int = 0) -> Item:
    allrefs = [(v, p) for v, props in scope.props.items() for p in props]
    choice = draw(st.sampled_from(
        ["cmp", "cmp", "strpred", "isnull", "inlist", "propcmp"]
        + ([] if depth >= 2 else ["not", "and", "or", "xor"])
    ))
    if choice in ("not", "and", "or", "xor"):
        a = draw(predicates(scope, depth + 1))
        if choice == "not":
            return Item(f"(NOT {a.cy})", f"(NOT {a.sql})", "bool")
        b = draw(predicates(scope, depth + 1))
        if choice == "xor":
            # ternary XOR == null-propagating boolean inequality
            return Item(f"({a.cy} XOR {b.cy})", f"(({a.sql}) <> ({b.sql}))", "bool")
        op = choice.upper()
        return Item(f"({a.cy} {op} {b.cy})", f"({a.sql} {op} {b.sql})", "bool")

    var, prop = draw(st.sampled_from(allrefs))
    ref = scope.ref(var, prop)
    if choice == "isnull":
        neg = draw(st.booleans())
        k = "IS NOT NULL" if neg else "IS NULL"
        return Item(f"({ref.cy} {k})", f"({ref.sql} {k})", "bool")
    if choice == "inlist":
        consts = {"str": STR_CONSTS, "int": INT_CONSTS, "float": FLOAT_CONSTS}[ref.kind]
        vals = draw(st.lists(st.sampled_from(consts), min_size=1, max_size=3))
        cl = ", ".join(_lit(ref.kind, v)[0] for v in vals)
        return Item(f"({ref.cy} IN [{cl}])", f"({ref.sql} IN ({cl}))", "bool")
    if choice == "strpred" and ref.kind == "str":
        kw = draw(st.sampled_from(["STARTS WITH", "ENDS WITH", "CONTAINS"]))
        c = draw(st.sampled_from(STR_CONSTS))
        fn = {"STARTS WITH": "starts_with", "ENDS WITH": "ends_with",
              "CONTAINS": "contains"}[kw]
        return Item(
            f"({ref.cy} {kw} '{c}')", f"{fn}({ref.sql}, '{c}')", "bool"
        )
    if choice == "propcmp":
        peers = [(v, p) for (v, p) in allrefs
                 if scope.props[v][p] == ref.kind or
                 {scope.props[v][p], ref.kind} <= {"int", "float"}]
        v2, p2 = draw(st.sampled_from(peers))
        other = scope.ref(v2, p2)
        op = draw(st.sampled_from(["=", "<>", "<", "<=", ">", ">="]))
        sop = "!=" if op == "<>" else op
        return Item(f"({ref.cy} {op} {other.cy})",
                    f"({ref.sql} {sop} {other.sql})", "bool")
    # cmp against a constant (fallback for strpred on non-str refs too)
    consts = {"str": STR_CONSTS, "int": INT_CONSTS, "float": FLOAT_CONSTS}[ref.kind]
    v = draw(st.sampled_from(consts))
    ops = ["=", "<>", "<", "<=", ">", ">="]
    op = draw(st.sampled_from(ops))
    sop = "!=" if op == "<>" else op
    cl, sl = _lit(ref.kind, v)
    return Item(f"({ref.cy} {op} {cl})", f"({ref.sql} {sop} {sl})", "bool")


# ------------------------------------------------------------------ #
# projection items
# ------------------------------------------------------------------ #
@st.composite
def projection_items(draw, scope: Scope) -> Item:
    allrefs = [(v, p) for v, props in scope.props.items() for p in props]
    var, prop = draw(st.sampled_from(allrefs))
    ref = scope.ref(var, prop)
    choice = draw(st.sampled_from(["ref", "ref", "ref", "arith", "fn", "case"]))
    if choice == "arith" and ref.kind in ("int", "float"):
        consts = INT_CONSTS if ref.kind == "int" else FLOAT_CONSTS
        c = draw(st.sampled_from(consts))
        op = draw(st.sampled_from(["+", "-", "*"]))
        return Item(f"({ref.cy} {op} {c})", f"({ref.sql} {op} {c})", ref.kind)
    if choice == "fn":
        if ref.kind == "str":
            fn = draw(st.sampled_from(["toUpper", "toLower", "size", "reverse"]))
            sql = {"toUpper": f"upper({ref.sql})", "toLower": f"lower({ref.sql})",
                   "size": f"length({ref.sql})",
                   "reverse": f"reverse({ref.sql})"}[fn]
            return Item(f"{fn}({ref.cy})", sql,
                        "int" if fn == "size" else "str")
        fn = draw(st.sampled_from(["abs", "coalesce"]))
        if fn == "coalesce":
            z = 0 if ref.kind == "int" else 0.0
            return Item(f"coalesce({ref.cy}, {z})",
                        f"coalesce({ref.sql}, {z})", ref.kind)
        return Item(f"abs({ref.cy})", f"abs({ref.sql})", ref.kind)
    if choice == "case":
        pred = draw(predicates(scope, depth=2))
        consts = {"str": STR_CONSTS, "int": INT_CONSTS,
                  "float": FLOAT_CONSTS}[ref.kind]
        t = draw(st.sampled_from(consts))
        cl, _ = _lit(ref.kind, t)
        return Item(
            f"(CASE WHEN {pred.cy} THEN {cl} ELSE {ref.cy} END)",
            f"(CASE WHEN {pred.sql} THEN {cl} ELSE {ref.sql} END)",
            ref.kind,
        )
    return ref


# ------------------------------------------------------------------ #
# aggregates
# ------------------------------------------------------------------ #
@st.composite
def agg_items(draw, scope: Scope) -> Item:
    allrefs = [(v, p) for v, props in scope.props.items() for p in props]
    kind = draw(st.sampled_from(
        ["count_star", "count", "count_distinct", "sum", "avg", "min", "max"]
    ))
    if kind == "count_star":
        return Item("count(*)", "count(*)", "int")
    var, prop = draw(st.sampled_from(allrefs))
    ref = scope.ref(var, prop)
    if kind == "count":
        return Item(f"count({ref.cy})", f"count({ref.sql})", "int")
    if kind == "count_distinct":
        return Item(f"count(DISTINCT {ref.cy})",
                    f"count(DISTINCT {ref.sql})", "int")
    if kind in ("sum", "avg") and ref.kind not in ("int", "float"):
        return Item(f"count({ref.cy})", f"count({ref.sql})", "int")
    if kind == "sum":
        return Item(f"sum({ref.cy})", f"coalesce(sum({ref.sql}), 0)", ref.kind)
    if kind == "avg":
        return Item(f"avg({ref.cy})", f"avg({ref.sql})", "float")
    return Item(f"{kind}({ref.cy})", f"{kind}({ref.sql})", ref.kind)


# ------------------------------------------------------------------ #
# whole queries
# ------------------------------------------------------------------ #
@dataclass
class QuerySpec:
    cypher: str
    sql: str
    ordered: bool


def _order_clause(draw, n_cols: int) -> tuple[str, str]:
    """ORDER BY over every output column -> unique row sequence."""
    dirs = [draw(st.booleans()) for _ in range(n_cols)]
    cy = ", ".join(
        f"x{i}" + (" DESC" if d else "") for i, d in enumerate(dirs)
    )
    sql = ", ".join(
        f"x{i} DESC NULLS FIRST" if d else f"x{i} ASC NULLS LAST"
        for i, d in enumerate(dirs)
    )
    return f" ORDER BY {cy}", f" ORDER BY {sql}"


@st.composite
def simple_queries(draw, pattern_fns=None) -> QuerySpec:
    """MATCH <pattern> [WHERE p] RETURN [DISTINCT] items [ORDER ...]."""
    pat = draw(st.sampled_from(pattern_fns or PATTERNS))()
    where = draw(st.none() | predicates(pat.scope))
    items = draw(st.lists(projection_items(pat.scope), min_size=1, max_size=4))
    distinct = draw(st.booleans())
    cy_items = ", ".join(f"{it.cy} AS x{i}" for i, it in enumerate(items))
    sql_items = ", ".join(f"{it.sql} AS x{i}" for i, it in enumerate(items))
    cy = pat.cypher_match
    sql_where = ""
    if where is not None:
        cy += f" WHERE {where.cy}"
        sql_where = f" WHERE {where.sql}"
    d = "DISTINCT " if distinct else ""
    cy += f" RETURN {d}{cy_items}"
    sql = f"SELECT {d}{sql_items} {pat.sql_from}{sql_where}"
    ordered = draw(st.booleans())
    tail_cy = tail_sql = ""
    if ordered:
        tail_cy, tail_sql = _order_clause(draw, len(items))
        skip = draw(st.none() | st.integers(0, 3))
        limit = draw(st.none() | st.integers(0, 5))
        if skip is not None:
            tail_cy += f" SKIP {skip}"
        if limit is not None:
            tail_cy += f" LIMIT {limit}"
        if limit is not None:
            tail_sql += f" LIMIT {limit}"
        if skip is not None:
            tail_sql += f" OFFSET {skip}"
    return QuerySpec(cy + tail_cy, f"SELECT * FROM ({sql}) t{tail_sql}", ordered)


@st.composite
def optional_queries(draw) -> QuerySpec:
    pat = pattern_optional()
    optpred = draw(st.none() | predicates(pat.scope))
    items = draw(st.lists(projection_items(pat.scope), min_size=1, max_size=3))
    cy_items = ", ".join(f"{it.cy} AS x{i}" for i, it in enumerate(items))
    sql_items = ", ".join(f"{it.sql} AS x{i}" for i, it in enumerate(items))
    if optpred is None:
        cy = f"{pat.cypher_match} RETURN {cy_items}"
        sql = f"SELECT {sql_items} {pat.sql_from}"
    else:
        cy = f"{pat.cypher_match} WHERE {optpred.cy} RETURN {cy_items}"
        sql = (f"SELECT {sql_items} "
               f"{pat.sql_from_opt.format(optpred=optpred.sql)}")
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def agg_queries(draw) -> QuerySpec:
    pat = draw(st.sampled_from(PATTERNS + [pattern_optional]))()
    # a WHERE after OPTIONAL MATCH binds to the optional side in Cypher
    # but would render as an outer (row-dropping) filter in SQL — skip
    where = (
        None if pat.optional_where_slot
        else draw(st.none() | predicates(pat.scope))
    )
    allrefs = [(v, p) for v, props in pat.scope.props.items() for p in props]
    keys = draw(st.lists(st.sampled_from(allrefs), min_size=0, max_size=2,
                         unique=True))
    aggs = draw(st.lists(agg_items(pat.scope), min_size=1, max_size=3))
    key_items = [pat.scope.ref(v, p) for v, p in keys]
    items = key_items + aggs
    cy_items = ", ".join(f"{it.cy} AS x{i}" for i, it in enumerate(items))
    sql_items = ", ".join(f"{it.sql} AS x{i}" for i, it in enumerate(items))
    cy = pat.cypher_match
    sql_where = ""
    if where is not None:
        cy += f" WHERE {where.cy}"
        sql_where = f" WHERE {where.sql}"
    cy += f" RETURN {cy_items}"
    group = ""
    if key_items:
        group = " GROUP BY " + ", ".join(
            f"x{i}" for i in range(len(key_items))
        )
    sql = f"SELECT {sql_items} {pat.sql_from}{sql_where}{group}"
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def with_queries(draw) -> QuerySpec:
    """MATCH ... WITH keys+aggs WHERE <post-agg pred> RETURN ... — the
    Cypher HAVING shape."""
    pat = draw(st.sampled_from(PATTERNS))()
    allrefs = [(v, p) for v, props in pat.scope.props.items() for p in props]
    keys = draw(st.lists(st.sampled_from(allrefs), min_size=1, max_size=2,
                         unique=True))
    aggs = draw(st.lists(agg_items(pat.scope), min_size=1, max_size=2))
    key_items = [pat.scope.ref(v, p) for v, p in keys]
    items = key_items + aggs
    cy_items = ", ".join(f"{it.cy} AS x{i}" for i, it in enumerate(items))
    sql_items = ", ".join(f"{it.sql} AS x{i}" for i, it in enumerate(items))
    group = " GROUP BY " + ", ".join(f"x{i}" for i in range(len(key_items)))
    inner = f"SELECT {sql_items} {pat.sql_from}{group}"
    # post-agg predicate over a numeric alias
    num_aliases = [i for i, it in enumerate(items) if it.kind in ("int", "float")]
    post = ""
    sql_post = ""
    if num_aliases:
        i = draw(st.sampled_from(num_aliases))
        op = draw(st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]))
        sop = "!=" if op == "<>" else op
        c = draw(st.sampled_from(INT_CONSTS))
        post = f" WHERE x{i} {op} {c}"
        sql_post = f" WHERE x{i} {sop} {c}"
    aliases = ", ".join(f"x{i}" for i in range(len(items)))
    cy = f"{pat.cypher_match} WITH {cy_items}{post} RETURN {aliases}"
    sql = f"SELECT {aliases} FROM ({inner}) t{sql_post}"
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def unwind_queries(draw) -> QuerySpec:
    """UNWIND literal-list AS u MATCH ... WHERE <pred vs u> RETURN ... —
    correlates the unwound value with pattern properties."""
    vals = draw(st.lists(st.sampled_from(INT_CONSTS), min_size=1, max_size=4))
    pat = draw(st.sampled_from([pattern_scan_person,
                                lambda: pattern_hop("R")]))()
    allrefs = [(v, p) for v, props in pat.scope.props.items()
               for p in props if pat.scope.props[v][p] == "int"]
    var, prop = draw(st.sampled_from(allrefs))
    ref = pat.scope.ref(var, prop)
    op = draw(st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]))
    sop = "!=" if op == "<>" else op
    items = draw(st.lists(projection_items(pat.scope), min_size=1, max_size=2))
    cy_items = ", ".join(f"{it.cy} AS x{i}" for i, it in enumerate(items, 1))
    sql_items = ", ".join(f"{it.sql} AS x{i}" for i, it in enumerate(items, 1))
    lit = ", ".join(str(v) for v in vals)
    rows = ", ".join(f"({v})" for v in vals)
    cy = (f"UNWIND [{lit}] AS u {pat.cypher_match} "
          f"WHERE {ref.cy} {op} u RETURN u AS x0, {cy_items}")
    sql = (f"SELECT u AS x0, {sql_items} FROM (VALUES {rows}) uv(u), "
           f"{pat.sql_from[5:]} WHERE {ref.sql} {sop} u")
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def varlength_queries(draw) -> QuerySpec:
    """(a:Person)-[:KNOWS*m..k]{->,<-,-}(b:Person) — the oracle is a
    recursive CTE that walks edges carrying the visited-edge list, i.e.
    exactly openCypher's relationship-uniqueness semantics. Undirected
    walks traverse each non-loop edge in both orientations and each
    self-loop once (matching the engine's fixed-hop convention)."""
    direction = draw(st.sampled_from(["R", "L", "U"]))
    m = draw(st.integers(1, 2))
    k = draw(st.integers(m, min(m + 2, 4)))
    start = draw(st.none() | st.sampled_from(["Alice", "Bob", "Carol", "Eve"]))
    agg = draw(st.booleans())

    arrow = {"R": ("-", "->"), "L": ("<-", "-"), "U": ("-", "-")}[direction]
    cy = (f"MATCH (a:Person){arrow[0]}[:KNOWS*{m}..{k}]{arrow[1]}(b:Person)")
    if start is not None:
        cy = cy.replace("(a:Person)", f"(a:Person {{name: '{start}'}})")
    if agg:
        cy += " RETURN count(*) AS x0"
    else:
        cy += " RETURN a.id AS x0, b.id AS x1"

    if direction == "R":
        edges = "SELECT id, src AS f, dst AS t FROM knows"
    elif direction == "L":
        edges = "SELECT id, dst AS f, src AS t FROM knows"
    else:
        edges = ("SELECT id, src AS f, dst AS t FROM knows UNION ALL "
                 "SELECT id, dst AS f, src AS t FROM knows WHERE src <> dst")
    startf = ""
    if start is not None:
        startf = (f" WHERE e.f IN (SELECT id FROM person "
                  f"WHERE name = '{start}')")
    walk = (
        f"WITH RECURSIVE e AS ({edges}), "
        "walk(a, tip, eids, depth) AS ("
        f"SELECT e.f, e.t, [e.id], 1 FROM e{startf} "
        "UNION ALL "
        "SELECT w.a, e.t, list_append(w.eids, e.id), w.depth + 1 "
        f"FROM walk w JOIN e ON e.f = w.tip "
        f"WHERE w.depth < {k} AND NOT list_contains(w.eids, e.id)) "
        f"SELECT a, tip FROM walk WHERE depth BETWEEN {m} AND {k}"
    )
    if agg:
        sql = f"SELECT count(*) AS x0 FROM ({walk}) t"
    else:
        sql = f"SELECT a AS x0, tip AS x1 FROM ({walk}) t"
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def shortest_path_queries(draw) -> QuerySpec:
    """shortestPath((a)-[:KNOWS*1..k]->(b)) — min hop count per reachable
    (a, b) pair; the oracle min-aggregates the uniqueness-walk CTE."""
    direction = draw(st.sampled_from(["R", "L", "U"]))
    k = draw(st.integers(1, 4))
    start = draw(st.none() | st.sampled_from(["Alice", "Bob", "Eve"]))
    arrow = {"R": ("-", "->"), "L": ("<-", "-"), "U": ("-", "-")}[direction]
    node_a = "(a:Person)" if start is None else f"(a:Person {{name: '{start}'}})"
    cy = (
        f"MATCH p = shortestPath({node_a}{arrow[0]}[:KNOWS*1..{k}]"
        f"{arrow[1]}(b:Person)) "
        "RETURN a.id AS x0, b.id AS x1, length(p) AS x2"
    )
    if direction == "R":
        edges = "SELECT id, src AS f, dst AS t FROM knows"
    elif direction == "L":
        edges = "SELECT id, dst AS f, src AS t FROM knows"
    else:
        edges = ("SELECT id, src AS f, dst AS t FROM knows UNION ALL "
                 "SELECT id, dst AS f, src AS t FROM knows WHERE src <> dst")
    startf = ""
    if start is not None:
        startf = (f" WHERE e.f IN (SELECT id FROM person "
                  f"WHERE name = '{start}')")
    sql = (
        f"WITH RECURSIVE e AS ({edges}), "
        "walk(a, tip, eids, depth) AS ("
        f"SELECT e.f, e.t, [e.id], 1 FROM e{startf} "
        "UNION ALL "
        "SELECT w.a, e.t, list_append(w.eids, e.id), w.depth + 1 "
        f"FROM walk w JOIN e ON e.f = w.tip "
        f"WHERE w.depth < {k} AND NOT list_contains(w.eids, e.id)) "
        "SELECT a AS x0, tip AS x1, min(depth) AS x2 FROM walk "
        "WHERE a <> tip "  # Neo4j forbids identical shortestPath endpoints
        "GROUP BY a, tip"
    )
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def exists_queries(draw) -> QuerySpec:
    """[NOT] EXISTS pattern predicate -> semi/anti join, with an optional
    inner predicate on the far endpoint."""
    negated = draw(st.booleans())
    direction = draw(st.sampled_from(["R", "L"]))
    inner_pred = draw(st.booleans())
    items = draw(st.lists(st.sampled_from(list(PERSON_PROPS)), min_size=1,
                          max_size=2, unique=True))
    if direction == "R":
        cy_pat = "(n)-[:KNOWS]->(m:Person)"
        sql_join = ("FROM knows r JOIN person m ON m.id = r.dst "
                    "WHERE r.src = n.id")
    else:
        cy_pat = "(n)<-[:KNOWS]-(m:Person)"
        sql_join = ("FROM knows r JOIN person m ON m.id = r.src "
                    "WHERE r.dst = n.id")
    cy_inner = sql_inner = ""
    if inner_pred:
        prop = draw(st.sampled_from(["age", "dept"]))
        if prop == "age":
            c = draw(st.sampled_from(INT_CONSTS[:5]))
            op = draw(st.sampled_from(["<", ">", ">=", "<="]))
            cy_inner, sql_inner = f" WHERE m.age {op} {c}", f" AND m.age {op} {c}"
        else:
            c = draw(st.sampled_from(["Engineering", "Sales", "HR"]))
            cy_inner, sql_inner = (f" WHERE m.dept = '{c}'",
                                   f" AND m.dept = '{c}'")
    neg = "NOT " if negated else ""
    cols_cy = ", ".join(f"n.{p} AS x{i}" for i, p in enumerate(items))
    cols_sql = ", ".join(f"n.{p} AS x{i}" for i, p in enumerate(items))
    cy = (f"MATCH (n:Person) WHERE {neg}EXISTS {{ MATCH {cy_pat}{cy_inner} }} "
          f"RETURN {cols_cy}")
    sql = (f"SELECT {cols_sql} FROM person n WHERE {neg}EXISTS "
           f"(SELECT 1 {sql_join}{sql_inner})")
    return QuerySpec(cy, sql, ordered=False)


# ------------------------------------------------------------------ #
# result comparison
# ------------------------------------------------------------------ #
def norm_value(v):
    import decimal

    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0
        return float(f"{v:.9g}")
    # structs: Spark returns Row, DuckDB returns dict — normalize both
    # to a key-sorted dict so equality and sort keys are engine-agnostic
    if hasattr(v, "asDict"):
        v = v.asDict()
    if isinstance(v, dict):
        return {k: norm_value(v[k]) for k in sorted(v)}
    if isinstance(v, (list, tuple)):
        return [norm_value(x) for x in v]
    return v


def _sort_key(row):
    return tuple(
        (v is None, str(type(v).__name__), str(v)) for v in row
    )


def normalize(rows, ordered: bool):
    out = [tuple(norm_value(v) for v in row) for row in rows]
    if not ordered:
        out.sort(key=_sort_key)
    return out


def assert_rows_match(spark_rows, duck_rows, spec: QuerySpec):
    got = normalize(spark_rows, spec.ordered)
    want = normalize(duck_rows, spec.ordered)
    assert len(got) == len(want), (
        f"row count {len(got)} != {len(want)}\n"
        f"cypher: {spec.cypher}\nsql: {spec.sql}\n"
        f"spark: {got[:6]}\nduck:  {want[:6]}"
    )
    for g, w in zip(got, want):
        for gv, wv in zip(g, w):
            if isinstance(gv, float) and isinstance(wv, float):
                ok = gv == wv or abs(gv - wv) <= 1e-6 * max(abs(gv), abs(wv))
            else:
                ok = gv == wv
            assert ok, (
                f"value {gv!r} != {wv!r}\n"
                f"cypher: {spec.cypher}\nsql: {spec.sql}\n"
                f"spark row: {g}\nduck row:  {w}"
            )


# ------------------------------------------------------------------ #
# round-5: deep expression trees (arith with Cypher integer division,
# string fns with 0-based substring, list literals/index/comprehension,
# CASE, null injection at every leaf) rendered to Cypher AND DuckDB SQL.
# Every rendering difference is encoded here so a mismatch is an engine
# semantics bug:
#   * Cypher int/int truncates toward zero -> SQL cast(trunc(a/b::d))
#   * substring(s, i[, n]) is 0-based       -> substr(s, i+1[, n])
#   * range(a, b) is inclusive              -> range(a, b+1)
#   * list index is 0-based                 -> list_extract(l, i+1)
#   * floor/ceil return FLOAT in Cypher     -> cast(... as double)
#   * toInteger truncates toward zero       -> cast(trunc(x) as bigint)
# ------------------------------------------------------------------ #
_EXPR_INT_CONSTS = [0, 1, 2, 3, 7, -4, 25, 41]
_EXPR_FLOAT_CONSTS = [0.5, 2.0, -1.5, 80.0]
_EXPR_STR_CONSTS = ["Alice", "gineer", "a", "Sales", ","]


def _num_refs(scope: Scope, kind: str):
    return [(v, p) for v, props in scope.props.items()
            for p, k in props.items() if k == kind]


@st.composite
def int_expr(draw, scope: Scope, depth: int = 0) -> Item:
    opts = ["lit", "ref", "null"]
    if depth < 2:
        opts += ["add", "sub", "mul", "div", "mod", "abs", "size_str",
                 "case", "idx", "toint"]
    c = draw(st.sampled_from(opts))
    if c == "lit":
        v = draw(st.sampled_from(_EXPR_INT_CONSTS))
        return Item(f"{v}", f"{v}", "int")
    if c == "ref":
        refs = _num_refs(scope, "int")
        if refs:
            v, p = draw(st.sampled_from(refs))
            return Item(scope.ref(v, p).cy, scope.ref(v, p).sql, "int")
        c = "null"
    if c == "null":
        return Item("NULL", "CAST(NULL AS BIGINT)", "int")
    if c in ("add", "sub", "mul"):
        a = draw(int_expr(scope, depth + 1))
        b = draw(int_expr(scope, depth + 1))
        op = {"add": "+", "sub": "-", "mul": "*"}[c]
        return Item(f"({a.cy} {op} {b.cy})", f"({a.sql} {op} {b.sql})", "int")
    if c == "div":
        a = draw(int_expr(scope, depth + 1))
        # zero divisors included: Cypher x/0 is null (never an error),
        # and DuckDB's `//` matches exactly — truncation toward zero
        # (-7//2 = -3) and NULL on zero divisors
        b = draw(st.sampled_from([2, 3, 7, -4, 0]))
        return Item(f"({a.cy} / {b})", f"(({a.sql}) // ({b}))", "int")
    if c == "mod":
        a = draw(int_expr(scope, depth + 1))
        b = draw(st.sampled_from([2, 3, 7, -3, 0]))
        return Item(f"({a.cy} % {b})", f"(({a.sql}) % ({b}))", "int")
    if c == "abs":
        a = draw(int_expr(scope, depth + 1))
        return Item(f"abs({a.cy})", f"abs({a.sql})", "int")
    if c == "size_str":
        s = draw(str_expr(scope, depth + 1))
        return Item(f"size({s.cy})", f"length({s.sql})", "int")
    if c == "case":
        p = draw(predicates(scope, depth=2))
        a = draw(int_expr(scope, depth + 1))
        b = draw(int_expr(scope, depth + 1))
        return Item(
            f"(CASE WHEN {p.cy} THEN {a.cy} ELSE {b.cy} END)",
            f"(CASE WHEN {p.sql} THEN {a.sql} ELSE {b.sql} END)",
            "int",
        )
    if c == "idx":
        vals = draw(st.lists(st.sampled_from(_EXPR_INT_CONSTS),
                             min_size=2, max_size=4))
        i = draw(st.integers(0, len(vals) - 1))
        lst = ", ".join(map(str, vals))
        return Item(f"[{lst}][{i}]", f"list_extract([{lst}], {i + 1})", "int")
    # toint
    f = draw(st.sampled_from(_EXPR_FLOAT_CONSTS))
    return Item(
        f"toInteger({f})", f"CAST(trunc({f}) AS BIGINT)", "int"
    )


@st.composite
def float_expr(draw, scope: Scope, depth: int = 0) -> Item:
    opts = ["lit", "ref", "null"]
    if depth < 2:
        opts += ["add", "mul", "div", "floorceil", "tofloat", "case"]
    c = draw(st.sampled_from(opts))
    if c == "lit":
        v = draw(st.sampled_from(_EXPR_FLOAT_CONSTS))
        return Item(f"{v}", f"{v}", "float")
    if c == "ref":
        refs = _num_refs(scope, "float")
        if refs:
            v, p = draw(st.sampled_from(refs))
            return Item(scope.ref(v, p).cy, scope.ref(v, p).sql, "float")
        c = "null"
    if c == "null":
        return Item("NULL", "CAST(NULL AS DOUBLE)", "float")
    if c in ("add", "mul"):
        a = draw(float_expr(scope, depth + 1))
        b = draw(float_expr(scope, depth + 1))
        op = "+" if c == "add" else "*"
        return Item(f"({a.cy} {op} {b.cy})", f"({a.sql} {op} {b.sql})", "float")
    if c == "div":
        a = draw(float_expr(scope, depth + 1))
        b = draw(st.sampled_from([2.0, -1.5, 0.5]))
        return Item(f"({a.cy} / {b})", f"(({a.sql}) / {b})", "float")
    if c == "floorceil":
        a = draw(float_expr(scope, depth + 1))
        fn = draw(st.sampled_from(["floor", "ceil"]))
        return Item(
            f"{fn}({a.cy})", f"CAST({fn}({a.sql}) AS DOUBLE)", "float"
        )
    if c == "tofloat":
        a = draw(int_expr(scope, depth + 1))
        return Item(f"toFloat({a.cy})", f"CAST({a.sql} AS DOUBLE)", "float")
    p = draw(predicates(scope, depth=2))
    a = draw(float_expr(scope, depth + 1))
    b = draw(float_expr(scope, depth + 1))
    return Item(
        f"(CASE WHEN {p.cy} THEN {a.cy} ELSE {b.cy} END)",
        f"(CASE WHEN {p.sql} THEN {a.sql} ELSE {b.sql} END)",
        "float",
    )


@st.composite
def str_expr(draw, scope: Scope, depth: int = 0) -> Item:
    opts = ["lit", "ref", "null"]
    if depth < 2:
        opts += ["upper", "lower", "reverse", "trim", "replace", "concat",
                 "substr", "leftright", "split_idx", "case"]
    c = draw(st.sampled_from(opts))
    if c == "lit":
        v = draw(st.sampled_from(_EXPR_STR_CONSTS))
        return Item(f"'{v}'", f"'{v}'", "str")
    if c == "ref":
        refs = [(v, p) for v, props in scope.props.items()
                for p, k in props.items() if k == "str"]
        if refs:
            v, p = draw(st.sampled_from(refs))
            return Item(scope.ref(v, p).cy, scope.ref(v, p).sql, "str")
        c = "null"
    if c == "null":
        return Item("NULL", "CAST(NULL AS VARCHAR)", "str")
    if c in ("upper", "lower", "reverse"):
        a = draw(str_expr(scope, depth + 1))
        fn = {"upper": "toUpper", "lower": "toLower", "reverse": "reverse"}[c]
        sfn = {"upper": "upper", "lower": "lower", "reverse": "reverse"}[c]
        return Item(f"{fn}({a.cy})", f"{sfn}({a.sql})", "str")
    if c == "trim":
        a = draw(str_expr(scope, depth + 1))
        fn = draw(st.sampled_from(["trim", "lTrim", "rTrim"]))
        sfn = {"trim": "trim", "lTrim": "ltrim", "rTrim": "rtrim"}[fn]
        return Item(f"{fn}({a.cy})", f"{sfn}({a.sql})", "str")
    if c == "replace":
        a = draw(str_expr(scope, depth + 1))
        x = draw(st.sampled_from(["a", "e", "li"]))
        y = draw(st.sampled_from(["_", "", "Z"]))
        return Item(
            f"replace({a.cy}, '{x}', '{y}')",
            f"replace({a.sql}, '{x}', '{y}')", "str",
        )
    if c == "concat":
        a = draw(str_expr(scope, depth + 1))
        b = draw(str_expr(scope, depth + 1))
        return Item(f"({a.cy} + {b.cy})", f"({a.sql} || {b.sql})", "str")
    if c == "substr":
        a = draw(str_expr(scope, depth + 1))
        i = draw(st.integers(0, 3))
        if draw(st.booleans()):
            n = draw(st.integers(0, 4))
            return Item(
                f"substring({a.cy}, {i}, {n})",
                f"substr({a.sql}, {i + 1}, {n})", "str",
            )
        return Item(
            f"substring({a.cy}, {i})", f"substr({a.sql}, {i + 1})", "str"
        )
    if c == "leftright":
        a = draw(str_expr(scope, depth + 1))
        n = draw(st.integers(0, 4))
        fn = draw(st.sampled_from(["left", "right"]))
        # DuckDB right(s, 0) == '' and left likewise — matches Cypher
        return Item(f"{fn}({a.cy}, {n})", f"{fn}({a.sql}, {n})", "str")
    if c == "split_idx":
        a = draw(str_expr(scope, depth + 1))
        d = draw(st.sampled_from(["a", "e", ","]))
        i = draw(st.integers(0, 1))
        return Item(
            f"split({a.cy}, '{d}')[{i}]",
            f"list_extract(string_split({a.sql}, '{d}'), {i + 1})", "str",
        )
    p = draw(predicates(scope, depth=2))
    a = draw(str_expr(scope, depth + 1))
    b = draw(str_expr(scope, depth + 1))
    return Item(
        f"(CASE WHEN {p.cy} THEN {a.cy} ELSE {b.cy} END)",
        f"(CASE WHEN {p.sql} THEN {a.sql} ELSE {b.sql} END)",
        "str",
    )


@st.composite
def list_scalar_expr(draw, scope: Scope) -> Item:
    """List-producing forms reduced to a scalar (comprehension + reduce
    shapes that stay DuckDB-expressible)."""
    c = draw(st.sampled_from(["size_range", "comp_sum", "head_last"]))
    a = draw(st.integers(-2, 3))
    b = a + draw(st.integers(0, 5))
    if c == "size_range":
        return Item(
            f"size(range({a}, {b}))", f"len(range({a}, {b + 1}))", "int"
        )
    if c == "comp_sum":
        m = draw(st.sampled_from([2, 3]))
        k = draw(st.sampled_from([0, 1]))
        return Item(
            f"size([x IN range({a}, {b}) WHERE x % {m} = {k}])",
            f"len(list_filter(range({a}, {b + 1}), x -> x % {m} = {k}))",
            "int",
        )
    which = draw(st.sampled_from(["head", "last"]))
    idx = "1" if which == "head" else "-1"
    return Item(
        f"{which}(range({a}, {b}))",
        f"list_extract(range({a}, {b + 1}), {idx})", "int",
    )


@st.composite
def expression_queries(draw) -> QuerySpec:
    """RETURN of 2-3 deep expressions over the Person scan."""
    pat = pattern_scan_person()
    n = draw(st.integers(2, 3))
    items = []
    for i in range(n):
        fam = draw(st.sampled_from(["int", "float", "str", "list"]))
        e = draw({"int": int_expr(pat.scope), "float": float_expr(pat.scope),
                  "str": str_expr(pat.scope), "list": list_scalar_expr(pat.scope)}[fam])
        items.append(e)
    cy_items = ", ".join(f"{e.cy} AS x{i}" for i, e in enumerate(items))
    sql_items = ", ".join(f"{e.sql} AS x{i}" for i, e in enumerate(items))
    # key by n.id so multiset compare is stable across engines
    cy = f"{pat.cypher_match} RETURN {cy_items}, n.id AS k"
    sql = f"SELECT {sql_items}, n.id AS k {pat.sql_from}"
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def union_queries(draw) -> QuerySpec:
    """Two generated scan branches joined by UNION / UNION ALL.

    Per-column expression families are fixed across branches so both
    engines agree on column types; Cypher requires identical column
    names (x0..xn) in every branch. Exercises the UNION case of
    engine._run_query (previously fixed-query tested only)."""
    all_kw = draw(st.booleans())
    fams = draw(
        st.lists(st.sampled_from(["int", "str"]), min_size=1, max_size=2)
    )
    branches_cy, branches_sql = [], []
    for _ in range(2):
        pat_fn = draw(
            st.sampled_from([pattern_scan_person, pattern_scan_company])
        )
        pat = pat_fn()
        where = draw(st.none() | predicates(pat.scope))
        items = [
            draw(int_expr(pat.scope) if fam == "int" else str_expr(pat.scope))
            for fam in fams
        ]
        cy = pat.cypher_match
        sqlw = ""
        if where is not None:
            cy += f" WHERE {where.cy}"
            sqlw = f" WHERE {where.sql}"
        cy += " RETURN " + ", ".join(
            f"{it.cy} AS x{i}" for i, it in enumerate(items)
        )
        sql = (
            "SELECT "
            + ", ".join(f"{it.sql} AS x{i}" for i, it in enumerate(items))
            + f" {pat.sql_from}{sqlw}"
        )
        # branch-local ORDER BY <unique id> [DESC] SKIP/LIMIT: a UNION
        # branch is a full single query in openCypher, so its top-k
        # executes before the concat/dedup; ordering on the unique node
        # id keeps the selected row-set deterministic under LIMIT
        if draw(st.booleans()):
            var = "n" if pat_fn is pattern_scan_person else "c"
            desc = " DESC" if draw(st.booleans()) else ""
            skip = draw(st.none() | st.integers(min_value=0, max_value=3))
            k = draw(st.integers(min_value=0, max_value=7))
            cy += f" ORDER BY {var}.id{desc}"
            sql += f" ORDER BY {var}.id{desc}"
            if skip is not None:
                cy += f" SKIP {skip}"
            cy += f" LIMIT {k}"
            sql += f" LIMIT {k}" + (f" OFFSET {skip}" if skip is not None else "")
        branches_cy.append(cy)
        branches_sql.append(sql)
    kw = " UNION ALL " if all_kw else " UNION "
    return QuerySpec(
        kw.join(branches_cy),
        kw.join(f"({s})" for s in branches_sql),
        ordered=False,
    )


@st.composite
def quantifier_queries(draw) -> QuerySpec:
    """collect() into a list, then a quantifier (all/any/none/single)
    over it — vs FILTERed SQL bool aggregates. Cypher collect() drops
    nulls, so size(xs) = count(col) and the quantifier never sees a
    null element; empty-list defaults are all=true, any=false."""
    col_cy, col_sql, lo, hi = draw(
        st.sampled_from(
            [
                ("b.age", "b.age", 24, 42),
                ("e.since", "e.since", 2014, 2023),
                ("b.salary", "b.salary", 79, 121),
            ]
        )
    )
    t = draw(st.integers(lo, hi))
    op = draw(st.sampled_from([">", "<", ">=", "<="]))
    quant = draw(st.sampled_from(["all", "any", "none", "single"]))
    pred_sql = f"{col_sql} {op} {t}"
    filt = f"FILTER (WHERE {col_sql} IS NOT NULL)"
    if quant == "all":
        q_sql = f"coalesce(bool_and({pred_sql}) {filt}, TRUE)"
    elif quant == "any":
        q_sql = f"coalesce(bool_or({pred_sql}) {filt}, FALSE)"
    elif quant == "none":
        q_sql = f"(NOT coalesce(bool_or({pred_sql}) {filt}, FALSE))"
    else:  # single: exactly one qualifying element
        q_sql = (
            f"(coalesce(sum(CASE WHEN {pred_sql} THEN 1 ELSE 0 END) "
            f"{filt}, 0) = 1)"
        )
    cy = (
        "MATCH (a:Person)-[e:KNOWS]->(b:Person) "
        f"WITH a.id AS k, collect({col_cy}) AS xs "
        f"RETURN k, size(xs) AS n, {quant}(x IN xs WHERE x {op} {t}) AS q"
    )
    sql = (
        f"SELECT a.id AS k, count({col_sql}) AS n, {q_sql} AS q "
        "FROM person a JOIN knows e ON e.src = a.id "
        "JOIN person b ON b.id = e.dst GROUP BY a.id"
    )
    return QuerySpec(cy, sql, ordered=False)


@st.composite
def pattern_comp_queries(draw) -> QuerySpec:
    """size() of a predicated pattern comprehension per scan row — vs a
    correlated COUNT subquery. Covers both edge directions and a null-
    producing predicate (null pred drops the element on both sides)."""
    dirn = draw(st.sampled_from(["out", "in"]))
    t = draw(st.integers(24, 42))
    pred_cy, pred_sql = draw(
        st.sampled_from(
            [
                (f"b.age > {t}", f"b.age > {t}"),
                ("b.name CONTAINS 'a'", "contains(b.name, 'a')"),
                ("b.id % 2 = 0", "b.id % 2 = 0"),
                (f"b.age IS NULL OR b.age < {t}",
                 f"b.age IS NULL OR b.age < {t}"),
            ]
        )
    )
    if dirn == "out":
        comp = f"(n)-[:KNOWS]->(b:Person) WHERE {pred_cy} | b.id"
        corr = (
            "SELECT count(*) FROM knows e JOIN person b ON b.id = e.dst "
            f"WHERE e.src = n.id AND ({pred_sql})"
        )
    else:
        comp = f"(n)<-[:KNOWS]-(b:Person) WHERE {pred_cy} | b.id"
        corr = (
            "SELECT count(*) FROM knows e JOIN person b ON b.id = e.src "
            f"WHERE e.dst = n.id AND ({pred_sql})"
        )
    cy = f"MATCH (n:Person) RETURN n.id AS k, size([{comp}]) AS cnt"
    sql = f"SELECT n.id AS k, ({corr}) AS cnt FROM person n"
    return QuerySpec(cy, sql, ordered=False)


# ------------------------------------------------------------------ #
# deep list operations: index / slice (negative + out-of-range),
# comprehension with map, REDUCE, reverse/concat/contains — the §2.9
# forms previously covered by fixed unit tests only.  Translation rules
# (verified over an exhaustive grid, round 6): Cypher index i -> DuckDB
# i+1 if i >= 0 else i; Cypher slice [a..b] -> DuckDB [lo:hi] with
# lo = a+1 if a >= 0 else a, hi = b if b >= 0 else b-1; Cypher
# range(a, b) -> DuckDB range(a, b+1); reduce seeds via list_prepend.
@st.composite
def deep_list_item(draw, scope: Scope | None = None) -> Item:
    """One list-valued or list-derived-scalar item, Cypher + DuckDB."""

    def lits(min_size=0, max_size=5):
        xs = draw(st.lists(st.integers(-9, 99), min_size=min_size,
                           max_size=max_size))
        return xs

    def render(xs):
        body = ", ".join(str(x) for x in xs)
        return f"[{body}]", f"[{body}]"

    shape = draw(st.sampled_from(
        ["index", "slice", "comp", "reduce", "rev_concat", "contains",
         "graph_comp"]
    ))
    if shape == "index":
        xs = lits()
        cy_l, sql_l = render(xs)
        i = draw(st.integers(-6, 6))
        di = i + 1 if i >= 0 else i
        return Item(f"{cy_l}[{i}]", f"({sql_l})[{di}]", "int")
    if shape == "slice":
        xs = lits()
        cy_l, sql_l = render(xs)
        a = draw(st.integers(-5, 5))
        b = draw(st.integers(-5, 5))
        lo = a + 1 if a >= 0 else a
        hi = b if b >= 0 else b - 1
        return Item(f"{cy_l}[{a}..{b}]", f"({sql_l})[{lo}:{hi}]", "list")
    if shape == "comp":
        a = draw(st.integers(-2, 3))
        b = a + draw(st.integers(0, 6))
        m = draw(st.sampled_from([2, 3]))
        k = draw(st.integers(0, m - 1))
        c = draw(st.integers(-3, 3))
        d = draw(st.integers(-5, 5))
        use_where = draw(st.booleans())
        use_map = draw(st.booleans()) or not use_where
        cy = f"x IN range({a}, {b})"
        sql = f"range({a}, {b + 1})"
        if use_where:
            cy += f" WHERE x % {m} = {k}"
            sql = f"list_filter({sql}, x -> x % {m} = {k})"
        if use_map:
            cy += f" | x * {c} + {d}"
            sql = f"list_transform({sql}, x -> x * {c} + {d})"
        return Item(f"[{cy}]", sql, "list")
    if shape == "reduce":
        a = draw(st.integers(-2, 3))
        b = a + draw(st.integers(-1, 6))  # -1 => empty range -> seed
        s = draw(st.integers(-5, 9))
        c = draw(st.integers(-3, 3))
        body_cy, body_sql = draw(st.sampled_from([
            (f"acc + x * {c}", f"(a, b) -> a + b * {c}"),
            ("acc - x", "(a, b) -> a - b"),
            ("acc + x % 3", "(a, b) -> a + b % 3"),
        ]))
        return Item(
            f"reduce(acc = {s}, x IN range({a}, {b}) | {body_cy})",
            f"list_reduce(list_prepend({s}, range({a}, {b + 1})), {body_sql})",
            "int",
        )
    if shape == "rev_concat":
        xs, ys = lits(), lits()
        cy_x, sql_x = render(xs)
        cy_y, sql_y = render(ys)
        out_cy = f"reverse({cy_x} + {cy_y})"
        out_sql = f"list_reverse({sql_x} || {sql_y})"
        if draw(st.booleans()):
            return Item(f"size({out_cy})", f"len({out_sql})", "int")
        return Item(out_cy, out_sql, "list")
    if shape == "contains":
        xs = lits()
        cy_l, sql_l = render(xs)
        v = draw(st.integers(-9, 99))
        return Item(
            f"{v} IN {cy_l}", f"list_contains({sql_l}, {v})", "bool"
        )
    # graph_comp: comprehension whose predicate references the row —
    # exercises outer-column capture in Spark lambda functions. Null age
    # yields a null predicate, dropped by both engines' filters.
    hi = draw(st.integers(0, 4))
    m = draw(st.sampled_from([5, 7]))
    return Item(
        f"[x IN range(0, {hi}) WHERE x < n.age % {m} | x]",
        f"list_filter(range(0, {hi + 1}), x -> x < n.age % {m})",
        "list",
    )


@st.composite
def list_deep_queries(draw) -> QuerySpec:
    """2-3 deep-list items per Person row, keyed by n.id."""
    pat = pattern_scan_person()
    n = draw(st.integers(2, 3))
    items = [draw(deep_list_item(pat.scope)) for _ in range(n)]
    cy_items = ", ".join(f"{e.cy} AS x{i}" for i, e in enumerate(items))
    sql_items = ", ".join(f"{e.sql} AS x{i}" for i, e in enumerate(items))
    cy = f"{pat.cypher_match} RETURN {cy_items}, n.id AS k"
    sql = f"SELECT {sql_items}, n.id AS k {pat.sql_from}"
    return QuerySpec(cy, sql, ordered=False)


# ------------------------------------------------------------------ #
# map literals / map projection / nested access — §2.9 forms #63/#70,
# previously unit-only.  Spark side compiles to structs; DuckDB structs
# are the oracle; norm_value folds Row/dict to key-sorted dicts.
@st.composite
def map_item(draw, scope: Scope) -> Item:
    shape = draw(st.sampled_from(
        ["proj", "proj_missing", "literal", "nested", "star"]
    ))
    if shape == "proj":
        e = draw(int_expr(scope))
        return Item(
            f"n{{.name, .age, ex: {e.cy}}}",
            f"{{'name': n.name, 'age': n.age, 'ex': {e.sql}}}",
            "map",
        )
    if shape == "proj_missing":
        # a property absent from every node projects as null
        return Item(
            "n{.name, .nosuch}",
            "{'name': n.name, 'nosuch': NULL}",
            "map",
        )
    if shape == "literal":
        a = draw(st.integers(-9, 99))
        s = draw(st.sampled_from(STR_CONSTS))
        xs = draw(st.lists(st.integers(-9, 99), min_size=0, max_size=4))
        body = ", ".join(str(x) for x in xs)
        return Item(
            f"{{a: {a}, b: '{s}', c: [{body}]}}",
            f"{{'a': {a}, 'b': '{s}', 'c': [{body}]}}",
            "map",
        )
    if shape == "nested":
        e = draw(int_expr(scope))
        return Item(
            f"{{a: {{b: {e.cy}}}}}.a.b",
            f"({{'a': {{'b': {e.sql}}}}}).a.b",
            "int",
        )
    # star: all node properties (id excluded) plus a computed key
    k = draw(st.integers(-9, 99))
    return Item(
        f"n{{.*, extra: {k}}}",
        "{'name': n.name, 'age': n.age, 'dept': n.dept, "
        f"'salary': n.salary, 'extra': {k}}}",
        "map",
    )


@st.composite
def map_proj_queries(draw) -> QuerySpec:
    """1-2 map-shaped items per Person row, keyed by n.id."""
    pat = pattern_scan_person()
    n = draw(st.integers(1, 2))
    items = [draw(map_item(pat.scope)) for _ in range(n)]
    cy_items = ", ".join(f"{e.cy} AS x{i}" for i, e in enumerate(items))
    sql_items = ", ".join(f"{e.sql} AS x{i}" for i, e in enumerate(items))
    cy = f"{pat.cypher_match} RETURN {cy_items}, n.id AS k"
    sql = f"SELECT {sql_items}, n.id AS k {pat.sql_from}"
    return QuerySpec(cy, sql, ordered=False)


# ------------------------------------------------------------------ #
# round-7: temporal/duration differential family. Every rendering
# difference between the engines is encoded here so a mismatch is an
# engine semantics bug:
#   * date.truncate units incl. millennium/century (start at xx01, the
#     Neo4j/PostgreSQL convention — DuckDB agrees) and decade (xx0)
#   * dayofweek is ISO Monday=1 (reference binding_evaluator.py:258)
#     -> DuckDB isodow()
#   * millisecond/microsecond are within-second components
#     -> DuckDB's microsecond() is sub-MINUTE, so % 1000000
#   * date +- duration stays a date (sub-day components applied, then
#     truncated) -> CAST(... AS DATE); interval parts applied in
#     months -> days -> time order on both sides
#   * duration.between(a, b) components truncate toward zero
#     -> trunc(epoch diff / unit)
# Semantics matched: reference temporal_functions.py:110-613,
# arithmetic_evaluator.py:233-425.
# ------------------------------------------------------------------ #
_TRUNC_DATE_UNITS = [
    "millennium", "century", "decade", "year", "quarter", "month", "week", "day",
]
_TRUNC_TS_UNITS = _TRUNC_DATE_UNITS + ["hour", "minute", "second"]

_SPECIAL_DATES = [
    "2000-01-01", "2001-01-01", "1999-12-31", "2020-12-31", "2021-01-01",
    "2024-02-29", "1900-02-28", "2100-01-01", "1970-01-01", "0999-06-15",
    "1582-10-20", "2024-03-15",
]


def _gen_date(draw) -> str:
    if draw(st.booleans()):
        return draw(st.sampled_from(_SPECIAL_DATES))
    import datetime as _dt

    y = draw(st.integers(1800, 2400))
    m = draw(st.integers(1, 12))
    d = draw(st.integers(1, 28))
    return _dt.date(y, m, d).isoformat()


def _gen_ts(draw, frac: bool = False) -> str:
    d = _gen_date(draw)
    h, mi, s = (draw(st.integers(0, 23)), draw(st.integers(0, 59)),
                draw(st.integers(0, 59)))
    ts = f"{d}T{h:02d}:{mi:02d}:{s:02d}"
    if frac and draw(st.booleans()):
        ts += f".{draw(st.integers(1, 999999)):06d}"
    return ts


# (cypher_field, cy_on_date_ok, sql renderer given a SQL temporal literal)
_TEMPORAL_FIELD_RENDER = [
    ("year", True, lambda t: f"CAST(extract(year FROM {t}) AS BIGINT)"),
    ("month", True, lambda t: f"CAST(extract(month FROM {t}) AS BIGINT)"),
    ("day", True, lambda t: f"CAST(extract(day FROM {t}) AS BIGINT)"),
    ("quarter", True, lambda t: f"CAST(extract(quarter FROM {t}) AS BIGINT)"),
    ("week", True, lambda t: f"CAST(extract(week FROM {t}) AS BIGINT)"),
    ("dayofweek", True, lambda t: f"CAST(isodow({t}) AS BIGINT)"),
    ("dayofyear", True, lambda t: f"CAST(dayofyear({t}) AS BIGINT)"),
    ("ordinalday", True, lambda t: f"CAST(dayofyear({t}) AS BIGINT)"),
    ("hour", False, lambda t: f"CAST(extract(hour FROM {t}) AS BIGINT)"),
    ("minute", False, lambda t: f"CAST(extract(minute FROM {t}) AS BIGINT)"),
    ("second", False, lambda t: f"CAST(extract(second FROM {t}) AS BIGINT)"),
    ("millisecond", False,
     lambda t: f"CAST(floor((microsecond({t}) % 1000000) / 1000) AS BIGINT)"),
    ("microsecond", False,
     lambda t: f"CAST(microsecond({t}) % 1000000 AS BIGINT)"),
    ("epochseconds", False, lambda t: f"CAST(trunc(epoch({t})) AS BIGINT)"),
    ("epochmillis", False, lambda t: f"CAST(epoch_ms({t}) AS BIGINT)"),
]

_DUR_PARTS = [
    ("years", "YEAR", 0, 30), ("months", "MONTH", 0, 40),
    ("weeks", None, 0, 10), ("days", "DAY", 0, 400),
    ("hours", "HOUR", 0, 100), ("minutes", "MINUTE", 0, 300),
    ("seconds", "SECOND", 0, 10000),
]
_ISO_SUFFIX = {"years": "Y", "months": "M", "weeks": "W", "days": "D",
               "hours": "H", "minutes": "M", "seconds": "S"}


def _gen_duration(draw) -> tuple[str, str]:
    """-> (cypher duration expr, SQL '+'-joined interval terms)."""
    chosen = draw(st.lists(st.sampled_from(range(len(_DUR_PARTS))),
                           min_size=1, max_size=3, unique=True))
    parts = {}
    for i in sorted(chosen):
        name, _, lo, hi = _DUR_PARTS[i]
        parts[name] = draw(st.integers(lo, hi))
    if draw(st.booleans()):  # ISO literal form
        date_p = "".join(
            f"{parts[n]}{_ISO_SUFFIX[n]}"
            for n in ("years", "months", "weeks", "days") if n in parts
        )
        time_p = "".join(
            f"{parts[n]}{_ISO_SUFFIX[n]}"
            for n in ("hours", "minutes", "seconds") if n in parts
        )
        iso = "P" + date_p + ("T" + time_p if time_p else "")
        if iso == "P":
            iso = "P0D"
        cy = f"duration('{iso}')"
    else:  # map form
        cy = "duration({" + ", ".join(f"{n}: {v}" for n, v in parts.items()) + "})"
    sql_terms = []
    for name, unit, _, _ in _DUR_PARTS:
        if name not in parts:
            continue
        v = parts[name]
        if name == "weeks":
            sql_terms.append(f"INTERVAL ({v * 7}) DAY")
        else:
            sql_terms.append(f"INTERVAL ({v}) {unit}")
    return cy, sql_terms


def _sql_trunc(unit: str, sql_temporal: str, out_type: str) -> str:
    """Reference-convention truncation in DuckDB SQL. DuckDB's own
    date_trunc floors century/millennium to multiples of 100/1000
    (2024 -> 2000), but the reference (and Neo4j/PostgreSQL) start eras
    at xx01 (2024 -> 2001) — render the formula explicitly."""
    if unit in ("millennium", "century"):
        n = 1000 if unit == "millennium" else 100
        y = f"CAST(floor((extract(year FROM {sql_temporal}) - 1) / {n}) * {n} + 1 AS INT)"
        return f"CAST(make_date({y}, 1, 1) AS {out_type})"
    if unit == "decade":
        y = f"CAST(floor(extract(year FROM {sql_temporal}) / 10) * 10 AS INT)"
        return f"CAST(make_date({y}, 1, 1) AS {out_type})"
    return f"CAST(date_trunc('{unit}', {sql_temporal}) AS {out_type})"


@st.composite
def temporal_item(draw) -> Item:
    kind = draw(st.sampled_from(
        ["trunc_date", "trunc_ts", "field_date", "field_ts",
         "arith_date", "arith_ts", "between", "cmp"]
    ))
    null = draw(st.integers(0, 9)) == 0  # 10% null injection
    if kind == "trunc_date":
        u = draw(st.sampled_from(_TRUNC_DATE_UNITS))
        d = _gen_date(draw)
        cy_d = "null" if null else f"date('{d}')"
        sq_d = "CAST(NULL AS DATE)" if null else f"DATE '{d}'"
        return Item(f"date.truncate('{u}', {cy_d})",
                    _sql_trunc(u, sq_d, "DATE"), "temporal")
    if kind == "trunc_ts":
        u = draw(st.sampled_from(_TRUNC_TS_UNITS))
        t = _gen_ts(draw)
        cy_t = "null" if null else f"datetime('{t}')"
        sq_t = "CAST(NULL AS TIMESTAMP)" if null else f"TIMESTAMP '{t}'"
        return Item(f"datetime.truncate('{u}', {cy_t})",
                    _sql_trunc(u, sq_t, "TIMESTAMP"), "temporal")
    if kind == "field_date":
        fld, _, render = draw(st.sampled_from(
            [x for x in _TEMPORAL_FIELD_RENDER if x[1]]))
        d = _gen_date(draw)
        cy_d = "date(null)" if null else f"date('{d}')"
        sq_d = "CAST(NULL AS DATE)" if null else f"DATE '{d}'"
        return Item(f"({cy_d}).{fld}", render(sq_d), "temporal")
    if kind == "field_ts":
        fld, _, render = draw(st.sampled_from(_TEMPORAL_FIELD_RENDER))
        t = _gen_ts(draw, frac=fld in ("millisecond", "microsecond"))
        cy_t = "datetime(null)" if null else f"datetime('{t}')"
        sq_t = "CAST(NULL AS TIMESTAMP)" if null else f"TIMESTAMP '{t}'"
        return Item(f"({cy_t}).{fld}", render(sq_t), "temporal")
    if kind == "arith_date":
        d = _gen_date(draw)
        op = draw(st.sampled_from(["+", "-"]))
        dur_cy, terms = _gen_duration(draw)
        cy_d = "null" if null else f"date('{d}')"
        sq_d = "CAST(NULL AS DATE)" if null else f"DATE '{d}'"
        sql = sq_d + "".join(f" {op} {t}" for t in terms)
        return Item(f"{cy_d} {op} {dur_cy}", f"CAST(({sql}) AS DATE)", "temporal")
    if kind == "arith_ts":
        t = _gen_ts(draw)
        op = draw(st.sampled_from(["+", "-"]))
        dur_cy, terms = _gen_duration(draw)
        cy_t = "null" if null else f"datetime('{t}')"
        sq_t = "CAST(NULL AS TIMESTAMP)" if null else f"TIMESTAMP '{t}'"
        sql = sq_t + "".join(f" {op} {x}" for x in terms)
        return Item(f"{cy_t} {op} {dur_cy}", f"({sql})", "temporal")
    if kind == "between":
        t1, t2 = _gen_ts(draw), _gen_ts(draw)
        comp, div = draw(st.sampled_from(
            [("days", 86400), ("hours", 3600), ("minutes", 60), ("seconds", 1)]))
        cy = f"duration.between(datetime('{t1}'), datetime('{t2}')).{comp}"
        diff = f"epoch(TIMESTAMP '{t2}') - epoch(TIMESTAMP '{t1}')"
        return Item(cy, f"CAST(trunc(({diff}) / {div}.0) AS BIGINT)", "temporal")
    # cmp: same-type temporal comparison
    op = draw(st.sampled_from(["=", "<>", "<", "<=", ">", ">="]))
    if draw(st.booleans()):
        d1 = _gen_date(draw)
        d2 = d1 if draw(st.booleans()) else _gen_date(draw)
        cy = f"date('{d1}') {op} date('{d2}')"
        sql = f"DATE '{d1}' {'!=' if op == '<>' else op} DATE '{d2}'"
    else:
        t1 = _gen_ts(draw)
        t2 = t1 if draw(st.booleans()) else _gen_ts(draw)
        cy = f"datetime('{t1}') {op} datetime('{t2}')"
        sql = f"TIMESTAMP '{t1}' {'!=' if op == '<>' else op} TIMESTAMP '{t2}'"
    return Item(cy, sql, "temporal")


@st.composite
def temporal_queries(draw) -> QuerySpec:
    n = draw(st.integers(2, 3))
    items = [draw(temporal_item()) for _ in range(n)]
    cy = "RETURN " + ", ".join(f"{e.cy} AS x{i}" for i, e in enumerate(items))
    sql = "SELECT " + ", ".join(f"{e.sql} AS x{i}" for i, e in enumerate(items))
    return QuerySpec(cy, sql, ordered=False)
