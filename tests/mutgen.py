"""Random mutation-script generator for differential testing.

Each generated op is rendered to Cypher (for the engine) AND applied to
a plain-Python graph model implementing the reference's mutation
semantics (reference: packages/pycypher/src/pycypher/mutation_engine.py
:118-855 — CREATE/SET all forms/MERGE ON CREATE|ON MATCH/DELETE/DETACH/
FOREACH, statement atomicity, delete-connected-raises). After the script
runs, the engine's full post-commit table state is dumped and compared
to the model — any divergence is a semantics bug in the engine (or a
rendering bug here, which shrinking exposes quickly).

Error semantics are part of the contract: an op the model expects to
raise (DELETE of a still-connected node) must raise in the engine AND
leave the engine state untouched (statement atomicity / rollback).

Determinism rules that keep the model exact:
  * CREATEd entities carry explicit fresh ids (the model can't guess
    the engine's auto-allocator);
  * node MERGE keys on {id, name} so the matched set is well-defined;
  * SET values stay type-consistent per property;
  * edge ids are never compared (dumps project src/dst/props only).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Callable

from hypothesis import strategies as st

# ------------------------------------------------------------------ #
# fuzz graph base state (mirrors test_mutation_differential fixture)
# ------------------------------------------------------------------ #
PERSON_BASE = [
    {"id": 1, "name": "Alice", "age": 30, "dept": "Engineering", "salary": 100.0},
    {"id": 2, "name": "Bob", "age": 25, "dept": "Sales", "salary": 80.0},
    {"id": 3, "name": "Carol", "age": 35, "dept": "Engineering", "salary": 120.0},
    {"id": 4, "name": "Dave", "age": 28, "dept": "Sales", "salary": None},
    {"id": 5, "name": "Eve", "age": None, "dept": "Marketing", "salary": 95.5},
]
COMPANY_BASE = [
    {"id": 1, "cname": "Acme", "industry": "Tech"},      # id collides with Alice
    {"id": 11, "cname": "Globex", "industry": "Finance"},
]
# parallel edge 1->2 x2, self-loop 2->2, null since
KNOWS_BASE = [
    {"id": 100, "src": 1, "dst": 2, "since": 2015},
    {"id": 101, "src": 1, "dst": 3, "since": 2018},
    {"id": 102, "src": 2, "dst": 3, "since": 2020},
    {"id": 103, "src": 1, "dst": 2, "since": 2017},
    {"id": 104, "src": 2, "dst": 2, "since": None},
]
WORKS_AT_BASE = [
    {"id": 200, "src": 1, "dst": 1},
    {"id": 201, "src": 2, "dst": 11},
]

PERSON_PROPS = ["name", "age", "dept", "salary", "flag", "tag"]
KNOWS_PROPS = ["since", "w"]

NAMES = ["Alice", "Bob", "Carol", "Zed", "Nia"]
DEPTS = ["Engineering", "Sales", "Ops"]


class Model:
    """Reference-semantics in-memory graph: label -> list of prop dicts,
    reltype -> list of {id, src, dst, props...}."""

    def __init__(self):
        import copy

        self.person = copy.deepcopy(PERSON_BASE)
        self.company = copy.deepcopy(COMPANY_BASE)
        self.knows = copy.deepcopy(KNOWS_BASE)
        self.works_at = copy.deepcopy(WORKS_AT_BASE)
        self._eid = itertools.count(9000)

    # -- connectivity (per-label id spaces) ------------------------- #
    def person_connected(self, pid) -> bool:
        return any(e["src"] == pid or e["dst"] == pid for e in self.knows) or any(
            e["src"] == pid for e in self.works_at
        )

    def detach_person(self, pid) -> None:
        self.knows = [e for e in self.knows if e["src"] != pid and e["dst"] != pid]
        self.works_at = [e for e in self.works_at if e["src"] != pid]


@dataclass
class MutOp:
    cypher: str
    apply: Callable[[Model], None]
    expect_error: bool = False
    label: str = ""


# ------------------------------------------------------------------ #
# node-targeting predicates: (cypher WHERE fragment, model filter)
# ------------------------------------------------------------------ #
def _pred(draw):
    kind = draw(st.sampled_from(["id_eq", "id_le", "name_eq", "age_ge", "none"]))
    if kind == "id_eq":
        k = draw(st.sampled_from([1, 2, 3, 4, 5, 7, 501]))
        return f"n.id = {k}", lambda p: p["id"] == k
    if kind == "id_le":
        k = draw(st.sampled_from([0, 2, 3, 5]))
        return f"n.id <= {k}", lambda p: p["id"] <= k
    if kind == "name_eq":
        nm = draw(st.sampled_from(NAMES))
        return f"n.name = '{nm}'", lambda p: p.get("name") == nm
    if kind == "age_ge":
        k = draw(st.sampled_from([26, 30, 99]))
        return f"n.age >= {k}", lambda p: p.get("age") is not None and p["age"] >= k
    return None, lambda p: True


# SET value expressions per property, type-consistent
def _set_value(draw, prop: str):
    if prop in ("age", "flag"):
        kind = draw(st.sampled_from(["lit", "incr", "null"]))
        if kind == "lit":
            v = draw(st.sampled_from([0, 7, 44]))
            return str(v), lambda p: v
        if kind == "incr":
            return (
                "n.age + 1",
                lambda p: None if p.get("age") is None else p["age"] + 1,
            )
        return "NULL", lambda p: None
    if prop == "salary":
        kind = draw(st.sampled_from(["lit", "scale", "null"]))
        if kind == "lit":
            v = draw(st.sampled_from([50.0, 123.5]))
            return str(v), lambda p: v
        if kind == "scale":
            return (
                "n.salary * 2",
                lambda p: None if p.get("salary") is None else p["salary"] * 2,
            )
        return "NULL", lambda p: None
    # string props
    kind = draw(st.sampled_from(["lit", "copy", "null"]))
    if kind == "lit":
        v = draw(st.sampled_from(NAMES + DEPTS))
        return f"'{v}'", lambda p: v
    if kind == "copy":
        return "n.name", lambda p: p.get("name")
    return "NULL", lambda p: None


# ------------------------------------------------------------------ #
# op generators (each returns MutOp)
# ------------------------------------------------------------------ #
def op_create_node(draw, fresh):
    nid = next(fresh)
    nm = draw(st.sampled_from(NAMES))
    age = draw(st.sampled_from([18, 33, None]))
    props = {"id": nid, "name": nm}
    cy = f"{{id: {nid}, name: '{nm}'"
    if age is not None:
        props["age"] = age
        cy += f", age: {age}"
    cy += "}"

    def apply(m: Model):
        m.person.append(dict(props))

    return MutOp(f"CREATE (:Person {cy})", apply, label="create_node")


def op_create_edge(draw, fresh):
    a = draw(st.sampled_from([1, 2, 3, 4, 5, 7]))  # 7: no match -> no-op
    b = draw(st.sampled_from([1, 2, 3, 4, 5]))
    since = draw(st.sampled_from([1999, 2024]))
    cy = (
        f"MATCH (a:Person {{id: {a}}}), (b:Person {{id: {b}}}) "
        f"CREATE (a)-[:KNOWS {{since: {since}}}]->(b)"
    )

    def apply(m: Model):
        ok_a = [p for p in m.person if p["id"] == a]
        ok_b = [p for p in m.person if p["id"] == b]
        for _ in ok_a:
            for _ in ok_b:
                m.knows.append(
                    {"id": next(m._eid), "src": a, "dst": b, "since": since}
                )

    return MutOp(cy, apply, label="create_edge")


def op_set_prop(draw, fresh):
    prop = draw(st.sampled_from(PERSON_PROPS))
    pred_cy, pred = _pred(draw)
    val_cy, val = _set_value(draw, prop)
    where = f" WHERE {pred_cy}" if pred_cy else ""
    cy = f"MATCH (n:Person){where} SET n.{prop} = {val_cy}"

    def apply(m: Model):
        for p in m.person:
            if pred(p):
                p[prop] = val(p)

    return MutOp(cy, apply, label="set_prop")


def op_set_map_add(draw, fresh):
    pred_cy, pred = _pred(draw)
    age = draw(st.sampled_from([21, 60]))
    tag = draw(st.sampled_from(DEPTS))
    where = f" WHERE {pred_cy}" if pred_cy else ""
    cy = f"MATCH (n:Person){where} SET n += {{age: {age}, tag: '{tag}'}}"

    def apply(m: Model):
        for p in m.person:
            if pred(p):
                p["age"] = age
                p["tag"] = tag

    return MutOp(cy, apply, label="set_map_add")


def op_set_map_replace(draw, fresh):
    pred_cy, pred = _pred(draw)
    nm = draw(st.sampled_from(NAMES))
    sal = draw(st.sampled_from([10.0, 77.5]))
    where = f" WHERE {pred_cy}" if pred_cy else ""
    cy = f"MATCH (n:Person){where} SET n = {{name: '{nm}', salary: {sal}}}"

    def apply(m: Model):
        for p in m.person:
            if pred(p):
                pid = p["id"]
                p.clear()
                p.update({"id": pid, "name": nm, "salary": sal})

    return MutOp(cy, apply, label="set_map_replace")


def op_remove_prop(draw, fresh):
    prop = draw(st.sampled_from(["age", "dept", "salary", "tag"]))
    pred_cy, pred = _pred(draw)
    where = f" WHERE {pred_cy}" if pred_cy else ""
    cy = f"MATCH (n:Person){where} REMOVE n.{prop}"

    def apply(m: Model):
        for p in m.person:
            if pred(p):
                p[prop] = None

    return MutOp(cy, apply, label="remove_prop")


def op_set_rel_prop(draw, fresh):
    k = draw(st.sampled_from([2016, 2019]))
    mode = draw(st.sampled_from(["incr", "lit"]))
    if mode == "incr":
        val_cy = "r.since + 10"
        val = lambda e: None if e.get("since") is None else e["since"] + 10  # noqa: E731
    else:
        val_cy = "1990"
        val = lambda e: 1990  # noqa: E731
    cy = (
        f"MATCH (:Person)-[r:KNOWS]->(:Person) WHERE r.since < {k} "
        f"SET r.since = {val_cy}"
    )

    def apply(m: Model):
        for e in m.knows:
            if e.get("since") is not None and e["since"] < k:
                e["since"] = val(e)

    return MutOp(cy, apply, label="set_rel_prop")


def op_delete_node(draw, fresh):
    pid = draw(st.sampled_from([1, 2, 3, 4, 5, 7]))
    detach = draw(st.booleans())
    kw = "DETACH DELETE" if detach else "DELETE"
    cy = f"MATCH (n:Person {{id: {pid}}}) {kw} n"

    def apply(m: Model):
        targets = [p for p in m.person if p["id"] == pid]
        if not targets:
            return
        if detach:
            m.detach_person(pid)
        elif m.person_connected(pid):
            raise _ExpectedError()
        m.person = [p for p in m.person if p["id"] != pid]

    # expect_error decided at apply time (depends on prior ops);
    # runner handles the _ExpectedError protocol
    return MutOp(cy, apply, label="delete_node")


def op_delete_edge(draw, fresh):
    a = draw(st.sampled_from([1, 2, 3]))
    b = draw(st.sampled_from([2, 3]))
    cy = (
        f"MATCH (a:Person {{id: {a}}})-[r:KNOWS]->(b:Person {{id: {b}}}) DELETE r"
    )

    def apply(m: Model):
        m.knows = [e for e in m.knows if not (e["src"] == a and e["dst"] == b)]

    return MutOp(cy, apply, label="delete_edge")


def op_foreach_set(draw, fresh):
    k = draw(st.sampled_from([26, 30]))
    v = draw(st.sampled_from([1, 9]))
    cy = (
        f"MATCH (n:Person) WHERE n.age >= {k} WITH collect(n) AS ns "
        f"FOREACH (x IN ns | SET x.flag = {v})"
    )

    def apply(m: Model):
        for p in m.person:
            if p.get("age") is not None and p["age"] >= k:
                p["flag"] = v

    return MutOp(cy, apply, label="foreach_set")


def op_merge_node(draw, fresh):
    # merge key {id, name}: well-defined matched set. (No same-id/
    # different-name merges: a created duplicate id would be a second
    # row under one node identity — ambiguous in the id-keyed model.)
    existing = draw(st.booleans())
    if existing:
        nid, nm = draw(st.sampled_from([(1, "Alice"), (2, "Bob")]))
    else:
        nid, nm = next(fresh), draw(st.sampled_from(NAMES))
    on_c = draw(st.sampled_from([18, 55]))
    on_m = draw(st.sampled_from([2, 6]))
    cy = (
        f"MERGE (n:Person {{id: {nid}, name: '{nm}'}}) "
        f"ON CREATE SET n.age = {on_c} ON MATCH SET n.flag = {on_m}"
    )

    def apply(m: Model):
        hits = [p for p in m.person if p["id"] == nid and p.get("name") == nm]
        if hits:
            for p in hits:
                p["flag"] = on_m
        elif any(p["id"] == nid for p in m.person):
            # a preceding op renamed this person, so the merge key no
            # longer matches and the create path would mint a SECOND
            # node with an existing identity — the engine rejects that
            # (id-uniqueness invariant; fuzzer-found round-7)
            raise _ExpectedError()
        else:
            m.person.append({"id": nid, "name": nm, "age": on_c})

    return MutOp(cy, apply, label="merge_node")


def op_merge_edge(draw, fresh):
    a = draw(st.sampled_from([1, 2, 3, 4]))
    b = draw(st.sampled_from([2, 3, 4]))
    on_c = draw(st.sampled_from([2030, 2040]))
    on_m = draw(st.sampled_from([5, 8]))
    cy = (
        f"MATCH (a:Person {{id: {a}}}), (b:Person {{id: {b}}}) "
        f"MERGE (a)-[r:KNOWS]->(b) "
        f"ON CREATE SET r.since = {on_c} ON MATCH SET r.w = {on_m}"
    )

    def apply(m: Model):
        if not any(p["id"] == a for p in m.person) or not any(
            p["id"] == b for p in m.person
        ):
            return
        hits = [e for e in m.knows if e["src"] == a and e["dst"] == b]
        if hits:
            for e in hits:
                e["w"] = on_m
        else:
            m.knows.append(
                {"id": next(m._eid), "src": a, "dst": b, "since": on_c}
            )

    return MutOp(cy, apply, label="merge_edge")


class _ExpectedError(Exception):
    """Raised by a model apply() when the engine must raise too."""


# ------------------------------------------------------------------ #
# script strategies (the two round-5 families)
# ------------------------------------------------------------------ #
GENERAL_OPS = [
    op_create_node, op_create_edge, op_set_prop, op_set_map_add,
    op_set_map_replace, op_remove_prop, op_set_rel_prop, op_delete_node,
    op_delete_edge, op_foreach_set,
]
MERGE_OPS = [
    op_merge_node, op_merge_edge, op_create_edge, op_delete_edge,
    op_merge_edge, op_merge_node,  # weighted toward MERGE
]


def _script(draw, ops, min_len=1, max_len=4):
    fresh = iter(range(500, 600))
    n = draw(st.integers(min_len, max_len))
    return [draw(st.sampled_from(ops))(draw, fresh) for _ in range(n)]


@st.composite
def mutation_scripts(draw):
    return _script(draw, GENERAL_OPS)


@st.composite
def merge_scripts(draw):
    return _script(draw, MERGE_OPS)


# ------------------------------------------------------------------ #
# state dump / compare
# ------------------------------------------------------------------ #
def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    return v


# key=repr throughout: dumped tuples may hold None next to int/str,
# which plain tuple ordering cannot compare (fuzzer-found)
def model_person_rows(m: Model):
    return sorted(
        (tuple(_norm(p.get(c)) for c in ["id"] + PERSON_PROPS) for p in m.person),
        key=repr,
    )


def model_knows_rows(m: Model):
    return sorted(
        (
            (e["src"], e["dst"], _norm(e.get("since")), _norm(e.get("w")))
            for e in m.knows
        ),
        key=repr,
    )


def model_works_rows(m: Model):
    return sorted(((e["src"], e["dst"]) for e in m.works_at), key=repr)


PERSON_DUMP = (
    "MATCH (n:Person) RETURN n.id AS id, "
    + ", ".join(f"n.{p} AS {p}" for p in PERSON_PROPS)
)
KNOWS_DUMP = (
    "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
    "RETURN a.id AS s, b.id AS d, r.since AS since, r.w AS w"
)
WORKS_DUMP = (
    "MATCH (a:Person)-[r:WORKS_AT]->(b:Company) RETURN a.id AS s, b.id AS d"
)


def engine_person_rows(eng):
    return sorted(
        (tuple(_norm(v) for v in r) for r in eng.execute(PERSON_DUMP).collect()),
        key=repr,
    )


def engine_knows_rows(eng):
    return sorted(
        (tuple(_norm(v) for v in r) for r in eng.execute(KNOWS_DUMP).collect()),
        key=repr,
    )


def engine_works_rows(eng):
    return sorted((tuple(r) for r in eng.execute(WORKS_DUMP).collect()), key=repr)


def run_script(eng, script):
    """Execute ops against engine and model; assert error parity per op
    and full-state parity at the end."""
    m = Model()
    for op in script:
        if hasattr(op, "expect"):  # checked read (ReadOp)
            # key=repr: tuples may hold None next to str/int (unsortable)
            got = sorted(
                (tuple(_norm(v) for v in r) for r in eng.execute(op.cypher).collect()),
                key=repr,
            )
            want = sorted(op.expect(m), key=repr)
            assert got == want, (
                f"read diverged: {op.cypher!r}\n engine={got}\n model={want}"
            )
            continue
        model_err = False
        try:
            op.apply(m)
        except _ExpectedError:
            model_err = True
        eng_err = False
        try:
            eng.execute(op.cypher)
        except Exception:
            eng_err = True
        assert eng_err == model_err, (
            f"error parity: engine_err={eng_err} model_err={model_err} "
            f"op={op.cypher!r}"
        )
    assert engine_person_rows(eng) == model_person_rows(m), "Person state diverged"
    assert engine_knows_rows(eng) == model_knows_rows(m), "KNOWS state diverged"
    assert engine_works_rows(eng) == model_works_rows(m), "WORKS_AT state diverged"


# ------------------------------------------------------------------ #
# read ops (round-5): differential reads over POST-MUTATION state.
# propgen's read fuzzers all run against clean registered tables; after
# a mutation commit the catalog tables are local checkpoints (no parquet
# scan, no FK collapse for the tables written) where optimizer paths
# (FK-collapse, guards, pushdown) behave differently — this family
# caught the cross-join-guard false refusal, back when committed tables
# were join-product plan chains.
# ------------------------------------------------------------------ #
@dataclass
class ReadOp:
    cypher: str
    expect: Callable[[Model], list]
    label: str = ""


def _live_knows(m: Model):
    ids = {p["id"] for p in m.person}
    return [e for e in m.knows if e["src"] in ids and e["dst"] in ids]


def read_filtered_scan(draw, fresh):
    pred_cy, pred = _pred(draw)
    prop = draw(st.sampled_from(PERSON_PROPS))
    where = f" WHERE {pred_cy}" if pred_cy else ""
    cy = f"MATCH (n:Person){where} RETURN n.id AS id, n.{prop} AS v"

    def expect(m: Model):
        return [(p["id"], _norm(p.get(prop))) for p in m.person if pred(p)]

    return ReadOp(cy, expect, label="read_filtered_scan")


def read_hop(draw, fresh):
    k = draw(st.sampled_from([1, 2, 5]))
    cy = (
        f"MATCH (a:Person)-[r:KNOWS]->(b:Person) WHERE a.id <= {k} "
        "RETURN a.id AS a, b.id AS b, r.since AS s"
    )

    def expect(m: Model):
        return [
            (e["src"], e["dst"], _norm(e.get("since")))
            for e in _live_knows(m)
            if e["src"] <= k
        ]

    return ReadOp(cy, expect, label="read_hop")


def read_optional_count(draw, fresh):
    cy = (
        "MATCH (n:Person) OPTIONAL MATCH (n)-[:KNOWS]->(m2:Person) "
        "RETURN n.id AS id, count(m2) AS c"
    )

    def expect(m: Model):
        live = _live_knows(m)
        return [
            (p["id"], sum(1 for e in live if e["src"] == p["id"]))
            for p in m.person
        ]

    return ReadOp(cy, expect, label="read_optional_count")


def read_aggregate(draw, fresh):
    cy = (
        "MATCH (n:Person) RETURN count(*) AS c, sum(n.age) AS s, "
        "min(n.name) AS mn"
    )

    def expect(m: Model):
        ages = [p["age"] for p in m.person if p.get("age") is not None]
        names = [p["name"] for p in m.person if p.get("name") is not None]
        # Cypher: sum() over an empty/all-null input is 0, never null
        return [(len(m.person), sum(ages), min(names) if names else None)]

    return ReadOp(cy, expect, label="read_aggregate")


def read_exists(draw, fresh):
    cy = (
        "MATCH (n:Person) WHERE EXISTS { (n)-[:KNOWS]->(:Person) } "
        "RETURN n.id AS id"
    )

    def expect(m: Model):
        srcs = {e["src"] for e in _live_knows(m)}
        return [(p["id"],) for p in m.person if p["id"] in srcs]

    return ReadOp(cy, expect, label="read_exists")


def read_group_by(draw, fresh):
    cy = "MATCH (n:Person) RETURN n.dept AS d, count(*) AS c"

    def expect(m: Model):
        groups: dict = {}
        for p in m.person:
            groups[p.get("dept")] = groups.get(p.get("dept"), 0) + 1
        return list(groups.items())

    return ReadOp(cy, expect, label="read_group_by")


READ_OPS = [
    read_filtered_scan, read_hop, read_optional_count,
    read_aggregate, read_exists, read_group_by,
]


@st.composite
def interleaved_scripts(draw):
    """Mutations interleaved with checked reads: every read's result is
    compared against the model mid-script, exercising the read/compile
    pipeline over mutated (non-parquet-scan) table plans."""
    fresh = iter(range(700, 800))
    n = draw(st.integers(2, 6))
    ops = []
    pool = GENERAL_OPS + [op_merge_node, op_merge_edge]
    for i in range(n):
        if i % 2 == 1:
            ops.append(draw(st.sampled_from(READ_OPS))(draw, fresh))
        else:
            ops.append(draw(st.sampled_from(pool))(draw, fresh))
    return ops


def read_varlength(draw, fresh):
    """[*1..2] over the mutated KNOWS graph: the path expander compiles
    against post-mutation plan chains here. openCypher relationship
    uniqueness: a length-2 path may not reuse an edge (self-loop twice
    is excluded); nodes may repeat."""
    cy = (
        "MATCH (a:Person)-[:KNOWS*1..2]->(b:Person) "
        "RETURN a.id AS a, b.id AS b"
    )

    def expect(m: Model):
        edges = _live_knows(m)
        rows = [(e["src"], e["dst"]) for e in edges]
        rows += [
            (e1["src"], e2["dst"])
            for e1 in edges
            for e2 in edges
            if e1["id"] != e2["id"] and e1["dst"] == e2["src"]
        ]
        return rows

    return ReadOp(cy, expect, label="read_varlength")


def read_shortest(draw, fresh):
    src = draw(st.sampled_from([1, 2]))
    cy = (
        f"MATCH p = shortestPath((a:Person {{id: {src}}})-[:KNOWS*]->(b:Person)) "
        "RETURN DISTINCT b.id AS b, length(p) AS l"
    )

    def expect(m: Model):
        if not any(p["id"] == src for p in m.person):
            return []
        adj: dict = {}
        for e in _live_knows(m):
            adj.setdefault(e["src"], set()).add(e["dst"])
        dist = {src: 0}
        frontier = [src]
        while frontier:
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        # same-node pair excluded (no zero-length path row)
        return [(b, d) for b, d in dist.items() if b != src]

    return ReadOp(cy, expect, label="read_shortest")


READ_OPS.extend([read_varlength, read_shortest])
