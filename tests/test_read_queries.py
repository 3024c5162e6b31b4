"""Read-path golden tests: scans, filters, hops, projection modifiers.

Expected values hand-verified against the golden graph in conftest
(reference test strategy: tests/test_golden_ir.py — exact values, not
just shapes).
"""

import pytest


def test_simple_scan(run):
    assert run("MATCH (n:Person) RETURN n.name AS name") == [
        ("Alice",), ("Bob",), ("Carol",), ("Dave",)
    ]


def test_filtered_scan(run):
    assert run("MATCH (n:Person) WHERE n.age > 28 RETURN n.name AS name") == [
        ("Alice",), ("Carol",)
    ]


def test_inline_props(run):
    assert run("MATCH (n:Person {name: 'Bob'}) RETURN n.age AS age") == [(25,)]


def test_order_by_desc_limit(golden):
    out = golden.execute(
        "MATCH (n:Person) RETURN n.name AS name ORDER BY n.age DESC LIMIT 2"
    ).collect()
    assert [r["name"] for r in out] == ["Carol", "Alice"]


def test_skip(golden):
    out = golden.execute(
        "MATCH (n:Person) RETURN n.name AS name ORDER BY n.name SKIP 2"
    ).collect()
    assert [r["name"] for r in out] == ["Carol", "Dave"]


def test_order_null_handling(golden):
    # Cypher: nulls sort last ascending, first descending
    out = golden.execute(
        "MATCH (n:Person) RETURN n.name AS name ORDER BY n.salary"
    ).collect()
    assert [r["name"] for r in out] == ["Bob", "Alice", "Carol", "Dave"]
    out = golden.execute(
        "MATCH (n:Person) RETURN n.name AS name ORDER BY n.salary DESC"
    ).collect()
    assert [r["name"] for r in out] == ["Dave", "Carol", "Alice", "Bob"]


def test_single_hop(run):
    assert run(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b"
    ) == [("Alice", "Bob"), ("Alice", "Carol"), ("Bob", "Carol")]


def test_reverse_hop(run):
    assert run(
        "MATCH (a:Person)<-[:KNOWS]-(b:Person) WHERE a.name = 'Carol' RETURN b.name AS b"
    ) == [("Alice",), ("Bob",)]


def test_undirected_hop(run):
    assert run(
        "MATCH (a:Person {name: 'Bob'})-[:KNOWS]-(b:Person) RETURN b.name AS b"
    ) == [("Alice",), ("Carol",)]


def test_edge_property(run):
    assert run(
        "MATCH (:Person)-[r:KNOWS]->(:Person) WHERE r.since > 2016 "
        "RETURN r.since AS since"
    ) == [(2018,), (2020,)]


def test_two_hop_chain(run):
    assert run(
        "MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(c:Person) "
        "RETURN a.name AS a, c.name AS c"
    ) == [("Alice", "Carol")]


def test_multi_path_match(run):
    assert run(
        "MATCH (a:Person)-[:KNOWS]->(b:Person), (a)-[:WORKS_AT]->(co:Company) "
        "WHERE co.cname = 'Acme' RETURN a.name AS a, b.name AS b"
    ) == [("Alice", "Bob"), ("Alice", "Carol"), ("Bob", "Carol")]


def test_cyclic_back_reference(run):
    # no triangles in the golden graph
    assert run(
        "MATCH (a:Person)-[:KNOWS]->(b:Person)-[:KNOWS]->(a) RETURN a.name AS a"
    ) == []


def test_optional_match_null_fill(run):
    assert run(
        "MATCH (n:Person) OPTIONAL MATCH (n)-[:WORKS_AT]->(c:Company) "
        "RETURN n.name AS name, c.cname AS com"
    ) == [
        ("Alice", "Acme"), ("Alice", "Globex"), ("Bob", "Acme"),
        ("Carol", None), ("Dave", None),
    ]


def test_relationship_uniqueness(run):
    # (a)-[r1]->(b)<-[r2]-(c): r1 != r2 so a != c
    assert run(
        "MATCH (a:Person)-[r1:KNOWS]->(b:Person)<-[r2:KNOWS]-(c:Person) "
        "RETURN a.name AS a, b.name AS b, c.name AS c"
    ) == [("Alice", "Carol", "Bob"), ("Bob", "Carol", "Alice")]


def test_anonymous_nodes(run):
    assert run("MATCH (:Person)-[:KNOWS]->(b:Person) RETURN b.name AS b") == [
        ("Bob",), ("Carol",), ("Carol",)
    ]


def test_unlabeled_scan(run):
    assert run("MATCH (n) RETURN count(*) AS c") == [(6,)]


def test_label_predicate(run):
    assert run(
        "MATCH (n:Person) WHERE n:Person RETURN count(*) AS c"
    ) == [(4,)]


def test_distinct(run):
    assert run("MATCH (n:Person) RETURN DISTINCT n.dept AS dept") == [
        ("Engineering",), ("Sales",)
    ]


def test_where_exists_pattern(run):
    assert run(
        "MATCH (n:Person) WHERE EXISTS { (n)-[:WORKS_AT]->(:Company) } "
        "RETURN n.name AS name"
    ) == [("Alice",), ("Bob",)]


def test_not_exists_with_or(run):
    # EXISTS composes with boolean structure (not just semi-join)
    assert run(
        "MATCH (n:Person) WHERE NOT EXISTS { (n)-[:WORKS_AT]->() } OR n.age > 29 "
        "RETURN n.name AS name"
    ) == [("Alice",), ("Carol",), ("Dave",)]


def test_union_and_union_all(run):
    assert run(
        "MATCH (n:Person) WHERE n.age > 30 RETURN n.name AS name "
        "UNION MATCH (n:Person) WHERE n.dept = 'Engineering' RETURN n.name AS name"
    ) == [("Alice",), ("Carol",)]
    assert run(
        "MATCH (n:Person) WHERE n.age > 30 RETURN n.name AS name "
        "UNION ALL MATCH (n:Person) WHERE n.dept = 'Engineering' RETURN n.name AS name"
    ) == [("Alice",), ("Carol",), ("Carol",)]


def test_parameters(run):
    assert run(
        "MATCH (n:Person) WHERE n.age >= $min AND n.dept = $dept RETURN n.name AS name",
        {"min": 26, "dept": "Engineering"},
    ) == [("Alice",), ("Carol",)]


def test_with_rescoping(run):
    assert run(
        "MATCH (n:Person) WITH n.name AS nm, n.age AS a WHERE a < 30 "
        "RETURN nm, a"
    ) == [("Bob", 25), ("Dave", 28)]


def test_with_carries_node(run):
    assert run(
        "MATCH (n:Person) WITH n ORDER BY n.age LIMIT 2 "
        "MATCH (n)-[:KNOWS]->(m:Person) RETURN n.name AS n, m.name AS m"
    ) == [("Bob", "Carol")]


def test_unwind(run):
    assert run("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x") == [(1,), (2,), (3,)]
    assert run("UNWIND [] AS x RETURN x") == []
    assert run("UNWIND null AS x RETURN x") == []


def test_pattern_comprehension(run):
    assert run(
        "MATCH (n:Person) WHERE n.name = 'Alice' "
        "RETURN size([(n)-[:KNOWS]->(b:Person) | b.name]) AS cnt"
    ) == [(2,)]


def test_call_procedure(run):
    assert run("CALL db.labels() YIELD label RETURN label") == [
        ("Company",), ("Person",)
    ]


def test_standalone_call_returns_procedure_rows(run):
    """A query that ends in CALL answers the procedure's output columns,
    with or without YIELD (it answered no rows without RETURN)."""
    assert run("CALL db.labels()") == [("Company",), ("Person",)]
    assert run("CALL db.labels() YIELD label AS l") == [("Company",), ("Person",)]
    assert run("CALL db.relationshipTypes()") == [("KNOWS",), ("WORKS_AT",)]


@pytest.mark.parametrize("q,dtypes,expected", [
    ("MATCH (n:NoSuchLabel) RETURN n", [("n", "bigint")], []),
    ("OPTIONAL MATCH (n:NoSuchLabel) RETURN n", [("n", "bigint")], [(None,)]),
    ("CALL db.labels()", [("label", "string")], [("Company",), ("Person",)]),
    ("CALL db.labels() YIELD label RETURN label", [("label", "string")],
     [("Company",), ("Person",)]),
    ("MATCH (n:Person {name: 'Bob'}) SET n.age = 26", [], []),
])
def test_driver_local_frames_scan_no_python_rdd(golden, q, dtypes, expected):
    """Frames the engine builds from Python values are JVM local
    relations: the plan holds no Python-RDD scan (``Scan ExistingRDD``),
    whose every collect runs a job of Python-worker tasks, and rows and
    column types are the query's."""
    df = golden.execute(q)
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.dtypes == dtypes
    assert sorted(map(tuple, df.collect()), key=repr) == expected
