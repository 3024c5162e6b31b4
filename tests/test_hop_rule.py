"""One hop rule: fixed-length, FK-collapsed and var-length hops bind
their far endpoint (patterns.bind_far_endpoint) and filter inline
property maps (patterns.filter_props) through the same helpers, so a
pattern means the same thing whichever hop compiles it.

Pinned here:

1. an inline property map compiles its values like a WHERE expression,
   registered functions included, on every map position;
2. a cyclic close onto an already-bound variable checks every label it
   declares (a label no node carries matches nothing, not an error), on
   fixed and var-length hops alike, and applies its property map;
3. an anonymous far endpoint stays out of ``RETURN *``;
4. an anonymous far endpoint nothing reads, on an edge type registered
   without endpoint labels, counts each edge once even when several
   labels hold its id, and still has to exist.
"""

from __future__ import annotations

import pytest

from pycypher_nmetl_spark import CypherEngine, GraphCatalog


@pytest.fixture()
def hop(spark):
    """Person 1..3 (Carol, id 3, is also a Robot), 2-cycles 1<->2 and
    2<->3 over KNOWS, FROM an fk-collapsed Person -> Nation hop, and an
    unregistered LIKES edge."""
    from pyspark.sql import functions as F

    cat = GraphCatalog(spark)
    person = spark.createDataFrame(
        [(1, "Alice", 10), (2, "Bob", 11), (3, "Carol", 10)],
        "id long, name string, nid long",
    )
    cat.register_nodes("Person", person)
    cat.register_nodes("Robot", spark.createDataFrame([(3, "R3")], "id long, name string"))
    cat.register_nodes(
        "Nation",
        spark.createDataFrame([(10, "GERMANY"), (11, "FRANCE")], "id long, name string"),
    )
    cat.register_edges(
        "KNOWS",
        spark.createDataFrame(
            [(100, 1, 2, 2015), (101, 2, 1, 2016), (102, 2, 3, 2018), (103, 3, 2, 2020)],
            "id long, src long, dst long, since long",
        ),
        src_label="Person",
        dst_label="Person",
    )
    cat.register_edges(
        "FROM",
        person.select(F.col("id").alias("src"), F.col("nid").alias("dst")),
        src_label="Person",
        dst_label="Nation",
        fk_collapse=("Person", "src", "nid"),
    )
    cat.register_edges(
        "LIKES", spark.createDataFrame([(200, 1, 3)], "id long, src long, dst long")
    )
    eng = CypherEngine(cat)
    eng.register_function("ident", lambda cc, args: cc.col(args[0]))
    return eng


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "as_map, as_where",
    [
        (  # node scan
            "MATCH (n:Person {name: ident('Alice')}) RETURN n.name AS x",
            "MATCH (n:Person) WHERE n.name = ident('Alice') RETURN n.name AS x",
        ),
        (  # fixed hop, far endpoint
            "MATCH (a:Person)-[:KNOWS]->(b:Person {name: ident('Bob')}) RETURN a.name AS x",
            "MATCH (a:Person)-[:KNOWS]->(b:Person) WHERE b.name = ident('Bob') RETURN a.name AS x",
        ),
        (  # fixed hop, edge
            "MATCH (a:Person)-[r:KNOWS {since: ident(2018)}]->(b) RETURN b.name AS x",
            "MATCH (a:Person)-[r:KNOWS]->(b) WHERE r.since = ident(2018) RETURN b.name AS x",
        ),
        (  # FK-collapsed hop, the owner is the near side
            "MATCH (a:Person)-[:FROM]->(n:Nation {name: ident('GERMANY')}) RETURN a.name AS x",
            "MATCH (a:Person)-[:FROM]->(n:Nation) WHERE n.name = ident('GERMANY') RETURN a.name AS x",
        ),
        (  # FK-collapsed hop, the owner is the far side
            "MATCH (n:Nation)<-[:FROM]-(a:Person {name: ident('Bob')}) RETURN n.name AS x",
            "MATCH (n:Nation)<-[:FROM]-(a:Person) WHERE a.name = ident('Bob') RETURN n.name AS x",
        ),
        (  # var-length tip
            "MATCH (a:Person)-[:KNOWS*1..2]->(b {name: ident('Carol')}) RETURN a.name AS x",
            "MATCH (a:Person)-[:KNOWS*1..2]->(b) WHERE b.name = ident('Carol') RETURN a.name AS x",
        ),
        (  # var-length edges: the rel binds a list, so the literal map
           # stands in for the WHERE form
            "MATCH (a:Person)-[:KNOWS*1..2 {since: ident(2018)}]->(b) RETURN b.name AS x",
            "MATCH (a:Person)-[:KNOWS*1..2 {since: 2018}]->(b) RETURN b.name AS x",
        ),
    ],
)
def test_registered_function_in_inline_map(hop, as_map, as_where):
    want = rows(hop.execute(as_where))
    assert want
    assert rows(hop.execute(as_map)) == want


CLOSE = "MATCH (a:Person)-[:KNOWS]->(b)-[:KNOWS{hops}]->(a{end}) RETURN a.name AS a, b.name AS b"


@pytest.mark.parametrize(
    "hops, end, want",
    [
        ("", ":Robot", [("Carol", "Bob")]),
        ("*1..1", ":Robot", [("Carol", "Bob")]),
        ("", ":Ghost", []),
        ("*1..1", ":Ghost", []),
        ("", ":Robot:Ghost", []),
        ("*1..1", ":Robot:Ghost", []),
        ("", " {name: 'Bob'}", [("Bob", "Alice"), ("Bob", "Carol")]),
        ("*1..1", " {name: 'Bob'}", [("Bob", "Alice"), ("Bob", "Carol")]),
    ],
)
def test_cyclic_close_checks_labels_and_props(hop, hops, end, want):
    assert rows(hop.execute(CLOSE.format(hops=hops, end=end))) == want


@pytest.mark.parametrize(
    "q",
    [
        "MATCH (a:Person)-[:LIKES]->() RETURN *",
        "MATCH (a:Person)-[:LIKES*1..2]->() RETURN *",
        "MATCH (a:Person)-[:KNOWS*1..2]->(:Person) RETURN *",
    ],
)
def test_anonymous_endpoint_not_returned_by_star(hop, q):
    assert hop.execute(q).columns == ["a"]


@pytest.mark.parametrize(
    "q, want",
    [
        ("MATCH (a:Person)-[:LIKES]->() RETURN a.name AS a", [("Alice",)]),
        ("MATCH (a:Person)-[:LIKES*1..1]->() RETURN a.name AS a", [("Alice",)]),
        ("MATCH (a:Person)-[:LIKES*1..2]->() RETURN a.name AS a", [("Alice",)]),
        ("MATCH (a:Person)-[r:LIKES]->() RETURN r.w AS w", [(None,)]),
        # a named endpoint binds each node that holds the id
        ("MATCH (a:Person)-[:LIKES]->(b) RETURN a.name AS a", [("Alice",), ("Alice",)]),
        # a named path reads its endpoint
        ("MATCH p = (a:Person)-[:LIKES]->() RETURN a.name AS a", [("Alice",), ("Alice",)]),
    ],
)
def test_unread_anonymous_endpoint_counts_each_edge_once(hop, q, want):
    """Person 3 and Robot 3 share the id of LIKES 1->3's far end; the
    dangling LIKES 2->99 matches nothing."""
    from pyspark.sql import functions as F

    hop.catalog.register_edges(
        "LIKES",
        hop.spark.createDataFrame(
            [(200, 1, 3), (201, 2, 99)], "id long, src long, dst long"
        ).withColumn("w", F.lit(None).cast("long")),
    )
    assert rows(hop.execute(q)) == want
