"""The FK-projection proof under writes (GraphCatalog.write).

An edge type registered ``fk_collapse`` is a pure projection of its
owner label's fk column, and the pattern compiler then traverses it as
one join (patterns._try_fk_collapse). A write keeps that proof only when
it provably keeps the projection: a property write to the owner that
leaves id and fk alone, or a CREATE clause that gives every new owner
node exactly one edge whose far id equals the node's fk. Every other
write drops it, and the reads then take the generic edge-table path.
Either way the reads must answer what the generic path answers.
"""

from __future__ import annotations

import contextlib
import random

import pytest

from pycypher_nmetl_spark import CypherEngine, GraphCatalog

READS = [
    "MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) RETURN c.name AS c, n.name AS n",
    "MATCH (n:Nation)<-[:FROM_NATION]-(c) RETURN n.name AS n, c.name AS c",
    "MATCH (c:Customer)-[:FROM_NATION]->() RETURN c.name AS c",
    "MATCH (c:Customer)-[r:FROM_NATION]->(:Nation) RETURN c.name AS c, id(r) AS r",
    "MATCH (n:Nation) OPTIONAL MATCH (n)<-[:FROM_NATION]-(c:Customer) "
    "RETURN n.name AS n, count(c) AS k",
    "MATCH (c:Customer) WHERE EXISTS { (c)-[:FROM_NATION]->(:Nation) } "
    "RETURN c.name AS c",
]


@pytest.fixture()
def fkgraph(spark):
    return _fkgraph(spark)


def _fkgraph(spark, key_type="long"):
    """test_fk_collapse's graph: Customer -FROM_NATION-> Nation, the edge
    table a projection of Customer.(id, nationkey) with hash ids;
    customer 3 has a NULL nationkey and customer 4 a dangling one.
    ``key_type`` types the fk and the Nation id."""
    from pyspark.sql import functions as F

    cat = GraphCatalog(spark)
    customer = spark.createDataFrame(
        [(1, "Alice", 10), (2, "Bob", 11), (3, "NoNation", None),
         (4, "Dangling", 99), (5, "Carl", 10)],
        f"id long, name string, nationkey {key_type}",
    )
    cat.register_nodes("Customer", customer)
    cat.register_nodes(
        "Nation",
        spark.createDataFrame(
            [(10, "GERMANY"), (11, "FRANCE")], f"id {key_type}, name string"
        ),
    )
    cat.register_edges(
        "FROM_NATION",
        customer.select(F.col("id").alias("src"), F.col("nationkey").alias("dst")),
        src_label="Customer",
        dst_label="Nation",
        fk_collapse=("Customer", "src", "nationkey"),
    )
    return CypherEngine(cat)


def rows(engine, q, params=None):
    return sorted((tuple(r) for r in engine.execute(q, params).collect()), key=repr)


@contextlib.contextmanager
def _without_proofs(cat):
    """The catalog with no FK proof for the block's reads."""
    saved = dict(cat._fk_collapse)
    cat._fk_collapse.clear()
    try:
        yield
    finally:
        cat._fk_collapse.update(saved)


def assert_reads_match_generic(engine):
    """Every read answers what it answers with no FK proof."""
    generic = CypherEngine(engine.catalog, cache_results=False)
    got = {q: rows(engine, q) for q in READS}
    with _without_proofs(engine.catalog):
        want = {q: rows(generic, q) for q in READS}
    assert got == want


def _scans_edge_table(df) -> bool:
    """True when the executed plan scans a table of (id, src, dst) rows."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return any(
        "src#" in line and "dst#" in line
        for line in plan.splitlines()
        if "Scan" in line
    )


# ---------------------------------------------------------------------- #
# the benchmark's write: CREATE (c)-[:PLACED]->(:Order {custkey: c's id})
# ---------------------------------------------------------------------- #
def test_mixed_rw_create_keeps_placed_collapse(spark):
    """After mixed_rw's create_order commits, PLACED is still the
    projection of Order.custkey: customer_orders compiles to the
    collapsed hop (no PLACED scan), finds the new order, and answers
    what the generic path answers."""
    from perfbench.run import SF_DIR
    from perfbench.workloads import RW_CREATE, RW_READS

    cat = GraphCatalog.from_tpch(spark, SF_DIR)
    engine = CypherEngine(cat)
    engine.execute(RW_CREATE.cypher, {"ck": 7, "ok": 10_000_001, "tp": 1234.5})
    assert cat.fk_collapse("PLACED") == ("Order", "dst", "custkey")
    read = RW_READS[0].cypher  # customer_orders
    df = engine.execute(read, {"ck": 7})
    assert not _scans_edge_table(df)
    got = sorted(tuple(r) for r in df.collect())
    assert (10_000_001, 1234.5) in {(r[2], r[3]) for r in got}
    with _without_proofs(cat):
        generic = CypherEngine(cat, cache_results=False).execute(read, {"ck": 7})
        assert _scans_edge_table(generic)
        assert sorted(tuple(r) for r in generic.collect()) == got


def test_kept_create_edge_gets_registration_id(fkgraph):
    """A kept CREATE's edge id is the hash register_edges derives."""
    fkgraph.execute(
        "MATCH (n:Nation {name: 'FRANCE'}) "
        "CREATE (c:Customer {name: 'Eve', nationkey: 11})-[:FROM_NATION]->(n)"
    )
    cat = fkgraph.catalog
    assert cat.fk_collapse("FROM_NATION") is not None
    (eve,) = cat.nodes("Customer").filter("name = 'Eve'").collect()
    from pyspark.sql import functions as F

    (edge,) = cat.edges("FROM_NATION").filter(F.col("src") == eve["id"]).collect()
    (want,) = fkgraph.spark.range(1).select(
        F.xxhash64(F.lit(eve["id"]), F.lit(11).cast("long"))
    ).first()
    assert edge["id"] == want
    assert_reads_match_generic(fkgraph)


# ---------------------------------------------------------------------- #
# writes that keep the proof
# ---------------------------------------------------------------------- #
@pytest.mark.parametrize("stmt", [
    "MATCH (n:Nation {name: 'GERMANY'}) "
    "CREATE (:Customer {name: 'Eve', nationkey: 10})-[:FROM_NATION]->(n)",
    "MATCH (n:Nation {name: 'GERMANY'}) "
    "CREATE (c:Customer {name: 'Eve', nationkey: 10}), (c)-[:FROM_NATION]->(n)",
    "MATCH (c:Customer {name: 'Alice'}) SET c.name = 'Alicia'",
    "MATCH (c:Customer {name: 'Alice'}) SET c += {name: 'Alicia'}",
    "MATCH (c:Customer {name: 'Alice'}) SET c.vip = true REMOVE c.vip",
    "MATCH (n:Nation {name: 'GERMANY'}) SET n.name = 'DEUTSCHLAND'",
])
def test_write_keeps_proof(fkgraph, stmt):
    fkgraph.execute(stmt)
    assert fkgraph.catalog.fk_collapse("FROM_NATION") is not None
    assert_reads_match_generic(fkgraph)


@pytest.mark.parametrize("fk,kept", [
    ("n.id", True),  # the fk column's own type
    ("3000000000 - 3000000000 + n.id", False),  # a long would widen the column
])
def test_create_keeps_proof_only_when_key_types_stay(spark, fk, kept):
    """On a graph whose fk and Nation ids are ints, a CREATE keeps the
    proof only when its rows leave the owner table's column types as
    they are, so the collapsed hop derives the edge ids the table holds."""
    engine = _fkgraph(spark, key_type="int")
    engine.execute(
        "MATCH (n:Nation {name: 'FRANCE'}) "
        f"CREATE (:Customer {{name: 'Eve', nationkey: {fk}}})-[:FROM_NATION]->(n)"
    )
    assert (engine.catalog.fk_collapse("FROM_NATION") is not None) == kept
    assert ("Eve", "FRANCE") in rows(engine, READS[0])
    assert_reads_match_generic(engine)


# ---------------------------------------------------------------------- #
# writes that drop it
# ---------------------------------------------------------------------- #
@pytest.mark.parametrize("stmt,want", [
    pytest.param(
        "CREATE (:Customer {name: 'Eve', nationkey: 10})",
        None, id="owner-without-edge",
    ),
    pytest.param(
        "MATCH (n:Nation {name: 'GERMANY'}) "
        "CREATE (:Customer {name: 'Eve', nationkey: 11})-[:FROM_NATION]->(n)",
        ("Eve", "GERMANY"), id="fk-not-far-id",
    ),
    pytest.param(
        "MATCH (n:Nation {name: 'GERMANY'}) "
        "CREATE (:Customer {name: 'Eve'})-[:FROM_NATION]->(n)",
        ("Eve", "GERMANY"), id="fk-missing",
    ),
    pytest.param(
        "MATCH (n:Nation {name: 'GERMANY'}) "
        "CREATE (:Customer {name: 'Eve', nationkey: 10.0})-[:FROM_NATION]->(n)",
        ("Eve", "GERMANY"), id="fk-of-another-type",
    ),
    pytest.param(
        "MATCH (n:Nation {name: 'GERMANY'}) "
        "CREATE (:Customer {name: 'Eve', nationkey: 10})-[:FROM_NATION {since: 1}]->(n)",
        ("Eve", "GERMANY"), id="edge-with-properties",
    ),
    pytest.param(
        "MATCH (n:Nation {name: 'GERMANY'}), (c:Customer {name: 'Bob'}) "
        "CREATE (c)-[:FROM_NATION]->(n)",
        ("Bob", "GERMANY"), id="edge-from-existing-owner",
    ),
    pytest.param(
        "MATCH (n:Nation {name: 'GERMANY'}) "
        "CREATE (c:Customer {name: 'Eve', nationkey: 10})-[:FROM_NATION]->(n), "
        "(c)-[:FROM_NATION]->(n)",
        ("Eve", "GERMANY"), id="two-edges-per-owner",
    ),
    pytest.param(
        "MATCH (c:Customer {name: 'Alice'}) SET c.nationkey = 11",
        ("Alice", "GERMANY"), id="set-fk",
    ),
    pytest.param(
        "MATCH (c:Customer {name: 'Alice'}) SET c = {name: 'Alice'}",
        ("Alice", "GERMANY"), id="replace-all-map",
    ),
    pytest.param(
        "MATCH (c:Customer {name: 'Alice'}) REMOVE c.nationkey",
        ("Alice", "GERMANY"), id="remove-fk",
    ),
    pytest.param(
        "MATCH (c:Customer {name: 'Alice'}) DETACH DELETE c",
        None, id="detach-delete",
    ),
    pytest.param(
        "MERGE (c:Customer {name: 'Zed', nationkey: 10})",
        None, id="merge",
    ),
    pytest.param(
        "MATCH (c:Customer {name: 'Bob'}) SET c:Customer",
        None, id="label-write",
    ),
])
def test_write_drops_proof(fkgraph, stmt, want):
    fkgraph.execute(stmt)
    assert fkgraph.catalog.fk_collapse("FROM_NATION") is None
    assert_reads_match_generic(fkgraph)
    if want is not None:
        assert want in rows(fkgraph, READS[0])


def test_merge_through_checked_create_keeps_proof(fkgraph):
    """MERGE keeps the proof when its CREATE takes the checked path."""
    fkgraph.execute(
        "MATCH (n:Nation {name: 'FRANCE'}) "
        "MERGE (:Customer {name: 'Zed', nationkey: 11})-[:FROM_NATION]->(n)"
    )
    assert fkgraph.catalog.fk_collapse("FROM_NATION") is not None
    assert ("Zed", "FRANCE") in rows(fkgraph, READS[0])
    assert_reads_match_generic(fkgraph)


def test_dropped_proof_stays_dropped(fkgraph):
    """A checked CREATE after a drop does not bring the proof back."""
    fkgraph.execute("MATCH (c:Customer {name: 'Alice'}) SET c.nationkey = 11")
    fkgraph.execute(
        "MATCH (n:Nation {name: 'GERMANY'}) "
        "CREATE (:Customer {name: 'Eve', nationkey: 10})-[:FROM_NATION]->(n)"
    )
    assert fkgraph.catalog.fk_collapse("FROM_NATION") is None


def test_failed_create_rolls_back_with_proof_kept(fkgraph, monkeypatch):
    """A checked CREATE whose commit fails leaves the canonical tables
    and the proof as they were."""
    cat = fkgraph.catalog
    before = rows(fkgraph, READS[0])
    monkeypatch.setattr(
        cat, "_compact", lambda *a: (_ for _ in ()).throw(RuntimeError("boom"))
    )
    with pytest.raises(RuntimeError, match="boom"):
        fkgraph.execute(
            "MATCH (n:Nation {name: 'GERMANY'}) "
            "CREATE (:Customer {name: 'Eve', nationkey: 10})-[:FROM_NATION]->(n)"
        )
    monkeypatch.undo()
    assert cat.fk_collapse("FROM_NATION") is not None
    assert rows(fkgraph, READS[0]) == before
    assert_reads_match_generic(fkgraph)


# ---------------------------------------------------------------------- #
# hash-id edge types take hashed ids on CREATE
# ---------------------------------------------------------------------- #
def test_hash_id_create_near_max_does_not_overflow(fkgraph):
    """An edge type registered without ids holds endpoint hashes, so its
    ids sit close to 2^63; a CREATE into it hashes new ids instead of
    adding to the max (which overflowed once the bindings spanned more
    than one partition)."""
    cat = fkgraph.catalog
    cat.note_max_id("e", "FROM_NATION", (1 << 63) - 1000)
    bindings = fkgraph.execute(
        "MATCH (c:Customer), (n:Nation {name: 'FRANCE'}) RETURN c.name AS c"
    )
    assert bindings.rdd.getNumPartitions() > 1
    fkgraph.execute(
        "MATCH (c:Customer), (n:Nation {name: 'FRANCE'}) CREATE (c)-[:FROM_NATION]->(n)"
    )
    edges = cat.edges("FROM_NATION")
    assert edges.count() == 10
    assert edges.select("id").distinct().count() == 10


# ---------------------------------------------------------------------- #
# seeded differential: random writes, collapsed reads vs generic reads
# ---------------------------------------------------------------------- #
def _random_write(rng: random.Random, i: int) -> tuple[str, dict]:
    nation, nid = rng.choice([("GERMANY", 10), ("FRANCE", 11)])
    name = rng.choice(["Alice", "Bob", "Carl", "NoNation", f"n{i - 1}", f"n{i - 2}"])
    p = {
        "name": name, "new": f"n{i}", "nation": nation, "nid": nid,
        "fk": rng.choice([nid, nid, 10, 11, 99]),
    }
    return rng.choice([
        ("MATCH (n:Nation {name: $nation}) "
         "CREATE (:Customer {name: $new, nationkey: $fk})-[:FROM_NATION]->(n)", p),
        ("MATCH (n:Nation {name: $nation}) "
         "CREATE (:Customer {name: $new, nationkey: n.id})-[:FROM_NATION]->(n)", p),
        ("MATCH (n:Nation {name: $nation}) UNWIND range(1, 3) AS k "
         "CREATE (:Customer {name: $new, nationkey: n.id})-[:FROM_NATION]->(n)", p),
        ("CREATE (:Customer {name: $new, nationkey: $fk})", p),
        ("MATCH (c:Customer {name: $name}) SET c.name = $new", p),
        ("MATCH (c:Customer {name: $name}) SET c.nationkey = $fk", p),
        ("MATCH (c:Customer {name: $name}) DETACH DELETE c", p),
        ("MATCH (n:Nation {name: $nation}) "
         "MERGE (:Customer {name: $name, nationkey: $fk})-[:FROM_NATION]->(n)", p),
        ("MERGE (:Customer {name: $new})", p),
    ])


@pytest.mark.slow
@pytest.mark.parametrize("seed", range(4))
def test_fk_proof_differential(spark, seed):
    """Random CREATE / SET / DELETE / MERGE sequences over the FK graph:
    after every write the reads answer what they answer with the proof
    removed, whether the write kept it or not."""
    rng = random.Random(seed)
    engine = _fkgraph(spark)
    for i in range(12):
        engine.execute(*_random_write(rng, i))
        assert_reads_match_generic(engine)
