"""Mutation matrix: CREATE / SET / REMOVE / DELETE / MERGE / FOREACH.

Reference: mutation_engine.py + tests/test_set_operations_comprehensive.py
(semantics only; all Spark-side re-implementation).
"""

import pytest


def test_create_node(golden, run):
    golden.execute("CREATE (:Person {id: 50, name: 'Eve', age: 22})")
    assert run("MATCH (n:Person {name:'Eve'}) RETURN n.age AS age") == [(22,)]
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(5,)]


def test_create_allocates_distinct_ids(golden):
    golden.execute("UNWIND [1,2,3] AS i CREATE (:Tag {v: i})")
    out = golden.execute("MATCH (t:Tag) RETURN id(t) AS i").collect()
    ids = [r["i"] for r in out]
    assert len(set(ids)) == 3


def test_create_edge_between_matched(golden, run):
    golden.execute(
        "MATCH (a:Person {name:'Carol'}), (b:Person {name:'Dave'}) "
        "CREATE (a)-[:KNOWS {since: 2024}]->(b)"
    )
    assert run(
        "MATCH (:Person {name:'Carol'})-[r:KNOWS]->(b:Person) "
        "RETURN b.name AS b, r.since AS s"
    ) == [("Dave", 2024)]


def test_create_full_path(golden, run):
    golden.execute("CREATE (:City {name:'Rome'})-[:IN]->(:Country {name:'Italy'})")
    assert run(
        "MATCH (c:City)-[:IN]->(k:Country) RETURN c.name AS c, k.name AS k"
    ) == [("Rome", "Italy")]


def test_set_property(golden, run):
    golden.execute("MATCH (n:Person {name:'Bob'}) SET n.age = 26")
    assert run("MATCH (n:Person {name:'Bob'}) RETURN n.age AS age") == [(26,)]


def test_set_new_property_column(golden, run):
    golden.execute("MATCH (n:Person {name:'Bob'}) SET n.nickname = 'Bobby'")
    assert run(
        "MATCH (n:Person) WHERE n.nickname IS NOT NULL RETURN n.name AS name"
    ) == [("Bob",)]


def test_set_plus_equals_map(golden, run):
    golden.execute("MATCH (n:Person {name:'Bob'}) SET n += {age: 99, extra: 'x'}")
    assert run(
        "MATCH (n:Person {name:'Bob'}) RETURN n.age AS age, n.extra AS e, n.dept AS d"
    ) == [(99, "x", "Sales")]


def test_set_replace_map(golden, run):
    # RETURN shows the replaced map: properties it leaves out are null
    assert run(
        "MATCH (n:Person {name:'Bob'}) SET n = {name: 'Bob', age: 1} "
        "RETURN n.age AS age, n.dept AS dept"
    ) == [(1, None)]
    assert run(
        "MATCH (n:Person {name:'Bob'}) RETURN n.age AS age, n.dept AS dept"
    ) == [(1, None)]


def test_set_label(golden, run):
    golden.execute("MATCH (n:Person) WHERE n.age > 29 SET n:Senior")
    assert run("MATCH (n:Senior) RETURN n.name AS name") == [("Alice",), ("Carol",)]


def test_remove_property(golden, run):
    golden.execute("MATCH (n:Person {name:'Alice'}) REMOVE n.age")
    assert run("MATCH (n:Person {name:'Alice'}) RETURN n.age AS age") == [(None,)]


def test_delete_node(golden, run):
    golden.execute("MATCH (n:Person {name:'Dave'}) DELETE n")
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(3,)]


def test_detach_delete_removes_edges(golden, run):
    golden.execute("MATCH (n:Person {name:'Bob'}) DETACH DELETE n")
    assert run(
        "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b"
    ) == [("Alice", "Carol")]


def test_delete_relationship(golden, run):
    golden.execute("MATCH (:Person)-[r:KNOWS]->(:Person) WHERE r.since = 2015 DELETE r")
    assert run("MATCH (:Person)-[r:KNOWS]->(:Person) RETURN count(*) AS c") == [(2,)]


def test_merge_matches_existing(golden, run):
    golden.execute("MERGE (n:Person {name: 'Alice'}) ON MATCH SET n.seen = 1 ON CREATE SET n.seen = 2")
    assert run("MATCH (n:Person {name:'Alice'}) RETURN n.seen AS s") == [(1,)]
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(4,)]


def test_merge_creates_missing(golden, run):
    golden.execute("MERGE (n:Person {name: 'Zed'}) ON CREATE SET n.age = 1")
    assert run("MATCH (n:Person {name:'Zed'}) RETURN n.age AS age") == [(1,)]
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(5,)]


def test_merge_is_idempotent(golden, run):
    golden.execute("MERGE (c:City {name: 'Berlin'})")
    golden.execute("MERGE (c:City {name: 'Berlin'})")
    assert run("MATCH (c:City) RETURN count(*) AS c") == [(1,)]


def test_merge_relationship(golden, run):
    q = (
        "MATCH (a:Person {name:'Alice'}), (b:Person {name:'Bob'}) "
        "MERGE (a)-[r:KNOWS]->(b) ON CREATE SET r.since = 2030"
    )
    golden.execute(q)
    # edge existed (since 2015): ON CREATE must not fire, no duplicate
    assert run(
        "MATCH (:Person {name:'Alice'})-[r:KNOWS]->(:Person {name:'Bob'}) "
        "RETURN count(*) AS c, min(r.since) AS s"
    ) == [(1, 2015)]


def test_foreach_create(golden, run):
    golden.execute("FOREACH (i IN [1,2,3] | CREATE (:Item {n: i}))")
    assert run("MATCH (i:Item) RETURN count(*) AS c") == [(3,)]


def test_unwind_create(golden, run):
    golden.execute("UNWIND ['x','y'] AS v CREATE (:Thing {name: v})")
    assert run("MATCH (t:Thing) RETURN t.name AS n") == [("x",), ("y",)]


def test_create_then_return(run):
    assert run("CREATE (n:Robot {name: 'R2'}) RETURN n.name AS name") == [("R2",)]


def test_rollback_on_error(golden, run):
    import pytest

    with pytest.raises(Exception):
        golden.execute("MATCH (n:Person) SET n.age = bogusfn(n.age)")
    # failed mutation must not leak partial state
    assert run("MATCH (n:Person {name:'Alice'}) RETURN n.age AS age") == [(30,)]


def _register_write_proc(golden):
    def write(engine, args):
        engine.execute("CREATE (:B {v: 1})")
        return engine.spark.createDataFrame([(True,)], "ok boolean")

    golden.register_procedure("my.write", write)


def test_write_inside_write_query_commits_with_it(golden, run):
    """A query a procedure issues joins the caller's open transaction, so
    the outer CREATE and the procedure's CREATE commit together (a fresh
    transaction would replace the outer shadow and drop the outer write)."""
    _register_write_proc(golden)
    assert run(
        "CREATE (:A {x: 1}) WITH 1 AS one CALL my.write() YIELD ok RETURN ok"
    ) == [(True,)]
    assert run("MATCH (n:A) RETURN count(*) AS c") == [(1,)]
    assert run("MATCH (n:B) RETURN count(*) AS c") == [(1,)]


def test_write_inside_read_query_raises(golden, run):
    """A read runs in a snapshot that is always rolled back: a write
    issued inside it is refused rather than silently lost."""
    _register_write_proc(golden)
    with pytest.raises(ValueError, match="read-only"):
        golden.execute("CALL my.write() YIELD ok RETURN ok")
    assert run("MATCH (n:B) RETURN count(*) AS c") == [(0,)]


# --------------------------------------------------------------------- #
# round-4: durable commit — parquet snapshot + crash-consistent reload
# --------------------------------------------------------------------- #
def test_durable_commit_kill_and_reload(spark, tmp_path):
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog

    store = str(tmp_path / "store")
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Person",
        spark.createDataFrame([(1, "Alice"), (2, "Bob")], "id long, name string"),
    )
    cat.register_edges(
        "KNOWS",
        spark.createDataFrame([(100, 1, 2)], "id long, src long, dst long"),
        src_label="Person", dst_label="Person",
    )
    eng = CypherEngine(cat, durable_path=store)
    eng.execute("CREATE (:Person {id: 3, name: 'Carol'})")
    eng.execute("MATCH (p:Person {name: 'Alice'}) SET p.vip = true")

    # "kill": drop every in-memory object and reload from the snapshot
    cat2 = GraphCatalog.load_durable(spark, store)
    eng2 = CypherEngine(cat2)
    assert eng2.execute(
        "MATCH (p:Person) RETURN count(*) AS c"
    ).collect()[0][0] == 3
    assert eng2.execute(
        "MATCH (p:Person {name: 'Alice'}) RETURN p.vip AS v"
    ).collect()[0][0] is True
    assert eng2.execute(
        "MATCH (:Person)-[r:KNOWS]->(:Person) RETURN count(*) AS c"
    ).collect()[0][0] == 1


def test_durable_crash_mid_write_keeps_previous_version(spark, tmp_path):
    import json
    import os

    from pycypher_nmetl_spark import GraphCatalog

    store = str(tmp_path / "store")
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Only", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    v1 = cat.save_durable(store)
    # simulate a crash mid-write of the NEXT version: tables partially
    # written, manifest absent, _CURRENT never flipped
    os.makedirs(os.path.join(store, "v2", "nodes_Only"), exist_ok=True)
    cat2 = GraphCatalog.load_durable(spark, store)
    assert cat2.nodes("Only").count() == 1
    with open(os.path.join(store, v1, "manifest.json")) as f:
        assert json.load(f)["version"] == v1


def test_durable_versions_pruned(spark, tmp_path):
    import os

    from pycypher_nmetl_spark import GraphCatalog

    store = str(tmp_path / "store")
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Only", spark.createDataFrame([(1, "a")], "id long, v string")
    )
    for _ in range(4):
        cat.save_durable(store, keep=2)
    versions = sorted(d for d in os.listdir(store) if d.startswith("v"))
    assert versions == ["v3", "v4"]
    assert open(os.path.join(store, "_CURRENT")).read() == "v4"


def test_durable_reload_survives_pruning(spark, tmp_path):
    """Round-5 ADVICE fix: a catalog built via load_durable holds lazy
    plans over the loaded version's files; subsequent durable commits
    must not prune that version out from under them (previously →
    FileNotFoundException after two commits at keep=2)."""
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog

    store = str(tmp_path / "store")
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Person",
        spark.createDataFrame([(1, "Alice"), (2, "Bob")], "id long, name string"),
    )
    cat.save_durable(store)  # v1

    cat2 = GraphCatalog.load_durable(spark, store)  # plans scan v1
    eng2 = CypherEngine(cat2, durable_path=store)
    # two durable commits at keep=2 prune v1; the unmutated Person
    # table must still be queryable afterwards
    eng2.execute("CREATE (:Person {id: 3, name: 'Carol'})")  # v2
    eng2.execute("CREATE (:Person {id: 4, name: 'Dave'})")   # v3, prunes v1
    import os

    versions = sorted(d for d in os.listdir(store) if d.startswith("v"))
    assert "v1" not in versions
    assert eng2.execute(
        "MATCH (p:Person) RETURN count(*) AS c"
    ).collect()[0][0] == 4


def _job_audit(golden, stmt, monkeypatch):
    """Run ``stmt`` in a job group of its own and return (the number of
    jobs its clauses ran, the description of every commit compaction).
    The group keeps the count immune to the statusTracker's
    retained-jobs eviction (global before/after deltas go wrong once the
    session has run > spark.ui.retainedJobs jobs — full-suite flake).
    The commit compacts each table it changed under the job description
    ``compact <kind>:<name>``, so the status store tells its jobs apart
    (one compaction may run several jobs: AQE submits each query stage
    as a job); the compactions themselves are counted where they
    checkpoint."""
    sc = golden.spark.sparkContext
    DataFrame = type(golden.spark.range(1))  # the session's concrete class
    compactions = []
    checkpoint = DataFrame.localCheckpoint

    def counted(df, *args, **kwargs):
        desc = sc.getLocalProperty("spark.job.description") or ""
        if desc.startswith("compact "):
            compactions.append(desc)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counted)
    group = f"mutation-job-probe: {stmt}"
    sc.setJobGroup(group, "mutation job audit")
    try:
        golden.execute(stmt)
    finally:
        sc.setJobGroup(None, None)
        monkeypatch.undo()
    store = sc._jsc.sc().statusStore()
    descs = [
        store.job(j).description()
        for j in sc.statusTracker().getJobIdsForGroup(group) or []
    ]
    clause_jobs = sum(
        1 for d in descs if not (d.isDefined() and d.get().startswith("compact "))
    )
    return clause_jobs, compactions


def test_create_auto_id_runs_no_extra_jobs(golden, monkeypatch):
    """Auto-id CREATE advances the id base from block arithmetic, not an
    agg(max).collect() — exactly the jobs for the localCheckpoint and
    none after (round-6 verdict item 4), plus the commit's one
    compaction of the table it wrote."""
    golden.execute("CREATE (:JobProbe {v: 1})")  # warm the path
    jobs, compactions = _job_audit(golden, "CREATE (:JobProbe {v: 2})", monkeypatch)
    # localCheckpoint materialization is the ONLY action an auto-id
    # CREATE runs; the old implementation added a dedicated agg(max)
    # job on top (measured: 2 before the fix, 1 after)
    assert jobs == 1, f"CREATE ran {jobs} jobs; expected exactly 1 (no agg(max) job)"
    assert compactions == ["compact n:JobProbe"]


@pytest.mark.parametrize("stmt,table", [
    pytest.param(stmt, table, id=stmt) for stmt, table in [
        ("MATCH (n:Person {name:'Bob'}) SET n.age = 26", "n:Person"),
        ("MATCH (n:Person {name:'Bob'}) SET n.age = 1, n.salary = n.age + 1", "n:Person"),
        ("MATCH (n:Person {name:'Bob'}) REMOVE n.age", "n:Person"),
        ("MATCH (n:Person {name:'Bob'}) SET n:Tag", "n:Tag"),
    ]
])
def test_mutation_clause_runs_one_job(golden, monkeypatch, stmt, table):
    """Each mutation clause materializes exactly one frame: on the
    registered tables the SET / REMOVE / SET-label write runs one Spark
    job (its checkpoint), and the commit compacts the one table it
    changed exactly once."""
    jobs, compactions = _job_audit(golden, stmt, monkeypatch)
    assert jobs == 1, f"{stmt!r} ran {jobs} jobs; expected exactly 1"
    assert compactions == [f"compact {table}"]


@pytest.mark.parametrize("stmt", [
    "CREATE (:Person {name: 'Eve'})",
    "MATCH (n:Person {name:'Bob'}) SET n.age = 26",
    "MATCH (n:Person {name:'Dave'}) DELETE n",
])
def test_mutation_only_result_runs_no_job(golden, monkeypatch, stmt):
    """A query without RETURN answers an empty local relation: ``run``
    collects it without a Spark job once ``execute`` returns (an empty
    Python-RDD frame ran one job of Python-worker tasks)."""
    sc = golden.spark.sparkContext
    group = f"mutation-result-probe: {stmt}"
    execute = golden.execute

    def then_probe(*args, **kwargs):
        df = execute(*args, **kwargs)
        sc.setJobGroup(group, "mutation result audit")
        return df

    monkeypatch.setattr(golden, "execute", then_probe)
    try:
        assert golden.run(stmt) == []
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_set_items_apply_left_to_right(run):
    """A later SET item sees what the earlier ones stored (openCypher):
    salary is computed from the age set just before it, not Bob's 25."""
    assert run(
        "MATCH (n:Person {name:'Bob'}) SET n.age = 1, n.salary = n.age + 1 "
        "RETURN n.age AS a, n.salary AS s"
    ) == [(1, 2.0)]
    assert run("MATCH (n:Person {name:'Bob'}) RETURN n.age AS a, n.salary AS s") == [
        (1, 2.0)
    ]
    run("MATCH (n:Person {name:'Bob'}) SET n += {age: 5}, n.salary = n.age * 2")
    assert run("MATCH (n:Person {name:'Bob'}) RETURN n.salary AS s") == [(10.0,)]


def test_set_returns_value_in_stored_type(golden):
    """RETURN after SET shows each value with the type the table stores:
    an integer set into the double salary column comes back a double,
    both from the SET query and from a later read."""
    q = "MATCH (n:Person {name:'Bob'}) "
    (row,) = golden.run(q + "SET n.age = 1, n.salary = n.age + 1 RETURN n.salary AS s")
    assert row.s == 2.0 and isinstance(row.s, float)
    (row,) = golden.run(q + "SET n += {salary: 7} RETURN n.salary AS s")
    assert row.s == 7.0 and isinstance(row.s, float)
    (row,) = golden.run(q + "RETURN n.salary AS s")
    assert row.s == 7.0 and isinstance(row.s, float)


def test_set_same_key_twice_last_wins(run):
    assert run(
        "MATCH (n:Person {name:'Bob'}) SET n.age = 1, n.age = 2 RETURN n.age AS a"
    ) == [(2,)]
    assert run("MATCH (n:Person {name:'Bob'}) RETURN n.age AS a") == [(2,)]
    # a map that replaces all properties clears the key set before it
    run("MATCH (n:Person {name:'Bob'}) SET n.age = 3, n = {name: 'Bob'}, n.dept = 'X'")
    assert run(
        "MATCH (n:Person {name:'Bob'}) RETURN n.age AS a, n.dept AS d, n.salary AS s"
    ) == [(None, "X", None)]


def test_commits_leave_flat_tables(golden, run):
    """Every commit leaves each table it wrote as one materialized
    relation: over 100 commits mixing CREATE, SET and DELETE on one
    label (50 of them CREATEs), its logical plan is one line after each,
    its partition count never passes max(the count before,
    defaultParallelism), and its rows end equal to a plain-Python model
    of the same writes."""
    cat = golden.catalog
    model = {r[0]: r[1] for r in run("MATCH (n:Person) RETURN n.name, n.age")}
    bound = max(
        _partitions(cat.nodes("Person")), golden.spark.sparkContext.defaultParallelism
    )
    for i in range(100):
        step = i % 4
        if step == 0:
            golden.execute("CREATE (:Person {name: $n, age: $i})", {"n": f"p{i}", "i": i})
            model[f"p{i}"] = i
        elif step == 1:
            golden.execute(
                "MATCH (n:Person) WHERE n.age % 3 = $r SET n.age = n.age + 1",
                {"r": i % 3},
            )
            model = {
                k: (v + 1 if v is not None and v % 3 == i % 3 else v)
                for k, v in model.items()
            }
        elif step == 2:
            golden.execute("CREATE (:Person {name: $n, age: $i})", {"n": f"q{i}", "i": i})
            model[f"q{i}"] = i
        else:
            golden.execute("MATCH (n:Person {name: $n}) DELETE n", {"n": f"p{i - 3}"})
            del model[f"p{i - 3}"]
        assert _logical_lines(cat.nodes("Person")) == 1, f"after commit {i}"
        assert _partitions(cat.nodes("Person")) <= bound, f"after commit {i}"
    assert run("MATCH (n:Person) RETURN n.name, n.age") == sorted(model.items(), key=repr)


def test_bulk_create_keeps_parallelism(golden, run):
    """The commit's partition bound never coalesces a table below
    defaultParallelism: a bulk CREATE stays spread over the cores."""
    golden.execute("UNWIND range(1, 5000) AS i CREATE (:Person {age: i})")
    parallelism = golden.spark.sparkContext.defaultParallelism
    assert _partitions(golden.catalog.nodes("Person")) >= parallelism
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(5004,)]


def test_failed_compaction_leaves_canonical_tables(golden, run, monkeypatch):
    """A commit whose compaction raises rolls back: every canonical
    frame is the very object it was before, and the epoch is unchanged.
    The failure hits the second of the three tables DETACH DELETE
    writes, after the first one's compaction succeeded."""
    cat = golden.catalog
    sc = golden.spark.sparkContext
    DataFrame = type(golden.spark.range(1))  # the session's concrete class
    before = {
        **{("n", t): cat.nodes(t) for t in cat.labels()},
        **{("e", t): cat.edges(t) for t in cat.rel_types()},
    }
    epoch = cat.data_epoch
    checkpoint = DataFrame.localCheckpoint
    compactions = []

    def failing(df, *args, **kwargs):
        if (sc.getLocalProperty("spark.job.description") or "").startswith("compact "):
            compactions.append(df)
            if len(compactions) == 2:
                raise RuntimeError("compaction failed")
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="compaction failed"):
        golden.execute("MATCH (n:Person {name:'Alice'}) DETACH DELETE n")
    monkeypatch.undo()
    after = {
        **{("n", t): cat.nodes(t) for t in cat.labels()},
        **{("e", t): cat.edges(t) for t in cat.rel_types()},
    }
    assert after.keys() == before.keys()
    assert all(after[k] is before[k] for k in before)
    assert cat.data_epoch == epoch
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(4,)]


@pytest.mark.parametrize("fn", ["rand()", "randomUUID()"])
@pytest.mark.parametrize("form", ["SET n.r = {}", "SET n += {{r: {}}}"])
def test_set_nondeterministic_returns_stored_value(golden, fn, form):
    """A SET value is evaluated once: RETURN shows exactly what a later
    read finds stored, even for rand() / randomUUID()."""
    q = f"MATCH (n:Person) {form.format(fn)} RETURN n.name AS name, n.r AS r"
    returned = sorted(tuple(r) for r in golden.execute(q).collect())
    stored = sorted(
        tuple(r)
        for r in golden.execute(
            "MATCH (n:Person) RETURN n.name AS name, n.r AS r"
        ).collect()
    )
    assert len(returned) == 4 and returned == stored


_SLOTS = "UNWIND range(1, 9) AS k CREATE (:Slot {k: k})"
_ALICE_AGE = "MATCH (n:Person {name:'Alice'}) RETURN n.age AS v"
_ALICE_BOB_SINCE = (
    "MATCH (:Person {name:'Alice'})-[r:KNOWS]->(:Person {name:'Bob'}) "
    "RETURN r.since AS v"
)
_SLOTS_LEFT = "MATCH (n:Slot) RETURN n.k AS v"


def _logical_lines(df) -> int:
    return len(df._jdf.queryExecution().logical().toString().strip().splitlines())


def _partitions(df) -> int:
    return df.rdd.getNumPartitions()


@pytest.mark.parametrize("setup,stmt,kind,table,check,expected", [
    (None, "MATCH (n:Person) SET n.age = n.age + 1", "n", "Person", _ALICE_AGE, [(38,)]),
    (None, "MATCH (n:Person) SET n += {age: n.age + 1}", "n", "Person", _ALICE_AGE, [(38,)]),
    (None, "MATCH (n:Person) SET n = {name: n.name, age: n.age + 1}", "n", "Person",
     _ALICE_AGE, [(38,)]),
    (None, "MATCH (n:Person) REMOVE n.age", "n", "Person", _ALICE_AGE, [(None,)]),
    (None, "MATCH (n:Person) SET n:Tagged", "n", "Tagged",
     "MATCH (n:Tagged) RETURN count(*) AS v", [(4,)]),
    (_SLOTS, "MATCH (n:Slot {k: $i}) REMOVE n:Slot", "n", "Slot", _SLOTS_LEFT, [(9,)]),
    (None, "MATCH ()-[r:KNOWS]->() SET r.since = r.since + 1", "e", "KNOWS",
     _ALICE_BOB_SINCE, [(2023,)]),
    (None, "CREATE (:Person {name: 'p' + toString($i)})", "n", "Person",
     "MATCH (n:Person) RETURN count(*) AS v", [(12,)]),
    (_SLOTS, "MATCH (n:Slot {k: $i}) DELETE n", "n", "Slot", _SLOTS_LEFT, [(9,)]),
], ids=["set", "set_add", "set_replace", "remove_prop", "set_label",
        "remove_label", "set_rel", "create", "delete"])
def test_repeated_writes_keep_plan_linear(golden, run, setup, stmt, kind, table, check, expected):
    """No table is joined to its own lineage: eight writes of one form
    leave the table's logical plan under 100 lines (joining a table to
    a scan of itself doubles the plan per write: ~2,500 lines after 8)."""
    cat = golden.catalog
    if setup:
        golden.execute(setup)
    for i in range(1, 9):
        golden.execute(stmt, {"i": i})
        lines = _logical_lines(cat.nodes(table) if kind == "n" else cat.edges(table))
        assert lines < 100, f"plan reached {lines} lines after {i} writes"
    assert run(check) == expected


def test_create_ids_distinct_across_statements_without_agg(golden):
    golden.execute("UNWIND range(1, 5) AS i CREATE (:Probe2 {v: i})")
    golden.execute("UNWIND range(6, 9) AS i CREATE (:Probe2 {v: i})")
    out = golden.execute("MATCH (p:Probe2) RETURN id(p) AS i").collect()
    ids = [r["i"] for r in out]
    assert len(ids) == 9 and len(set(ids)) == 9


# ------------------------------------------------------------------ #
# id-uniqueness invariant (fuzzer-found round-7): the id property IS
# the node identity — a second node with an existing id would silently
# corrupt every downstream join/grouping, so creation rejects it.

def test_create_duplicate_explicit_id_raises(golden):
    import pytest

    golden.execute("CREATE (:Person {id: 900, name: 'Zoe'})")
    with pytest.raises(Exception, match="identity|unique"):
        golden.execute("CREATE (:Person {id: 900, name: 'Other'})")
    # the failed CREATE must not have committed anything
    out = golden.execute(
        "MATCH (n:Person {id: 900}) RETURN n.name AS n"
    ).collect()
    assert [r["n"] for r in out] == ["Zoe"]


def test_merge_create_path_duplicate_id_raises(golden):
    import pytest

    golden.execute("MATCH (n:Person {name: 'Alice'}) SET n.name = 'Renamed'")
    alice_id = golden.execute(
        "MATCH (n:Person {name: 'Renamed'}) RETURN id(n) AS i"
    ).collect()[0]["i"]
    # merge key no longer matches (renamed) -> create path -> would mint
    # a second node with Alice's identity
    with pytest.raises(Exception, match="identity|unique"):
        golden.execute(
            f"MERGE (n:Person {{id: {alice_id}, name: 'Alice'}}) "
            "ON CREATE SET n.age = 1"
        )


def test_create_same_id_fanout_raises(golden):
    import pytest

    # one literal id over a 3-row binding frame = 3 identical new ids
    with pytest.raises(Exception, match="multiple new rows"):
        golden.execute(
            "UNWIND [1, 2, 3] AS i CREATE (:Gadget {id: 42, v: i})"
        )


def test_durable_bucketed_roundtrip_shuffle_free_hop(spark, tmp_path):
    """Round-9: save_durable(buckets=N) writes nodes bucketed by id and
    edges by src; after load_durable the hop join (edges.src = nodes.id)
    must compile with NO Exchange on either side (broadcast disabled to
    force the sort-merge path the bucketing optimizes)."""
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog

    store = str(tmp_path / "store")
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Person",
        spark.createDataFrame(
            [(i, f"p{i}") for i in range(50)], "id long, name string"
        ),
    )
    cat.register_edges(
        "KNOWS",
        spark.createDataFrame(
            [(1000 + i, i, (i + 1) % 50) for i in range(50)],
            "id long, src long, dst long",
        ),
        src_label="Person", dst_label="Person",
    )
    v = cat.save_durable(store, buckets=4)
    cat2 = GraphCatalog.load_durable(spark, store)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = cat2.edges("KNOWS").join(
            cat2.nodes("Person"),
            cat2.edges("KNOWS")["src"] == cat2.nodes("Person")["id"],
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucketing removed both shuffles
        assert joined.count() == 50

        # data correctness through the engine over the reloaded catalog
        eng = CypherEngine(cat2)
        got = eng.execute(
            "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN count(*) AS c"
        ).collect()[0][0]
        assert got == 50
        out = eng.execute(
            "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b"
        )
        assert sorted(tuple(r) for r in out.collect()) == sorted(
            (f"p{i}", f"p{(i + 1) % 50}") for i in range(50)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # a second save on the reloaded catalog rotates versions and drops
    # the old metastore entries without breaking the frames
    cat2.write("n", "Person", cat2.nodes("Person"))
    v2 = cat2.save_durable(store, keep=1, buckets=4)
    assert v2 != v
    assert cat2.nodes("Person").count() == 50


def test_durable_bucketed_survives_fresh_session_metastore(spark, tmp_path):
    """The default in-memory metastore forgets table definitions across
    sessions; load_durable must re-issue the CLUSTERED BY DDL. Simulate
    a fresh session by dropping the tables before reloading."""
    from pycypher_nmetl_spark import GraphCatalog

    store = str(tmp_path / "store")
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Only", spark.createDataFrame([(i, i * 2) for i in range(20)], "id long, v long")
    )
    cat.save_durable(store, buckets=4)
    for t in spark.catalog.listTables():
        if t.name.startswith("durable_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    cat2 = GraphCatalog.load_durable(spark, store)
    assert cat2.nodes("Only").count() == 20
    # the re-declared table still carries the bucket spec
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = cat2.nodes("Only").alias("a").join(
            cat2.nodes("Only").alias("b"), "id"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
