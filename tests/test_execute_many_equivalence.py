"""Combined == sequential equivalence for execute_many (round-7).

Mirrors the reference's semantic-equivalence framework
(tests/fixtures/semantic_equivalence_helpers.py:1-60, query_combiner.py,
ast_rewriter.py:46-131): the reference rewrites N dependency-related
queries into one combined query and guarantees identical results to
sequential execution. The repo's analogue is execute_many — plain mode
(dependency-ordered, per-query transactions) vs transactional mode (one
catalog transaction, combined-execution semantics). This suite pins:

- identical read results in both modes, returned in INPUT order
- identical final graph state (all node + edge tables)
- mutation visibility ordering: a later query sees the uncommitted
  writes of earlier queries inside the one-transaction mode
- atomicity: a failing query in transactional mode rolls back the
  whole script; in plain mode only the failing query's writes are lost
- randomized scripts (mutgen ops) stay equivalent across both modes
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests import mutgen as M

EXAMPLES = int(os.environ.get("EQ_EXAMPLES", "15"))

SETTINGS = dict(
    max_examples=EXAMPLES,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.data_too_large,
        HealthCheck.function_scoped_fixture,
    ],
    print_blob=True,
)


@pytest.fixture(scope="module")
def erig(spark):
    """One engine whose base tables are re-registered per scenario run."""
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog

    def reset():
        # a FRESH catalog per run: scripts create new labels (Tag, Dept,
        # ...) which re-registering only the base tables would leak
        # across runs and modes
        cat = GraphCatalog(spark)
        eng = CypherEngine(cat, cache_results=False)
        cat.register_nodes(
            "Person",
            spark.createDataFrame(
                [
                    (p["id"], p.get("name"), p.get("age"), p.get("dept"), p.get("salary"))
                    for p in M.PERSON_BASE
                ],
                "id long, name string, age long, dept string, salary double",
            ),
        )
        cat.register_nodes(
            "Company",
            spark.createDataFrame(
                [(c["id"], c.get("cname"), c.get("industry")) for c in M.COMPANY_BASE],
                "id long, cname string, industry string",
            ),
        )
        cat.register_edges(
            "KNOWS",
            spark.createDataFrame(
                [(e["id"], e["src"], e["dst"], e.get("since")) for e in M.KNOWS_BASE],
                "id long, src long, dst long, since long",
            ),
            src_label="Person", dst_label="Person",
        )
        cat.register_edges(
            "WORKS_AT",
            spark.createDataFrame(
                [(e["id"], e["src"], e["dst"]) for e in M.WORKS_AT_BASE],
                "id long, src long, dst long",
            ),
            src_label="Person", dst_label="Company",
        )
        return eng

    return reset


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _state(eng):
    return (
        M.engine_person_rows(eng),
        M.engine_knows_rows(eng),
        M.engine_works_rows(eng),
    )


def _run_both(reset, queries):
    """Run the script in plain and transactional mode from the same base
    state; return ((plain_results, plain_state), (txn_results, txn_state))."""
    eng = reset()
    plain = [_rows(df) for df in eng.execute_many(queries)]
    plain_state = _state(eng)
    eng = reset()
    txn = [_rows(df) for df in eng.execute_many(queries, transactional=True)]
    txn_state = _state(eng)
    return (plain, plain_state), (txn, txn_state)


def assert_equivalent(reset, queries):
    (plain, ps), (txn, ts) = _run_both(reset, queries)
    assert plain == txn, f"results diverged\nplain: {plain}\ntxn:   {txn}"
    assert ps == ts, f"final graph state diverged\nplain: {ps}\ntxn:   {ts}"


# ===================================================================== #
# deterministic scenarios
# ===================================================================== #
def test_create_then_match(erig):
    assert_equivalent(erig, [
        "CREATE (:Tag {name: 'x'}) ",
        "MATCH (t:Tag) RETURN t.name AS name",
    ])


def test_dependency_reordering_moves_create_first(erig):
    # the MATCH consumes Tag which the CREATE produces — both modes must
    # run the CREATE first even though it comes second in input order,
    # and results come back in INPUT order
    eng = erig()
    out = eng.execute_many([
        "MATCH (t:Tag2) RETURN t.name AS name",
        "CREATE (:Tag2 {name: 'y'})",
    ])
    assert _rows(out[0]) == [("y",)]
    eng = erig()
    out = eng.execute_many([
        "MATCH (t:Tag2) RETURN t.name AS name",
        "CREATE (:Tag2 {name: 'y'})",
    ], transactional=True)
    assert _rows(out[0]) == [("y",)]


def test_set_then_read(erig):
    assert_equivalent(erig, [
        "MATCH (n:Person {name: 'Alice'}) SET n.age = 99",
        "MATCH (n:Person) WHERE n.age = 99 RETURN n.name AS name",
    ])


def test_merge_chain(erig):
    assert_equivalent(erig, [
        "MERGE (d:Dept {name: 'Core'})",
        "MATCH (p:Person {name: 'Alice'}), (d:Dept {name: 'Core'}) "
        "MERGE (p)-[:IN_DEPT]->(d)",
        "MATCH (p:Person)-[:IN_DEPT]->(d:Dept) RETURN p.name AS p, d.name AS d",
    ])


def test_delete_then_count(erig):
    assert_equivalent(erig, [
        "MATCH (n:Person {name: 'Dave'}) DETACH DELETE n",
        "MATCH (n:Person) RETURN count(*) AS c",
    ])


def test_independent_queries_keep_order(erig):
    assert_equivalent(erig, [
        "MATCH (n:Person) RETURN count(*) AS c",
        "MATCH (c:Company) RETURN count(*) AS c",
        "MATCH (n:Person) RETURN max(n.age) AS m",
    ])


def test_unwind_create_then_aggregate(erig):
    assert_equivalent(erig, [
        "UNWIND range(1, 5) AS i CREATE (:Item {v: i})",
        "MATCH (i:Item) RETURN count(*) AS c, sum(i.v) AS s",
    ])


def test_union_inside_script(erig):
    assert_equivalent(erig, [
        "CREATE (:Tag3 {name: 'u'})",
        "MATCH (t:Tag3) RETURN t.name AS name "
        "UNION MATCH (p:Person {name:'Alice'}) RETURN p.name AS name",
    ])


def test_visibility_of_uncommitted_writes_in_txn(erig):
    """Inside the one-transaction mode a later query must see the
    earlier queries' uncommitted writes (the reference's combined
    execution sees them by construction)."""
    eng = erig()
    out = eng.execute_many([
        "CREATE (:Ghost {v: 1})",
        "CREATE (:Ghost {v: 2})",
        "MATCH (g:Ghost) RETURN count(*) AS c",
    ], transactional=True)
    assert _rows(out[2]) == [(2,)]


def test_introspection_sees_uncommitted_writes_in_txn(erig):
    """db.propertyKeys() reads the transaction's tables like db.labels()
    does, so a key created earlier in the script is listed."""
    eng = erig()
    out = eng.execute_many([
        "CREATE (:Z {zz: 1})",
        "CALL db.propertyKeys() YIELD propertyKey RETURN propertyKey",
        "CALL db.labels() YIELD label RETURN label",
    ], transactional=True)
    assert ("zz",) in _rows(out[1])
    assert ("Z",) in _rows(out[2])


@pytest.mark.parametrize(
    "query",
    [
        "RETURN [1, 'a'][1] AS y",
        "WITH [1, 'a'] AS l RETURN l[0] AS x",
        "MATCH (p:Person) WITH p, [p.age, p.name] AS l RETURN l[0] AS a",
    ],
    ids=["literal_index", "with_list", "property_list"],
)
def test_transactional_decodes_mixed_list_outputs(erig, query):
    """An element of a mixed-type list is dyn-encoded inside the compile;
    a transactional script must decode its outputs exactly as execute()
    does (same schema and rows), not return the struct encoding."""
    eng = erig()
    plain = eng.execute(query)
    (txn,) = eng.execute_many([query], transactional=True)
    assert txn.schema == plain.schema
    assert _rows(txn) == _rows(plain)


def test_atomicity_on_failure(erig):
    """Plain mode: queries before the failing one stay committed.
    Transactional mode: everything rolls back."""
    eng = erig()
    with pytest.raises(Exception):
        eng.execute_many([
            "CREATE (:Atom {v: 1})",
            "MATCH (a:Atom) RETURN undefined_variable",
        ])
    # plain mode committed the CREATE before the failure
    assert _rows(eng.execute("MATCH (a:Atom) RETURN a.v AS v")) == [(1,)]

    eng = erig()
    with pytest.raises(Exception):
        eng.execute_many([
            "CREATE (:Atom2 {v: 1})",
            "MATCH (a:Atom2) RETURN undefined_variable",
        ], transactional=True)
    # transactional mode rolled the CREATE back with the failure
    assert not eng.catalog.has_label("Atom2")


def test_base_state_untouched_when_txn_fails(erig):
    eng = erig()
    with pytest.raises(Exception):
        eng.execute_many([
            "MATCH (n:Person {name: 'Alice'}) SET n.age = 1",
            "MATCH (n:Person {name: 'Bob'}) DELETE n",  # connected -> raises
        ], transactional=True)
    rows = _rows(eng.execute(
        "MATCH (n:Person {name: 'Alice'}) RETURN n.age AS a"))
    assert rows == [(30,)], "rolled-back SET must not be visible"


# ===================================================================== #
# randomized scripts: equivalence under arbitrary mutation ops
# ===================================================================== #
@settings(**SETTINGS)
@given(script=M.mutation_scripts(), reads=st.integers(0, 2))
def test_random_scripts_equivalent(erig, script, reads):
    queries = [op.cypher for op in script if not hasattr(op, "expect")]
    queries.append("MATCH (n:Person) RETURN n.id AS id, n.age AS age")
    if reads >= 1:
        queries.append(
            "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
            "RETURN a.id AS a, b.id AS b, r.since AS s")
    if reads >= 2:
        queries.append("MATCH (n:Person) RETURN count(*) AS c")

    # plain mode first: scripts where some op errors are not equivalence
    # candidates (plain commits the prefix, transactional aborts) — for
    # those, assert the transactional mode fails too and rolls back all
    eng = erig()
    failed = False
    try:
        plain = [_rows(df) for df in eng.execute_many(queries)]
        plain_state = _state(eng)
    except Exception:
        failed = True
    eng = erig()
    if failed:
        base = _state(eng)
        with pytest.raises(Exception):
            eng.execute_many(queries, transactional=True)
        assert _state(eng) == base, "failed txn script must roll back fully"
        return
    txn = [_rows(df) for df in eng.execute_many(queries, transactional=True)]
    assert plain == txn
    assert _state(eng) == plain_state


def test_transactional_scripts_serialize_across_threads(erig):
    """Two concurrent transactional scripts must serialize on the
    catalog write lock: the final state equals SOME serial order, and
    no script observes the other's partial writes."""
    import threading

    eng = erig()
    errs = []

    def run(tag):
        try:
            eng.execute_many([
                f"CREATE (:Audit {{tag: '{tag}', n: 1}})",
                f"CREATE (:Audit {{tag: '{tag}', n: 2}})",
                # reads its own uncommitted writes: must see exactly 2
                f"MATCH (a:Audit {{tag: '{tag}'}}) RETURN count(*) AS c",
            ], transactional=True)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run, args=(t,)) for t in ("t1", "t2")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    rows = _rows(eng.execute(
        "MATCH (a:Audit) RETURN a.tag AS tag, count(*) AS c"))
    assert rows == [("t1", 2), ("t2", 2)]


def test_transactional_applies_complexity_guard(spark):
    """The batch path must apply the same pre-execution guard rails as
    execute(): a query that check_complexity rejects in execute() must
    also be rejected (and rolled back) inside a transactional script."""
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog
    from pycypher_nmetl_spark.guards import QueryComplexityError

    cat = GraphCatalog(spark)
    cat.register_nodes(
        "P",
        spark.createDataFrame([(i, i) for i in range(50)], "id long, v long"),
    )
    eng = CypherEngine(cat, cache_results=False, max_complexity=1.0)
    blocked = "MATCH (a:P), (b:P), (c:P) RETURN count(*) AS c"
    with pytest.raises(QueryComplexityError):
        eng.execute(blocked)
    with pytest.raises(QueryComplexityError):
        eng.execute_many(
            ["CREATE (:Tag {id: 9000})", blocked], transactional=True
        )
    # the CREATE before the rejected query must have rolled back: the
    # Tag label never became visible in the committed catalog
    assert "Tag" not in cat.labels()


def test_transactional_readonly_script_skips_durable_snapshot(spark, tmp_path):
    """A read-only transactional script must not rewrite the versioned
    durable snapshot (pure I/O churn with no state change)."""
    import os as _os

    from pycypher_nmetl_spark import CypherEngine, GraphCatalog

    cat = GraphCatalog(spark)
    cat.register_nodes(
        "P", spark.createDataFrame([(1, 10)], "id long, v long")
    )
    durable = str(tmp_path / "snap")
    eng = CypherEngine(cat, cache_results=False, durable_path=durable)
    eng.execute("CREATE (:P {id: 2, v: 20})")  # seeds version 1

    def current():
        with open(_os.path.join(durable, "_CURRENT")) as f:
            return f.read().strip()

    v1 = current()
    eng.execute_many(
        ["MATCH (p:P) RETURN count(*) AS c", "MATCH (p:P) RETURN p.v AS v"],
        transactional=True,
    )
    assert current() == v1  # no new snapshot version for reads
    eng.execute_many(["CREATE (:P {id: 3, v: 30})"], transactional=True)
    assert current() != v1  # mutations still persist


def test_transactional_rate_permits_taken_before_lock(spark):
    """Rate limiting applies per query in the batch path, and the
    limiter is consulted BEFORE the catalog write lock is taken (a
    rate sleep must not extend write-lock tenure)."""
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog

    cat = GraphCatalog(spark)
    cat.register_nodes("P", spark.createDataFrame([(1, 1)], "id long, v long"))
    eng = CypherEngine(cat, cache_results=False, rate_limit_qps=10_000.0)

    events = []
    orig_acquire = eng.rate_limiter.acquire
    orig_begin = cat.begin

    def tracking_acquire():
        events.append("acquire")
        return orig_acquire()

    def tracking_begin():
        events.append("begin")
        return orig_begin()

    eng.rate_limiter.acquire = tracking_acquire
    cat.begin = tracking_begin
    eng.execute_many(
        ["MATCH (p:P) RETURN count(*) AS c", "MATCH (p:P) RETURN p.v AS v"],
        transactional=True,
    )
    # one permit per query, all taken before the transaction opens
    # (begin() happens inside the write lock)
    assert events == ["acquire", "acquire", "begin"]


# ------------------------------------------------------------------ #
# share_scans: shared-MATCH-prefix reuse (the Spark-first analogue of
# the reference's query_combiner.py — one persisted prefix frame per
# group instead of one AST)

# a JOIN-bearing shared prefix: the advisory cost model always shares
# join prefixes (the feature's target); join-free scan prefixes may be
# declined as below-benefit (see test_scan_only_prefix_not_persisted)
READ_BATCH = [
    "MATCH (n:Person)-[:WORKS_AT]->(co:Company) WHERE n.age > 25 "
    "RETURN n.name AS name ORDER BY name",
    "MATCH (n:Person)-[:WORKS_AT]->(co:Company) WHERE n.age > 25 "
    "RETURN count(*) AS c",
    "MATCH (n:Person)-[:WORKS_AT]->(co:Company) WHERE n.age > 25 "
    "RETURN avg(n.salary) AS avg_sal",
    "MATCH (c:Company) RETURN count(*) AS companies",  # different prefix
]


class TestShareScans:
    def _rows(self, dfs):
        return [sorted(map(tuple, df.collect())) for df in dfs]

    def test_results_identical_to_plain(self, erig):
        eng = erig()
        plain = self._rows(eng.execute_many(READ_BATCH))
        eng2 = erig()
        shared = self._rows(eng2.execute_many(READ_BATCH, share_scans=True))
        assert shared == plain
        assert eng2.release_shared_scans() == 1  # one >=2-member group

    def test_shared_queries_read_persisted_prefix(self, erig):
        eng = erig()
        dfs = eng.execute_many(READ_BATCH, share_scans=True)
        try:
            for df in dfs[:3]:
                plan = df._jdf.queryExecution().executedPlan().toString()
                assert "InMemoryTableScan" in plan
            solo = dfs[3]._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" not in solo
        finally:
            eng.release_shared_scans()

    def test_mutation_in_batch_disables_sharing(self, erig):
        eng = erig()
        batch = READ_BATCH[:2] + ["CREATE (:Person {id: 999, name: 'Zed'})"]
        dfs = eng.execute_many(batch, share_scans=True)
        assert eng.release_shared_scans() == 0
        plan = dfs[0]._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" not in plan
        # the mutation still ran
        assert eng.run("MATCH (n:Person {id: 999}) RETURN n.name")[0][0] == "Zed"

    def test_multi_match_prefix_and_trailing_clauses(self, erig):
        eng = erig()
        batch = [
            "MATCH (n:Person)-[:WORKS_AT]->(c:Company) MATCH (m:Person) "
            "WHERE m.id = n.id RETURN c.name AS cn, m.name AS mn ORDER BY cn, mn",
            "MATCH (n:Person)-[:WORKS_AT]->(c:Company) MATCH (m:Person) "
            "WHERE m.id = n.id RETURN count(*) AS c",
        ]
        plain = self._rows(eng.execute_many(batch))
        eng2 = erig()
        shared = self._rows(eng2.execute_many(batch, share_scans=True))
        assert shared == plain
        eng2.release_shared_scans()

    def test_whitespace_differences_still_share(self, erig):
        eng = erig()
        batch = [
            "MATCH (n:Person)-[:WORKS_AT]->(c:Company)   RETURN count(*) AS c",
            "MATCH (n:Person)-[:WORKS_AT]->(c:Company) RETURN count(*) AS n",
        ]
        eng.execute_many(batch, share_scans=True)
        assert eng.release_shared_scans() == 1

    def test_scan_only_prefix_not_persisted(self, erig):
        """The advisory cost model (VERDICT r7 #7): a join-free
        pass-through prefix predicts < 1.1x from Catalyst's sane
        leaf/filter size estimates and is NOT persisted — results stay
        identical to plain, and an audit event records the skip."""
        eng = erig()
        batch = [
            "MATCH (n:Person) RETURN count(*) AS c",
            "MATCH (n:Person) RETURN sum(n.age) AS s",
        ]
        plain = self._rows(eng.execute_many(batch))
        shared = self._rows(eng.execute_many(batch, share_scans=True))
        assert shared == plain
        assert eng.release_shared_scans() == 0

    @pytest.mark.parametrize(
        "item",
        ["a{.name}", "b{.*}", "startNode(r).name", "endNode(r).name"],
    )
    def test_property_reads_beyond_var_dot_key(self, erig, item):
        """Property reads that are not `var.key` — a map projection, its
        `.*` form, a property of startNode/endNode — must see the same
        values through the shared prefix as plain (they read as silent
        nulls when the prefix did not bind the properties they use)."""
        prefix = "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
        batch = [prefix + f"RETURN {item} AS x", prefix + "RETURN count(*) AS c"]
        plain = self._rows(erig().execute_many(batch))
        eng = erig()
        shared = self._rows(eng.execute_many(batch, share_scans=True))
        assert eng.release_shared_scans() == 1
        assert shared == plain
        assert any(x is not None and x != () for (x,) in plain[0])

    def test_prefix_binds_only_members_properties(self, erig):
        """The prefix is compiled under the union of its members'
        property uses and persisted as compiled."""
        prefix = "MATCH (a:Person)-[r:KNOWS]->(b:Person) "
        batch = [
            prefix + "RETURN a.name AS n",
            prefix + "RETURN b.age AS g, r.since AS s",
        ]
        eng = erig()
        eng.execute_many(batch, share_scans=True)
        try:
            (prefix_df,) = eng._shared_scans
            assert sorted(prefix_df.columns) == sorted(
                ["a", "a__name", "r", "r__src", "r__dst", "r__since", "b", "b__age"]
            )
        finally:
            eng.release_shared_scans()

    def test_cache_consulted_once_before_prefix_planning(self, golden, monkeypatch):
        """Each member consults the result cache exactly once, before any
        prefix is planned: a re-run batch is served from the cache and
        persists nothing, and a partly cached batch shares a prefix only
        among its misses."""
        prefix = "MATCH (a:Person)-[:WORKS_AT]->(c:Company) "
        batch = [prefix + "RETURN a.name AS n", prefix + "RETURN count(*) AS k"]
        first = self._rows(golden.execute_many(batch, share_scans=True))
        assert golden.release_shared_scans() == 1

        lookups = []
        get = golden.cache.get
        monkeypatch.setattr(
            golden.cache, "get",
            lambda key, epoch: lookups.append(key[0]) or get(key, epoch),
        )
        again = golden.execute_many(batch, share_scans=True)
        assert golden.release_shared_scans() == 0
        assert self._rows(again) == first
        assert sorted(lookups) == sorted(batch)

        lookups.clear()
        mixed = batch[:1] + [
            prefix + "RETURN c.name AS cn",
            prefix + "RETURN max(a.age) AS m",
        ]
        dfs = golden.execute_many(mixed, share_scans=True)
        assert dfs[0] is again[0]
        assert golden.release_shared_scans() == 1
        assert sorted(lookups) == sorted(mixed)
