"""Concurrent reads + mutations on one engine (round-5).

Mirrors the reference's load-testing surface (reference:
tests/load_testing/test_concurrent_queries.py, test_error_resilience.py):

  * read-read: N threads issuing queries concurrently all succeed;
  * read-write: readers never observe a torn commit — a single statement
    that creates a node AND its edge must be visible all-or-nothing
    (the commit pointer-swaps nodes and edges as two assignments; reads
    compile against a thread-local snapshot, engine._transaction);
  * write-write: concurrent mutation transactions serialize on the
    catalog write lock — no lost updates from stale shadow snapshots;
  * rate limiter under contention rejects the overflow.
"""

from __future__ import annotations

import sys
import threading

import pytest

from pycypher_nmetl_spark import CypherEngine, GraphCatalog


@pytest.fixture()
def ceng(spark):
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Hub", spark.createDataFrame([(0, "hub")], "id long, name string")
    )
    cat.register_nodes(
        "Item", spark.createDataFrame([], "id long, rank long")
    )
    cat.register_edges(
        "OF",
        spark.createDataFrame([], "id long, src long, dst long"),
        src_label="Item", dst_label="Hub",
    )
    return CypherEngine(cat, cache_results=False)


def _run_threads(fns):
    errors: list[BaseException] = []

    def wrap(fn):
        def inner():
            try:
                fn()
            except BaseException as e:  # noqa: BLE001
                errors.append(e)

        return inner

    ts = [threading.Thread(target=wrap(fn), daemon=True) for fn in fns]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=600)
        if t.is_alive():
            errors.append(TimeoutError(f"{t.name} still running"))
    return errors


def test_concurrent_reads(ceng):
    results: list[int] = []
    lock = threading.Lock()

    def reader():
        for _ in range(3):
            n = ceng.execute("MATCH (h:Hub) RETURN count(*) AS c").collect()[0][0]
            with lock:
                results.append(n)

    errors = _run_threads([reader] * 6)
    assert not errors
    assert results == [1] * 18


def test_readers_never_see_torn_commit(ceng):
    """Each write statement creates one Item AND its OF edge atomically;
    a reader that ever counts items != edges observed a half-committed
    catalog."""
    stop = threading.Event()
    torn: list[tuple[int, int]] = []

    def writer():
        for k in range(12):
            ceng.execute(
                "MATCH (h:Hub {id: 0}) "
                f"CREATE (:Item {{id: {1000 + k}, rank: {k}}})-[:OF]->(h)"
            )
        stop.set()

    def reader():
        while not stop.is_set():
            row = ceng.execute(
                "MATCH (i:Item) OPTIONAL MATCH (i)-[r:OF]->(:Hub) "
                "RETURN count(i) AS items, count(r) AS edges"
            ).collect()[0]
            if row["items"] != row["edges"]:
                torn.append((row["items"], row["edges"]))
                return

    errors = _run_threads([writer, reader, reader])
    assert not errors
    assert torn == []
    final = ceng.execute(
        "MATCH (i:Item)-[:OF]->(:Hub) RETURN count(*) AS c"
    ).collect()[0][0]
    assert final == 12


def test_cache_on_reads_interleaved_with_creates(spark):
    """The result cache at its default (on), shared by reader threads that
    repeat a few texts while a writer CREATEs Items of rank 1, 2, ...:
    every read sees a committed prefix of the writes (count c, rank sum
    (c-1)c/2), and every execute() counts exactly once as a hit or a miss."""
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "Item", spark.createDataFrame([(0, 0)], "id long, rank long")
    )
    eng = CypherEngine(cat)
    reads = [
        "MATCH (i:Item) RETURN count(*) AS c, sum(i.rank) AS s",
        "MATCH (i:Item) WHERE i.rank >= 0 RETURN count(*) AS c, sum(i.rank) AS s",
        "MATCH (i:Item) WITH i.rank AS r RETURN count(r) AS c, sum(r) AS s",
    ]
    calls: list[int] = []
    wrong: list[tuple] = []
    lock = threading.Lock()

    def writer():
        for k in range(1, 7):
            eng.execute(f"CREATE (:Item {{id: {k}, rank: {k}}})")
            with lock:
                calls.append(1)

    def reader():
        for _ in range(3):
            for q in reads:
                c, s = eng.execute(q).collect()[0]
                with lock:
                    calls.append(1)
                    if s != (c - 1) * c // 2:
                        wrong.append((q, c, s))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    try:
        errors = _run_threads([writer] + [reader] * 6)
    finally:
        sys.setswitchinterval(old)
    assert not errors
    assert wrong == []
    assert len(calls) == 6 + 6 * 3 * len(reads)
    assert eng.cache.hits + eng.cache.misses == len(calls)
    assert eng.metrics.counters["queries_compiled"] == eng.cache.misses


def test_concurrent_writers_no_lost_updates(ceng):
    """Two writer threads interleave single-row CREATEs; every create
    must survive (writers serialize on the catalog write lock — without
    it, a writer's shadow snapshot could predate the other's commit and
    overwrite it)."""

    def writer(base: int):
        def go():
            for k in range(8):
                ceng.execute(f"CREATE (:Item {{id: {base + k}, rank: {k}}})")

        return go

    errors = _run_threads([writer(2000), writer(3000)])
    assert not errors
    ids = sorted(
        r[0] for r in ceng.execute("MATCH (i:Item) RETURN i.id AS id").collect()
    )
    assert ids == list(range(2000, 2008)) + list(range(3000, 3008))


def test_failed_writer_rolls_back_under_concurrency(ceng):
    """A failing statement in one thread must not poison other threads'
    committed state (statement atomicity holds under contention)."""

    def good():
        for k in range(5):
            ceng.execute(f"CREATE (:Item {{id: {4000 + k}, rank: {k}}})")

    def bad():
        for _ in range(5):
            try:
                # DELETE of a connected node raises (openCypher)
                ceng.execute("MATCH (h:Hub {id: 0}) DELETE h")
            except Exception:
                pass
            else:  # pragma: no cover
                raise AssertionError("expected DELETE of connected node to raise")

    # make the hub connected so bad() raises
    ceng.execute(
        "MATCH (h:Hub {id: 0}) CREATE (:Item {id: 4999, rank: 0})-[:OF]->(h)"
    )
    errors = _run_threads([good, bad])
    assert not errors
    n = ceng.execute("MATCH (i:Item) RETURN count(*) AS c").collect()[0][0]
    assert n == 6  # 5 good creates + the setup item
    assert ceng.execute("MATCH (h:Hub) RETURN count(*) AS c").collect()[0][0] == 1


def test_rollback_keeps_other_threads_endpoint_registration(ceng, spark):
    """Thread A's open transaction registers a new relationship type;
    thread B's begin + rollback (what every validate() does) must prune
    only B's own registrations, so A's survives and its commit keeps it."""
    cat = ceng.catalog
    a_registered, b_rolled_back = threading.Event(), threading.Event()
    seen: list = []

    def thread_a():
        cat.begin()
        cat.reconcile_edge_endpoints("NEW_REL", ("Item",), ("Hub",))
        cat.write(
            "e", "NEW_REL", spark.createDataFrame([(1, 5, 0)], "id long, src long, dst long")
        )
        a_registered.set()
        assert b_rolled_back.wait(60)
        seen.append(cat.edge_endpoints("NEW_REL"))
        cat.commit()

    def thread_b():
        assert a_registered.wait(60)
        cat.begin()
        cat.rollback()
        b_rolled_back.set()

    errors = _run_threads([thread_a, thread_b])
    assert not errors
    assert seen == [("Item", "Hub")]
    assert cat.has_rel_type("NEW_REL")
    assert cat.edge_endpoints("NEW_REL") == ("Item", "Hub")


def test_rate_limiter_under_contention():
    from pycypher_nmetl_spark.guards import RateLimiter, RateLimitExceeded

    rl = RateLimiter(rate=10, burst=2)
    ok: list[int] = []
    rejected: list[int] = []
    lock = threading.Lock()

    def worker():
        try:
            rl.acquire()
            with lock:
                ok.append(1)
        except RateLimitExceeded:
            with lock:
                rejected.append(1)

    _run_threads([worker] * 20)
    assert len(ok) + len(rejected) == 20
    assert len(ok) >= 2        # burst always admitted
    assert len(rejected) >= 5  # overflow mostly rejected
