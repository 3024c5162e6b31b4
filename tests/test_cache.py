"""Result cache: LRU + TTL + epoch invalidation (reference: result_cache.py)."""

import sys
import threading
import time

from pycypher_nmetl_spark import CypherEngine, GraphCatalog
from pycypher_nmetl_spark.cache import ResultCache, cache_key


def test_cache_hit_and_epoch_invalidation(spark):
    cat = GraphCatalog(spark)
    cat.register_nodes("P", spark.createDataFrame([(1, "a")], "id long, name string"))
    eng = CypherEngine(cat)
    df1 = eng.execute("MATCH (n:P) RETURN n.name AS name")
    df2 = eng.execute("MATCH (n:P) RETURN n.name AS name")
    # a hit serves a fresh select("*") wrapper (never the stored object —
    # a once-cancelled Dataset would stay poisoned), so identity is NOT
    # expected; the hit counter and identical results are the contract
    assert eng.cache.hits == 1
    assert df2.collect() == df1.collect()
    eng.execute("CREATE (:P {id: 2, name: 'b'})")
    df3 = eng.execute("MATCH (n:P) RETURN n.name AS name")
    assert eng.cache.hits == 1  # epoch bumped by the committed mutation
    assert df3.count() == 2


def test_nondeterministic_not_cached(spark):
    """Admission follows the AST: any rand/randomUUID call or zero-argument
    clock call is never cached, wherever it sits; a clock function with an
    argument, or the text 'rand(' inside a string literal, is."""
    eng = CypherEngine(GraphCatalog(spark))
    nondet = [
        "RETURN rand() AS r",
        "RETURN randomUUID() AS u",
        "RETURN date() AS t",
        "RETURN datetime() AS t",
        "RETURN localdate() AS t",
        "RETURN localdatetime() AS t",
        "RETURN localtime() AS t",
        "RETURN timestamp() AS t",
        "RETURN now() AS t",
        "UNWIND [1, 2] AS x RETURN CASE WHEN x > rand() THEN 1 ELSE 0 END AS r",
    ]
    det = [
        "RETURN datetime('2020-01-01T00:00:00') AS t",
        "RETURN localtime(datetime('2020-01-01T12:00:00')) AS t",
        "RETURN 'rand(' AS t",
    ]
    for q in nondet + det:
        hits = eng.cache.hits
        eng.execute(q)
        eng.execute(q)
        assert eng.cache.hits - hits == (q in det), q


def test_clock_query_not_served_stale(spark):
    """A zero-argument clock call re-reads the clock on every execute()."""
    eng = CypherEngine(GraphCatalog(spark))
    q = "RETURN datetime() AS t"
    t1 = eng.execute(q).collect()[0]["t"]
    time.sleep(1.2)
    t2 = eng.execute(q).collect()[0]["t"]
    assert (t2 - t1).total_seconds() >= 1.0


def test_params_distinguish_entries():
    assert cache_key("RETURN $x AS x", {"x": 1}) != cache_key("RETURN $x AS x", {"x": 2})


def test_lru_eviction_and_ttl():
    c = ResultCache(max_entries=2, ttl_seconds=1000)
    c.put(("a",), 1, 0)
    c.put(("b",), 2, 0)
    c.put(("c",), 3, 0)  # evicts ("a",)
    assert c.get(("a",), 0) is None
    assert c.get(("b",), 0) == 2
    assert c.get(("b",), 1) is None  # wrong epoch


def test_cache_and_metrics_thread_safe():
    """Threads racing get/put over more keys than entries: a get must not
    lose its key to another thread's eviction between lookup and
    move_to_end, every get counts once as a hit or a miss, and no
    EngineMetrics increment is lost."""
    from pycypher_nmetl_spark.audit import EngineMetrics

    c = ResultCache(max_entries=4, ttl_seconds=1000)
    m = EngineMetrics()
    errors: list[BaseException] = []

    def worker(seed: int):
        try:
            for i in range(20000):
                k = ((i + seed) % 8,)
                c.put(k, i, i % 2)
                c.get(k, (i + seed) % 2)
                m.inc("queries_compiled")
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ts = [threading.Thread(target=worker, args=(s,), daemon=True) for s in range(8)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in ts)
    assert errors == []
    assert c.hits + c.misses == 8 * 20000
    assert m.counters["queries_compiled"] == 8 * 20000
