"""Round-13 optimization pins (OPTIMIZATION_r13.md).

Each optimization that changed an operator's internals gets a focused
test: values stay identical (differential against the unoptimized shape
where cheap) and the plan/behavior property the optimization bought is
asserted so it cannot silently regress.

1. Bare (NOT) EXISTS / pattern predicates compile to left_semi /
   left_anti joins (no distinct-aggregate Exchange); composed booleans
   and uncorrelated subqueries keep the flag-column machinery.
2. CREATE enforces edge-endpoint registrations: off-registration rows
   degrade the label proof (guards fall back to full scans), matching
   rows keep it, new types promote proven labels, rollback prunes
   registrations with no canonical table.
3. triangle_count: two cached/partitioned variants were measured SLOWER
   at sf0.1 and 10x and the localCheckpoint shape was kept (rejection
   note in algorithms.py); values pinned on known graphs, including
   duplicate/reversed edges.
4. materialize() writes scale-adaptive multi-part parquet so scans of
   single-file inputs parallelize across cores.
5. warm_python_workers is idempotent, env-disableable, and harmless.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from pycypher_nmetl_spark import CypherEngine, GraphCatalog


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _shuffle_exchanges(plan: str) -> int:
    # "(N) Exchange" detail headers; BroadcastExchange prints its own name
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


# ---------------------------------------------------------------------- #
# 1. bare EXISTS -> semi/anti join
# ---------------------------------------------------------------------- #
class TestExistsSemiAnti:
    def test_bare_not_exists_is_anti_join_no_exchange(self, golden):
        df = golden.execute(
            "MATCH (p:Person) WHERE NOT EXISTS { (p)-[:KNOWS]->(:Person) } "
            "RETURN p.name AS name"
        )
        plan = _plan(df)
        assert "LeftAnti" in plan
        assert "LeftOuter" not in plan  # flag machinery gone
        # the flag path paid a distinct aggregate on the subquery keys;
        # the set-semantic anti join needs none
        assert "HashAggregate" not in plan and "SortAggregate" not in plan
        assert sorted(r["name"] for r in df.collect()) == ["Carol", "Dave"]

    def test_bare_exists_is_semi_join(self, golden):
        df = golden.execute(
            "MATCH (p:Person) WHERE EXISTS { (p)-[:KNOWS]->(:Person) } "
            "RETURN p.name AS name"
        )
        plan = _plan(df)
        assert "LeftSemi" in plan
        assert sorted(r["name"] for r in df.collect()) == ["Alice", "Bob"]

    def test_bare_pattern_predicate_is_semi_join(self, golden):
        df = golden.execute(
            "MATCH (p:Person) WHERE (p)-[:WORKS_AT]->(:Company) "
            "RETURN p.name AS name"
        )
        assert "LeftSemi" in _plan(df)
        assert sorted(r["name"] for r in df.collect()) == ["Alice", "Bob"]

    def test_differential_vs_flag_machinery(self, golden):
        # `OR 1 > 2` forces the composed-boolean flag path while being
        # logically identical — the two shapes must agree row-for-row
        anti = golden.execute(
            "MATCH (p:Person) WHERE NOT EXISTS { (p)-[:KNOWS]->(:Person) } "
            "RETURN p.name AS name"
        )
        flag = golden.execute(
            "MATCH (p:Person) WHERE NOT EXISTS { (p)-[:KNOWS]->(:Person) } "
            "OR 1 > 2 RETURN p.name AS name"
        )
        assert "LeftAnti" in _plan(anti)
        assert "LeftAnti" not in _plan(flag) and "LeftSemi" not in _plan(flag)
        assert sorted(map(tuple, anti.collect())) == sorted(
            map(tuple, flag.collect())
        )

    def test_composed_boolean_keeps_flag(self, golden):
        df = golden.execute(
            "MATCH (p:Person) WHERE EXISTS { (p)-[:KNOWS]->(:Person) } "
            "AND p.age > 26 RETURN p.name AS name"
        )
        # AND conjuncts split: the EXISTS conjunct may still semi-join,
        # but the result must be correct either way
        assert [r["name"] for r in df.collect()] == ["Alice"]

    def test_exists_with_inner_where_correlated(self, golden):
        df = golden.execute(
            "MATCH (p:Person) WHERE EXISTS "
            "{ MATCH (p)-[k:KNOWS]->(q:Person) WHERE k.since > 2016 } "
            "RETURN p.name AS name"
        )
        assert sorted(r["name"] for r in df.collect()) == ["Alice", "Bob"]

    def test_uncorrelated_exists_falls_back(self, golden):
        # no shared vars with the outer frame -> the semi/anti rewrite
        # must not fire; the limit-1 flag join handles it
        df = golden.execute(
            "MATCH (c:Company) WHERE EXISTS { (:Person {name: 'Alice'}) } "
            "RETURN count(*) AS n"
        )
        plan = _plan(df)
        assert "LeftSemi" not in plan and "LeftAnti" not in plan
        assert df.collect()[0]["n"] == 2

    def test_optional_match_branch_residual(self, golden):
        # residual EXISTS inside an OPTIONAL MATCH branch goes through
        # the same rewrite path (applied pre-left-join)
        df = golden.execute(
            "MATCH (c:Company) OPTIONAL MATCH (p:Person)-[:WORKS_AT]->(c) "
            "WHERE EXISTS { (p)-[:KNOWS]->(:Person) } "
            "RETURN c.cname AS cname, count(p) AS n"
        )
        out = {r["cname"]: r["n"] for r in df.collect()}
        assert out == {"Acme": 2, "Globex": 1}


# ---------------------------------------------------------------------- #
# 2. CREATE endpoint-registration enforcement
# ---------------------------------------------------------------------- #
class TestEndpointReconcile:
    def test_off_registration_create_degrades(self, golden):
        cat = golden.catalog
        assert cat.edge_endpoints("WORKS_AT") == ("Person", "Company")
        golden.execute(
            "MATCH (a:Company), (b:Person) WHERE a.id = 10 AND b.id = 1 "
            "CREATE (a)-[:WORKS_AT]->(b)"
        )
        assert cat.edge_endpoints("WORKS_AT") == (None, None)

    def test_matching_create_keeps_registration(self, golden):
        cat = golden.catalog
        golden.execute(
            "MATCH (a:Person), (c:Company) WHERE a.id = 4 AND c.id = 11 "
            "CREATE (a)-[:WORKS_AT]->(c)"
        )
        assert cat.edge_endpoints("WORKS_AT") == ("Person", "Company")

    def test_degraded_side_only(self, golden):
        cat = golden.catalog
        golden.execute(
            "MATCH (a:Person), (b:Person) WHERE a.id = 1 AND b.id = 2 "
            "CREATE (a)-[:WORKS_AT]->(b)"
        )
        assert cat.edge_endpoints("WORKS_AT") == ("Person", None)

    def test_new_type_promotes_proven_labels(self, golden):
        cat = golden.catalog
        golden.execute(
            "MATCH (a:Person), (c:Company) WHERE a.id = 1 AND c.id = 10 "
            "CREATE (a)-[:FOUNDED]->(c)"
        )
        assert cat.edge_endpoints("FOUNDED") == ("Person", "Company")

    def test_unproven_side_degrades(self, golden):
        # API-level reconcile with nothing provable on the src side
        cat = golden.catalog
        cat.reconcile_edge_endpoints("WORKS_AT", None, ("Company",))
        assert cat.edge_endpoints("WORKS_AT") == (None, "Company")

    def test_rollback_prunes_promoted_registration(self, golden, spark):
        cat = golden.catalog
        cat.begin()
        cat.reconcile_edge_endpoints("EPHEMERAL", ("Person",), ("Company",))
        cat.write(
            "e", "EPHEMERAL", spark.createDataFrame([(1, 1, 10)], "id long, src long, dst long")
        )
        assert cat.edge_endpoints("EPHEMERAL") == ("Person", "Company")
        cat.rollback()
        # no canonical table -> the promoted registration is pruned, so a
        # later write cannot resurrect it for a different table
        assert cat.edge_endpoints("EPHEMERAL") == (None, None)
        assert not cat.has_rel_type("EPHEMERAL")

    def test_queries_fall_back_correctly_after_degrade(self, golden):
        # after an off-registration CREATE the unlabeled-endpoint union
        # restriction must widen to the full catalog and still answer
        golden.execute(
            "MATCH (a:Company), (b:Person) WHERE a.id = 10 AND b.id = 1 "
            "CREATE (a)-[:WORKS_AT]->(b)"
        )
        out = golden.execute(
            "MATCH (p:Person)-[:WORKS_AT]->(x) RETURN count(*) AS n"
        ).collect()
        # original 3 edges still resolve (new Company->Person edge has a
        # Person dst, matched by the unlabeled x through the fallback)
        assert out[0]["n"] == 3


# ---------------------------------------------------------------------- #
# 3. triangle_count partition-first dedup + cached edge set
# ---------------------------------------------------------------------- #
class TestTriangleCount:
    def test_values_on_two_triangle_graph(self, spark):
        from pycypher_nmetl_spark.algorithms import triangle_count

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (6, 7)],
            "src long, dst long",
        )
        out = {r["id"]: r["triangles"] for r in triangle_count(edges).collect()}
        assert out == {1: 1, 2: 1, 3: 2, 4: 1, 5: 1, 6: 0, 7: 0}

    def test_duplicate_and_reversed_edges_dedup(self, spark):
        from pycypher_nmetl_spark.algorithms import triangle_count

        edges = spark.createDataFrame(
            [(1, 2), (2, 1), (1, 2), (2, 3), (3, 1), (1, 3), (1, 1)],
            "src long, dst long",
        )
        out = {r["id"]: r["triangles"] for r in triangle_count(edges).collect()}
        assert out == {1: 1, 2: 1, 3: 1}

    def test_single_edge_no_triangles(self, spark):
        from pycypher_nmetl_spark.algorithms import triangle_count

        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        out = {r["id"]: r["triangles"] for r in triangle_count(edges).collect()}
        assert out == {1: 0, 2: 0}


# ---------------------------------------------------------------------- #
# 4. scale-adaptive materialized layout
# ---------------------------------------------------------------------- #
class TestMaterializeLayout:
    def test_small_frame_one_file(self, spark, tmp_path):
        cat = GraphCatalog(spark)
        cat.register_nodes(
            "T", spark.createDataFrame([(1, "a")], "id long, v string")
        )
        # RDD-backed 1-row frame: stats are the sentinel -> no repartition
        assert cat._layout_files(cat.nodes("T")) == 0
        # a real (tiny) parquet-backed frame: one compact file
        small = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
        cat.register_nodes("R2", small, id_col="r_regionkey")
        assert cat._layout_files(cat.nodes("R2")) == 1

    def test_large_frame_splits_across_cores(self, spark, tmp_path):
        import os

        cat = GraphCatalog(spark)
        # ~3 MB estimated: comfortably past the 64 KB/file floor
        cat.register_nodes(
            "Big",
            spark.range(100_000).select(
                F.col("id"), F.lpad(F.lit("x"), 24, "x").alias("pad")
            ),
        )
        n = cat._layout_files(cat.nodes("Big"))
        cores = spark.sparkContext.defaultParallelism
        assert n == min(cores, n) and n > 1
        cat.materialize(labels=["Big"], path=str(tmp_path))
        files = [
            f
            for f in os.listdir(tmp_path / "nodes_Big")
            if f.endswith(".parquet")
        ]
        assert len(files) == n
        assert cat.nodes("Big").count() == 100_000

    def test_by_size_regime(self, spark, monkeypatch):
        # a tiny target file size forces the size-based regime past cores
        monkeypatch.setenv("SPARK_GRAFT_TARGET_FILE_BYTES", str(16 << 10))
        cat = GraphCatalog(spark)
        cat.register_nodes(
            "Big",
            spark.range(100_000).select(
                F.col("id"), F.lpad(F.lit("x"), 24, "x").alias("pad")
            ),
        )
        n = cat._layout_files(cat.nodes("Big"))
        assert n > spark.sparkContext.defaultParallelism


# ---------------------------------------------------------------------- #
# 5. warm_python_workers
# ---------------------------------------------------------------------- #
class TestPyWarm:
    def test_idempotent_and_disableable(self, spark, monkeypatch):
        from pycypher_nmetl_spark import session as sess

        monkeypatch.setenv("SPARK_GRAFT_NO_PYWARM", "1")
        before = set(sess._WARMED)
        sess.warm_python_workers(spark)
        assert set(sess._WARMED) == before  # disabled: no registration

        monkeypatch.delenv("SPARK_GRAFT_NO_PYWARM")
        sess.warm_python_workers(spark, parts=2, blocking=True)
        key = spark.sparkContext.applicationId
        assert key in sess._WARMED
        # second call is a no-op (guard set)
        sess.warm_python_workers(spark, parts=2, blocking=True)


# ---------------------------------------------------------------------- #
# 6. BFS visited-parts coalescing for deep searches (ADVICE r12)
# ---------------------------------------------------------------------- #
class TestBfsDeepChain:
    def test_shortest_path_beyond_coalesce_threshold(self, spark):
        # an 18-hop chain walk crosses the 16-level visited-parts merge
        # (and stays under the MAX_HOPS=20 unbounded-* cap); the answer
        # must be the exact chain distance
        cat = GraphCatalog(spark)
        cat.register_nodes(
            "N", spark.createDataFrame([(i,) for i in range(20)], "id long")
        )
        cat.register_edges(
            "NXT",
            spark.createDataFrame(
                [(i, i, i + 1) for i in range(19)], "id long, src long, dst long"
            ),
            src_label="N",
            dst_label="N",
        )
        eng = CypherEngine(cat)
        out = eng.execute(
            "MATCH p = shortestPath((a:N)-[:NXT*]->(b:N)) "
            "WHERE a.id = 0 AND b.id = 18 RETURN length(p) AS hops"
        ).collect()
        assert [r["hops"] for r in out] == [18]
