"""GraphCatalog materialization: re-registering tables as parquet scans
keeps every query result."""

from pycypher_nmetl_spark import CypherEngine, GraphCatalog


def test_materialize_preserves_results(spark, golden, tmp_path):
    eng = CypherEngine(golden.catalog)
    q = "MATCH (a:Person)-[:KNOWS]->(b:Person) RETURN a.name AS a, b.name AS b"
    before = sorted(tuple(r) for r in eng.execute(q).collect())
    golden.catalog.materialize(
        labels=["Person"], rel_types=["KNOWS"], path=str(tmp_path / "mat")
    )
    after = sorted(tuple(r) for r in eng.execute(q).collect())
    assert after == before
    # the re-registered frames are plain parquet scans now
    plan = golden.catalog.nodes("Person")._jdf.queryExecution().toString()
    assert "parquet" in plan.lower()


def test_from_tpch_materialized_matches_lazy(spark):
    q = (
        "MATCH (a:Lineitem)-[:NEXT_LINE*1..3]->(b:Lineitem) "
        "WHERE a.linenumber = 1 RETURN a.orderkey AS ok, b.linenumber AS ln"
    )
    sf = "/root/testdata/sf0.001"
    lazy = CypherEngine(GraphCatalog.from_tpch(spark, sf)).execute(q)
    mat = CypherEngine(
        GraphCatalog.from_tpch(spark, sf, materialize_derived=True)
    ).execute(q)
    rows_l = sorted(tuple(r) for r in lazy.collect())
    rows_m = sorted(tuple(r) for r in mat.collect())
    assert rows_m == rows_l and len(rows_l) > 0
