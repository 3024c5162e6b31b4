"""Engine API surface: validate, pandas UDFs, job groups, execute_many."""

import pandas as pd
import pytest
from pyspark.sql import types as T


def test_validate_ok(golden):
    assert golden.validate("MATCH (n:Person) RETURN n.name AS x") == []


def test_validate_syntax_error(golden):
    errs = golden.validate("MATCH (n:Person RETURN n")
    assert len(errs) == 1 and errs[0].startswith("syntax:")


def test_validate_unknown_label(golden):
    errs = golden.validate("MATCH (n:Nope) RETURN n")
    assert len(errs) == 1 and "Nope" in errs[0]


def test_validate_undefined_variable(golden):
    errs = golden.validate("MATCH (n:Person) RETURN m.name AS x")
    assert len(errs) == 1 and "'m'" in errs[0]


def test_validate_union_column_mismatch(golden):
    # validate runs the same query runner as execute(), so it reports
    # the UNION column check instead of accepting the query
    errs = golden.validate(
        "MATCH (p:Person) RETURN p.name AS n "
        "UNION MATCH (q:Person) RETURN q.age AS m"
    )
    assert len(errs) == 1
    assert "UNION branches must project the same columns" in errs[0]


def test_validate_mutation_rolls_back(golden, run):
    assert golden.validate("CREATE (:Person {id: 77, name: 'Ghost'})") == []
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(4,)]


def test_validate_write_inside_open_transaction(golden, run):
    """validate() never writes: a write validated from a procedure of a
    write query is refused, and the outer query still commits."""
    def check(engine, args):
        errs = engine.validate("CREATE (:V {x: 1})")
        return engine.spark.createDataFrame([(len(errs),)], "n long")

    golden.register_procedure("my.check", check)
    assert run(
        "CREATE (:Person {id: 5, name: 'Eve'}) WITH 1 AS one "
        "CALL my.check() YIELD n RETURN n"
    ) == [(1,)]
    assert run("MATCH (n:V) RETURN count(*) AS c") == [(0,)]
    assert run("MATCH (n:Person) RETURN count(*) AS c") == [(5,)]


def test_register_pandas_function(golden):
    golden.register_pandas_function(
        "slugify",
        lambda s: s.str.lower().str.replace(" ", "-"),
        T.StringType(),
    )
    out = golden.execute("RETURN slugify('Hello World') AS s").collect()
    assert out[0]["s"] == "hello-world"


def test_job_group_context(golden):
    with golden.job_group("test-group"):
        out = golden.execute("MATCH (n:Person) RETURN count(*) AS c").collect()
    assert out[0]["c"] == 4
    golden.cancel("test-group")  # no-op after completion, must not raise


def test_execute_many_orders_dependencies(golden):
    results = golden.execute_many(
        [
            "MATCH (s:Tagged) RETURN count(*) AS c",
            "MATCH (n:Person) WHERE n.age > 26 SET n:Tagged",
        ]
    )
    assert results[0].collect()[0]["c"] == 3


def test_compile_report(golden):
    golden.execute("MATCH (n:Person) WHERE n.age > 1 RETURN n.name AS x")
    names = [c for c, _ in golden.last_compile_report]
    assert names == ["Match", "Projection"]


def test_health_server(golden):
    import json as _json
    import urllib.request

    from pycypher_nmetl_spark.health import HealthServer

    srv = HealthServer(golden).start()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/health") as r:
            body = _json.loads(r.read())
        assert body["status"] == "ok" and body["labels"] == 2
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}/metrics") as r:
            text = r.read().decode()
        assert "result_cache_hits" in text and "catalog_labels 2" in text
    finally:
        srv.stop()


def test_query_http_endpoint(golden):
    import json as _json
    import urllib.error
    import urllib.request

    from pycypher_nmetl_spark.health import HealthServer

    srv = HealthServer(golden).start()

    def post(payload, expect_error=False):
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=_json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        code, doc = post({
            "cypher": "MATCH (p:Person) RETURN p.name AS name ORDER BY name",
        })
        assert code == 200
        assert doc["columns"] == ["name"]
        assert [r[0] for r in doc["rows"]] == ["Alice", "Bob", "Carol", "Dave"]

        code, doc = post({
            "cypher": "MATCH (p:Person) RETURN p.name AS n ORDER BY n",
            "limit": 2,
        })
        assert code == 200 and len(doc["rows"]) == 2

        # mutations rejected by default on the HTTP surface
        code, doc = post({"cypher": "CREATE (:Person {id: 99})"})
        assert code == 403 and "disabled" in doc["error"]

        # errors come back as JSON, not a dead connection
        code, doc = post({"cypher": "MATCH (x RETURN"})
        assert code == 400 and "error" in doc
        code, doc = post({"nope": 1})
        assert code == 400
    finally:
        srv.stop()


def test_query_http_endpoint_mutations_opt_in(golden):
    import json as _json
    import urllib.request

    from pycypher_nmetl_spark.health import HealthServer

    srv = HealthServer(golden, allow_mutations=True).start()
    try:
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/query",
            data=_json.dumps({"cypher": "CREATE (:Person {id: 99, name: 'Zed'})"}).encode(),
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 200
        assert (
            golden.execute(
                "MATCH (p:Person {name: 'Zed'}) RETURN count(*) AS c"
            ).collect()[0]["c"] == 1
        )
    finally:
        srv.stop()


def test_column_calls_skip_origin_capture(spark, monkeypatch):
    """get_spark turns off PySpark's per-call origin capture: building a
    Column sends the JVM no PySparkCurrentOrigin set/clear round trip."""
    import py4j.java_gateway
    from pyspark.sql import functions as F

    F.col("a").alias("b")  # resolve PySpark's one-time debugging flag
    sent = []
    send = py4j.java_gateway.GatewayClient.send_command

    def counted(client, command, *args, **kwargs):
        sent.append(command)
        return send(client, command, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counted)
    F.col("a").alias("b")
    monkeypatch.undo()
    assert sent, "the Column calls crossed into the JVM unobserved"
    assert not [c for c in sent if "PySparkCurrentOrigin" in c], sent


@pytest.mark.parametrize(
    "query, uses",
    [
        (
            "MATCH (a:P)-[r:K]->(b:P {name: 'x'}) WHERE a.age > 1 "
            "RETURN a.name AS n, count(b) AS c",
            {"a": {"age", "name"}, "r": set()},
        ),
        # a map projection reads its keys; `.*` and a var item read all
        ("MATCH (a)-->(b) RETURN a{.name, b} AS m", {"a": {"name"}}),
        ("MATCH (a)-->(b) RETURN a{.*} AS m, b.x AS x", {"b": {"x"}}),
        # a property off a non-variable target widens every set
        (
            "MATCH (a)-[r]->(b) RETURN startNode(r).name AS s, b.x AS x",
            {"a": {"name"}, "b": {"name", "x"}},
        ),
        # a $param property map, a renaming WITH, a named path
        ("MATCH (a $p)-->(b) RETURN b.x AS x", {"b": {"x"}}),
        ("MATCH (a)-->(b) WITH a AS m RETURN m.x AS x", {"b": set(), "m": {"x"}}),
        ("MATCH p = (a)-->(b) RETURN b.x AS x", {}),
        # both UNION branches and subquery bodies count
        (
            "MATCH (a) RETURN a.x AS x UNION MATCH (a) "
            "WHERE EXISTS { MATCH (a)-->(c) WHERE c.v > 1 } RETURN a.y AS x",
            {"a": {"x", "y"}, "c": {"v"}},
        ),
        ("MATCH (a) RETURN *", {}),
        ("MATCH (a) SET a.x = 1 RETURN a.y AS y", {}),
    ],
)
def test_property_uses(query, uses):
    from pycypher_nmetl_spark.compiler.astutil import property_uses
    from pycypher_nmetl_spark.cypher.parser import Parser

    assert property_uses(Parser(query).parse()) == {
        v: frozenset(k) for v, k in uses.items()
    }


def test_nested_compile_restores_property_uses(golden, spark):
    """A procedure that compiles a query must not leave its property
    uses behind for the rest of the outer query's scans."""

    def proc(engine, args):
        return engine.execute("MATCH (n:Person) RETURN n.age AS x")

    golden.register_procedure("test.inner", proc)
    rows = golden.run(
        "CALL test.inner() YIELD x MATCH (n:Person) WHERE n.age = x "
        "RETURN n.name AS name"
    )
    assert sorted(r.name for r in rows) == ["Alice", "Bob", "Carol", "Dave"]
