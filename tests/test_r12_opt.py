"""Round-12 optimization pins (OPTIMIZATION_r12.md).

Each optimization that changed an operator's internals gets a focused
test: values stay identical (differential where cheap) and the plan
property the optimization bought is asserted so it cannot silently
regress.

1. DSIR: one-pass union histogram re-emitted as a local relation —
   ratio values must equal an independent pure-Python computation, and
   the weights plan must carry no full-outer corpus join.
2. near_dup_pairs: the signature / verify pandas UDFs are evaluated
   once (asNondeterministic pin) — the optimized plan duplicated them.
3. QPP: repetition-boundary nodes bind from edge endpoints when the
   registration proves the label (no node-table join); with unproven
   endpoints the node join must remain (fallback).
4. Bound-node elision: a node whose var is already bound in the frame
   the path joins back to, and that nothing reads beyond its id, skips
   its node-table scan/join at ANY path position (seed via
   seed-from-edge mode, middle/terminal via the id_only hop branch,
   fk-collapsed owner hops via the fk id_only arm) — existence/label
   are re-enforced by the merge on its id. Fallbacks (referenced
   props, unregistered endpoints, cyclic repeats) keep the scan.
5. Unlabeled-endpoint union restriction: the union-all node scan
   behind a named, unlabeled endpoint only reads the traversed edge
   types' registered other-side labels (the hop's label guard can
   never match others); unregistered types and zero-hop var-length
   tips keep the full catalog union.
"""

from __future__ import annotations

import math
import re

import pytest
from pyspark.sql import functions as F

from pycypher_nmetl_spark import CypherEngine, GraphCatalog


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---------------------------------------------------------------------- #
# 1. DSIR
# ---------------------------------------------------------------------- #
class TestDsirOnePass:
    def test_ratio_values_match_pure_python(self, spark):
        from pycypher_nmetl_spark.llmops.dsir import dsir_log_ratios

        target = spark.createDataFrame(
            [(1, "a b a"), (2, "b c")], "doc_id long, text string"
        )
        raw = spark.createDataFrame(
            [(3, "a a"), (4, "c d e"), (5, "")], "doc_id long, text string"
        )
        buckets, s = 7, 1.0
        out = {
            r["bucket"]: (r["log_ratio"], r["zero_ratio"])
            for r in dsir_log_ratios(
                target, raw, "text", buckets=buckets, hash_fn="md5"
            ).collect()
        }

        # independent reference: unigrams + bigrams, md5 bucket, add-1
        def toks(t):
            return [w for w in t.strip().split() if w]

        def grams(t):
            ts = toks(t)
            return ts + [" ".join(ts[i : i + 2]) for i in range(len(ts) - 1)]

        import hashlib

        def bucket(g):
            return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % buckets

        tc: dict[int, int] = {}
        rc: dict[int, int] = {}
        for t in ("a b a", "b c"):
            for g in grams(t):
                tc[bucket(g)] = tc.get(bucket(g), 0) + 1
        for t in ("a a", "c d e", ""):
            for g in grams(t):
                rc[bucket(g)] = rc.get(bucket(g), 0) + 1
        tt, rt = sum(tc.values()), sum(rc.values())
        assert set(out) == set(tc) | set(rc)
        for b in out:
            want = math.log((tc.get(b, 0) + s) / (tt + s * buckets)) - math.log(
                (rc.get(b, 0) + s) / (rt + s * buckets)
            )
            zero = math.log(s / (tt + s * buckets)) - math.log(
                s / (rt + s * buckets)
            )
            assert out[b][0] == pytest.approx(want, rel=1e-12)
            assert out[b][1] == pytest.approx(zero, rel=1e-12)

    def test_weights_plan_has_no_corpus_fullouter(self, spark):
        from pycypher_nmetl_spark.llmops.dsir import (
            dsir_log_ratios, dsir_weights,
        )

        docs = spark.createDataFrame(
            [(i, f"w{i % 5} w{i % 3} common") for i in range(40)],
            "doc_id long, text string",
        )
        target = docs.filter(F.col("doc_id") % 7 == 0)
        raw = docs.filter(F.col("doc_id") % 7 != 0)
        ratios = dsir_log_ratios(target, raw, "text", buckets=100)
        w = dsir_weights(raw, "doc_id", "text", ratios, buckets=100)
        plan = _plan(w)
        # the old shape full-outer-joined two per-corpus aggregates and
        # re-planned that subtree on every reference (10 SMJs); the
        # ratio table is now a local relation
        assert "FullOuter" not in plan
        # one-pass weights (r12): no ids-resurrection sort-merge join,
        # a single gram explode (the corpus is touched exactly once),
        # and at most 2 exchanges (per-id agg + the zero-ratio scalar
        # over the bounded local ratio relation)
        assert "SortMergeJoin" not in plan
        assert len(re.findall(r"^\(\d+\) Generate", plan, re.M)) == 1
        assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) <= 2
        # and the values still flow: every raw doc gets a row
        assert w.count() == raw.count()

    def test_lazy_fallback_above_bucket_guard(self, spark, monkeypatch):
        import pycypher_nmetl_spark.llmops.dsir as dsir_mod

        monkeypatch.setattr(dsir_mod, "_LOCAL_RATIO_MAX_BUCKETS", 4)
        target = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        raw = spark.createDataFrame([(2, "b c")], "doc_id long, text string")
        out = dsir_mod.dsir_log_ratios(target, raw, "text", buckets=7)
        rows = {r["bucket"]: r["log_ratio"] for r in out.collect()}
        # same arithmetic through the window-totals path
        eager = {
            r["bucket"]: r["log_ratio"]
            for r in dsir_mod.dsir_log_ratios(
                target, raw, "text", buckets=7
            ).collect()
        }
        monkeypatch.undo()
        lazy_again = {
            r["bucket"]: r["log_ratio"]
            for r in dsir_mod.dsir_log_ratios(
                target, raw, "text", buckets=7
            ).collect()
        }
        assert rows == eager == lazy_again


# ---------------------------------------------------------------------- #
# 2. near_dup_pairs single UDF evaluation
# ---------------------------------------------------------------------- #
class TestNearDupSingleEval:
    def test_plan_has_three_python_evals(self, spark):
        from pycypher_nmetl_spark.llmops import near_dup_pairs

        import random

        random.seed(7)
        rows = [
            (i, [random.gauss(0, 1) for _ in range(8)]) for i in range(60)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = near_dup_pairs(df, "embedding", threshold=0.6, id_col="vec_id")
        plan = _plan(out)
        evals = re.findall(r"^\(\d+\) ArrowEvalPython", plan, re.M)
        # one signature eval per self-join side + one pair verify — the
        # minimum; the unpinned plan had 6 (each duplicated by pushdown)
        assert len(evals) == 3, plan

    def test_pairs_unchanged_vs_exact(self, spark):
        from pycypher_nmetl_spark.llmops import near_dup_pairs

        import random

        random.seed(11)
        base = [random.gauss(0, 1) for _ in range(16)]
        rows = [(0, base), (1, [x * 1.001 + 0.001 for x in base])] + [
            (i, [random.gauss(0, 1) for _ in range(16)]) for i in range(2, 40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        lsh = {
            (r["id1"], r["id2"])
            for r in near_dup_pairs(
                df, "embedding", threshold=0.9, id_col="vec_id"
            ).collect()
        }
        exact = {
            (r["id1"], r["id2"])
            for r in near_dup_pairs(
                df, "embedding", threshold=0.9, id_col="vec_id", exact=True
            ).collect()
        }
        assert lsh == exact


# ---------------------------------------------------------------------- #
# 3. QPP boundary-node join elimination
# ---------------------------------------------------------------------- #
@pytest.fixture()
def chain_graph(spark):
    """4-node chain with REGISTERED endpoint labels (elimination legal)."""
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "N",
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 5)], "id long, name string"
        ),
    )
    cat.register_edges(
        "E",
        spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long"),
        src_label="N",
        dst_label="N",
    )
    return CypherEngine(cat)


@pytest.fixture()
def unregistered_graph(spark):
    """Same chain but endpoints NOT registered — elimination must not fire."""
    cat = GraphCatalog(spark)
    cat.register_nodes(
        "N",
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(1, 5)], "id long, name string"
        ),
    )
    cat.register_edges(
        "E",
        spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long"),
    )
    return CypherEngine(cat)


class TestQppBoundaryElimination:
    QUERY = (
        "MATCH (s:N)((a)-[r:E]->(b)){2,2}(t:N) "
        "RETURN s.name AS sn, t.name AS tn"
    )

    def test_results(self, chain_graph):
        rows = sorted(
            tuple(r) for r in chain_graph.execute(self.QUERY).collect()
        )
        assert rows == [("n1", "n3"), ("n2", "n4")]

    def test_registered_endpoints_skip_boundary_join(self, chain_graph):
        plan = _plan(chain_graph.execute(self.QUERY))
        # {2,2}: scans = s anchor, t anchor, 2 edge scans — no scan for
        # the boundary node between the repetitions
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 4, plan

    def test_unregistered_endpoints_keep_boundary_join(self, unregistered_graph):
        rows = sorted(
            tuple(r) for r in unregistered_graph.execute(self.QUERY).collect()
        )
        assert rows == [("n1", "n3"), ("n2", "n4")]
        plan = _plan(unregistered_graph.execute(self.QUERY))
        # fallback: the boundary node still joins a node scan (5 scans:
        # 2 anchors + 2 edges + boundary)
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans >= 5, plan

    def test_exists_seed_scan_elided(self, chain_graph):
        # EXISTS flag subquery: the shared seed var n needs only its id
        # and the E registration proves src_label — the flag frame skips
        # the seed scan (3 scans: outer nodes + edges + far endpoint's
        # existence join, which dangling-edge semantics require for a
        # real edge table; 4 before the elision)
        q = "MATCH (n:N) WHERE EXISTS { (n)-[:E]->(:N) } RETURN n.name AS nm"
        out = chain_graph.execute(q)
        rows = sorted(tuple(r) for r in out.collect())
        assert rows == [("n1",), ("n2",), ("n3",)]
        plan = _plan(chain_graph.execute(q))
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 3, plan

    def test_exists_seed_and_fk_collapse_single_scan(self, spark):
        # fk-collapsed edge + seed elision: the flag frame is ONE scan
        # of the owner table (distinct fk values), zero joins inside —
        # the exists_anti gate shape (plans/r12/exists_anti_after.txt)
        from pyspark.sql import functions as F

        cat = GraphCatalog(spark)
        customer = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, name string"
        )
        orders = spark.createDataFrame(
            [(10, 1), (11, 1), (12, 3)], "id long, custkey long"
        )
        cat.register_nodes("Customer", customer)
        cat.register_nodes("Order", orders)
        cat.register_edges(
            "PLACED",
            orders.select(F.col("custkey").alias("src"), F.col("id").alias("dst")),
            src_label="Customer",
            dst_label="Order",
            fk_collapse=("Order", "dst", "custkey"),
        )
        eng = CypherEngine(cat)
        q = (
            "MATCH (c:Customer) WHERE NOT EXISTS { (c)-[:PLACED]->(:Order) } "
            "RETURN c.name AS nm"
        )
        # capture the plan BEFORE any action: once AQE finalizes,
        # explain prints Final + Initial trees and the join (whose node
        # differs between them, unlike the shared scan subtrees) is
        # detail-listed twice
        plan = _plan(eng.execute(q))
        rows = sorted(tuple(r) for r in eng.execute(q).collect())
        assert rows == [("b",)]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        joins = len(re.findall(r"^\(\d+\) \w*Join", plan, re.M))
        assert scans == 2, plan   # outer customers + owner table
        assert joins == 1, plan   # only the flag left join itself

    def test_exists_seed_prop_reference_keeps_scan(self, chain_graph):
        # the subquery WHERE reads n.name — elision must not fire and
        # the result must still be correct
        q = (
            "MATCH (n:N) WHERE EXISTS { (n)-[:E]->(b:N) "
            "WHERE n.name < b.name } RETURN n.name AS nm"
        )
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n1",), ("n2",), ("n3",)]

    def test_not_exists_seed_elided_results(self, chain_graph):
        q = "MATCH (n:N) WHERE NOT EXISTS { (n)-[:E]->(:N) } RETURN n.name AS nm"
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n4",)]

    def test_exists_unregistered_endpoints_keep_scan(self, unregistered_graph):
        # without registered endpoint labels the seed-side label cannot
        # be proven — the flag frame must keep the seed node scan
        q = "MATCH (n:N) WHERE EXISTS { (n)-[:E]->(:N) } RETURN n.name AS nm"
        rows = sorted(tuple(r) for r in unregistered_graph.execute(q).collect())
        assert rows == [("n1",), ("n2",), ("n3",)]
        plan = _plan(unregistered_graph.execute(q))
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans >= 3, plan

    def test_optional_match_seed_elided(self, chain_graph):
        # OPTIONAL MATCH whose shared seed n is consumed as a bare id:
        # the optional branch binds n from the edge source instead of
        # re-scanning the node table (3 scans: outer + edges + far
        # endpoint; 4 before the elision)
        q = (
            "MATCH (n:N) OPTIONAL MATCH (n)-[:E]->(m:N) "
            "RETURN n.name AS nm, count(m) AS c"
        )
        plan = _plan(chain_graph.execute(q))
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n1", 1), ("n2", 1), ("n3", 1), ("n4", 0)]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 3, plan

    def test_optional_match_where_on_seed_keeps_scan(self, chain_graph):
        # the OPTIONAL MATCH's WHERE reads n.name — applied inside the
        # optional branch (pre-left-join), so the seed scan must stay
        # and results must be the reference semantics
        q = (
            "MATCH (n:N) OPTIONAL MATCH (n)-[:E]->(m:N) "
            "WHERE n.name <> 'n2' RETURN n.name AS nm, count(m) AS c"
        )
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n1", 1), ("n2", 0), ("n3", 1), ("n4", 0)]

    def test_second_match_clause_seed_elided(self, chain_graph):
        # a second MATCH clause re-seeding a bound var: the inner merge
        # back to the outer frame enforces existence, so the seed scan
        # is skipped when the registration proves the label
        q = (
            "MATCH (n:N) MATCH (n)-[:E]->(m:N) "
            "RETURN n.name AS nm, m.name AS mm"
        )
        plan = _plan(chain_graph.execute(q))
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n1", "n2"), ("n2", "n3"), ("n3", "n4")]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 3, plan

    def test_optional_match_unregistered_keeps_scan(self, unregistered_graph):
        # unproven endpoint labels: the optional branch must keep its
        # seed node scan (fallback) and stay correct
        q = (
            "MATCH (n:N) OPTIONAL MATCH (n)-[:E]->(m:N) "
            "RETURN n.name AS nm, count(m) AS c"
        )
        rows = sorted(
            tuple(r) for r in unregistered_graph.execute(q).collect()
        )
        assert rows == [("n1", 1), ("n2", 1), ("n3", 1), ("n4", 0)]
        plan = _plan(unregistered_graph.execute(q))
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans >= 4, plan

    def test_inline_where_endpoint_property_keeps_join(self, chain_graph):
        # endNode(r).name reads the boundary node's property without
        # naming it: the elimination must not fire (it read as null)
        q = (
            "MATCH (s:N)((a)-[r:E]->(b WHERE endNode(r).name <> 'n2')){2,2}(t:N) "
            "RETURN s.name AS sn, t.name AS tn"
        )
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n2", "n4")]

    def test_inline_where_on_boundary_keeps_join(self, chain_graph):
        # a boundary constraint needs the node's properties — the
        # elimination must not fire when the hoisted WHERE references it
        q = (
            "MATCH (s:N)((a)-[r:E]->(b WHERE b.name <> 'n0')){2,2}(t:N) "
            "RETURN s.name AS sn, t.name AS tn"
        )
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n1", "n3"), ("n2", "n4")]


class TestTerminalAndMiddleElision:
    """Round-12: id-only elision extended beyond the seed — a bound,
    unreferenced node at ANY path position (terminal, intermediate)
    needs no node-table join when the adjacent edge registration proves
    its label; the merge back on its id re-enforces existence."""

    def test_terminal_node_join_elided(self, chain_graph):
        # second MATCH ending on the bound var n: the N-table join for n
        # is gone (3 scans: outer + m scan + edges; 4 before)
        q = (
            "MATCH (n:N) MATCH (m:N)-[:E]->(n) "
            "RETURN n.name AS nm, m.name AS mm"
        )
        plan = _plan(chain_graph.execute(q))
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n2", "n1"), ("n3", "n2"), ("n4", "n3")]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 3, plan

    def test_middle_node_join_elided(self, chain_graph):
        # bound var in the middle of a 2-hop path: its node-table join
        # is gone (5 scans; 6 before)
        q = (
            "MATCH (n:N) MATCH (a:N)-[:E]->(n)-[:E]->(b:N) "
            "RETURN a.name AS am, b.name AS bm"
        )
        plan = _plan(chain_graph.execute(q))
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n1", "n3"), ("n2", "n4")]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 5, plan

    def test_pattern_comprehension_terminal_elided(self, chain_graph):
        # pattern comprehension whose path ends on the outer var: only
        # the comprehension seed (m) scans; the n join is gone
        q = (
            "MATCH (n:N) RETURN n.name AS nm, "
            "size([(m:N)-[:E]->(n) | m]) AS c"
        )
        plan = _plan(chain_graph.execute(q))
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n1", 0), ("n2", 1), ("n3", 1), ("n4", 1)]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 3, plan

    def test_terminal_where_reference_keeps_scan(self, chain_graph):
        # WHERE reads n.name → the terminal needs its property columns;
        # elision must not fire and results stay the reference semantics
        q = (
            "MATCH (n:N) MATCH (m:N)-[:E]->(n) WHERE n.name <> 'n2' "
            "RETURN m.name AS mm"
        )
        plan = _plan(chain_graph.execute(q))
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == [("n2",), ("n3",)]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 4, plan

    @pytest.mark.parametrize(
        "query, expected",
        [
            (
                "MATCH (n:N) RETURN n.name AS k, "
                "[(n)-[:E]->(m) | n{.name}.name] AS v",
                [("n1", ["n1"]), ("n2", ["n2"]), ("n3", ["n3"]), ("n4", [])],
            ),
            (
                "MATCH (n:N) RETURN n.name AS k, "
                "[(n)-[r:E]->(m) | startNode(r).name] AS v",
                [("n1", ["n1"]), ("n2", ["n2"]), ("n3", ["n3"]), ("n4", [])],
            ),
            (
                "MATCH (n:N) MATCH (n)-[r:E]->(m) "
                "WHERE startNode(r).name = 'n1' RETURN m.name AS k, 0 AS v",
                [("n2", 0)],
            ),
        ],
    )
    def test_property_read_off_bound_var_keeps_scan(
        self, chain_graph, query, expected
    ):
        # a map projection or a startNode(r) property reads the bound
        # var's properties without naming it as `n.key`: elision must
        # not fire (it made these reads null)
        rows = sorted(tuple(r) for r in chain_graph.execute(query).collect())
        assert rows == expected

    def test_terminal_unregistered_keeps_scan(self, unregistered_graph):
        # unproven endpoint label: fallback keeps the terminal node join
        q = (
            "MATCH (n:N) MATCH (m:N)-[:E]->(n) "
            "RETURN n.name AS nm, m.name AS mm"
        )
        rows = sorted(
            tuple(r) for r in unregistered_graph.execute(q).collect()
        )
        assert rows == [("n2", "n1"), ("n3", "n2"), ("n4", "n3")]
        plan = _plan(unregistered_graph.execute(q))
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans >= 4, plan

    def test_cyclic_repeat_keeps_scan(self, chain_graph):
        # a var repeated inside one path (cyclic back-reference) is
        # never marked — the cyclic filter machinery owns it
        q = (
            "MATCH (n:N) MATCH (n)-[:E]->(m:N)-[:E]->(n) "
            "RETURN n.name AS nm"
        )
        rows = sorted(tuple(r) for r in chain_graph.execute(q).collect())
        assert rows == []


class TestUnlabeledEndpointUnionRestriction:
    """Round-12: a named, unlabeled endpoint's union-all node scan is
    restricted to the traversed edge types' registered other-side
    labels — the hop's label guard can never match any other label.
    Unregistered types keep the full catalog union (fallback)."""

    @pytest.fixture()
    def two_label_graph(self, spark):
        cat = GraphCatalog(spark)
        cat.register_nodes(
            "A",
            spark.createDataFrame(
                [(1, "a1"), (2, "a2")], "id long, name string"
            ),
        )
        cat.register_nodes(
            "B",
            spark.createDataFrame(
                [(1, "b1"), (2, "b2"), (3, "b3")], "id long, name string"
            ),
        )
        cat.register_nodes(
            "C",
            spark.createDataFrame([(9, "c9")], "id long, name string"),
        )
        cat.register_edges(
            "T",
            spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"),
            src_label="A",
            dst_label="B",
        )
        return CypherEngine(cat)

    def test_union_restricted_to_registered_side(self, two_label_graph):
        # x can only be a B: one scan of B instead of the A+B+C union
        q = "MATCH (a:A)-[:T]->(x) RETURN a.name AS an, x.name AS xn"
        plan = _plan(two_label_graph.execute(q))
        rows = sorted(tuple(r) for r in two_label_graph.execute(q).collect())
        assert rows == [("a1", "b2"), ("a2", "b3")]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 3, plan  # A + edges + B (was 5: A + edges + A,B,C)

    def test_undirected_union_restricted_both_sides(self, two_label_graph):
        # undirected hop: x may be either registered side (A or B), not C
        q = "MATCH (a:A)-[:T]-(x) RETURN a.name AS an, x.name AS xn"
        plan = _plan(two_label_graph.execute(q))
        rows = sorted(tuple(r) for r in two_label_graph.execute(q).collect())
        assert rows == [("a1", "b2"), ("a2", "b3")]
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans == 4, plan  # A + edges + A,B (was 5 with C)

    def test_unregistered_type_keeps_full_union(self, spark):
        cat = GraphCatalog(spark)
        cat.register_nodes(
            "A",
            spark.createDataFrame([(1, "a1")], "id long, name string"),
        )
        cat.register_nodes(
            "B",
            spark.createDataFrame([(2, "b2")], "id long, name string"),
        )
        cat.register_edges(
            "T", spark.createDataFrame([(1, 2)], "src long, dst long")
        )
        eng = CypherEngine(cat)
        q = "MATCH (a:A)-[:T]->(x) RETURN x.name AS xn"
        rows = sorted(tuple(r) for r in eng.execute(q).collect())
        # unregistered endpoints: id spaces are lenient — both labels'
        # id=2 rows would match; here only B has id 2
        assert rows == [("b2",)]
        plan = _plan(eng.execute(q))
        scans = len(re.findall(r"^\(\d+\) Scan ", plan, re.M))
        assert scans >= 4, plan  # A + edges + full A,B union

    def test_varlength_zero_hop_keeps_full_union(self, two_label_graph):
        # *0..1 tips include the START (an A node): the union must NOT
        # be restricted to the dst side, or zero-hop rows vanish
        q = (
            "MATCH (a:A)-[:T*0..1]->(x) "
            "RETURN a.name AS an, x.name AS xn"
        )
        rows = sorted(tuple(r) for r in two_label_graph.execute(q).collect())
        assert rows == [
            ("a1", "a1"), ("a1", "b2"), ("a2", "a2"), ("a2", "b3"),
        ]

    def test_varlength_one_plus_restricted(self, two_label_graph):
        # *1..2 tips are always a T-dst: union restricted to B
        q = "MATCH (a:A)-[:T*1..2]->(x) RETURN a.name AS an, x.name AS xn"
        rows = sorted(tuple(r) for r in two_label_graph.execute(q).collect())
        assert rows == [("a1", "b2"), ("a2", "b3")]
        plan = _plan(two_label_graph.execute(q))
        assert "c9" not in plan


# ---------------------------------------------------------------------- #
# 7. var-length anchor-distinct elision (first-segment pristine seed)
# ---------------------------------------------------------------------- #
class TestVarlengthSeedDedupElision:
    def test_fresh_seed_plan_has_no_dedup_aggregate(self, chain_graph):
        # seed = node_scan + row filters, unique on (id, label): the
        # per-branch dropDuplicates — the ONLY aggregate in this plan —
        # is elided (on the parquet/TPC-H footing that removes the last
        # shuffle Exchanges from the varlength_path bench query; on this
        # statless in-memory fixture the joins themselves still exchange)
        df = chain_graph.execute(
            "MATCH (a:N)-[:E*1..2]->(b:N) RETURN a.name AS an, b.name AS bn"
        )
        plan = _plan(df)
        assert not re.findall(r"^\(\d+\) \w*HashAggregate", plan, re.M), plan
        rows = sorted(tuple(r) for r in df.collect())
        assert rows == [
            ("n1", "n2"), ("n1", "n3"), ("n2", "n3"),
            ("n2", "n4"), ("n3", "n4"),
        ]

    def test_mid_path_varlength_keeps_dedup(self, chain_graph):
        # the second segment's starts come out of a join (can repeat):
        # the distinct must stay, and values must not multiply
        df = chain_graph.execute(
            "MATCH (a:N)-[:E]->(b:N)-[:E*1..2]->(c:N) "
            "RETURN a.name AS an, c.name AS cn"
        )
        plan = _plan(df)
        assert re.findall(r"^\(\d+\) \w*HashAggregate", plan, re.M), plan
        rows = sorted(tuple(r) for r in df.collect())
        assert rows == [("n1", "n3"), ("n1", "n4"), ("n2", "n4")]


# ---------------------------------------------------------------------- #
# 8. multimodal: kind filter + (media_id, content) projection JVM-side
# ---------------------------------------------------------------------- #
class TestMultimodalBoundaryPruning:
    def test_only_two_columns_cross_into_python(self, spark):
        from pycypher_nmetl_spark.llmops.multimodal import (
            MEDIA_SCHEMA, extract_audio_features, extract_image_features,
            synth_png, synth_wav,
        )

        rows = [
            (1, "image", bytearray(synth_png(8, 4)), "image/png", {}),
            (2, "audio", bytearray(synth_wav(100)), "audio/wav", {}),
            (3, "video", bytearray(b"\x00" * 32), "video/mp4", {}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        for fn, kind in (
            (extract_image_features, "image"),
            (extract_audio_features, "audio"),
        ):
            plan = _plan(fn(media))
            # mapInPandas is opaque to Catalyst: without the explicit
            # JVM-side select, every column of every row (other kinds'
            # payloads included) crosses the Arrow boundary
            m = re.search(
                r"^\(\d+\) MapInPandas\nInput \[(\d+)\]", plan, re.M
            )
            assert m and m.group(1) == "2", plan
            # and the kind filter sits BELOW the Python boundary
            assert re.search(rf"kind#\d+ = {kind}", plan), plan

    def test_values_unchanged_with_mixed_kinds(self, spark):
        from pycypher_nmetl_spark.llmops.multimodal import (
            MEDIA_SCHEMA, extract_audio_features, extract_image_features,
            synth_gif, synth_png, synth_wav,
        )

        rows = [
            (1, "image", bytearray(synth_png(8, 4)), "image/png", {}),
            (2, "audio", bytearray(synth_wav(160)), "audio/wav", {}),
            (3, "image", bytearray(synth_gif(5, 7)), "image/gif", {}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        img = {r["media_id"]: r for r in extract_image_features(media).collect()}
        assert set(img) == {1, 3}
        assert (img[1]["width"], img[1]["height"]) == (8, 4)
        assert (img[3]["width"], img[3]["height"]) == (5, 7)
        aud = extract_audio_features(media).collect()
        assert len(aud) == 1 and aud[0]["media_id"] == 2
        assert aud[0]["duration_ms"] == 10  # 160 frames @ 16 kHz


# ---------------------------------------------------------------------- #
# 9. iterative algorithms: adjacency partitioned+sorted+cached ONCE
# ---------------------------------------------------------------------- #
class TestIterativeAlgoCachedAdjacency:
    def test_part_by_layout_reused_by_join(self, spark):
        # the property _part_by buys: a per-iteration sort-merge join
        # against the cached adjacency needs no Exchange and no Sort on
        # the adjacency side — only the (small) state side shuffles
        from pycypher_nmetl_spark.algorithms import _part_by

        edges = spark.createDataFrame(
            [(i % 7, i % 5) for i in range(100)], "src: long, dst: long"
        )
        adj = _part_by(edges, "src")
        try:
            state = spark.createDataFrame(
                [(i, 1.0) for i in range(7)], "id: long, r: double"
            )
            j = adj.join(
                state.hint("merge"), adj["src"] == state["id"]
            ).groupBy("dst").count()
            plan = _plan(j)
            assert "InMemoryTableScan" in plan
            tree = plan.split("\n\n")[0]
            # drop the cached plan's INTERNAL subtree (rendered inline,
            # indented under InMemoryRelation) — it holds the one-time
            # partition+sort; the outer tree must not repeat it
            lines, keep, skip_deeper = tree.splitlines(), [], None
            for ln in lines:
                ind = len(re.match(r"^[\s:+\-*]*", ln).group(0))
                if skip_deeper is not None and ind > skip_deeper:
                    continue
                skip_deeper = ind if "InMemoryRelation" in ln else None
                keep.append(ln)
            outer = "\n".join(keep)
            # 2 exchanges: the state side + the groupBy — none for adj
            assert len(re.findall(r"[-: ]Exchange \(\d+\)", outer)) == 2, plan
            # 1 sort: the state side — adj is cached pre-sorted
            assert len(re.findall(r"[-: ]Sort \(\d+\)", outer)) == 1, plan
        finally:
            adj.unpersist()

    def test_pagerank_unpersists_and_values_stable(self, spark):
        from pycypher_nmetl_spark.algorithms import pagerank

        cache_mgr = spark._jsparkSession.sharedState().cacheManager()
        was_empty = cache_mgr.isEmpty()
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (1, 3)], "src: long, dst: long"
        )
        out = {r["id"]: r["rank"] for r in pagerank(edges).collect()}
        # reference power iteration (10 rounds, d=0.85) — independent
        # pure-Python computation of the same recurrence
        ranks = {1: 1 / 3, 2: 1 / 3, 3: 1 / 3}
        deg = {1: 2, 2: 1, 3: 1}
        for _ in range(10):
            contrib = {1: 0.0, 2: 0.0, 3: 0.0}
            for s, d in [(1, 2), (2, 3), (3, 1), (1, 3)]:
                contrib[d] += ranks[s] / deg[s]
            flowed = sum(contrib.values())
            ranks = {
                k: 0.15 / 3 + 0.85 * (contrib[k] + (1.0 - flowed) / 3.0)
                for k in ranks
            }
        for k, v in ranks.items():
            assert abs(out[k] - v) < 1e-12, (k, out[k], v)
        # the working-set cache is released before return (only
        # assertable when no other test left session-level cache behind)
        if was_empty:
            assert cache_mgr.isEmpty()


# ---------------------------------------------------------------------- #
# 10. BFS visited set kept as per-level checkpointed parts (shortestPath)
# ---------------------------------------------------------------------- #
class TestBfsIncrementalVisited:
    def test_minimality_across_levels(self, spark):
        # diamond + long way round: (1)->(2)->(4), (1)->(3)->(4),
        # (1)->(5)->(6)->(4). Pair (1,4) is reachable at 2 and 3 hops;
        # the visited set must prune the 3-hop path at level 3, and
        # allShortestPaths must keep BOTH 2-hop paths.
        rows = [(1, 2), (2, 4), (1, 3), (3, 4), (1, 5), (5, 6), (6, 4)]
        nodes = [(i, f"n{i}") for i in range(1, 7)]
        cat = GraphCatalog(spark)
        cat.register_nodes(
            "N", spark.createDataFrame(nodes, "id long, name string")
        )
        cat.register_edges(
            "E",
            spark.createDataFrame(rows, "src long, dst long"),
            src_label="N",
            dst_label="N",
        )
        eng = CypherEngine(cat)
        one = eng.execute(
            "MATCH p = shortestPath((a:N)-[:E*]->(b:N)) "
            "WHERE a.name = 'n1' AND b.name = 'n4' RETURN length(p) AS l"
        ).collect()
        assert [r["l"] for r in one] == [2]
        allp = eng.execute(
            "MATCH p = allShortestPaths((a:N)-[:E*]->(b:N)) "
            "WHERE a.name = 'n1' AND b.name = 'n4' RETURN length(p) AS l"
        ).collect()
        assert [r["l"] for r in allp] == [2, 2]
