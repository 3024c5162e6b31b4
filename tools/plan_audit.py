"""Physical-plan audit: regenerate PLANS.md from live `.explain` output.

For each headline bench query, compile the Cypher to a DataFrame, capture
`_sc._jdf.queryExecution().explainString(formatted)`, and assert the
scale-critical properties:

  * parquet scans carry PushedFilters / a pruned ReadSchema when the query
    filters or projects,
  * dimension joins (nation, region, customer<10k rows at sf<=0.1's
    broadcast threshold) are BroadcastHashJoin,
  * no CartesianProduct anywhere,
  * exchange (shuffle) count stays at the expected budget per query.

Run:  python tools/plan_audit.py          # writes PLANS.md, exits 1 on violation
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES  # noqa: E402

# max Exchange nodes tolerated per query plan (pre-AQE; AQE can only
# remove or localize them at runtime, never add).  The budget documents
# the *intent*: scans/filters shuffle nothing, one-hop joins broadcast,
# aggregation pays exactly its own shuffle, the 3-level var-length union
# re-uses one exchange per hop depth.
SHUFFLE_BUDGET = {
    "simple_scan": 0,
    "filtered_scan": 0,
    "single_hop": 0,       # PLACED edge + customer dims broadcast
    "filtered_hop": 0,
    "two_hop": 0,          # nation+region broadcast; customer scan stays narrow
    "aggregation_count": 1,
    "aggregation_avg": 1,
    "varlength_path": 3,   # one dedup per hop depth of the 1/2/3-hop union
    "agg_pricing_summary": 1,
    "qpp_reach": 1,        # union of 1/2-rep join chains + its aggregation
    "undirected_hop": 1,   # both orientations fold to one; its aggregation
    "varlength_unlabeled": 1,  # tip joins the among-restricted union scan
}

# audited beyond the bench workload (kept out of BENCH_QUERIES so the
# benchmark totals stay comparable round-over-round)
AUDIT_EXTRA = [
    (
        "qpp_reach",
        "MATCH (s:Lineitem)((a)-[r:NEXT_LINE]->(b)){1,2}(t:Lineitem) "
        "WHERE s.linenumber = 1 RETURN size(r) AS hops, count(*) AS cnt",
    ),
    (
        "undirected_hop",
        "MATCH (n:Nation)-[:IN_REGION]-(r) RETURN r.name AS region, count(*) AS cnt",
    ),
    (
        "varlength_unlabeled",
        "MATCH (a:Lineitem)-[:NEXT_LINE*1..2]->(b) WHERE a.linenumber = 1 "
        "RETURN b.linenumber AS ln, count(*) AS cnt",
    ),
]


def explain_str(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def audit() -> int:
    from pycypher_nmetl_spark import CypherEngine, GraphCatalog, get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark()
    cat = GraphCatalog.from_tpch(spark, sf_dir, materialize_derived=True)
    eng = CypherEngine(cat)

    failures: list[str] = []
    sections: list[str] = []
    for name, cypher in list(BENCH_QUERIES) + AUDIT_EXTRA:
        df = eng.execute(cypher)
        plan = explain_str(df)
        # formatted explain prints each node once in the tree and once in
        # the details section as "(N) NodeName"; count the detail headers
        exchanges = len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M))
        cartesian = "CartesianProduct" in plan
        broadcasts = len(re.findall(r"^\(\d+\) BroadcastHashJoin\b", plan, re.M))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        pushed_n = sum(1 for p in pushed if p.strip())
        checks = []
        budget = SHUFFLE_BUDGET[name]
        ok = exchanges <= budget and not cartesian
        checks.append(f"exchanges={exchanges} (budget {budget})")
        checks.append(f"broadcast_joins={broadcasts}")
        checks.append(f"scans_with_pushed_filters={pushed_n}")
        if cartesian:
            checks.append("CARTESIAN PRODUCT — violation")
        if not ok:
            failures.append(f"{name}: {'; '.join(checks)}")
        # formatted explain = tree section, blank line, then per-node
        # details; keep the whole tree (coherent picture) plus the pushed
        # filters / read schemas from the details
        tree = plan.split("\n\n", 1)[0].splitlines()
        details = [
            ln.strip()
            for ln in plan.splitlines()
            if re.match(r"\s*(PushedFilters|ReadSchema):", ln)
        ]
        sections.append(
            f"## {name}\n\n`{cypher}`\n\n"
            f"**{'OK' if ok else 'VIOLATION'}** — {'; '.join(checks)}\n\n"
            "```\n" + "\n".join(tree[:60]) + "\n"
            + ("...\n" if len(tree) > 60 else "")
            + "\n".join(details[:20]) + "\n```\n"
        )

    header = (
        "# PLANS — physical-plan audit of the headline queries\n\n"
        "Regenerate with `python tools/plan_audit.py` (exits non-zero if a\n"
        "query exceeds its shuffle budget or plans a Cartesian product).\n"
        "Excerpts below are the scan/join/exchange/aggregate lines of\n"
        '`.explain("formatted")` at '
        f"`{sf_dir}`; full plans are reproducible from the command above.\n\n"
        "Why these checks are the scale story: a plan that broadcasts its\n"
        "dimensions, pushes filters into the parquet scan, and shuffles only\n"
        "for its own aggregation keys behaves the same on a 1000-executor\n"
        "cluster at 100 TB — the shuffle budget is the per-query invariant\n"
        "that a code change must not silently break.\n\n"
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write(header + "\n".join(sections))
    if failures:
        print("PLAN AUDIT FAILURES:")
        for f in failures:
            print(" ", f)
        return 1
    n = len(BENCH_QUERIES) + len(AUDIT_EXTRA)
    print(f"plan audit OK — {n} queries within shuffle budget")
    return 0


if __name__ == "__main__":
    sys.exit(audit())
