"""Variable-length paths & shortest paths (reference: path_expander.py:93-490).

openCypher semantics implemented:

  * ``(a)-[r:T*m..n]->(b)`` — one output row per *path*; ``r`` binds to
    the list of edge ids along the path; edges within one path are
    distinct (relationship isomorphism), enforced with an
    ``array_contains`` check against the accumulated edge list;
  * ``shortestPath(...)`` / ``allShortestPaths(...)`` — min-hop path(s)
    per (start, end) pair, found by level-synchronous BFS with a
    visited-set (so the search space stays linear in reachable pairs,
    not exponential in paths);
  * zero-length (``*0..``) binds b = a with an empty edge list;
  * the tip ``b`` binds exactly as a fixed hop's far endpoint does
    (``patterns.bind_far_endpoint``: a cyclic close checks id, label
    space and every declared label; a labelled tip joins its label's
    scan; a named unlabelled tip joins the union scan), and inline
    property maps on the tip and the edges filter through
    ``patterns.filter_props``. This module binds no endpoint itself.

Execution strategy (scale notes):

  * the frontier starts from the DISTINCT start ids of the incoming
    bindings, so duplicated binding rows don't multiply the traversal;
    results join back on the start id at the end;
  * bounded small expansions (max ≤ LAZY_MAX_LEVELS) compile to one lazy
    union-of-joins plan — Catalyst sees everything, no driver actions;
  * larger / unbounded expansions run a driver BFS loop with
    ``localCheckpoint`` per level (truncates the lineage exactly like
    GraphFrames' BFS) and an early exit when the frontier empties —
    the count() per level is the only extra action;
  * hop caps (MAX_HOPS) mirror the reference's guard rails
    (path_expander.py:40-50).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pycypher_nmetl_spark.compiler.bindings import Bindings, VarInfo, fresh_name, pcol
from pycypher_nmetl_spark.cypher.ast_nodes import NodePattern, PathPattern, RelPattern

if TYPE_CHECKING:
    from pycypher_nmetl_spark.engine import CypherEngine

MAX_HOPS = 20  # unbounded `*..` cap (reference: path_expander.py:40-50)
LAZY_MAX_LEVELS = 8  # above this, switch to checkpointed driver loop


def build_varlength_path(
    engine: "CypherEngine",
    path: PathPattern,
    outer: Bindings,
    params: dict,
    var_preds: dict[str, list] | None = None,
    applied: set[str] | None = None,
) -> tuple[Bindings, list[tuple[str, tuple[str, ...]]]]:
    """Build a path frame for a pattern containing var-length segments.

    Pushable WHERE conjuncts on the start variable are applied *before*
    the BFS expansion — the frontier starts from the filtered set, not
    the whole label (the single biggest win for selective path queries).
    """
    from pycypher_nmetl_spark.compiler.patterns import (
        _ensure_var, _expand, _scan_node_into, apply_var_preds,
    )

    var_preds = var_preds or {}
    applied = applied if applied is not None else set()
    elements = path.elements
    rel_vars: list[tuple[str, tuple[str, ...]]] = []
    first: NodePattern = elements[0]
    pb = _scan_node_into(engine, first, outer, params)
    pb = apply_var_preds(engine, pb, var_preds, applied, params)
    prev_var = _ensure_var(first)
    hop_cols: list = []  # Columns counting hops, for length(p)

    i = 1
    while i < len(elements):
        rel: RelPattern = elements[i]
        nxt: NodePattern = elements[i + 1]
        tip = i + 2 == len(elements) and not path.var
        if rel.varlength:
            # i == 1: pb is still the pristine seed — a node_scan (unique
            # on (id, label) by construction, also across an unlabeled
            # union: each label table has unique ids) narrowed only by
            # row filters (prop maps, pushable WHERE). Its start set
            # needs no dedup, so the per-branch distinct (a full shuffle
            # of the anchor id set) is elided. Any later segment has
            # been through a join and may repeat starts.
            pb, rvar, hop_col = _expand_varlength(
                engine, pb, prev_var, rel, nxt, outer, params, path.shortest,
                starts_unique=(i == 1), tip=tip,
            )
            hop_cols.append(hop_col)
        else:
            pb, rvar = _expand(engine, pb, prev_var, rel, nxt, outer, params, tip=tip)
            hop_cols.append(F.lit(1))
        rel_vars.append((rvar, tuple(rel.types)))
        prev_var = _ensure_var(nxt)
        pb = apply_var_preds(engine, pb, var_preds, applied, params)
        i += 2

    if path.var:
        total = hop_cols[0]
        for h in hop_cols[1:]:
            total = total + h
        pb = pb.with_df(pb.df.withColumn(f"{path.var}__length", total))
        # path_nodes stays empty: a varlength segment's interior nodes
        # are never materialized (nodes(p) raises a clear unsupported);
        # relationships(p) still works — rel vars bind edge-id arrays
        pb = pb.add_var(
            path.var,
            VarInfo("path", path_rels=tuple(rv for rv, _ in rel_vars)),
        )
    return pb, rel_vars


# --------------------------------------------------------------------- #
def _lcompat(a, b):
    """Lenient label-space compatibility: unknown ('') matches anything,
    known labels must agree (node ids are per-label spaces)."""
    return (a == "") | (b == "") | (a == b)


def _edge_hop_table(
    engine: "CypherEngine", rel: RelPattern, params: dict
) -> DataFrame:
    """Edge table reduced to (_eid, _from, _to, _froml, _tol) in traversal
    orientation. _froml/_tol carry each side's registered endpoint label
    ('' = unknown): traversal joins are label-guarded because raw node
    ids are only unique per label (round-5 fix — id collisions across
    label spaces fabricated paths, e.g. (c:Customer)-[:FROM_NATION*2]->
    chained a Nation tip back onto same-id Customer edges)."""
    from pycypher_nmetl_spark.compiler.patterns import edge_scan, filter_props

    cat = engine.catalog
    use_types = list(rel.types) if rel.types else cat.rel_types()
    outs: list[DataFrame] = []
    for t in use_types:
        tmp = fresh_name("_vl")
        edf, rinfo = edge_scan(engine, tmp, [t])
        src_c, dst_c = pcol(tmp, "src"), pcol(tmp, "dst")
        edf = filter_props(engine, Bindings(edf, {tmp: rinfo}), tmp, rel.props, params).df

        sl, dl = cat.edge_endpoints(t)
        sl, dl = F.lit(sl or ""), F.lit(dl or "")
        if rel.direction == "R":
            sel = edf.select(
                F.col(tmp).alias("_eid"),
                F.col(src_c).alias("_from"), F.col(dst_c).alias("_to"),
                sl.alias("_froml"), dl.alias("_tol"),
            )
        elif rel.direction == "L":
            sel = edf.select(
                F.col(tmp).alias("_eid"),
                F.col(dst_c).alias("_from"), F.col(src_c).alias("_to"),
                dl.alias("_froml"), sl.alias("_tol"),
            )
        else:  # undirected: both orientations; edge-uniqueness stops backtracking
            fwd = edf.select(
                F.col(tmp).alias("_eid"),
                F.col(src_c).alias("_from"), F.col(dst_c).alias("_to"),
                sl.alias("_froml"), dl.alias("_tol"),
            )
            bwd = edf.filter(
                (F.col(src_c) != F.col(dst_c)) | ~_lcompat(sl, dl)
            ).select(
                F.col(tmp).alias("_eid"),
                F.col(dst_c).alias("_from"), F.col(src_c).alias("_to"),
                dl.alias("_froml"), sl.alias("_tol"),
            )
            # self-loops only once (both orientations are the same
            # traversal) — but same-id ENDPOINTS of different labels are
            # distinct nodes, not self-loops, so keep those reversals
            sel = fwd.unionByName(bwd)
        outs.append(sel)
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def _expand_varlength(
    engine: "CypherEngine",
    pb: Bindings,
    prev_var: str,
    rel: RelPattern,
    nxt: NodePattern,
    outer: Bindings,
    params: dict,
    shortest: str | None,
    starts_unique: bool = False,
    tip: bool = False,
):
    from pycypher_nmetl_spark.compiler.patterns import (
        _ensure_var, bind_far_endpoint, filter_props, other_side_labels,
        pattern_labels, unread_tip,
    )

    cat = engine.catalog
    rvar = rel.var or fresh_name("_anon")
    lo = rel.min_hops if rel.min_hops is not None else 1
    hi = rel.max_hops if rel.max_hops is not None else MAX_HOPS
    hi = min(hi, MAX_HOPS)
    if lo > hi:
        raise ValueError(f"invalid hop range *{lo}..{hi}")

    edges = _edge_hop_table(engine, rel, params)
    # (measured: persisting the hop table here is a net loss — AQE's
    # ReuseExchange already dedupes the per-level scans at this scale)
    # Start label expression: exact when the binding's label is known,
    # '' (lenient) for anonymous/multi-label bindings; unlabeled
    # all-labels scans carry a per-row label column.
    pinfo = pb.vars.get(prev_var)
    plabcol = pcol(prev_var, "label")
    if pinfo is not None and len(pinfo.labels) == 1:
        prev_l = F.lit(pinfo.labels[0])
    elif plabcol in pb.df.columns:
        prev_l = F.col(plabcol)
    else:
        prev_l = F.lit("")
    starts = pb.df.select(
        F.col(prev_var).alias("_start"), prev_l.alias("_startl")
    )
    # Enumeration computes paths per start ROW and joins back on id, so
    # duplicate starts would multiply result rows — the dedup is
    # correctness-load-bearing in general. A pristine seed scan is
    # already unique on (id, label); the caller proves it and the
    # distinct (one Exchange over the whole anchor id set per branch)
    # is skipped.
    if not starts_unique:
        starts = starts.dropDuplicates()

    if shortest:
        paths = _bfs_shortest(engine, starts, edges, lo, hi, shortest)
    elif hi <= LAZY_MAX_LEVELS:
        paths = _enumerate_lazy(starts, edges, lo, hi)
    else:
        paths = _enumerate_checkpointed(engine, starts, edges, lo, hi)
    # paths: (_start, _startl, _tip, _tipl, _edges array<edge id>)

    nvar = _ensure_var(nxt)
    tipname = fresh_name("_tip")
    tiplname = fresh_name("_tipl")
    edgename = rvar
    paths = paths.select(
        F.col("_start").alias("_vlstart"),
        F.col("_startl").alias("_vlstartl"),
        F.col("_tip").alias(tipname),
        F.col("_tipl").alias(tiplname),
        F.col("_edges").alias(edgename),
    )

    # join back on (id, label): two same-id starts of different labels
    # are different nodes and must not swap traversals
    df = pb.df.join(
        paths,
        (pb.df[prev_var] == paths["_vlstart"]) & (prev_l == paths["_vlstartl"]),
    ).drop("_vlstart", "_vlstartl")
    vars_ = dict(pb.vars)
    vars_[rvar] = VarInfo("rel", tuple(rel.types), anon=rel.var is None)
    pb = Bindings(df, vars_)

    # the tip binds by the fixed hop's rule; a zero-hop tip IS the start
    # node, whose label the edge registrations say nothing about, so the
    # union scan is restricted only for lo >= 1
    use_types = list(rel.types) if rel.types else cat.rel_types()
    among = other_side_labels(cat, use_types, rel.direction) if lo >= 1 else None
    pb = bind_far_endpoint(
        engine, pb, nxt, pattern_labels(nxt, outer), tipname, tiplname, among,
        unread_tip(engine, rel, nxt, tip),
    )
    pb = filter_props(engine, pb, nvar, nxt.props, params)
    pb = pb.with_df(pb.df.drop(tipname, tiplname))
    return pb, rvar, F.size(F.col(edgename))


# --------------------------------------------------------------------- #
def _zero_hop(starts: DataFrame) -> DataFrame:
    return starts.select(
        F.col("_start"),
        F.col("_startl"),
        F.col("_start").alias("_tip"),
        F.col("_startl").alias("_tipl"),
        F.array().cast("array<long>").alias("_edges"),
    )


_PATH_COLS = ("_start", "_startl", "_tip", "_tipl", "_edges")


def _first_hop(starts: DataFrame, edges: DataFrame) -> DataFrame:
    return starts.join(
        edges,
        (starts["_start"] == edges["_from"])
        & _lcompat(starts["_startl"], edges["_froml"]),
    ).select(
        "_start", "_startl",
        F.col("_to").alias("_tip"), F.col("_tol").alias("_tipl"),
        F.array("_eid").alias("_edges"),
    )


def _next_hop(level: DataFrame, edges: DataFrame) -> DataFrame:
    return (
        level.join(
            edges,
            (level["_tip"] == edges["_from"])
            & _lcompat(level["_tipl"], edges["_froml"]),
        )
        .filter(~F.array_contains(F.col("_edges"), F.col("_eid")))
        .select(
            "_start", "_startl",
            F.col("_to").alias("_tip"), F.col("_tol").alias("_tipl"),
            F.array_append("_edges", F.col("_eid")).alias("_edges"),
        )
    )


def _enumerate_lazy(starts: DataFrame, edges: DataFrame, lo: int, hi: int) -> DataFrame:
    """All paths of length lo..hi as one lazy union-of-joins plan."""
    out: list[DataFrame] = [] if lo > 0 else [_zero_hop(starts)]
    level = _first_hop(starts, edges)
    if lo <= 1:
        out.append(level)
    for k in range(2, hi + 1):
        level = _next_hop(level, edges)
        if k >= lo:
            out.append(level)
    res = out[0]
    for p in out[1:]:
        res = res.unionByName(p)
    return res


def _enumerate_checkpointed(
    engine: "CypherEngine", starts: DataFrame, edges: DataFrame, lo: int, hi: int
) -> DataFrame:
    """Driver BFS loop with lineage truncation + empty-frontier early exit."""
    level = _first_hop(starts, edges).localCheckpoint()
    collected: list[DataFrame] = [] if lo > 0 else [_zero_hop(starts)]
    if lo <= 1:
        collected.append(level)
    k = 1
    while k < hi:
        if level.isEmpty():
            break
        level = _next_hop(level, edges).localCheckpoint()
        k += 1
        if k >= lo:
            collected.append(level)
    res = collected[0]
    for p in collected[1:]:
        res = res.unionByName(p)
    return res


def _bfs_shortest(
    engine: "CypherEngine",
    starts: DataFrame,
    edges: DataFrame,
    lo: int,
    hi: int,
    mode: str,
) -> DataFrame:
    """Level-synchronous BFS with a visited set per start.

    shortestPath -> one min-hop path per (start, end);
    allShortestPaths -> every min-hop path per (start, end)
    (reference: path_expander.py:299-490).
    """
    pair_keys = ["_start", "_startl", "_tip", "_tipl"]
    if lo > 1:
        # A pair whose true shortest path is below lo must still yield its
        # shortest *qualifying* (>= lo hops, edge-unique) path. The
        # visited-set BFS below would mark the pair visited at the earlier
        # level and prune every longer path, so enumerate lo..hi instead
        # and keep the min-hop path(s) per pair (the reference's
        # path_expander applies the lower bound as a filter on found
        # paths, not as search pruning).
        res = _enumerate_checkpointed(engine, starts, edges, lo, hi)
        # Neo4j: shortestPath yields nothing for identical endpoints
        # (same node = same id AND same label space — NOT merely the
        # same raw id, round-5 fix)
        res = res.filter(
            ~((F.col("_tip") == F.col("_start")) & (F.col("_tipl") == F.col("_startl")))
        )
        if mode == "shortest":
            w = Window.partitionBy(*pair_keys).orderBy(
                F.size("_edges"), F.col("_edges")
            )
            return (
                res.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        w = Window.partitionBy(*pair_keys)
        return (
            res.withColumn("_min", F.min(F.size("_edges")).over(w))
            .filter(F.size("_edges") == F.col("_min"))
            .drop("_min")
        )

    # Pre-seeding visited with the zero-hop keys does double duty: BFS
    # minimality pruning AND Neo4j's identical-endpoints exclusion
    # (shortestPath((a)-[*1..]->(b)) yields nothing for a == b; the
    # fuzzer oracle and reference path_expander agree). The keys are
    # (id, label)-qualified (round-5 fix): a plain raw-id seed also
    # swallowed 1-hop paths whose endpoint shares the start's raw id in
    # a DIFFERENT label space — a different node entirely.
    frontier = _zero_hop(starts).localCheckpoint()
    # The visited set is kept as per-level key frames, each checkpointed
    # once when its level is found, unioned lazily for the anti-join.
    # Re-checkpointing one accumulated frame per level (the old shape)
    # re-materialized the ENTIRE visited set every round — O(levels x
    # |visited|) writes; this writes each level's keys exactly once.
    # The parts stay pairwise disjoint (each level is anti-joined
    # against everything before it) and level-deduped, so the union is
    # still a set.
    visited_parts = [frontier.select(*pair_keys).localCheckpoint()]
    found: list[DataFrame] = [] if lo > 0 else [frontier]
    k = 0
    while k < hi:
        visited = visited_parts[0]
        for p in visited_parts[1:]:
            visited = visited.unionByName(p)
        nxt = (
            _next_hop(frontier, edges)
            .join(visited, on=pair_keys, how="left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        k += 1
        if k >= lo:
            found.append(nxt)
        visited_parts.append(
            nxt.select(*pair_keys).dropDuplicates().localCheckpoint()
        )
        # Bound the anti-join's union width for deep searches (ADVICE
        # r12): at level k the lazy union holds k branches, so planning
        # cost across a run grows O(levels^2). Every 16 populated levels,
        # merge the parts into ONE checkpointed frame — they are pairwise
        # disjoint, so the merge is a plain union (no dedup shuffle) and
        # costs one visited-set write per 16 levels, keeping the
        # per-level incremental-write savings for typical hop bounds.
        if len(visited_parts) >= 16:
            merged = visited_parts[0]
            for p in visited_parts[1:]:
                merged = merged.unionByName(p)
            visited_parts = [merged.localCheckpoint()]
        frontier = nxt
    if not found:
        return _zero_hop(starts).limit(0)
    res = found[0]
    for p in found[1:]:
        res = res.unionByName(p)
    if mode == "shortest":
        w = Window.partitionBy(*pair_keys).orderBy(F.size("_edges"), F.col("_edges"))
        res = (
            res.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    # 'allshortest': every path at the first level a pair was reached —
    # the visited-set anti-join already guarantees min-hop only.
    return res
