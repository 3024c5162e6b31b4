"""MATCH pattern compiler: graph patterns -> DataFrame joins.

Reference semantics: pattern_matcher.py:152-798, frame_joiner.py:70-310.
Spark-first re-expression (SURVEY.md §2.4):

  * node scan            -> ``nodes_df.select(id AS var, props AS var__p)``
                            of the props the query reads (+ broadcast
                            hint for small dimension labels);
  * fixed hop            -> equi-join bindings.prev == edges.src, promote
                            ``dst`` to the next variable, then join the
                            endpoint label table for its properties;
  * undirected           -> union of both orientations of the edge table;
  * cyclic back-reference-> equality filter instead of a new column;
  * multi-path MATCH     -> join path frames on shared variables, else
                            cross join (frame_joiner.py:70-188);
  * OPTIONAL MATCH       -> left join on shared variables; with no shared
                            variables, ``left join ON TRUE`` preserves left
                            rows even when the right side is empty;
  * relationship uniqueness (openCypher isomorphism) -> pairwise ``!=``
    filters between relationship ids bound in the same MATCH clause;
  * EXISTS / pattern predicates / pattern comprehensions -> materialized
    into hidden boolean/array columns via semi-join-shaped aggregations
    *before* scalar expression compilation (exists_evaluator.py:79-428).

Scale notes: every construct here is a plain equi-join/aggregation, so
Catalyst/AQE pick broadcast vs sort-merge, reorder joins, and apply
dynamic partition pruning; we add explicit ``F.broadcast`` only for
catalog-declared small dimension tables.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pycypher_nmetl_spark.compiler.astutil import property_uses, walk
from pycypher_nmetl_spark.compiler.bindings import Bindings, VarInfo, fresh_name, pcol
from pycypher_nmetl_spark.compiler.exprs import ExprCompiler
from pycypher_nmetl_spark.cypher.ast_nodes import (
    BoolOp, ExistsSub, ListComp, Literal, MapLit, Match, NodePattern, Not,
    Param, PathPattern, PatternComp, PatternPred, QuantPathPattern,
    Quantifier, Reduce, RelPattern, Var,
)
from pycypher_nmetl_spark.session import local_frame


# ---------------------------------------------------------------------- #
# WHERE-predicate pushdown into pattern construction
# (reference: frame_joiner.py:335-401 per-path predicate split)
# ---------------------------------------------------------------------- #
def _split_conjuncts(expr) -> list:
    if isinstance(expr, BoolOp) and expr.op == "AND":
        out = []
        for o in expr.operands:
            out.extend(_split_conjuncts(o))
        return out
    return [expr]


def _referenced_vars(expr) -> set[str] | None:
    """Free variables of a predicate, or None if it contains pattern
    sub-expressions (those are never pushed)."""
    names: set[str] = set()
    bound: set[str] = set()
    for n in walk(expr):
        if isinstance(n, (ExistsSub, PatternPred, PatternComp)):
            return None
        if isinstance(n, Var):
            names.add(n.name)
        if isinstance(n, (ListComp, Quantifier)):
            bound.add(n.var)
        if isinstance(n, Reduce):
            bound.update((n.var, n.acc))
    return names - bound


def split_pushable_predicates(
    where, outer_vars: set[str]
) -> tuple[dict[str, list], list]:
    """Split a WHERE into per-variable pushable conjuncts (single free
    variable, introduced by this MATCH) and the residual list. Pushing a
    monotone conjunct to the moment its variable is bound is equivalence-
    preserving for both MATCH and OPTIONAL MATCH (it narrows the pattern,
    not the preserved side), and it prunes BFS frontiers *before*
    expansion instead of after."""
    if where is None:
        return {}, []
    var_preds: dict[str, list] = {}
    residual: list = []
    for c in _split_conjuncts(where):
        vs = _referenced_vars(c)
        if vs is not None and len(vs) == 1:
            v = next(iter(vs))
            if v not in outer_vars:
                var_preds.setdefault(v, []).append(c)
                continue
        residual.append(c)
    return var_preds, residual


def apply_var_preds(
    engine: "CypherEngine",
    pb: Bindings,
    var_preds: dict[str, list],
    applied: set[str],
    params: dict,
) -> Bindings:
    """Apply pushable predicates for any newly-bound variables."""
    for v in list(pb.vars):
        if v in applied or v not in var_preds:
            continue
        cc = ExprCompiler(pb, params, {}, engine.functions)
        for pred in var_preds[v]:
            pb = pb.with_df(pb.df.filter(cc.col(pred).cast("boolean")))
        applied.add(v)
    return pb

if TYPE_CHECKING:
    from pycypher_nmetl_spark.engine import CypherEngine


# ---------------------------------------------------------------------- #
# node scans
# ---------------------------------------------------------------------- #
def entity_prop_col(df: DataFrame, var: str, key: str):
    """Resolve an inline-props-map key against an entity's columns.

    `id` is the identity column itself, not a `var__id` satellite —
    without this, `MATCH (n:Person {id: 1})` compiled to a NULL = 1
    filter and silently matched nothing (round-5 fuzzer find; the
    ExprCompiler's `n.id` path at exprs.py _c_Prop already knew this)."""
    if key == "id":
        return df[var]
    phys = pcol(var, key)
    return df[phys] if phys in df.columns else F.lit(None)


def prop_pairs(props, params) -> list:
    """(key, expr) pairs from a pattern's or a SET map's property map:
    none, an inline `{k: v}` map, or a `$param` map (openCypher
    parameter property maps, round-9 TCK; literalized driver-side)."""
    if props is None:
        return []
    if isinstance(props, MapLit):
        return list(props.pairs)
    if isinstance(props, Param):
        value = params.get(props.name)
        if not isinstance(value, dict):
            raise ValueError(f"${props.name} must be a map for a property pattern")
        return [(k, Literal(v)) for k, v in value.items()]
    raise ValueError(f"unsupported property map {type(props).__name__}")


def _bound_props(
    engine: "CypherEngine", var: str, table: str, df: DataFrame,
    structural: tuple[str, ...],
) -> list:
    """The property columns of ``table`` a scan binds, as ``var__p``: the
    keys astutil.property_uses gives ``var`` (all when it gives none),
    plus the fk_prop of each catalog.fk_collapse registration ``table``
    owns, which _try_fk_collapse reads."""
    keys = engine._query.uses.get(var)
    if keys is not None:
        cat = engine.catalog
        fks = (cat.fk_collapse(rt) for rt in cat.rel_types())
        keys = keys | {fk[2] for fk in fks if fk and fk[0] == table}
    return [
        F.col(c).alias(pcol(var, c)) for c in df.columns
        if c not in structural and (keys is None or c in keys)
    ]


def node_scan(
    engine: "CypherEngine",
    var: str,
    labels: list[str],
    among: list[str] | None = None,
) -> tuple[DataFrame, VarInfo]:
    """Scan a label (or all labels) into var-prefixed columns.

    ``among`` restricts the unlabeled (union-all) branch to a subset of
    labels the caller has proven are the only possible matches (e.g.
    the registered other-side labels of the edge types being
    traversed); it does not change the returned VarInfo."""
    cat = engine.catalog
    if labels:
        if any(not cat.has_label(lb) for lb in labels):
            # openCypher: MATCHing a label no node carries yields no
            # rows (and OPTIONAL MATCH one null row) — not an error.
            # Writes still go through cat.nodes() directly, which does
            # raise, so CREATE/MERGE label registration is unaffected.
            empty = local_frame(
                engine.spark, [], T.StructType([T.StructField(var, T.LongType())])
            )
            return empty, VarInfo("node", tuple(labels))
        df = cat.nodes(labels[0])
        for extra in labels[1:]:
            df = df.join(cat.nodes(extra).select("id"), on="id", how="left_semi")
        out = df.select(
            F.col("id").alias(var), *_bound_props(engine, var, labels[0], df, ("id",))
        )
        if cat.is_broadcastable("n", labels[0]):
            out = F.broadcast(out)
        return out, VarInfo("node", tuple(labels))
    # unlabeled: union-all over every label with a var__label discriminator
    # (reference: pattern_matcher.py:152-284 __MULTI__ sentinel)
    frames = []
    for label in (cat.labels() if among is None else among):
        df = cat.nodes(label)
        frames.append(
            df.select(
                F.col("id").alias(var),
                F.lit(label).alias(pcol(var, "label")),
                *_bound_props(engine, var, label, df, ("id",)),
            )
        )
    if not frames:
        raise ValueError("catalog has no node labels")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out, VarInfo("node", ())


def edge_scan(engine: "CypherEngine", rvar: str, types: list[str]) -> tuple[DataFrame, VarInfo]:
    """Scan edge table(s) into rvar-prefixed columns (id, src, dst, props)."""
    cat = engine.catalog
    use_types = types if types else cat.rel_types()
    frames = []
    for t in use_types:
        df = cat.edges(t)
        cols = [
            F.col("id").alias(rvar),
            F.col("src").alias(pcol(rvar, "src")),
            F.col("dst").alias(pcol(rvar, "dst")),
        ]
        if len(use_types) > 1:
            cols.append(F.lit(t).alias(pcol(rvar, "type")))
        cols += _bound_props(engine, rvar, t, df, ("id", "src", "dst"))
        frames.append(df.select(*cols))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if len(use_types) == 1 and cat.is_broadcastable("e", use_types[0]):
        out = F.broadcast(out)
    return out, VarInfo("rel", tuple(use_types))


# ---------------------------------------------------------------------- #
# path construction
# ---------------------------------------------------------------------- #
def build_path_frame(
    engine: "CypherEngine",
    path: PathPattern,
    outer: Bindings,
    params: dict,
    var_preds: dict[str, list] | None = None,
    applied: set[str] | None = None,
) -> tuple[Bindings, list[tuple[str, tuple[str, ...]]]]:
    """Build one path's frame from fresh scans.

    Returns (frame, rel_vars) where rel_vars lists (var, typeset) for the
    relationship-uniqueness filters applied per MATCH clause. Pushable
    WHERE conjuncts (var_preds) are applied the moment their variable is
    bound, pruning joins/BFS frontiers early.
    """
    elements = path.elements
    rel_vars: list[tuple[str, tuple[str, ...]]] = []
    var_preds = var_preds or {}
    applied = applied if applied is not None else set()

    if any(isinstance(e, QuantPathPattern) for e in elements):
        from pycypher_nmetl_spark.compiler.qpp import build_qpp_path_frame

        return build_qpp_path_frame(
            engine, path, outer, params, var_preds, applied
        )

    if path.shortest is not None or any(
        isinstance(e, RelPattern) and e.varlength for e in elements
    ):
        from pycypher_nmetl_spark.compiler.paths import build_varlength_path

        return build_varlength_path(engine, path, outer, params, var_preds, applied)

    first: NodePattern = elements[0]
    pb = None
    i = 1
    if (
        first.id_only
        and len(elements) >= 3
        and not first.props
        and first.where is None
        and first.var not in var_preds
    ):
        # seed-from-edge (set by materialize_subpatterns for EXISTS flag
        # subqueries whose seed var is consumed as a bare id): skip the
        # seed node scan when the first edge's registered join-side
        # label proves the seed's label
        seed_labels = pattern_labels(first, outer)
        rel0: RelPattern = elements[1]
        use_types = list(rel0.types) if rel0.types else engine.catalog.rel_types()
        if seed_labels and _endpoint_label_guaranteed(
            engine.catalog, use_types, _REVERSE[rel0.direction], seed_labels
        ):
            var = _ensure_var(first)
            pb, rvar = _expand(
                engine, None, var, rel0, elements[2], outer, params,
                seed_labels=seed_labels, tip=len(elements) == 3 and not path.var,
            )
            rel_vars.append((rvar, tuple(rel0.types)))
            pb = apply_var_preds(engine, pb, var_preds, applied, params)
            i = 3
    if pb is None:
        pb = _scan_node_into(engine, first, outer, params)
        pb = apply_var_preds(engine, pb, var_preds, applied, params)

    while i < len(elements):
        rel: RelPattern = elements[i]
        nxt: NodePattern = elements[i + 1]
        pb, rvar = _expand(
            engine, pb, _node_var(first if i == 1 else elements[i - 1]), rel, nxt,
            outer, params, tip=i + 2 == len(elements) and not path.var,
        )
        rel_vars.append((rvar, tuple(rel.types)))
        pb = apply_var_preds(engine, pb, var_preds, applied, params)
        i += 2

    if path.var:
        hops = sum(1 for e in elements if isinstance(e, RelPattern))
        pb = pb.with_df(pb.df.withColumn(f"{path.var}__length", F.lit(hops)))
        node_vars = tuple(
            _node_var(e) for e in elements if isinstance(e, NodePattern)
        )
        pb = pb.add_var(
            path.var,
            VarInfo(
                "path",
                path_nodes=node_vars,
                path_rels=tuple(rv for rv, _ in rel_vars),
            ),
        )
    return pb, rel_vars


def _node_var(np: NodePattern) -> str:
    assert np.var is not None
    return np.var


def _ensure_var(np: NodePattern) -> str:
    if np.var is None:
        np.var = fresh_name("_anon")
    return np.var


def _scan_node_into(
    engine: "CypherEngine", np: NodePattern, outer: Bindings, params: dict
) -> Bindings:
    """Start a path frame with a node pattern scan."""
    var = _ensure_var(np)
    df, info = node_scan(engine, var, pattern_labels(np, outer))
    frame = Bindings(df, {var: VarInfo(info.kind, info.labels, anon=var.startswith("_anon"))})
    return filter_props(engine, frame, var, np.props, params)


# ---------------------------------------------------------------------- #
# the hop rule: the per-hop decisions every hop compiler (fixed-length,
# FK-collapsed, var-length in paths.py) takes through these helpers
# ---------------------------------------------------------------------- #
_REVERSE = {"R": "L", "L": "R", "U": "U"}


def far_labels(cat, rel_type: str, direction: str) -> tuple:
    """The registered labels (None = unregistered) of the endpoint a hop
    over ``rel_type`` lands on: dst for R, src for L, either stored side
    for U. ``_REVERSE[direction]`` gives the near side."""
    sl, dl = cat.edge_endpoints(rel_type)
    return {"R": (dl,), "L": (sl,), "U": (sl, dl)}[direction]


def pattern_labels(np: NodePattern, outer: Bindings) -> list[str]:
    """A node pattern's declared labels, else those of the outer-scope
    variable it correlates with (EXISTS / pattern predicates)."""
    if np.labels:
        return list(np.labels)
    info = outer.vars.get(np.var)
    return list(info.labels) if info is not None else []


def filter_props(
    engine: "CypherEngine", pb: Bindings, var: str, props, params: dict
) -> Bindings:
    """Filter ``pb`` by the inline property map ``props`` of ``var``
    (node or edge): one equality per key, each value compiled like a
    WHERE expression (registered functions included)."""
    if not props:
        return pb
    cc = ExprCompiler(pb, params, {}, engine.functions)
    for key, expr in prop_pairs(props, params):
        target = entity_prop_col(pb.df, var, key)
        pb = pb.with_df(pb.df.filter(target == cc.col(expr)))
    return pb


def _fk_edge_cols(rvar: str, owner_side: str, owner: str, other: str) -> dict:
    """The edge columns of an FK-collapsed hop as register_edges derives
    them: src/dst are the owner's id and its fk value (column ``other``)
    in ``owner_side`` order, the id is xxhash64(src, dst)."""
    src_e, dst_e = F.col(owner), F.col(other)
    if owner_side != "src":
        src_e, dst_e = dst_e, src_e
    return {
        pcol(rvar, "src"): src_e,
        pcol(rvar, "dst"): dst_e,
        rvar: F.xxhash64(src_e, dst_e),
    }


def _types_label_expr(cat, rvar: str, types: list[str], side: str):
    """Column holding the registered endpoint label ('' = unknown) of
    each edge row's type on the given side ('src'/'dst'). A literal for
    single-type scans (Catalyst constant-folds every downstream guard
    to true/false — zero runtime cost in the fully-labeled case); a
    when-chain over the type discriminator column for multi-type unions."""
    idx = 0 if side == "src" else 1
    if len(types) == 1:
        return F.lit(cat.edge_endpoints(types[0])[idx] or "")
    tcol = F.col(pcol(rvar, "type"))
    chain = None
    for t in types:
        lab = cat.edge_endpoints(t)[idx] or ""
        chain = (
            F.when(tcol == t, F.lit(lab))
            if chain is None
            else chain.when(tcol == t, F.lit(lab))
        )
    return chain.otherwise(F.lit(""))


def _endpoint_label_guaranteed(
    cat, use_types: list[str], direction: str, labels: list[str]
) -> bool:
    """True when the REGISTRATION of every traversed edge type already
    proves the far endpoint carries one of ``labels`` — i.e. a node-table
    join would be a pure no-op existence check. Undirected traversal can
    land on either stored side, so both must be proven."""
    return all(
        s and s in labels
        for t in use_types
        for s in far_labels(cat, t, direction)
    )


def other_side_labels(
    cat, use_types: list[str], direction: str
) -> list[str] | None:
    """The complete set of labels the far endpoint of a hop over
    ``use_types`` can carry, per the edge registrations — or ``None``
    when any traversed type leaves it open (unregistered side, or a
    registered label with no node table). Callers use a non-None result
    to restrict the unlabeled union-all node scan (node_scan ``among``):
    the hop's other-side label guard can never match outside this set."""
    out: list[str] = []
    for t in use_types:
        for s in far_labels(cat, t, direction):
            if not s or not cat.has_label(s):
                return None
            if s not in out:
                out.append(s)
    return out or None


def _label_ok(side_label, labels) -> "F.Column":
    """An edge side's registered label ('' = unknown) admits ``labels``."""
    return (side_label == "") | side_label.isin(*labels)


def _label_guard(pb: Bindings, var: str, side_label) -> "F.Column":
    """Condition that `var`'s label space is compatible with an edge
    side's label column. Node ids are PER-LABEL spaces in this engine
    (see mutations: per-label id allocation), so a raw-id equi-join
    against an edge endpoint is only meaningful when the labels agree.
    Lenient on unknowns ('' on either side matches anything) so
    label-less edge registrations keep their current behavior."""
    info = pb.vars.get(var)
    if info is not None and info.labels:
        return _label_ok(side_label, info.labels)
    lab = pcol(var, "label")
    if lab in pb.df.columns:
        return (side_label == "") | (side_label == pb.df[lab])
    return F.lit(True)


def bind_far_endpoint(
    engine: "CypherEngine",
    pb: Bindings,
    nxt: NodePattern,
    labels: list[str],
    far: str,
    far_label: str | None,
    among: list[str] | None = None,
    unread: bool = False,
) -> Bindings:
    """Bind a hop's far endpoint ``nxt`` (named by _ensure_var) from the
    frame's id column ``far``. ``far_label`` is the column holding the
    edge's registered label on that side ('' = unknown), or None when
    the caller has proven it; ``labels`` are the endpoint's declared or
    inferred labels. One rule for every hop (SURVEY.md §2.4):

      * bound earlier in the path (cyclic back-reference,
        pattern_matcher.py:502-570): id equality under the label-space
        guard, plus a semi-join on the node scan of every declared label
        (node_scan's rule: a label no node carries matches nothing);
      * labelled: drop rows whose edge side carries another label, then
        join the label's node scan for its properties;
      * named with no label known: join the union-all scan
        (pattern_matcher.py:152-284) on id and label, restricted to
        ``among``, the labels the caller proved the side can carry. An
        ``unread`` endpoint (see :func:`unread_tip`) semi-joins the
        scan instead: it must exist, but an id that several labels hold
        counts its edge once.

    The far column itself becomes the binding; the caller drops its
    transient label columns."""
    nvar = nxt.var
    if nvar in pb.vars:
        df = pb.df.filter(
            (F.col(far) == F.col(nvar)) & _label_guard(pb, nvar, F.col(far_label))
        )
        if nxt.labels:
            ids = node_scan(engine, nvar, list(nxt.labels))[0].select(nvar)
            df = df.join(ids, on=nvar, how="left_semi")
        return pb.with_df(df)
    df = pb.df
    if labels:
        if far_label is not None:
            df = df.filter(_label_ok(F.col(far_label), labels))
        ndf, _ = node_scan(engine, nvar, labels)
        cond = df[far] == ndf[nvar]
    else:
        ndf, _ = node_scan(engine, nvar, [], among=among)
        cond = (df[far] == ndf[nvar]) & (
            (df[far_label] == "") | (df[far_label] == ndf[pcol(nvar, "label")])
        )
        if unread:
            df = df.join(ndf, cond, "left_semi").withColumn(nvar, F.col(far))
            return Bindings(df, {**pb.vars, nvar: VarInfo("node", (), anon=True)})
    df = df.join(ndf, cond, "inner").drop(ndf[nvar]).withColumn(nvar, F.col(far))
    info = VarInfo("node", tuple(labels), anon=nvar.startswith("_anon"))
    return Bindings(df, {**pb.vars, nvar: info})


def unread_tip(engine: "CypherEngine", rel: RelPattern, nxt: NodePattern, tip: bool) -> bool:
    """True when nothing reads hop ``rel``'s far endpoint ``nxt`` beyond
    its existence: ``tip`` (it ends a path with no path variable, so no
    later hop, ``nodes(p)`` or ``RETURN p`` sees it), it is anonymous
    with no property map, and the relationship is anonymous or read only
    through properties (no ``startNode``/``endNode``)."""
    return (
        tip
        and nxt.var.startswith("_anon")
        and not nxt.props
        and (rel.var is None or rel.var in engine._query.uses)
    )


def _try_fk_collapse(
    engine: "CypherEngine",
    pb: Bindings | None,
    prev_var: str,
    rel: RelPattern,
    nxt: NodePattern,
    outer: Bindings,
    params: dict,
    seed_labels: list[str] | None = None,
) -> tuple[Bindings, str] | None:
    """FK-collapsed hop: when the edge table is a registered pure
    projection of one endpoint's node table (catalog.fk_collapse — e.g.
    TPC-H FROM_NATION is just customer.(custkey, nationkey)), the
    bindings ⋈ edges join is a self-join of a table already in the
    frame. Derive the edge columns (_fk_edge_cols) and jump straight to
    the endpoint node table — one join instead of two, and one less
    scan of the owner parquet. Returns None when the pattern shape
    doesn't qualify; the generic path is always correct.

    ``pb=None`` is seed-from-edge mode (EXISTS flag subqueries): prev
    binds from the owner row's fk column, so only the next-is-owner
    shape helps (when prev is the owner, its table IS the edge source
    and the scan cannot be elided — the generic path handles it).
    """
    cat = engine.catalog
    if len(rel.types) != 1 or rel.direction not in ("R", "L") or rel.props:
        return None
    rt = rel.types[0]
    fk = cat.fk_collapse(rt)
    if fk is None:
        return None
    _owner_label, owner_side, fk_prop = fk
    (prev_label,) = far_labels(cat, rt, _REVERSE[rel.direction])
    (next_label,) = far_labels(cat, rt, rel.direction)
    if prev_label is None or next_label is None:
        return None
    owner_on_prev = (owner_side == "src") == (rel.direction == "R")
    if pb is None:
        if list(seed_labels or ()) != [prev_label] or owner_on_prev:
            return None
    else:
        pinfo = pb.vars.get(prev_var)
        if pinfo is None or pinfo.kind != "node" or pinfo.labels != (prev_label,):
            return None
    nvar = _ensure_var(nxt)
    if nvar == prev_var or (pb is not None and nvar in pb.vars):
        return None  # cyclic back-reference: generic path
    labels = pattern_labels(nxt, outer)
    if labels and labels != [next_label]:
        return None
    rvar = rel.var or fresh_name("_anon")
    rinfo = VarInfo(
        "rel", (rt,), anon=rel.var is None,
        src_var=prev_var if rel.direction == "R" else nvar,
        dst_var=nvar if rel.direction == "R" else prev_var,
    )
    anon = nvar.startswith("_anon")

    if not owner_on_prev:
        # next IS the owner: join the owner table on its fk -> prev.id;
        # the join binds the node AND stands in for the edge scan
        ndf, ninfo = node_scan(engine, nvar, [next_label])
        fkc = pcol(nvar, fk_prop)
        if fkc not in ndf.columns:
            return None
        ninfo = VarInfo(ninfo.kind, ninfo.labels, anon=anon)
        if pb is None:
            # one scan, zero joins: the owner row IS the edge; a NULL fk
            # is not an edge; prev's existence/label is enforced by the
            # flag join back to the outer frame (which scanned prev's
            # table)
            df = ndf.filter(F.col(fkc).isNotNull()).withColumn(
                prev_var, F.col(fkc)
            )
            vars_ = {prev_var: VarInfo("node", (prev_label,))}
        else:
            df = pb.df.join(ndf, pb.df[prev_var] == ndf[fkc], "inner")
            vars_ = dict(pb.vars)
        df = df.withColumns(_fk_edge_cols(rvar, owner_side, nvar, prev_var))
        pb = Bindings(df, {**vars_, rvar: rinfo, nvar: ninfo})
    else:
        # prev IS the owner: the edge's far endpoint is prev.<fk_prop>
        fkcol = pcol(prev_var, fk_prop)
        if fkcol not in pb.df.columns:
            return None
        df = pb.df.withColumns(_fk_edge_cols(rvar, owner_side, prev_var, fkcol))
        pb = Bindings(df, {**pb.vars, rvar: rinfo})
        if nxt.id_only and not nxt.props:
            # id-only endpoint (elision marker): the fk value IS the
            # binding and the label is the registration's by
            # construction. For bound vars (seed/terminal elision) the
            # merge back on nvar re-enforces existence — only ids the
            # node scan produced can match — so neither the node join
            # nor the semi join is needed; QPP repetition boundaries
            # take the documented intermediate-tip semantics (edge
            # implies endpoint), as in the var-length hop table. A NULL
            # fk is not an edge.
            df = df.filter(F.col(fkcol).isNotNull())
            df = df.withColumn(nvar, F.col(fkcol))
            info = VarInfo("node", (next_label,), anon=anon)
            pb = Bindings(df, {**pb.vars, nvar: info})
        else:
            # the fk value is the far id and its label is proven: the
            # rule's labelled case (a NULL or dangling fk is not an
            # edge, and the inner join drops it)
            pb = bind_far_endpoint(engine, pb, nxt, [next_label], fkcol, None)
    return filter_props(engine, pb, nvar, nxt.props, params), rvar


def _expand(
    engine: "CypherEngine",
    pb: Bindings | None,
    prev_var: str,
    rel: RelPattern,
    nxt: NodePattern,
    outer: Bindings,
    params: dict,
    seed_labels: list[str] | None = None,
    tip: bool = False,
) -> tuple[Bindings, str]:
    """One fixed-length hop: bindings ⋈ edges ⋈ endpoint label table.
    ``tip``: ``nxt`` ends a path that has no path variable.

    ``pb=None`` is seed-from-edge mode (EXISTS flag subqueries whose
    seed var needs only its id): ``prev_var`` binds directly from the
    edge's join-side column instead of a node scan + join. The caller
    must have proven via ``_endpoint_label_guaranteed`` that every
    traversed edge type's registered join-side label is in
    ``seed_labels``; existence of the seed is enforced by whatever the
    flag later joins against (the outer frame's own scan).
    """
    collapsed = _try_fk_collapse(
        engine, pb, prev_var, rel, nxt, outer, params, seed_labels=seed_labels
    )
    if collapsed is not None:
        return collapsed
    cat = engine.catalog
    rvar = rel.var or fresh_name("_anon")
    edf, rinfo = edge_scan(engine, rvar, rel.types)
    rinfo = VarInfo(rinfo.kind, rinfo.labels, anon=rel.var is None)

    src_c, dst_c = pcol(rvar, "src"), pcol(rvar, "dst")
    # transient join-side/other-side endpoint-label columns: node ids are
    # per-label spaces, so every raw-id join below is guarded by label
    # compatibility (round-5 fix: (n:Nation)-[:FROM_NATION]->() matched
    # Customer-keyed edges whenever ids collided across the label spaces).
    # Dropped before returning; fully constant-folded for single-type,
    # fully-labeled scans.
    use_types = list(rel.types) if rel.types else cat.rel_types()
    jlcol, olcol = pcol(rvar, "__jl"), pcol(rvar, "__ol")
    slab = _types_label_expr(cat, rvar, use_types, "src")
    dlab = _types_label_expr(cat, rvar, use_types, "dst")
    swcol = pcol(rvar, "__sw")
    if rel.direction == "U":
        # undirected: traverse both orientations (src/dst swapped copy).
        # A per-row __sw flag records which copy a row came from so
        # startNode()/endNode() resolve to the STORED orientation
        # (openCypher semantics), not traversal order (round-8 ADVICE).
        edf = edf.withColumns({jlcol: slab, olcol: dlab, swcol: F.lit(False)})
        swapped = edf.withColumnsRenamed({src_c: "__tmp", dst_c: src_c}).withColumnRenamed(
            "__tmp", dst_c
        )
        # the swapped copy's join side carries dst values: swap the labels
        swapped = swapped.withColumns(
            {jlcol: F.col(olcol), olcol: F.col(jlcol), swcol: F.lit(True)}
        )
        # self-loops appear identically in both orientations; Neo4j
        # matches an undirected self-loop once, so keep only the
        # forward copy (filter the swap, not a post-union DISTINCT —
        # parallel edges between the same pair must stay distinct).
        # Same raw id with two DIFFERENT known endpoint labels is a
        # cross-space pair, not a self-loop: keep its reversal.
        edf = edf.unionByName(
            swapped.filter(
                (F.col(src_c) != F.col(dst_c))
                | (
                    (F.col(jlcol) != "")
                    & (F.col(olcol) != "")
                    & (F.col(jlcol) != F.col(olcol))
                )
            )
        )
        join_col, other_col = src_c, dst_c
    elif rel.direction == "R":
        edf = edf.withColumns({jlcol: slab, olcol: dlab})
        join_col, other_col = src_c, dst_c
    else:  # 'L'
        edf = edf.withColumns({jlcol: dlab, olcol: slab})
        join_col, other_col = dst_c, src_c

    edf = filter_props(engine, Bindings(edf, {rvar: rinfo}), rvar, rel.props, params).df

    if pb is None:
        # seed-from-edge: label-space guard (constant-folds when the
        # registered label is static, which the caller guaranteed)
        df = edf
        if seed_labels:
            df = df.filter(_label_ok(F.col(jlcol), seed_labels))
        df = df.withColumn(prev_var, F.col(join_col))
        pb = Bindings(
            df,
            {
                prev_var: VarInfo("node", tuple(seed_labels or ())),
                rvar: rinfo,
            },
        )
    else:
        cond = (pb.df[prev_var] == edf[join_col]) & _label_guard(pb, prev_var, edf[jlcol])
        df = pb.df.join(edf, cond, "inner")
        pb = Bindings(df, {**pb.vars, rvar: rinfo})

    nvar = _ensure_var(nxt)
    # record the endpoint variables on the rel binding: direction R (and
    # U, whose src column carries the traversal side) walks prev -> nxt,
    # L walks nxt -> prev. startNode(r).prop / endNode(r).prop resolve
    # through these (exprs._c_Prop).
    import dataclasses as _dc

    if rel.direction == "L":
        rinfo = _dc.replace(rinfo, src_var=nvar, dst_var=prev_var)
    else:
        rinfo = _dc.replace(rinfo, src_var=prev_var, dst_var=nvar)
    pb.vars[rvar] = rinfo

    labels = pattern_labels(nxt, outer)
    if not labels and len(rel.types) == 1:
        # compile-time label inference from the edge's registered far side
        sides = set(far_labels(cat, rel.types[0], rel.direction))
        if len(sides) == 1 and None not in sides:
            labels = list(sides)
    if (
        nvar not in pb.vars
        and labels
        and nxt.id_only
        and not nxt.props
        and _endpoint_label_guaranteed(cat, use_types, rel.direction, labels)
    ):
        # id-only binding (set by the QPP expander for repetition-
        # boundary nodes nothing downstream reads): every edge of
        # these types is REGISTERED with this endpoint label, so the
        # node-table join would add neither a label check nor any
        # property column — bind the bare edge endpoint instead.
        # Same edge-implies-endpoint footing as the var-length hop
        # table (_edge_hop_table), which never joins intermediate
        # tips. At scale this removes one full node-table join per
        # eliminated boundary.
        df = pb.df.filter(_label_ok(F.col(olcol), labels))
        df = df.withColumn(nvar, F.col(other_col))
        info = VarInfo("node", tuple(labels), anon=nvar.startswith("_anon"))
        pb = Bindings(df, {**pb.vars, nvar: info})
    else:
        among = other_side_labels(cat, use_types, rel.direction)
        pb = bind_far_endpoint(
            engine, pb, nxt, labels, other_col, olcol, among,
            unread_tip(engine, rel, nxt, tip),
        )
    pb = filter_props(engine, pb, nvar, nxt.props, params)
    return pb.with_df(pb.df.drop(jlcol, olcol)), rvar


# ---------------------------------------------------------------------- #
# merging frames (frame_joiner.py:70-310)
# ---------------------------------------------------------------------- #
def _merge(left: Bindings, right: Bindings, how: str, engine=None) -> Bindings:
    if left.is_unit:
        if how == "left":
            # OPTIONAL MATCH as the first clause: one all-null row when
            # the pattern finds nothing (openCypher).
            return Bindings(
                left.df.join(right.df, F.lit(True), "left"), dict(right.vars)
            )
        return right
    shared = left.shared_vars(right)
    vars_ = {**left.vars, **right.vars}
    if shared:
        # drop the right side's copies of shared-var satellite columns
        drop = []
        for v in shared:
            drop.extend(c for c in right.var_columns(v) if c != v and c in left.df.columns)
        rdf = right.df.drop(*drop)
        df = left.df.join(rdf, on=shared, how=how)
        return Bindings(df, vars_)
    if how == "inner":
        # disjoint MATCH patterns -> cartesian product; refuse ones whose
        # Catalyst size estimate exceeds the engine's advisory ceiling
        # (guards.py; reference config.py MAX_CROSS_JOIN_ROWS)
        ceiling = getattr(engine, "max_cross_join_product_bytes", None)
        if ceiling is not None:
            from pycypher_nmetl_spark.guards import check_cross_join

            check_cross_join(left.df, right.df, ceiling)
        # a CartesianProduct's partition count is the PRODUCT of both
        # sides' (chained cartesians explode into millions of tasks);
        # collapse a small right side to one partition — each output
        # task reads the whole right side anyway
        from pycypher_nmetl_spark.guards import plan_size_bytes

        rdf = right.df
        rb = plan_size_bytes(rdf)
        if rb is not None and rb < 8e6:
            rdf = rdf.coalesce(1)
        return Bindings(left.df.crossJoin(rdf), vars_)
    # OPTIONAL MATCH with no shared vars: left join ON TRUE preserves the
    # left rows (null-filled) even when the right frame is empty.
    return Bindings(left.df.join(right.df, F.lit(True), "left"), vars_)


def apply_rel_uniqueness(
    bindings: Bindings, rel_vars: list[tuple[str, tuple[str, ...]]]
) -> Bindings:
    """openCypher relationship isomorphism: no edge may appear twice in one
    MATCH. Pairwise disjointness on edge-id columns whose type sets may
    overlap; var-length rel vars hold *arrays* of edge ids, so the check
    becomes array_contains / arrays_overlap."""
    df = bindings.df
    types = dict(df.dtypes)
    for i in range(len(rel_vars)):
        for j in range(i + 1, len(rel_vars)):
            v1, t1 = rel_vars[i]
            v2, t2 = rel_vars[j]
            if t1 and t2 and not (set(t1) & set(t2)):
                continue  # provably different types -> different edges
            a1 = types.get(v1, "").startswith("array")
            a2 = types.get(v2, "").startswith("array")
            if a1 and a2:
                cond = ~F.arrays_overlap(F.col(v1), F.col(v2))
            elif a1:
                cond = ~F.array_contains(F.col(v1), F.col(v2))
            elif a2:
                cond = ~F.array_contains(F.col(v2), F.col(v1))
            else:
                cond = ~(F.col(v1).eqNullSafe(F.col(v2)))
            df = df.filter(cond)
    return bindings.with_df(df)


# ---------------------------------------------------------------------- #
# MATCH clause
# ---------------------------------------------------------------------- #
def elide_id_only_seed(
    p: PathPattern, known_vars: dict, uses: dict
) -> PathPattern:
    """Mark a path's node elements ``id_only`` when their var is already
    bound in ``known_vars`` — a frame the built path will be joined back
    to on that id, which re-enforces existence and label — and nothing
    in the enclosing clause reads more than its id (``uses``, the
    property uses of the clause's paths / WHERE / projection, is empty).
    Applies to the seed, intermediate and terminal positions alike: a
    bound, unreferenced node's table join contributes only an existence
    check that the later merge on its id repeats.

    This is only a *marker*: the hop compiler still requires the
    adjacent edge's registered endpoint label to prove the node's label
    (``_endpoint_label_guaranteed``) before it actually skips the
    scan/join, and falls back otherwise, so setting it is always
    result-preserving.  Named paths, shortest paths, var-length and QPP
    elements are left untouched (their compilers bind nodes specially);
    a var repeated within the path (cyclic back-reference) keeps its
    scan."""
    import dataclasses as _dc

    if not (
        p.var is None
        and p.shortest is None
        and len(p.elements) >= 3
        and not any(
            isinstance(e, QuantPathPattern)
            or (isinstance(e, RelPattern) and e.varlength)
            for e in p.elements
        )
    ):
        return p
    node_vars = [
        e.var for e in p.elements if isinstance(e, NodePattern) and e.var
    ]
    elems = list(p.elements)
    changed = False
    for idx in range(0, len(elems), 2):
        f = elems[idx]
        if not (
            isinstance(f, NodePattern)
            and f.var is not None
            and f.var in known_vars
            and uses.get(f.var) == frozenset()
            and not f.props
            and f.where is None
            and node_vars.count(f.var) == 1
        ):
            continue
        info = known_vars[f.var]
        if getattr(info, "kind", None) != "node" or not info.labels:
            continue
        if f.labels and set(f.labels) != set(info.labels):
            continue
        elems[idx] = _dc.replace(f, id_only=True, labels=list(info.labels))
        changed = True
    return _dc.replace(p, elements=elems) if changed else p


def compile_match(
    engine: "CypherEngine", bindings: Bindings, m: Match, params: dict
) -> Bindings:
    # Split WHERE into per-variable pushable conjuncts (applied inside
    # path construction, pruning scans/joins/BFS early) and a residual.
    var_preds, residual = split_pushable_predicates(m.where, set(bindings.vars))
    applied: set[str] = set()

    # a seed whose properties the clause reads keeps its scan
    uses = property_uses([m.paths, m.where])

    # Build each path frame independently, merge on shared vars — the
    # declarative plan lets Catalyst reorder the resulting join tree.
    combined: Bindings | None = None
    all_rel_vars: list[tuple[str, tuple[str, ...]]] = []
    for path in m.paths:
        known = dict(bindings.vars)
        if combined is not None:
            known.update(combined.vars)
        path = elide_id_only_seed(path, known, uses)
        frame, rel_vars = build_path_frame(
            engine, path, bindings, params, var_preds, applied
        )
        all_rel_vars.extend(rel_vars)
        combined = frame if combined is None else _merge(combined, frame, "inner", engine)
    combined = apply_rel_uniqueness(combined, all_rel_vars)
    # pushable predicates whose variable never got bound (defensive)
    combined = apply_var_preds(engine, combined, var_preds, applied, params)

    if m.optional:
        if residual:
            combined = apply_residual_where(engine, combined, residual, params)
        return _merge(bindings, combined, "left", engine)

    out = _merge(bindings, combined, "inner", engine)
    if residual:
        out = apply_residual_where(engine, out, residual, params)
    return out


def _bare_exists_pred(e):
    """``(paths, where, negated)`` when ``e`` is exactly a bare
    EXISTS {...} / pattern predicate, optionally under a single NOT;
    None for anything composed (OR/AND/comparison around it)."""
    neg = False
    if isinstance(e, Not):
        e, neg = e.operand, True
    if isinstance(e, ExistsSub):
        return e.paths, e.where, neg
    if isinstance(e, PatternPred):
        return [e.path], None, neg ^ bool(e.negated)
    return None


def apply_residual_where(engine, frame: Bindings, residual: list, params: dict) -> Bindings:
    """Apply a MATCH clause's residual WHERE conjuncts to ``frame``.

    A conjunct that is exactly a bare (NOT) EXISTS / pattern predicate
    correlated with the frame compiles to a ``left_semi`` / ``left_anti``
    join on the shared variables: set-semantic joins need no
    deduplication, so the flag path's distinct aggregate — one full
    Exchange of the subquery's key set — disappears (guide §2.4, remove
    shuffles outright).  Everything else (composed booleans like
    ``NOT EXISTS {..} OR x > 5``, uncorrelated subqueries) keeps the
    boolean-flag-column machinery, which composes under arbitrary
    boolean structure.  Equivalence of the two shapes: the flag join
    matches on exactly the same shared-variable keys, and null keys
    behave identically (never match; semi drops them where the flag is
    false, anti keeps them where NOT false is true).
    """
    kept = []
    for e in residual:
        hit = _bare_exists_pred(e)
        if hit is not None:
            paths, where, neg = hit
            sub = _build_exists_frame(engine, frame, paths, where, params)
            shared = [v for v in sub.vars if v in frame.vars]
            if shared:
                how = "left_anti" if neg else "left_semi"
                frame = frame.with_df(
                    frame.df.join(sub.df.select(*shared), on=shared, how=how)
                )
                continue
        kept.append(e)
    if kept:
        where = kept[0] if len(kept) == 1 else BoolOp("AND", kept)
        frame, subst = materialize_subpatterns(engine, frame, [where], params)
        cc = ExprCompiler(frame, params, subst, engine.functions)
        frame = frame.with_df(frame.df.filter(cc.col(where).cast("boolean")))
    return frame


# ---------------------------------------------------------------------- #
# EXISTS / pattern predicates / pattern comprehensions
# ---------------------------------------------------------------------- #
def _build_exists_frame(
    engine: "CypherEngine",
    bindings: Bindings,
    paths: list,
    where,
    params: dict,
    extra=None,
) -> Bindings:
    """Compile an EXISTS/pattern subquery's paths (+ inner WHERE) into a
    frame correlated with ``bindings`` — the shared build behind both the
    flag-column and the left_semi/left_anti compilations.  The property
    uses of the paths, WHERE and ``extra`` (a comprehension's projection)
    gate the seed-scan elision (see materialize_subpatterns)."""
    uses = property_uses([paths, where, extra])
    sub: Bindings | None = None
    for p in paths:
        p = elide_id_only_seed(p, bindings.vars, uses)
        frame, _rel_vars = build_path_frame(engine, p, bindings, params)
        sub = frame if sub is None else _merge(sub, frame, "inner", engine)
    sub = apply_rel_uniqueness(sub, [])
    if where is not None:
        # allow outer vars inside the subquery WHERE via correlation:
        # any var shared with the outer frame is already a column here
        sub, inner_subst = materialize_subpatterns(engine, sub, [where], params)
        cc = ExprCompiler(sub, params, inner_subst, engine.functions)
        sub = sub.with_df(sub.df.filter(cc.col(where).cast("boolean")))
    return sub


def materialize_subpatterns(
    engine: "CypherEngine",
    bindings: Bindings,
    exprs: list,
    params: dict,
) -> tuple[Bindings, dict[int, str]]:
    """Precompute pattern-shaped subexpressions into hidden columns.

    EXISTS {...} / (a)-[:T]->(b)   -> boolean column via distinct-key join
    [(a)-[r]->(b) | e]             -> array column via groupBy+collect_list

    Composable with arbitrary boolean structure (OR/NOT around EXISTS),
    unlike a bare left_semi join. Reference: exists_evaluator.py:79-428.
    """
    subst: dict[int, str] = {}
    targets = [
        n
        for e in exprs
        for n in walk(e)
        if isinstance(n, (ExistsSub, PatternPred, PatternComp))
    ]
    for node in targets:
        col = fresh_name("_sub")
        if isinstance(node, PatternComp):
            paths = [node.path]
            where = node.where
        else:
            paths = node.paths if isinstance(node, ExistsSub) else [node.path]
            where = node.where if isinstance(node, ExistsSub) else None

        # a comprehension's projection also gates the seed-scan elision
        # (elide_id_only_seed): the flag join back to the outer frame
        # re-enforces the seed's existence and label
        extra = node.projection if isinstance(node, PatternComp) else None
        sub = _build_exists_frame(engine, bindings, paths, where, params, extra)

        shared = [v for v in sub.vars if v in bindings.vars]
        if isinstance(node, PatternComp):
            cc = ExprCompiler(sub, params, {}, engine.functions)
            proj = cc.col(node.projection).alias("_proj")
            if shared:
                agg = sub.df.groupBy(*shared).agg(F.collect_list(proj).alias(col))
                df = bindings.df.join(agg, on=shared, how="left")
            else:
                agg = sub.df.agg(F.collect_list(proj).alias(col))
                df = bindings.df.join(agg, F.lit(True), "left")
            df = df.withColumn(col, F.coalesce(F.col(col), F.array()))
        else:
            if shared:
                flags = sub.df.select(*shared).dropDuplicates().withColumn(col, F.lit(True))
                df = bindings.df.join(flags, on=shared, how="left")
            else:
                flags = sub.df.limit(1).select(F.lit(True).alias(col))
                df = bindings.df.join(flags, F.lit(True), "left")
            df = df.withColumn(col, F.coalesce(F.col(col), F.lit(False)))
        bindings = Bindings(df, dict(bindings.vars))
        subst[id(node)] = col
    return bindings, subst
