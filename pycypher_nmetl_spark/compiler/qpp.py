"""GQL quantified path patterns (beyond-reference; ISO GQL / Neo4j 5).

``MATCH (x)((a:L)-[r:T]->(b:M)){m,n}(y)`` desugars into a union of
fixed-repetition expansions: for each k in [m..n] the inner chain is
replicated k times with per-repetition variable names, adjacent
repetition boundaries merged into single node patterns (the end node of
repetition j IS the start node of repetition j+1, so both patterns'
labels/props/inline-WHEREs apply), and each expansion compiled through
the ordinary fixed-hop machinery — a lazy union-of-joins plan Catalyst
sees whole, the same execution shape as bounded var-length expansion
(compiler/paths.py _enumerate_lazy).

Inner variables become GROUP variables outside the QPP: arrays of the
per-repetition ids in repetition order, registered as 'value' bindings
with elem_kind node/rel — the same representation ``collect(n)`` uses,
so size()/indexing/IN work downstream.

Semantics notes:
  * trail semantics — relationship uniqueness across repetitions is the
    standard pairwise machinery applied within each expansion; group
    relationship arrays participate in the per-MATCH uniqueness check
    against other patterns (arrays_overlap path).
  * zero repetitions ({0,n}, *) bind the two boundary nodes to the SAME
    node (GQL path concatenation); a named anchor on each side yields an
    alias column, group arrays are empty.
  * scope (documented): no nested QPP, no var-length rel inside a QPP,
    no path variable over a QPP-bearing path, unbounded quantifiers
    capped at MAX_REPS (mirrors the var-length guard rails).

The reference dialect has no QPP (grammar.bnf); this module exists to
close the last TCK gap and is additive — paths without a
QuantPathPattern element never reach it.
"""

from __future__ import annotations

import dataclasses
import itertools
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

from pycypher_nmetl_spark.compiler.astutil import property_uses
from pycypher_nmetl_spark.compiler.bindings import Bindings, VarInfo, fresh_name
from pycypher_nmetl_spark.cypher.ast_nodes import (
    BoolOp, MapLit, NodePattern, PathPattern, QuantPathPattern, RelPattern,
    Var,
)

if TYPE_CHECKING:
    from pycypher_nmetl_spark.engine import CypherEngine

MAX_REPS = 8  # unbounded-quantifier cap (mirrors paths.LAZY_MAX_LEVELS)
MAX_EXPANSIONS = 64  # product cap across multiple QPPs in one path


# --------------------------------------------------------------------- #
# AST helpers
# --------------------------------------------------------------------- #
def rename_in_ast(node, mapping: dict[str, str]):
    """Rebuild an AST fragment with Var names substituted (pure; shares
    unchanged subtrees)."""
    if isinstance(node, Var):
        if node.name in mapping:
            return Var(mapping[node.name])
        return node
    if dataclasses.is_dataclass(node) and not isinstance(node, type):
        changes = {}
        for f in dataclasses.fields(node):
            v = getattr(node, f.name)
            nv = rename_in_ast(v, mapping)
            if nv is not v:
                changes[f.name] = nv
        return dataclasses.replace(node, **changes) if changes else node
    if isinstance(node, list):
        out = [rename_in_ast(x, mapping) for x in node]
        if any(a is not b for a, b in zip(out, node)):
            return out
        return node
    if isinstance(node, tuple):
        out = tuple(rename_in_ast(x, mapping) for x in node)
        if any(a is not b for a, b in zip(out, node)):
            return out
        return node
    return node


def _rename_element(el, mapping: dict[str, str]):
    """Rename a Node/RelPattern's declared var AND Var references inside
    its props / inline WHERE."""
    el2 = rename_in_ast(el, mapping)
    if el2.var in mapping:
        el2 = dataclasses.replace(el2, var=mapping[el2.var])
    return el2


def _merge_props(a, b):
    if a is None:
        return b
    if b is None:
        return a
    if isinstance(a, MapLit) and isinstance(b, MapLit):
        return MapLit(list(a.pairs) + list(b.pairs))
    raise NotImplementedError(
        "parameter property maps on both sides of a quantified-pattern "
        "boundary node cannot be merged"
    )


def _and(a, b):
    if a is None:
        return b
    if b is None:
        return a
    return BoolOp("AND", [a, b])


# --------------------------------------------------------------------- #
# expansion
# --------------------------------------------------------------------- #
class _Chain:
    """Accumulates an alternating node/rel chain; consecutive node
    patterns merge (GQL juxtaposition: same node, all constraints)."""

    def __init__(self, pfx: str):
        self.pfx = pfx
        self.elements: list = []
        # aligned with node positions in self.elements: list of
        # (orig_group_var, ordinal) carried by that (possibly merged) node
        self.carried: dict[int, list[tuple[str, int]]] = {}
        self.aliases: list[tuple[str, str]] = []  # (kept, dropped) anchors
        # dropped-at-merge var name -> kept name (inline WHEREs written
        # against a boundary node's per-repetition name re-target the
        # merged node's final name through this map)
        self.name_map: dict[str, str] = {}
        self._ord = 0

    def resolve(self, name: str) -> str:
        while name in self.name_map:
            name = self.name_map[name]
        return name

    def next_ordinal(self) -> int:
        self._ord += 1
        return self._ord

    def add_node(self, n: NodePattern, carries: list[tuple[str, int]]):
        if self.elements and isinstance(self.elements[-1], NodePattern):
            prev = self.elements[-1]
            idx = len(self.elements) - 1
            merged, alias = self._merge_nodes(prev, n)
            self.elements[-1] = merged
            self.carried.setdefault(idx, []).extend(carries)
            if alias is not None:
                self.aliases.append(alias)
        else:
            self.elements.append(n)
            self.carried.setdefault(len(self.elements) - 1, []).extend(
                carries
            )

    def add_rel(self, r: RelPattern):
        self.elements.append(r)

    def _merge_nodes(self, a: NodePattern, b: NodePattern):
        av, bv = a.var, b.var
        alias = None
        if av and bv:
            a_outer = not av.startswith(self.pfx)
            b_outer = not bv.startswith(self.pfx)
            if a_outer and b_outer:
                keep, alias = av, (av, bv)  # both anchors: alias b -> a
            elif b_outer:
                keep = bv
            else:
                keep = av
            dropped = bv if keep == av else av
            if dropped != keep:
                self.name_map[dropped] = keep
        else:
            keep = av or bv
        labels = list(a.labels) + [l for l in b.labels if l not in a.labels]
        return (
            NodePattern(
                keep,
                labels,
                _merge_props(a.props, b.props),
                _and(a.where, b.where),
            ),
            alias,
        )


def _declared_group_vars(qpps: list[QuantPathPattern]) -> dict[str, str]:
    """Inner declared var -> 'node' | 'rel'."""
    out: dict[str, str] = {}
    for q in qpps:
        for el in q.elements:
            if getattr(el, "var", None):
                kind = "node" if isinstance(el, NodePattern) else "rel"
                prev = out.get(el.var)
                if prev is not None and prev != kind:
                    raise ValueError(
                        f"variable `{el.var}` bound as both node and "
                        "relationship inside quantified path patterns"
                    )
                out[el.var] = kind
    return out


def _expand_combo(
    path_elements: list, combo: dict[int, int], pfx: str
) -> tuple[list, list, dict[str, list[str]], list[tuple[str, str]], list]:
    """One fixed-repetition expansion.

    Returns (elements, inline_wheres, group_cols, aliases, group_rels)
    where group_cols maps each inner node var to its per-repetition
    FINAL column names (post boundary merge) and group_rels lists
    (var, [renamed rel names]).
    """
    chain = _Chain(pfx)
    wheres: list = []
    rel_groups: dict[str, list[tuple[int, str]]] = {}

    for ei, el in enumerate(path_elements):
        if isinstance(el, NodePattern):
            w = el.where
            el2 = dataclasses.replace(el, where=None)
            if w is not None:
                wheres.append((w, None))  # no rename needed (outer scope)
            chain.add_node(el2, [])
        elif isinstance(el, RelPattern):
            chain.add_rel(el)
        else:  # QuantPathPattern
            k = combo[ei]
            for j in range(k):
                mapping = {
                    iel.var: f"{pfx}{iel.var}q{ei}r{j}"
                    for iel in el.elements
                    if getattr(iel, "var", None)
                }
                for iel in el.elements:
                    renamed = _rename_element(iel, mapping)
                    if isinstance(renamed, NodePattern):
                        carries = []
                        if iel.var:
                            carries.append((iel.var, chain.next_ordinal()))
                        w = renamed.where
                        renamed = dataclasses.replace(renamed, where=None)
                        if w is not None:
                            wheres.append((w, None))
                        chain.add_node(renamed, carries)
                    else:
                        if iel.var:
                            rel_groups.setdefault(iel.var, []).append(
                                (chain.next_ordinal(), renamed.var)
                            )
                        chain.add_rel(renamed)

    if not chain.elements:
        # pure zero-repetition path with no anchors: one anonymous node
        chain.add_node(NodePattern(None, [], None), [])
    if not isinstance(chain.elements[-1], NodePattern):
        raise ValueError("path pattern must end with a node pattern")

    # name anonymous nodes that carry group vars (their id column is the
    # group array's element)
    for idx, carries in chain.carried.items():
        if carries and chain.elements[idx].var is None:
            chain.elements[idx] = dataclasses.replace(
                chain.elements[idx], var=f"{pfx}anon{idx}"
            )

    group_cols: dict[str, list[tuple[int, str]]] = {}
    for idx, carries in chain.carried.items():
        for v, o in carries:
            group_cols.setdefault(v, []).append((o, chain.elements[idx].var))
    node_groups = {
        v: [name for _, name in sorted(ents)]
        for v, ents in group_cols.items()
    }
    group_rels = [
        (v, [name for _, name in sorted(ents)])
        for v, ents in rel_groups.items()
    ]
    # re-target inline WHEREs whose per-repetition node name was merged
    # away at a repetition boundary
    final_map = {k: chain.resolve(k) for k in chain.name_map}
    out_wheres = [rename_in_ast(w, final_map) for w, _ in wheres]

    # Repetition-boundary nodes are internal (pfx-renamed, dropped after
    # the union); when nothing reads them beyond their id — no props map,
    # no property use in the inline WHEREs; group arrays consume bare
    # ids — mark them id_only so the hop compiler binds them from the
    # edge endpoint column instead of joining the node table
    # (patterns._expand honors the flag only when the edge registration
    # proves the label).
    uses = property_uses([chain.elements, out_wheres])
    for idx, el in enumerate(chain.elements):
        if (
            idx > 0  # element 0 seeds the scan, never an _expand target
            and isinstance(el, NodePattern)
            and el.props is None
            and (
                el.var is None
                or (el.var.startswith(pfx) and uses.get(el.var) == frozenset())
            )
        ):
            chain.elements[idx] = dataclasses.replace(el, id_only=True)
    return (
        chain.elements,
        out_wheres,
        node_groups,
        chain.aliases,
        group_rels,
    )


# --------------------------------------------------------------------- #
# compile
# --------------------------------------------------------------------- #
def build_qpp_path_frame(
    engine: "CypherEngine",
    path: PathPattern,
    outer: Bindings,
    params: dict,
    var_preds: dict[str, list] | None = None,
    applied: set[str] | None = None,
) -> tuple[Bindings, list[tuple[str, tuple[str, ...]]]]:
    from pycypher_nmetl_spark.compiler.exprs import ExprCompiler
    from pycypher_nmetl_spark.compiler.patterns import (
        apply_rel_uniqueness, build_path_frame,
    )

    var_preds = var_preds or {}
    applied = applied if applied is not None else set()

    if path.shortest is not None:
        raise NotImplementedError(
            "shortestPath over a quantified path pattern is not supported"
        )
    if path.var is not None:
        raise NotImplementedError(
            "a path variable over a quantified path pattern is not "
            "supported"
        )
    qpp_at: dict[int, QuantPathPattern] = {
        i: e
        for i, e in enumerate(path.elements)
        if isinstance(e, QuantPathPattern)
    }
    qpps = list(qpp_at.values())
    for q in qpps:
        if any(isinstance(ie, QuantPathPattern) for ie in q.elements):
            raise NotImplementedError("nested quantified path patterns")
        if any(
            isinstance(ie, RelPattern) and ie.varlength for ie in q.elements
        ):
            raise NotImplementedError(
                "var-length relationships inside a quantified path pattern"
            )
        if not q.elements or not isinstance(q.elements[0], NodePattern):
            raise ValueError("quantified path pattern must contain a path")

    declared = _declared_group_vars(qpps)
    anchor_vars = {
        e.var
        for e in path.elements
        if isinstance(e, (NodePattern, RelPattern)) and e.var
    }
    for v in declared:
        if v in anchor_vars or v in outer.vars:
            # GQL: a variable declared inside a quantified pattern is a
            # GROUP variable and cannot re-bind an outer singleton
            raise ValueError(
                f"variable `{v}` is declared inside a quantified path "
                "pattern but is already bound outside it — group "
                "variables cannot re-bind singletons"
            )
    ranges = []
    for i, q in qpp_at.items():
        hi = q.max_reps if q.max_reps != -1 else MAX_REPS
        hi = min(hi, MAX_REPS)
        if q.min_reps > hi:
            raise ValueError(
                f"quantifier {{{q.min_reps},{hi}}} has no valid "
                "repetition count under the engine cap"
            )
        ranges.append([(i, k) for k in range(q.min_reps, hi + 1)])
    combos = [dict(c) for c in itertools.product(*ranges)]
    if len(combos) > MAX_EXPANSIONS:
        raise ValueError(
            f"quantified path pattern expands to {len(combos)} "
            f"combinations (> {MAX_EXPANSIONS}); narrow the quantifiers"
        )

    pfx = fresh_name("_qpp") + "_"
    frames: list[tuple] = []
    applied_sets: list[set] = []
    outer_rel_vars: list[tuple[str, tuple[str, ...]]] = []
    for ci, combo in enumerate(combos):
        elements, wheres, node_groups, aliases, group_rels = _expand_combo(
            path.elements, combo, pfx
        )
        ap = set(applied)
        frame, rel_vars = build_path_frame(
            engine,
            PathPattern(elements, var=None, shortest=None),
            outer,
            params,
            var_preds,
            ap,
        )
        applied_sets.append(ap)
        # trail semantics: relationship uniqueness WITHIN the expansion
        # (per-repetition rel columns exist here; the group arrays only
        # cover cross-pattern uniqueness after the union)
        frame = apply_rel_uniqueness(frame, rel_vars)
        if ci == 0:
            outer_rel_vars = [
                (v, t) for v, t in rel_vars if not v.startswith(pfx)
            ]
        if wheres:
            cc = ExprCompiler(frame, params, functions=engine.functions)
            for w in wheres:
                frame = frame.with_df(
                    frame.df.filter(cc.col(w).cast("boolean"))
                )
        df = frame.df
        # zero-repetition anchor equating: (x)(...){0}(y) binds y := x
        for kept, dropped in aliases:
            df = df.withColumn(dropped, F.col(kept))
            for c in list(df.columns):
                if c.startswith(kept + "__"):
                    df = df.withColumn(
                        dropped + "__" + c[len(kept) + 2 :], F.col(c)
                    )
        # group arrays (repetition order); empty at k=0
        for v in declared:
            if v in node_groups and node_groups[v]:
                arr = F.array(*[F.col(c) for c in node_groups[v]])
            else:
                rl = dict(group_rels).get(v)
                if rl:
                    arr = F.array(*[F.col(c) for c in rl])
                else:
                    arr = F.array()
            df = df.withColumn(v, arr)
        df = df.drop(*[c for c in df.columns if c.startswith(pfx)])
        frames.append((df, frame.vars, aliases))

    # align empty group arrays (array<void>) to the element type of a
    # non-empty branch before the union
    for v in declared:
        target = None
        for df, _, _ in frames:
            dt = dict(df.dtypes).get(v)
            if dt and dt not in ("array<void>", "void"):
                target = dt
                break
        if target:
            frames = [
                (
                    df.withColumn(v, F.col(v).cast(target))
                    if dict(df.dtypes).get(v) in ("array<void>", "void")
                    else df,
                    vars_,
                    al,
                )
                for df, vars_, al in frames
            ]

    udf = frames[0][0]
    for df, _, _ in frames[1:]:
        # allowMissingColumns: a zero-repetition branch can lack prop
        # satellites that only exist under the other anchor's label scan
        udf = udf.unionByName(df, allowMissingColumns=True)
    applied |= set.intersection(*applied_sets) if applied_sets else set()

    vars_: dict[str, VarInfo] = {}
    for _, fvars, aliases in frames:
        for v, info in fvars.items():
            if not v.startswith(pfx) and v not in vars_:
                vars_[v] = info
        for kept, dropped in aliases:
            if dropped not in vars_ and kept in vars_:
                vars_[dropped] = vars_[kept]
    for v, kind in declared.items():
        vars_[v] = VarInfo("value", elem_kind=kind)

    rel_types: dict[str, tuple[str, ...]] = {}
    for q in qpps:
        for el in q.elements:
            if isinstance(el, RelPattern) and el.var:
                rel_types[el.var] = tuple(el.types)
    group_rel_vars = [
        (v, rel_types.get(v, ())) for v, k in declared.items() if k == "rel"
    ]
    return Bindings(udf, vars_), outer_rel_vars + group_rel_vars
