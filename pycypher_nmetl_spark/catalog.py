"""GraphCatalog — the property-graph-over-DataFrames data model.

Reference semantics: EntityTable / RelationshipTable / Context
(reference: packages/pycypher/src/pycypher/relational_models.py:917-1338,
282-718). A "graph" is a set of node tables (one per label, `id` +
attribute columns) and edge tables (one per relationship type,
`id`, `src`, `dst` + attribute columns) — exactly the GraphX/GraphFrames
edge-list layout, so every Cypher operation compiles to DataFrame ops.

Transactions: the reference's shadow-layer (relational_models.py:589-708)
maps naturally onto immutable DataFrames — a mutation produces a *new*
DataFrame for each touched label; commit atomically swaps the catalog's
pointers; rollback drops the shadows.

Scale notes (100 TB design):
  * node/edge tables are *lazy* DataFrames (``spark.read.parquet``) —
    registration never materializes anything;
  * FK-derived edge ids use ``xxhash64`` of the natural key, which is
    deterministic and fully distributed (no max+1 driver round-trip);
  * small dimension tables can be marked broadcastable so pattern joins
    against them skip the shuffle.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Collection
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ID = "id"
SRC = "src"
DST = "dst"

# Labels whose tables are small enough to always broadcast in pattern joins.
BROADCAST_ROW_THRESHOLD = 10_000_000  # bytes are what matter; rows as proxy


@dataclass
class TableMeta:
    """Side-car metadata for a registered node/edge table."""

    broadcastable: bool = False
    row_estimate: int | None = None
    # data_epoch at which row_estimate was derived; a mutation commit
    # bumps the catalog epoch, invalidating derived (non-user-supplied)
    # estimates (guards._rows_estimate re-derives or degrades gracefully)
    row_estimate_epoch: int = 0
    row_estimate_pinned: bool = False  # user-supplied: never invalidated
    # edge table registered without an id column: its ids are hashes of
    # the endpoints, so CREATE hashes too instead of allocating max + 1
    hash_ids: bool = False


def _partitions(df: DataFrame) -> int:
    """``df``'s partition count, or 0 when its plan is adaptive: to
    answer, AQE would run the plan's shuffle stages."""
    qe = df._jdf.queryExecution()
    if qe.executedPlan().getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return 0
    return qe.toRdd().getNumPartitions()


class GraphCatalog:
    """Registry of label -> nodes DataFrame and reltype -> edges DataFrame."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._nodes: dict[str, DataFrame] = {}
        self._edges: dict[str, DataFrame] = {}
        self._meta: dict[tuple[str, str], TableMeta] = {}
        # edge type -> (src label, dst label) when known; used for compile-time
        # label inference on unlabeled pattern nodes.
        self._edge_endpoints: dict[str, tuple[str | None, str | None]] = {}
        # shadow layer for in-flight mutations (query-scoped transaction);
        # thread-local so concurrent queries on one catalog don't observe
        # each other's uncommitted state (reference: ExecutionScope
        # ContextVar isolation, relational_models.py:341-401)
        self._tl = threading.local()
        # writer serialization: concurrent mutation transactions take this
        # lock for their whole begin -> commit span, so the second writer
        # snapshots AFTER the first's pointer swap (no lost updates).
        # Readers never take it — they compile against a thread-local
        # begin() snapshot and stay lock-free (round-5 concurrency work).
        self._write_lock = threading.RLock()
        # bumped on every committed mutation; invalidates result caches
        # (reference: relational_models.py _data_epoch)
        self.data_epoch = 0
        # FK-derived edge metadata: rel_type -> (owner_label, owner_side,
        # fk_prop) meaning the edge table is EXACTLY a projection of the
        # owner label's node table (edge.<owner_side> = owner.id, other
        # endpoint = owner.<fk_prop>, id = xxhash64(src, dst), no props).
        # The pattern compiler uses this to traverse owner -> other as a
        # pure column projection instead of a node⋈edge self-join of the
        # same parquet. A write to either table drops it unless the write
        # provably keeps it (the FK-projection rule of write()).
        self._fk_collapse: dict[str, tuple[str, str, str]] = {}
        # monotonic upper bound on allocated ids per (kind, name): the
        # first CREATE per table pays one max(id) scan, later CREATEs
        # read the cache (maintained from new-row maxima). An over-
        # estimate is safe (ids just get gaps); cleared when a table is
        # re-registered wholesale.
        self._max_id_cache: dict[tuple[str, str], int] = {}

    # ------------------------------------------------------------------ #
    # registration
    # ------------------------------------------------------------------ #
    def register_nodes(
        self,
        label: str,
        df: DataFrame,
        id_col: str = ID,
        broadcastable: bool | None = None,
        row_estimate: int | None = None,
    ) -> None:
        if id_col != ID:
            df = df.withColumnRenamed(id_col, ID)
        if ID not in df.columns:
            raise ValueError(f"nodes for label {label!r} need an {ID!r} column")
        if "label" in df.columns:
            # the compiler materializes the node's label name as the
            # structural <var>__label column; a property of the same
            # name would silently collide inside every unlabeled scan
            raise ValueError(
                f"node table for {label!r} has a property column named "
                "'label', which is reserved for the node's label — rename "
                "it (df.withColumnRenamed('label', ...)) before registering"
            )
        self._nodes[label] = df
        self._meta[("n", label)] = TableMeta(
            broadcastable=bool(broadcastable),
            row_estimate=row_estimate,
            row_estimate_pinned=row_estimate is not None,
        )
        self._max_id_cache.pop(("n", label), None)

    def register_edges(
        self,
        rel_type: str,
        df: DataFrame,
        id_col: str = ID,
        src_col: str = SRC,
        dst_col: str = DST,
        src_label: str | None = None,
        dst_label: str | None = None,
        broadcastable: bool | None = None,
        fk_collapse: tuple[str, str, str] | None = None,
    ) -> None:
        for have, want in ((id_col, ID), (src_col, SRC), (dst_col, DST)):
            if have != want:
                df = df.withColumnRenamed(have, want)
        missing = {SRC, DST} - set(df.columns)
        if missing:
            raise ValueError(f"edges for {rel_type!r} missing columns {missing}")
        if "type" in df.columns:
            # mirror of the node 'label' reservation: the compiler
            # materializes the relationship type as <var>__type
            raise ValueError(
                f"edge table for {rel_type!r} has a property column named "
                "'type', which is reserved for the relationship type — "
                "rename it before registering"
            )
        hash_ids = ID not in df.columns
        if hash_ids:
            # deterministic distributed edge id: hash of endpoints
            df = df.withColumn(ID, F.xxhash64(F.col(SRC), F.col(DST)))
        self._edges[rel_type] = df
        self._edge_endpoints[rel_type] = (src_label, dst_label)
        self._meta[("e", rel_type)] = TableMeta(
            broadcastable=bool(broadcastable), hash_ids=hash_ids
        )
        self._max_id_cache.pop(("e", rel_type), None)
        if fk_collapse is not None:
            self._fk_collapse[rel_type] = fk_collapse
        else:
            self._fk_collapse.pop(rel_type, None)

    # ------------------------------------------------------------------ #
    # lookup
    # ------------------------------------------------------------------ #
    def _store(self, kind: str) -> dict[str, DataFrame]:
        """Active node ('n') or edge ('e') tables: this thread's shadow
        inside a transaction, else the committed ones."""
        shadow = getattr(self._tl, "nodes" if kind == "n" else "edges", None)
        if shadow is not None:
            return shadow
        return self._nodes if kind == "n" else self._edges

    def nodes(self, label: str) -> DataFrame:
        store = self._store("n")
        if label not in store:
            raise KeyError(f"unknown node label {label!r}; known: {sorted(store)}")
        return store[label]

    def edges(self, rel_type: str) -> DataFrame:
        store = self._store("e")
        if rel_type not in store:
            raise KeyError(f"unknown relationship type {rel_type!r}; known: {sorted(store)}")
        return store[rel_type]

    def has_label(self, label: str) -> bool:
        return label in self._store("n")

    def has_rel_type(self, rel_type: str) -> bool:
        return rel_type in self._store("e")

    def labels(self) -> list[str]:
        return sorted(self._store("n"))

    def rel_types(self) -> list[str]:
        return sorted(self._store("e"))

    def edge_endpoints(self, rel_type: str) -> tuple[str | None, str | None]:
        return self._edge_endpoints.get(rel_type, (None, None))

    def property_keys(self) -> list[str]:
        keys: set[str] = set()
        for df in [*self._store("n").values(), *self._store("e").values()]:
            keys.update(c for c in df.columns if c not in (ID, SRC, DST))
        return sorted(keys)

    def is_broadcastable(self, kind: str, name: str) -> bool:
        meta = self._meta.get((kind, name))
        return bool(meta and meta.broadcastable)

    def hash_ids(self, rel_type: str) -> bool:
        """True when the edge type's ids are endpoint hashes (registered
        without an ``id`` column)."""
        meta = self._meta.get(("e", rel_type))
        return bool(meta and meta.hash_ids)

    # ------------------------------------------------------------------ #
    # transactions (shadow layer -> atomic pointer swap)
    # ------------------------------------------------------------------ #
    def begin(self) -> None:
        """Open a query-scoped shadow transaction (thread-local).

        Reference: relational_models.py:589-646 (begin_query). DataFrame
        immutability means the shadow is just a dict copy of pointers.
        """
        self._tl.nodes = dict(self._nodes)
        self._tl.edges = dict(self._edges)
        # relationship types this transaction registered endpoints for
        self._tl.new_types = set()

    def commit(self, durable_path: str | None = None) -> None:
        """Promote shadows to canonical tables (atomic pointer swap).

        Reference: relational_models.py:647-668 (commit_query). Every
        committed table is one materialized relation, so no read replays
        the joins and unions of the writes that produced it. Without
        ``durable_path`` each shadow table that differs from its
        canonical frame is replaced by one ``localCheckpoint`` *before*
        the swap, on the caller's thread (its jobs join the caller's job
        group, described ``compact <kind>:<name>``); if that raises, the
        caller rolls back and the canonical tables are untouched. The
        checkpoint keeps the table's partition count at most
        ``max(its canonical frame's count, defaultParallelism)`` (a
        narrow coalesce: no shuffle, no extra job). With
        ``durable_path`` the committed state is persisted via
        :meth:`save_durable` (crash-consistent parquet snapshot), which
        re-points every table at the parquet it wrote.
        """
        if self.in_transaction():
            if durable_path is None:
                self._compact("n", self._tl.nodes, self._nodes)
                self._compact("e", self._tl.edges, self._edges)
            self._nodes = self._tl.nodes
            self._edges = self._tl.edges
            self.data_epoch += 1
        self._tl.nodes = self._tl.edges = self._tl.new_types = None
        if durable_path is not None:
            self.save_durable(durable_path)

    def _compact(self, kind: str, shadow: dict, canonical: dict) -> None:
        """Replace, in ``shadow``, every frame that is not its canonical
        one with its local checkpoint. A frame with more partitions than
        ``max(its canonical's, defaultParallelism)`` is narrow-coalesced
        to that bound first: an append unions the new rows' partitions
        onto the table's, so without the bound every CREATE would add
        partitions, and tasks, to each later scan. Written straight into
        the dict: the bookkeeping of :meth:`write` already ran."""
        sc = self.spark.sparkContext
        previous = sc.getLocalProperty("spark.job.description")
        try:
            for name, df in shadow.items():
                old = canonical.get(name)
                if df is not old:
                    bound = max(
                        _partitions(old) if old is not None else 0,
                        sc.defaultParallelism,
                    )
                    if _partitions(df) > bound:
                        df = df.coalesce(bound)
                    sc.setJobDescription(f"compact {kind}:{name}")
                    shadow[name] = df.localCheckpoint()
        finally:
            sc.setLocalProperty("spark.job.description", previous)

    # ------------------------------------------------------------------ #
    # durable snapshots (SURVEY §1.3 durability story: at cluster scale
    # this is a Delta/iceberg transactional write; locally the same
    # write-then-atomic-pointer-flip protocol over plain parquet)
    # ------------------------------------------------------------------ #
    @staticmethod
    def _durable_table(path: str, version: str, rel: str) -> str:
        """Deterministic metastore name for a bucketed durable table —
        reconstructable from (path, version, table) alone so a fresh
        session's load_durable can re-register it, and prunable by the
        `durable_<pathhash>_<version>_` prefix."""
        import hashlib
        import re

        h = hashlib.md5(os.path.abspath(path).encode()).hexdigest()[:8]
        safe = re.sub(r"[^A-Za-z0-9_]", "_", rel)
        return f"durable_{h}_{version}_{safe}".lower()

    def _write_bucketed(self, df, target: str, table: str, col: str, buckets: int):
        """Bucketed + sorted external table write; reads back via
        spark.table() carry the bucket spec, so equi-joins on `col`
        between tables bucketed INTO the same count compile with NO
        Exchange (and no Sort) on either side."""
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        (
            df.write.mode("overwrite")
            .option("path", os.path.abspath(target))
            .bucketBy(buckets, col)
            .sortBy(col)
            .saveAsTable(table)
        )

    def _register_bucketed(self, vdir: str, meta: dict) -> "DataFrame":
        """(Re-)declare the bucketed external table in this session's
        metastore (the default in-memory catalog forgets definitions
        across sessions; the DDL re-attaches the bucket spec to the
        files bucketBy wrote) and return the bucketed frame."""
        tbl = meta["table"]
        existing = [t.name for t in self.spark.catalog.listTables()]
        if tbl.split(".")[-1] not in existing:
            target = os.path.abspath(os.path.join(vdir, meta["path"]))
            schema = self.spark.read.parquet(target).schema
            cols = ", ".join(
                f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
            )
            self.spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING PARQUET "
                f"CLUSTERED BY (`{meta['bucket_col']}`) "
                f"SORTED BY (`{meta['bucket_col']}`) "
                f"INTO {int(meta['buckets'])} BUCKETS "
                f"LOCATION '{target}'"
            )
        return self.spark.table(tbl)

    def save_durable(self, path: str, keep: int = 2, buckets: int | None = None) -> str:
        """Persist every node/edge table to ``path/v<N>/`` as parquet plus
        a manifest, then atomically repoint ``path/_CURRENT``.

        Crash consistency: tables are written first, the manifest second,
        the pointer file last via ``os.replace`` (atomic on POSIX) — a
        kill at any moment leaves ``_CURRENT`` on the previous complete
        version. Old versions beyond ``keep`` are pruned after the flip.
        Returns the new version name.

        ``buckets``: when set, nodes are written ``bucketBy(buckets, id)``
        and edges ``bucketBy(buckets, src)`` (sorted, external tables), so
        a reloaded catalog's hop joins (edges.src = nodes.id) compile
        with NO Exchange on either side — at 100x scale that removes the
        per-query shuffle a plain-parquet reload pays on every hop.
        Bucketing costs one clustered write per snapshot; it pays when
        snapshots are read by many hop queries over tables too big to
        broadcast (see SCALING.md §bucketed-durable). Joins that enter an
        edge table via ``dst`` (left-direction hops) still exchange —
        src is the traversal-dominant side.
        """
        import json
        import shutil

        os.makedirs(path, exist_ok=True)
        existing = sorted(
            (d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit()),
            key=lambda d: int(d[1:]),
        )
        version = f"v{(int(existing[-1][1:]) + 1) if existing else 1}"
        vdir = os.path.join(path, version)
        manifest: dict = {
            "version": version,
            "data_epoch": self.data_epoch,
            "nodes": {},
            "edges": {},
            "fk_collapse": {k: list(v) for k, v in self._fk_collapse.items()},
        }

        def _write(df, rel: str, bucket_col: str | None) -> dict:
            target = os.path.join(vdir, rel)
            meta: dict = {"path": rel}
            if buckets and bucket_col and bucket_col in df.columns:
                tbl = self._durable_table(path, version, rel)
                self._write_bucketed(df, target, tbl, bucket_col, buckets)
                meta.update(
                    {"buckets": buckets, "bucket_col": bucket_col, "table": tbl}
                )
            else:
                df.write.mode("overwrite").parquet(target)
            return meta

        for label, df in self._nodes.items():
            meta = _write(df, f"nodes_{label}", "id")
            meta["broadcastable"] = self.is_broadcastable("n", label)
            manifest["nodes"][label] = meta
        for rt, df in self._edges.items():
            meta = _write(df, f"edges_{rt}", "src")
            src_l, dst_l = self._edge_endpoints.get(rt, (None, None))
            meta.update({
                "src_label": src_l,
                "dst_label": dst_l,
                "broadcastable": self.is_broadcastable("e", rt),
                "hash_ids": self.hash_ids(rt),
            })
            manifest["edges"][rt] = meta
        with open(os.path.join(vdir, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        tmp = os.path.join(path, "._CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(version)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(path, "_CURRENT"))
        # Re-point every in-memory table at the parquet just written:
        # a catalog built via load_durable holds lazy plans scanning an
        # *older* version's files, which the prune below would delete —
        # subsequent queries would hit FileNotFoundException. Swapping to
        # the new files also truncates mutation lineage for free. The
        # registration metadata (endpoints, broadcastable, fk_collapse)
        # is unchanged by construction, so only the frames are swapped.
        for label, meta in manifest["nodes"].items():
            self._nodes[label] = (
                self.spark.table(meta["table"]) if "table" in meta
                else self.spark.read.parquet(os.path.join(vdir, meta["path"]))
            )
        for rt, meta in manifest["edges"].items():
            self._edges[rt] = (
                self.spark.table(meta["table"]) if "table" in meta
                else self.spark.read.parquet(os.path.join(vdir, meta["path"]))
            )
        for old in existing[: max(0, len(existing) - (keep - 1))]:
            h = self._durable_table(path, old, "")
            for t in self.spark.catalog.listTables():
                if t.name.startswith(h):
                    self.spark.sql(f"DROP TABLE IF EXISTS {t.name}")
            shutil.rmtree(os.path.join(path, old), ignore_errors=True)
        return version

    @classmethod
    def load_durable(cls, spark: SparkSession, path: str) -> "GraphCatalog":
        """Rebuild a catalog from the snapshot ``_CURRENT`` points at.

        Incomplete newer versions (crash mid-write) are ignored by
        construction — only the pointer names a readable version.
        Bucketed tables (save_durable(buckets=...)) are re-declared in
        this session's metastore so the bucket spec — and the
        exchange-free hop joins it buys — survives the reload.
        """
        import json

        with open(os.path.join(path, "_CURRENT")) as f:
            version = f.read().strip()
        vdir = os.path.join(path, version)
        with open(os.path.join(vdir, "manifest.json")) as f:
            manifest = json.load(f)
        cat = cls(spark)

        def _read(meta):
            if "table" in meta:
                return cat._register_bucketed(vdir, meta)
            return spark.read.parquet(os.path.join(vdir, meta["path"]))

        for label, meta in manifest["nodes"].items():
            cat.register_nodes(
                label,
                _read(meta),
                broadcastable=meta.get("broadcastable"),
            )
        for rt, meta in manifest["edges"].items():
            fk = manifest.get("fk_collapse", {}).get(rt)
            cat.register_edges(
                rt,
                _read(meta),
                src_label=meta.get("src_label"),
                dst_label=meta.get("dst_label"),
                broadcastable=meta.get("broadcastable"),
                fk_collapse=tuple(fk) if fk else None,
            )
            cat._meta[("e", rt)].hash_ids = meta.get("hash_ids", False)
        cat.data_epoch = manifest.get("data_epoch", 0)
        return cat

    def rollback(self) -> None:
        """Discard uncommitted shadows (reference: rollback_query)."""
        # endpoint registrations are not shadowed; entries promoted for
        # types created inside the rolled-back transaction would go stale
        # (a later write would keep them for a different table) —
        # prune the ones THIS transaction registered that have no
        # canonical table; another thread's open transaction keeps its
        # own. Degradations (label -> None) persisting past a rollback
        # are safe: they only forfeit an optimization.
        for rt in getattr(self._tl, "new_types", None) or ():
            if rt not in self._edges:
                self._edge_endpoints.pop(rt, None)
        self._tl.nodes = self._tl.edges = self._tl.new_types = None

    def in_transaction(self) -> bool:
        return getattr(self._tl, "nodes", None) is not None

    # ------------------------------------------------------------------ #
    # id allocation support (see mutations.py CREATE)
    # ------------------------------------------------------------------ #
    def id_base(self, kind: str, name: str, df: DataFrame) -> int:
        """Upper bound on existing ids in the table: cached after the
        first full-table max(id) per (kind, name) per session — at 100 TB
        one column scan per CREATE *statement* is not acceptable."""
        key = (kind, name)
        if key not in self._max_id_cache:
            from pyspark.sql import functions as F

            row = df.agg(F.max("id").alias("m")).collect()[0]
            self._max_id_cache[key] = row["m"] if row["m"] is not None else 0
        return self._max_id_cache[key]

    def note_max_id(self, kind: str, name: str, value: int | None) -> None:
        """Raise the cached id upper bound after allocating new ids."""
        if value is None:
            return
        key = (kind, name)
        self._max_id_cache[key] = max(self._max_id_cache.get(key, 0), int(value))

    def write(
        self,
        kind: str,
        name: str,
        df: DataFrame,
        changed: frozenset[str] | None = None,
        proven: Collection[str] = (),
    ) -> None:
        """The one table write of a mutation: node ('n') or edge ('e')
        table ``name`` becomes ``df`` in the active shadow (or canonical
        store).

        FK-projection rule: the proof "edge type T is the projection of
        owner label O on (id, fk)" (:meth:`fk_collapse`) survives a write
        to O or to T only when either
          * the write is a property write to O (``changed``: the property
            keys it sets or removes) that changes neither ``id`` nor fk;
          * T is in ``proven``: the write belongs to a CREATE clause that
            checked, before its first write, that every O node it creates
            gets exactly one T edge to a node proven to carry T's far
            label, with no properties, and that o.fk equals that node's
            id on every row (compiler/mutations.py, ``_fk_plan``).
        Every other write to O or T (``changed=None``: rows added or
        removed, a replace-all map, a label write) drops the proof. The
        rule is applied before the table changes, and a dropped proof is
        never re-added, so a rollback or a concurrent transaction can
        only lose the optimization, never gain a false proof."""
        for rt, (owner, _side, fk) in list(self._fk_collapse.items()):
            if rt in proven:
                continue
            if kind == "n" and owner == name:
                if changed is not None and not changed & {ID, fk}:
                    continue
            elif kind != "e" or rt != name:
                continue
            self._fk_collapse.pop(rt, None)
        self._store(kind)[name] = df
        if kind == "e":
            self._set_endpoints(name, self.edge_endpoints(name))

    def _set_endpoints(self, rel_type: str, ends: tuple[str | None, str | None]) -> None:
        """Record an endpoint registration; a type first registered inside
        this thread's transaction is noted so its rollback can prune it."""
        new_types = getattr(self._tl, "new_types", None)
        if new_types is not None and rel_type not in self._edge_endpoints:
            new_types.add(rel_type)
        self._edge_endpoints[rel_type] = ends

    def reconcile_edge_endpoints(
        self,
        rel_type: str,
        src_labels: tuple[str, ...] | None,
        dst_labels: tuple[str, ...] | None,
    ) -> None:
        """Re-validate the (src_label, dst_label) endpoint registration
        after a CREATE appends rows to ``rel_type`` (VERDICT r12 #4).

        The compiler's label-proof guards (union-scan restriction,
        id-only seed elision, fk-collapse label inference) treat the
        registration as a PROOF that every endpoint of this type carries
        the registered label.  ``src_labels`` / ``dst_labels`` are the
        label sets the new rows' bound endpoint vars provably carry
        (``None`` = nothing provable, e.g. an unlabeled or value-kind
        var).  Each registered side survives only if its label appears
        in the corresponding proof set; otherwise it degrades to None
        and every guard falls back to the safe full-scan path.  For a
        type with no registration yet (first CREATE of a new type), a
        uniquely-proven label is *promoted* into the registration so
        created graphs get the same scan restrictions loaded ones do.
        """
        s, d = self._edge_endpoints.get(rel_type, (None, None))
        if rel_type in self._edge_endpoints:
            if s is not None and (src_labels is None or s not in src_labels):
                s = None
            if d is not None and (dst_labels is None or d not in dst_labels):
                d = None
        else:  # brand-new type: promote uniquely-proven labels
            s = src_labels[0] if src_labels and len(src_labels) == 1 else None
            d = dst_labels[0] if dst_labels and len(dst_labels) == 1 else None
        self._set_endpoints(rel_type, (s, d))

    def fk_collapse(self, rel_type: str) -> tuple[str, str, str] | None:
        """(owner_label, owner_side, fk_prop) when the edge table is a pure
        projection of the owner node table; None otherwise."""
        return self._fk_collapse.get(rel_type)

    # ------------------------------------------------------------------ #
    # materialization of derived tables
    # ------------------------------------------------------------------ #
    def _layout_files(self, df: DataFrame) -> int:
        """Scale-adaptive output file count for a materialized table
        (guide §6 file layout).

        Two regimes, take the max:
          * by_size: one file per SPARK_GRAFT_TARGET_FILE_BYTES
            (default 256 MB) of estimated data, so big tables land in
            the 128 MB - 1 GB band at cluster scale;
          * by_cores: spread across the session's cores so a scan of a
            small table still parallelizes — the driver testdata is one
            single-row-group file per table, which pins every scan (and
            the 8-vs-32-core bench ratio) to ONE task regardless of
            data size — but never below ~64 KB per file, so tiny
            dimension tables stay compact instead of exploding into
            per-core shards.

        Returns 0 when no trustworthy size estimate exists (the caller
        keeps the write's natural partitioning): plan statistics for
        RDD-backed frames are the defaultSizeInBytes sentinel, not data.
        """
        import math
        from urllib.parse import urlparse

        est = 0
        try:  # real bytes of the backing files, when file-backed
            for f in df.inputFiles():
                try:
                    est += os.path.getsize(urlparse(f).path)
                except OSError:
                    pass
        except Exception:  # noqa: BLE001
            est = 0
        if not est:
            # fall back to optimizer stats, but only when plausible:
            # in-memory LocalRelations carry honest estimates, RDD-backed
            # plans report the defaultSizeInBytes sentinel (huge)
            try:
                est = int(
                    df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
                )
            except Exception:  # noqa: BLE001
                return 0
            if est <= 0 or est >= (16 << 30):
                return 0
        target = int(
            os.environ.get("SPARK_GRAFT_TARGET_FILE_BYTES", str(256 << 20))
        )
        by_size = max(1, math.ceil(est / target))
        try:
            cores = self.spark.sparkContext.defaultParallelism
        except Exception:  # noqa: BLE001
            cores = 8
        floor = int(os.environ.get("SPARK_GRAFT_MIN_FILE_BYTES", str(64 << 10)))
        by_cores = min(cores, max(1, est // floor))
        return max(by_size, by_cores)

    def materialize(
        self,
        labels: list[str] = (),
        rel_types: list[str] = (),
        path: str | None = None,
    ) -> None:
        """Write the named node/edge frames to parquet and re-register
        them as plain scans.

        For tables *derived* from the raw inputs (groupBy/distinct/join
        products like the Lineitem graph below), every query otherwise
        re-executes the derivation — exchange reuse does NOT collapse the
        repeated aggregations across a multi-hop plan (measured: a 3-hop
        var-length expansion carries 14 live Exchanges, zero reused).
        Deriving once to parquet turns all of them into columnar scans:
        measured 2.8x on the warm 3-hop query for a one-time write of
        about the same cost as one cold run. At cluster scale this is the
        graph-projection build step every production graph engine has —
        derive once, query many.
        """
        import tempfile
        from urllib.parse import urlparse

        if path is None:
            wh = urlparse(self.spark.conf.get("spark.sql.warehouse.dir")).path
            path = f"{wh.rstrip('/')}/materialized"
        try:  # probe writability (warehouse may sit in a read-only checkout)
            import os

            os.makedirs(path, exist_ok=True)
            probe = os.path.join(path, ".probe")
            open(probe, "w").close()
            os.remove(probe)
        except OSError:
            path = tempfile.mkdtemp(prefix="pycypher_materialized_")
        def _write(df, p):
            n = self._layout_files(df)
            (df.repartition(n) if n else df).write.mode("overwrite").parquet(p)

        for label in labels:
            p = f"{path}/nodes_{label}"
            _write(self.nodes(label), p)
            self._nodes[label] = self.spark.read.parquet(p)
        for rtype in rel_types:
            p = f"{path}/edges_{rtype}"
            _write(self.edges(rtype), p)
            self._edges[rtype] = self.spark.read.parquet(p)

    # ------------------------------------------------------------------ #
    # convenience builders
    # ------------------------------------------------------------------ #
    @classmethod
    def from_tpch(
        cls, spark: SparkSession, sf_dir: str, materialize_derived: bool = False
    ) -> "GraphCatalog":
        """Build the property graph over the driver's TPC-H-ish parquet tables.

        Mapping per FIXTURES.md §5: node labels Region/Nation/Customer/
        Supplier/Part/Order/Document with the TPC-H prefix stripped from
        property names; FK-derived relationships IN_REGION / FROM_NATION /
        SUPP_NATION / PLACED / CONTAINS / SUPPLIED_BY. Everything stays a
        lazy parquet scan — nothing is materialized here.
        """
        cat = cls(spark)
        # the testdata parquet carries TIMESTAMP(NANOS), which some reader
        # paths (schema merging) reject; the caller's session may not have
        # set this, so set it at runtime — reads then come back as long
        # nanos and _nanos_to_ts converts them
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # right-size shuffles for a local session still at the 200 default
        # (AQE coalesces down, but the task-launch overhead is real)
        try:
            if spark.conf.get("spark.sql.shuffle.partitions") == "200":
                cores = spark.sparkContext.defaultParallelism
                spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
        except Exception:  # noqa: BLE001
            pass

        def _nanos_to_ts(df: DataFrame, *cols: str) -> DataFrame:
            # TIMESTAMP(NANOS) parquet arrives as long (nanosAsLong=true);
            # convert to a real timestamp (micros precision)
            for c in cols:
                if dict(df.dtypes).get(c) == "bigint":
                    df = df.withColumn(
                        c, F.timestamp_micros((F.col(c) / 1000).cast("long"))
                    )
            return df

        rd = lambda t: spark.read.parquet(f"{sf_dir}/{t}.parquet")  # noqa: E731

        region = rd("region")
        nation = rd("nation")
        customer = rd("customer")
        supplier = rd("supplier")
        part = rd("part")
        orders = _nanos_to_ts(rd("orders"), "o_orderdate")
        lineitem = _nanos_to_ts(rd("lineitem"), "l_shipdate")
        documents = rd("documents")

        def strip(df: DataFrame, prefix: str, idc: str) -> DataFrame:
            # The id-source column stays queryable as a property too
            # (c.custkey etc.), mirroring the reference where __ID__ is
            # added alongside the key, not instead of it.
            cols = [F.col(idc).alias(ID)] + [
                F.col(c).alias(c[len(prefix):] if c.startswith(prefix) else c)
                for c in df.columns
            ]
            return df.select(*cols)

        cat.register_nodes("Region", strip(region, "r_", "r_regionkey"), broadcastable=True)
        cat.register_nodes("Nation", strip(nation, "n_", "n_nationkey"), broadcastable=True)
        cat.register_nodes("Customer", strip(customer, "c_", "c_custkey"))
        cat.register_nodes("Supplier", strip(supplier, "s_", "s_suppkey"), broadcastable=True)
        cat.register_nodes("Part", strip(part, "p_", "p_partkey"))
        cat.register_nodes("Order", strip(orders, "o_", "o_orderkey"))
        cat.register_nodes("Document", documents.withColumnRenamed("doc_id", ID))
        # Lineitem as a node label with a synthetic arithmetic id
        # (orderkey*10 + linenumber; linenumber <= 7) so the DuckDB oracle
        # can reproduce ids; NEXT_LINE chains consecutive lines of an order
        # — gives the graph a real multi-hop topology for path operators.
        # (orderkey, linenumber) repeats in the synthetic data, so the node
        # set is the DISTINCT pairs (id must be unique per node).
        # One groupBy(orderkey) derives BOTH the node set and the
        # NEXT_LINE edge set: collect_set gives the distinct linenumbers
        # per order (map-side combine shrinks the shuffle to unique
        # values; ≤7 lines/order so no skew), then nodes = explode(set)
        # and edges = explode(lines whose successor is in the set) — no
        # self-join. Replaces dropDuplicates + equi-join (3 shuffles with
        # different keys) with one orderkey shuffle shared via
        # ReuseExchange. (Persisting these frames was measured twice as a
        # net loss; don't re-add without measuring.)
        li_sets = lineitem.groupBy(F.col("l_orderkey").alias("orderkey")).agg(
            F.collect_set("l_linenumber").alias("_lns")
        )
        cat.register_nodes(
            "Lineitem",
            li_sets.select(
                "orderkey", F.explode("_lns").alias("linenumber")
            ).select(
                (F.col("orderkey") * 10 + F.col("linenumber")).alias(ID),
                "orderkey",
                "linenumber",
            ),
        )
        embeddings = rd("embeddings")
        cat.register_nodes(
            "Embedding",
            # the parquet's 'label' column is a cluster id; 'label' is
            # reserved for the node label (see register_nodes)
            embeddings.withColumnRenamed("vec_id", ID).withColumnRenamed(
                "label", "cluster"
            ),
        )
        events = _nanos_to_ts(rd("events"), "ts")
        cat.register_nodes(
            "Event",
            events.select(
                F.col("event_id").alias(ID),
                F.col("ts"),
                F.col("user_id"),
                F.col("event_type"),
                F.col("value"),
                F.col("props"),
            ),
        )

        cat.register_edges(
            "IN_REGION",
            nation.select(
                F.col("n_nationkey").alias(SRC), F.col("n_regionkey").alias(DST)
            ),
            src_label="Nation",
            dst_label="Region",
            broadcastable=True,
            fk_collapse=("Nation", "src", "regionkey"),
        )
        cat.register_edges(
            "FROM_NATION",
            customer.select(
                F.col("c_custkey").alias(SRC), F.col("c_nationkey").alias(DST)
            ),
            src_label="Customer",
            dst_label="Nation",
            fk_collapse=("Customer", "src", "nationkey"),
        )
        cat.register_edges(
            "SUPP_NATION",
            supplier.select(
                F.col("s_suppkey").alias(SRC), F.col("s_nationkey").alias(DST)
            ),
            src_label="Supplier",
            dst_label="Nation",
            broadcastable=True,
            fk_collapse=("Supplier", "src", "nationkey"),
        )
        cat.register_edges(
            "PLACED",
            orders.select(
                F.col("o_custkey").alias(SRC), F.col("o_orderkey").alias(DST)
            ),
            src_label="Customer",
            dst_label="Order",
            fk_collapse=("Order", "dst", "custkey"),
        )
        li_props = [
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
            "l_linenumber",
            "l_suppkey",
        ]
        cat.register_edges(
            "CONTAINS",
            lineitem.select(
                # (orderkey, partkey) repeats in TPC-H: include linenumber in
                # the edge id so relationship-uniqueness stays sound
                F.xxhash64("l_orderkey", "l_partkey", "l_linenumber").alias(ID),
                F.col("l_orderkey").alias(SRC),
                F.col("l_partkey").alias(DST),
                *[F.col(c).alias(c[2:]) for c in li_props],
            ),
            src_label="Order",
            dst_label="Part",
        )
        nxt = li_sets.select(
            "orderkey",
            F.explode(
                F.filter(
                    "_lns",
                    lambda x: F.array_contains(F.col("_lns"), x + F.lit(1)),
                )
            ).alias("ln"),
        )
        cat.register_edges(
            "NEXT_LINE",
            nxt.select(
                (F.col("orderkey") * 10 + F.col("ln")).alias(SRC),
                (F.col("orderkey") * 10 + F.col("ln") + 1).alias(DST),
            ),
            src_label="Lineitem",
            dst_label="Lineitem",
        )
        cat.register_edges(
            "SUPPLIED_BY",
            lineitem.select(
                F.col("l_orderkey").alias(SRC), F.col("l_suppkey").alias(DST)
            ).dropDuplicates([SRC, DST]),
            src_label="Order",
            dst_label="Supplier",
        )
        if materialize_derived:
            # The graph-projection build step: the aggregation *products*
            # (Lineitem, NEXT_LINE) plus the scan-heavy fact tables whose
            # driver-testdata source is ONE single-row-group parquet file
            # — unsplittable, so every scan is one task no matter the
            # core count (guide §2.5 input skew / §6 input splits).
            # materialize() re-lays each out as multi-part parquet sized
            # by _layout_files, which also stores Order/CONTAINS
            # timestamps natively (the raw files are TIMESTAMP(NANOS)
            # read as long + converted per row, an expression no filter
            # can push through). Small dimensions (Region/Nation/
            # Supplier/Part) stay raw: they broadcast anyway.
            cat.materialize(
                labels=["Lineitem", "Order", "Customer"],
                rel_types=["NEXT_LINE", "CONTAINS"],
            )
        return cat

    @classmethod
    def from_pandas(cls, spark: SparkSession, nodes: dict, edges: dict) -> "GraphCatalog":
        """Build a catalog from in-memory dicts of pandas DataFrames / row lists.

        Mirrors the reference's ContextBuilder.from_dict
        (reference: packages/pycypher/src/pycypher/ingestion/context_builder.py:45-227).
        """
        cat = cls(spark)
        for label, data in nodes.items():
            cat.register_nodes(label, spark.createDataFrame(data))
        for rel, data in edges.items():
            cat.register_edges(rel, spark.createDataFrame(data))
        return cat
