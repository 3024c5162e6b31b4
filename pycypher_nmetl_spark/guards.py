"""Safety rails: cross-join size ceiling and per-query deadlines.

Reference parity: config.py:62 MAX_CROSS_JOIN_ROWS and
timeout_handler.py (cooperative per-clause deadline), wired in
star.py:649-751. Spark-first re-expression:

  * the cross-join guard reads Catalyst's own optimized-plan
    ``sizeInBytes`` estimates (derived from file sizes / plan shape, no
    action) and refuses to EMIT a cartesian whose estimated output size
    exceeds the ceiling — the query fails at compile time, before any
    job launches;
  * the deadline is enforced with a job group + a watchdog timer that
    calls ``cancelJobGroup``: Spark kills the running stages, and the
    caller gets a ``QueryTimeout`` instead of a raw Py4J error.
"""

from __future__ import annotations

import contextlib
import threading
import uuid

from pyspark.sql import DataFrame


class CrossJoinGuardError(RuntimeError):
    """Refused to emit a cartesian product over the configured ceiling."""


class QueryTimeout(TimeoutError):
    """The query exceeded its deadline and its Spark jobs were cancelled."""


def plan_size_bytes(df: DataFrame) -> float | None:
    """Catalyst's sizeInBytes estimate for the frame's optimized plan.

    Driver-side only (analysis + optimization, no job). Returns None when
    the estimate is unavailable (e.g. Spark Connect without plan access)
    or unknown: Long.MaxValue is Catalyst's "unknown" sentinel
    (spark.sql.defaultSizeInBytes), reported e.g. for RDD-backed leaves
    like localCheckpoint results, and a plan over such a leaf only
    rescales it (a Project narrows it by its row-width ratio).
    """
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        sizes = [float(plan.stats().sizeInBytes())]  # py4j converts BigInt
        leaves = plan.collectLeaves().iterator()
        while leaves.hasNext():
            sizes.append(float(leaves.next().stats().sizeInBytes()))
    except Exception:  # noqa: BLE001
        return None
    return None if max(sizes) >= float(2**63 - 1) else sizes[0]


def check_cross_join(left: DataFrame, right: DataFrame, max_product_bytes: float) -> None:
    """Advisory ceiling on a cartesian product, estimated as the product
    of both sides' Catalyst sizeInBytes (Spark estimates a cross join's
    output size the same way). Raises CrossJoinGuardError above the
    ceiling; unknown estimates pass (advisory, not a hard gate).

    A side whose estimate exceeds ~1 PB is treated as unknown: without
    CBO, Catalyst propagates a multiplied-out join-product upper bound
    through post-mutation table plans (measured: 8.85e18 B for a 5-row
    table after one SET — just under the Long.MaxValue sentinel), and an
    advisory guard must never false-refuse on garbage stats. Mirrors the
    >1e12-row implausibility rule in _rows_estimate."""
    lb, rb = plan_size_bytes(left), plan_size_bytes(right)
    discarded = [b for b in (lb, rb) if b is not None and b > 1e15]
    if lb is not None and lb > 1e15:
        lb = None
    if rb is not None and rb > 1e15:
        rb = None
    if discarded:
        # the discard is visible, not silent: a genuinely petabyte-scale
        # input would also land here, and the operator should know the
        # advisory guard stood down (ADVICE round 5)
        from pycypher_nmetl_spark.audit import audit_event

        audit_event(
            "cross_join_guard", "<stats>", status="estimate_discarded",
            elapsed_ms=0.0,
            parameters={f"discarded_{b:.3g}B": None for b in discarded},
        )
    if lb is None or rb is None:
        return
    if lb * rb > max_product_bytes:
        raise CrossJoinGuardError(
            "refusing cartesian product: estimated "
            f"{lb:.3g}B x {rb:.3g}B = {lb * rb:.3g} exceeds the "
            f"max_cross_join_product_bytes ceiling ({max_product_bytes:.3g}). "
            "Join the patterns on a shared variable, or raise/disable the "
            "ceiling (CypherEngine(max_cross_join_product_bytes=...))."
        )


class QueryComplexityError(RuntimeError):
    """Estimated result cardinality exceeds the configured ceiling."""


def _rows_estimate(catalog, kind: str, name: str) -> float | None:
    """Driver-side row estimate for a table: registered row_estimate if
    provided, else Catalyst sizeInBytes / 100B-per-row (no job runs).

    The estimate is cached on the table's metadata for the data epoch
    it was derived at. A written table's estimate is that of the plan
    that wrote it (a commit's local checkpoint keeps its source plan's
    statistics), and after a SET that plan is a join whose sizeInBytes
    can be a multiplied-out upper bound (measured: 7e18 for a 2-row
    table after one SET), useless as a row estimate. Estimates above
    ~1e12 rows are therefore treated as unknown and the previous
    estimate is kept — a genuinely that-large table should register an
    explicit row_estimate."""
    meta = catalog._meta.get((kind, name))
    epoch = getattr(catalog, "data_epoch", 0)
    if meta is not None and meta.row_estimate:
        # user-pinned estimates are authoritative; derived ones are valid
        # only for the epoch they were computed at — a mutation commit
        # bumps the epoch and forces a re-derive (round-5 ADVICE fix:
        # permanently cached estimates went stale after large CREATEs)
        if meta.row_estimate_pinned or meta.row_estimate_epoch == epoch:
            return float(meta.row_estimate)
    try:
        df = catalog.nodes(name) if kind == "n" else catalog.edges(name)
    except KeyError:
        return None
    size = plan_size_bytes(df)
    est = max(1.0, size / 100.0) if size is not None else None
    if est is not None and est > 1e12:
        est = None  # join-product plan upper bound: useless
    if meta is not None:
        if est is not None:
            meta.row_estimate = int(est)
        # implausible re-derive: keep the previous (stale) estimate —
        # still more representative than "unknown" — but stamp the
        # current epoch so the costly plan analysis isn't repeated
        # until the next mutation commit
        meta.row_estimate_epoch = epoch
        if est is None and meta.row_estimate:
            return float(meta.row_estimate)
    return est


def estimate_query_complexity(
    catalog,
    ast,
    default_rows: float = 1e5,
    default_degree: float = 8.0,
    varlength_hop_cap: int = 8,
) -> float:
    """Pre-execution cardinality score for a parsed query.

    Reference parity: query_complexity.py:1-288 (score-and-cap before
    execution). This is a coarse upper-bound model, not an optimizer:
    node scans contribute their row estimate, each hop multiplies by
    the relationship's average out-degree (edge rows / source rows),
    var-length hops exponentiate the degree (capped), disjoint paths
    and MATCH clauses multiply (cartesian), and a hop that closes onto
    an already-bound variable divides by that label's rows (join
    selectivity of the closure filter). WHERE predicates are ignored —
    the score is a ceiling check, not a cost model.
    """
    from pycypher_nmetl_spark.cypher.ast_nodes import (
        Match, NodePattern, RelPattern, UnionQuery,
    )

    if isinstance(ast, UnionQuery):
        return sum(
            estimate_query_complexity(
                catalog, b, default_rows, default_degree, varlength_hop_cap
            )
            for b in ast.branches
        )

    def label_rows(labels: list[str]) -> float:
        names = labels or catalog.labels()
        if not names:
            return default_rows
        ests = [_rows_estimate(catalog, "n", l) for l in names]
        ests = [e for e in ests if e is not None]
        if not ests:
            return default_rows
        # multi-label patterns intersect; unlabeled scans union
        return min(ests) if labels and len(labels) > 1 else sum(ests)

    def degree(types: list[str]) -> float:
        names = types or catalog.rel_types()
        total = 0.0
        known = False
        for t in names:
            e = _rows_estimate(catalog, "e", t)
            if e is None:
                continue
            src_l, _ = catalog.edge_endpoints(t)
            n = _rows_estimate(catalog, "n", src_l) if src_l else None
            total += e / max(n, 1.0) if n else default_degree
            known = True
        return total if known else default_degree

    est = 1.0
    seen: set[str] = set()
    for clause in getattr(ast, "clauses", []):
        if not isinstance(clause, Match):
            continue
        for path in clause.paths:
            elements = path.elements
            # shortestPath/allShortestPaths executes as frontier BFS with
            # per-hop dedup (compiler/paths.py), not full enumeration —
            # cost ~ edges × hops, so the degree**hops term below would
            # falsely refuse deep shortestPath on high-degree graphs
            # (round-5 ADVICE fix)
            is_shortest = getattr(path, "shortest", None) is not None
            for i, el in enumerate(elements):
                if isinstance(el, NodePattern):
                    bound = el.var is not None and el.var in seen
                    if i == 0:
                        if not bound:
                            est *= label_rows(el.labels)
                    elif bound:
                        # closing onto a bound var: equality filter
                        est /= max(label_rows(el.labels), 1.0)
                    if el.var:
                        seen.add(el.var)
                elif isinstance(el, RelPattern):
                    d = max(degree(el.types), 0.1)
                    if el.direction == "U":
                        d *= 2
                    if el.varlength:
                        hops = min(el.max_hops or varlength_hop_cap,
                                   varlength_hop_cap)
                        if is_shortest:
                            est *= max(d, 1.0) * hops  # BFS: linear in hops
                        else:
                            est *= max(d, 1.0) ** hops
                    else:
                        est *= d
                    if el.var:
                        seen.add(el.var)
    return est


def check_complexity(catalog, ast, ceiling: float) -> None:
    """Raise QueryComplexityError when the estimated cardinality exceeds
    the ceiling — before any Spark job starts."""
    score = estimate_query_complexity(catalog, ast)
    if score > ceiling:
        raise QueryComplexityError(
            f"estimated result cardinality {score:.3g} exceeds the "
            f"max_complexity ceiling ({ceiling:.3g}). The pattern likely "
            "contains unconstrained cartesian products or deep var-length "
            "expansions; add shared variables/labels, or raise/disable "
            "the ceiling (CypherEngine(max_complexity=...))."
        )


class RateLimitExceeded(RuntimeError):
    """Query submission rate exceeded the configured limit."""


class RateLimiter:
    """Token-bucket limiter for query submission (reference:
    rate_limiter.py, wired in star.py). `rate` tokens/second refill up
    to `burst`; acquire() takes one token, raising RateLimitExceeded
    when the bucket is empty (or blocking up to `wait_s` if given).
    Thread-safe; injectable clock/sleep for deterministic tests."""

    def __init__(self, rate: float, burst: int | None = None, clock=None, sleep=None):
        import time as _t

        if rate <= 0:
            raise ValueError("rate must be > 0")
        self.rate = float(rate)
        self.burst = float(burst if burst is not None else max(1, int(rate)))
        self._tokens = self.burst
        self._clock = clock or _t.monotonic
        self._sleep = sleep or _t.sleep
        self._last = self._clock()
        self._lock = threading.Lock()

    def _refill(self) -> None:
        now = self._clock()
        self._tokens = min(self.burst, self._tokens + (now - self._last) * self.rate)
        self._last = now

    def acquire(self, wait_s: float = 0.0) -> None:
        deadline_t = self._clock() + wait_s
        while True:
            with self._lock:
                self._refill()
                if self._tokens >= 1.0:
                    self._tokens -= 1.0
                    return
                shortfall = (1.0 - self._tokens) / self.rate
            if self._clock() + shortfall > deadline_t:
                raise RateLimitExceeded(
                    f"query rate limit ({self.rate}/s, burst {int(self.burst)}) exceeded"
                )
            self._sleep(shortfall)


@contextlib.contextmanager
def deadline(spark, seconds: float, group_id: str | None = None):
    """Run the body under a job group that is cancelled after `seconds`.

    Cancellation interrupts running tasks (interruptOnCancel) and any
    in-flight action raises; the context re-raises it as QueryTimeout.
    """
    sc = spark.sparkContext
    gid = group_id or f"deadline-{uuid.uuid4().hex[:8]}"
    expired = threading.Event()

    def _cancel() -> None:
        expired.set()
        sc.cancelJobGroup(gid)

    sc.setJobGroup(gid, f"deadline={seconds}s", interruptOnCancel=True)
    timer = threading.Timer(seconds, _cancel)
    timer.daemon = True
    timer.start()
    try:
        yield
    except Exception as e:  # noqa: BLE001
        if expired.is_set():
            raise QueryTimeout(f"query exceeded {seconds}s deadline") from e
        raise
    finally:
        timer.cancel()
        sc.setJobGroup("", "")
    if expired.is_set():
        # deadline hit between jobs: surface it rather than return partial
        raise QueryTimeout(f"query exceeded {seconds}s deadline")
