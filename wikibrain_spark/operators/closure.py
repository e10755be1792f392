"""Ontology transitive closure over wikidata P31/P279 edges (SURVEY.md J7/J8).

Reference semantics (wikimedia_link_issue_reporter.py:1433-1453):
  - classifying entries of X = P279-closure(X)  UNION  over each P31 root R
    of X (R not ignored): P279-closure(R); closures include their start.
  - an ignore-list prunes traversal (":1437", ":1447-1449") — load-bearing:
    without it hub nodes explode the closure (SURVEY.md §7.3).

Spark realization: iterative frontier join to fixpoint, driver-controlled.
Spark SQL has no recursive CTE we can rely on; the loop is bounded by the
ontology depth (~20 for Wikidata). Each iteration:
    frontier' = frontier ⋈ edges ON ancestor=child → parent, minus ignored,
                minus already-seen (via left_anti) to guarantee termination
                on cycles.
The edges side is broadcast; `localCheckpoint` every _CHECKPOINT_EVERY
rounds truncates the lineage so the plan does not grow unboundedly.

Every `localCheckpoint` here (edge lists, closure, frontiers) is EAGER and
NOT RECOVERABLE: it runs a job at the call, keeps the blocks on the
executors that computed them and cuts the lineage, so a block lost with its
executor fails the query. Where executors come and go, use `checkpoint()`
on a reliable directory instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# frontier rounds between eager checkpoints of the growing closure
_CHECKPOINT_EVERY = 4


def _filtered_edges(edges: DataFrame, ignored: list[str] | None) -> DataFrame:
    e = edges.select(F.col("child_qid").alias("child"), F.col("parent_qid").alias("parent"))
    if ignored:
        ign = edges.sparkSession.createDataFrame([(q,) for q in ignored], "qid string")
        e = (
            e.join(F.broadcast(ign), e["parent"] == ign["qid"], "left_anti")
            .join(F.broadcast(ign), e["child"] == ign["qid"], "left_anti")
        )
    return e


def p279_closure(
    edges: DataFrame,
    ignored: list[str] | None = None,
    max_iterations: int = 25,
    doubling: bool = False,
) -> DataFrame:
    """(child_qid, parent_qid) P279 edges -> (qid, ancestor) closure table.

    Includes the reflexive pair (qid, qid) for every qid that appears as a
    child or parent (closures 'include their start', see module docstring).
    Ignored qids neither appear as ancestors nor are traversed through.

    ``doubling=True`` switches to path doubling (closure ⋈ closure), which
    reaches fixpoint in O(log depth) rounds instead of O(depth) — at 100×
    ontology depth the frontier loop pays ~d driver round-trips +
    checkpoint jobs while doubling pays ~log2(d). The trade: each doubling
    round self-joins the WHOLE closure-so-far (a shuffle on qid) rather
    than frontier ⋈ edges, so it wins when depth, not closure width, is
    the bottleneck. Both modes return identical tables (pinned in tests),
    and both raise RuntimeError if max_iterations rounds end before the
    fixpoint rather than return a partial closure.
    """
    if doubling:
        return _p279_closure_doubling(edges, ignored, max_iterations)
    # materialize the (filtered) edge list ONCE: every round's join re-reads
    # it, and without this each of the ~depth rounds re-runs the edge scan +
    # filter and rebuilds its broadcast from source (round 8; the loop is
    # fixed-overhead-bound at small scale and scan-bound at large)
    e = F.broadcast(_filtered_edges(edges, ignored).localCheckpoint())

    nodes = e.select(F.col("child").alias("qid")).union(e.select("parent")).distinct()
    closure = nodes.select("qid", F.col("qid").alias("ancestor")).localCheckpoint()
    frontier = closure

    for i in range(max_iterations):
        step = (
            frontier.join(e, frontier["ancestor"] == e["child"])
            .select("qid", F.col("parent").alias("ancestor"))
            .distinct()
        )
        # eager localCheckpoint each round: materializes AND truncates the
        # lineage — without it the plan depth grows linearly and planning/
        # codegen costs blow up long before the data does
        new = step.join(closure, ["qid", "ancestor"], "left_anti").localCheckpoint()
        if new.isEmpty():
            return closure
        closure = closure.union(new)
        if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
            closure = closure.localCheckpoint()
        frontier = new
    raise RuntimeError(
        f"p279_closure: no fixpoint within {max_iterations} rounds "
        f"(an ancestor lies {max_iterations} or more P279 steps away)"
    )


def _p279_closure_doubling(
    edges: DataFrame, ignored: list[str] | None, max_iterations: int
) -> DataFrame:
    """Path-doubling transitive closure: after round k the table holds all
    reachability pairs over paths of length <= 2^k, so fixpoint arrives in
    ceil(log2(depth)) rounds. Cycle-safe (pairs, not paths — `distinct`
    bounds the table at |V|^2 regardless of cycles). Raises if the
    iteration budget is exhausted before fixpoint — 2^max_iterations is
    the provable depth bound, so the default 25 covers any real ontology.
    """
    e = _filtered_edges(edges, ignored).localCheckpoint()
    nodes = e.select(F.col("child").alias("qid")).union(e.select("parent")).distinct()
    closure = (
        nodes.select("qid", F.col("qid").alias("ancestor"))
        .union(e.select(F.col("child").alias("qid"), F.col("parent").alias("ancestor")))
        .distinct()
        .localCheckpoint()
    )
    # DELTA doubling (round 8): after round k the closure holds exactly the
    # pairs with a path of length <= 2^k, and the round's join needs only
    # delta_k ⋈ closure_k, not closure ⋈ closure. Proof of coverage: a pair
    # (a, c) whose shortest path L lies in (2^k, 2^{k+1}] splits at the
    # vertex b sitting 2^k steps along a shortest path — (a, b) has
    # shortest path EXACTLY 2^k (prefixes of shortest paths are shortest),
    # so it entered the closure in round k (it is in delta_k), and (b, c)
    # has length L - 2^k <= 2^k (in closure_k). The composition can only
    # produce paths <= 2^{k+1}, so the invariant is exact. Same fixpoint,
    # same O(log depth) rounds, but each round shuffles |delta| x closure
    # instead of closure^2 — and no full re-distinct of the closure (the
    # old union().distinct() re-aggregated every known pair every round).
    delta = closure
    for _ in range(max_iterations):
        step = (
            delta.alias("x")
            .join(closure.alias("y"), F.col("x.ancestor") == F.col("y.qid"))
            .select(F.col("x.qid").alias("qid"), F.col("y.ancestor").alias("ancestor"))
            .distinct()
        )
        delta = step.join(closure, ["qid", "ancestor"], "left_anti").localCheckpoint()
        if delta.isEmpty():
            return closure
        closure = closure.union(delta).localCheckpoint()
    raise RuntimeError(
        f"p279_closure(doubling=True): no fixpoint within {max_iterations} "
        f"rounds (depth would exceed 2^{max_iterations})"
    )


def p279_closure_with_depth(
    edges: DataFrame,
    ignored: list[str] | None = None,
    max_iterations: int = 25,
) -> DataFrame:
    """(qid, ancestor, depth) with MIN depth per ancestor — the reference's
    depth-tracking closure variant (wikimedia_link_issue_reporter.py:
    1455-1478, SURVEY.md J8/A8). BFS order guarantees the first time an
    ancestor is reached is at its minimum depth, so the anti-join both
    terminates cycles and fixes depth = min. Raises RuntimeError if
    max_iterations rounds end before the fixpoint."""
    # scanned every round — materialize once (round 8)
    e = F.broadcast(_filtered_edges(edges, ignored).localCheckpoint())

    nodes = e.select(F.col("child").alias("qid")).union(e.select("parent")).distinct()
    closure = nodes.select("qid", F.col("qid").alias("ancestor"), F.lit(0).alias("depth")).localCheckpoint()
    frontier = closure

    for i in range(max_iterations):
        step = (
            frontier.join(e, frontier["ancestor"] == e["child"])
            .select("qid", F.col("parent").alias("ancestor"), (F.col("depth") + 1).alias("depth"))
            .groupBy("qid", "ancestor").agg(F.min("depth").alias("depth"))
        )
        new = step.join(closure, ["qid", "ancestor"], "left_anti").localCheckpoint()
        if new.isEmpty():
            return closure
        closure = closure.union(new)
        if i % _CHECKPOINT_EVERY == _CHECKPOINT_EVERY - 1:
            closure = closure.localCheckpoint()
        frontier = new
    raise RuntimeError(
        f"p279_closure_with_depth: no fixpoint within {max_iterations} rounds "
        f"(an ancestor lies {max_iterations} or more P279 steps away)"
    )


def _p31_roots(edges: DataFrame, ignored: list[str] | None) -> DataFrame:
    """(qid, root): each entity's non-ignored P31 roots."""
    p31 = edges.where(F.col("pid") == "P31").select(
        F.col("child_qid").alias("qid"), F.col("parent_qid").alias("root")
    )
    if ignored:
        ign = edges.sparkSession.createDataFrame([(q,) for q in ignored], "iqid string")
        p31 = p31.join(F.broadcast(ign), p31["root"] == ign["iqid"], "left_anti")
    return p31


def classifying_ancestors(
    edges: DataFrame, ignored: list[str] | None = None,
    closure_df: DataFrame | None = None, **kw
) -> DataFrame:
    """(qid, ancestor) per the reference's wikidata_entries_classifying_entry:
    P279-closure of the entity itself UNION P279-closure of each non-ignored
    P31 root (closure includes the root).

    closure_df: a precomputed (qid, ancestor) P279 closure of these edges —
    pass the same frame to instance_types so one closure build (or one
    materialized_closure table) serves both consumers."""
    p31 = _p31_roots(edges, ignored)
    closure = closure_df if closure_df is not None else p279_closure(
        edges.where(F.col("pid") == "P279"), ignored=ignored, **kw)
    own = closure  # includes (qid, qid)
    via_roots = p31.join(closure.withColumnRenamed("qid", "root"), "root").select("qid", "ancestor")
    # roots themselves are ancestors even if they have no P279 edges
    root_self = p31.select("qid", F.col("root").alias("ancestor"))
    return own.union(via_roots).union(root_self).distinct()


def instance_types(edges: DataFrame, ignored: list[str] | None = None,
                   closure_df: DataFrame | None = None, **kw) -> DataFrame:
    """(qid, type_qid) per get_all_types_describing_wikidata_object: the P31
    roots plus the P279-closure of each root (used by the disambig check,
    wikimedia_link_issue_reporter.py:1130-1140, :1737-1759).

    closure_df: see classifying_ancestors — share one closure build."""
    p31 = _p31_roots(edges, ignored)
    closure = closure_df if closure_df is not None else p279_closure(
        edges.where(F.col("pid") == "P279"), ignored=ignored, **kw)
    via_roots = p31.join(closure.withColumnRenamed("qid", "root"), "root").select(
        "qid", F.col("ancestor").alias("type_qid")
    )
    root_self = p31.select("qid", F.col("root").alias("type_qid"))
    return via_roots.union(root_self).distinct()


def materialized_closure(
    edges: DataFrame,
    table_name: str = "wb_p279_closure",
    ignored: list[str] | None = None,
    n_buckets: int = 32,
    force_rebuild: bool = False,
    **kw,
) -> DataFrame:
    """Build-once-per-snapshot closure (round-4 verdict #5): persists
    p279_closure(edges) as a parquet table BUCKETED BY qid and reuses it
    while the edge snapshot is unchanged.

    Why: the closure is consumed by several downstream joins per pipeline
    run (classification, disambig/list typing, taxon checks) and the edge
    snapshot changes ~weekly while queries run continuously — recomputing
    a 25-round iterative join per query is pure waste. Bucketing by qid
    means every consumer's equi-join on qid reads co-located buckets with
    NO shuffle of the closure side at any scale.

    Snapshot identity is an order-independent content fingerprint
    (count + bit_xor of xxhash64(child, parent), plus the ignore list);
    a mismatch — new snapshot, different pruning — triggers a rebuild.
    A companion one-row __meta table carries the fingerprint, DROPPED
    before and re-written AFTER the data table, so any torn rebuild
    (crash between the two writes, in either order) leaves no meta row
    at all: a stale meta sitting next to new-snapshot data would
    spuriously VALIDATE if the edge snapshot later reverted to the old
    fingerprint (round-5 ADVICE)."""
    from wikibrain_spark.sources import catalog

    spark = edges.sparkSession
    fp = edges.agg(
        F.count("*").alias("n"),
        F.expr("bit_xor(xxhash64(child_qid, parent_qid))").alias("h"),
    ).collect()[0]
    fingerprint = f"{fp['n']}:{fp['h']}:{','.join(sorted(ignored or []))}"
    meta_name = table_name + "__meta"
    if not force_rebuild and catalog.table_exists(spark, table_name) and catalog.table_exists(spark, meta_name):
        stored = catalog.load_table(spark, meta_name).collect()
        if stored and stored[0]["fingerprint"] == fingerprint:
            return catalog.load_table(spark, table_name)
    catalog.drop_table(spark, meta_name)  # torn-rebuild fence: no meta until data is complete
    result = p279_closure(edges, ignored=ignored, **kw)
    catalog.save_table(result, table_name, bucket_by=(n_buckets, ["qid"]))
    catalog.save_table(
        spark.createDataFrame([(fingerprint,)], "fingerprint string"), meta_name
    )
    return catalog.load_table(spark, table_name)
