"""Ontology transitive closure over wikidata P31/P279 edges (SURVEY.md J7/J8).

Reference semantics (wikimedia_link_issue_reporter.py:1433-1478):
  - classifying entries of X = P279-closure(X)  UNION  over each P31 root R
    of X (R not ignored): P279-closure(R); closures include their start.
  - the depth-tracking variant keeps each ancestor's MIN depth (J8).
  - an ignore-list prunes traversal (":1437", ":1447-1449") — load-bearing:
    without it hub nodes explode the closure (SURVEY.md §7.3).

Spark realization: one driver-controlled fixpoint, delta path doubling
(Ioannidis, VLDB 1986) carrying min depth. Round k composes the pairs
found in round k-1 with the whole closure, so a 2^k-deep ontology
converges in k+1 rounds (see p279_closure_with_depth).

Every `localCheckpoint` here (the edge list, the start, each round's
delta) is EAGER and NOT RECOVERABLE: it runs a job at the call, keeps the
blocks on the executors that computed them and cuts the lineage, so a block
lost with its executor fails the query. Where executors come and go, use
`checkpoint()` on a reliable directory instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# buckets of the materialized closure table (bucketed by qid)
_N_BUCKETS = 32


def _drop_ignored(df: DataFrame, ignored: list[str] | None, *cols: str) -> DataFrame:
    """df minus the rows where any of `cols` is on the ignore list."""
    if not ignored:
        return df
    ign = F.broadcast(df.sparkSession.createDataFrame([(q,) for q in ignored], "ignored_qid string"))
    for c in cols:
        df = df.join(ign, df[c] == ign["ignored_qid"], "left_anti")
    return df


def _filtered_edges(edges: DataFrame, ignored: list[str] | None) -> DataFrame:
    e = edges.select(F.col("child_qid").alias("child"), F.col("parent_qid").alias("parent"))
    return _drop_ignored(e, ignored, "parent", "child")


def p279_closure(
    edges: DataFrame,
    ignored: list[str] | None = None,
    max_iterations: int = 25,
) -> DataFrame:
    """(child_qid, parent_qid) P279 edges -> (qid, ancestor) closure table.

    Includes the reflexive pair (qid, qid) for every qid that appears as a
    child or parent (closures 'include their start', see module docstring).
    Ignored qids neither appear as ancestors nor are traversed through.
    The pairs of p279_closure_with_depth; raises RuntimeError likewise."""
    return p279_closure_with_depth(edges, ignored, max_iterations).select("qid", "ancestor")


def p279_closure_with_depth(
    edges: DataFrame,
    ignored: list[str] | None = None,
    max_iterations: int = 25,
) -> DataFrame:
    """(qid, ancestor, depth) with MIN depth per pair — the reference's
    depth-tracking closure (wikimedia_link_issue_reporter.py:1455-1478,
    SURVEY.md J8/A8); the reflexive pairs have depth 0.

    Delta doubling: closure_0 holds the pairs whose shortest path L <= 1
    (reflexive at 0, edges at 1), delta_0 its pairs at depth 1. Round k+1
    joins delta_k ⋈ closure_k with depth = x.depth + y.depth, keeps the
    min per pair and anti-joins the pairs already known. Invariant: closure_k
    holds exactly the pairs with L <= 2^k, each at depth L, and delta_k
    those with L in (2^(k-1), 2^k]. Proof: a pair (a, c) with L in
    (2^k, 2^(k+1)] splits at the vertex b 2^k steps along a shortest path.
    (a, b) has shortest path exactly 2^k (a prefix of a shortest path is
    shortest), so it is in delta_k at depth 2^k; (b, c) has shortest path
    L - 2^k <= 2^k, so it is in closure_k at that depth. The round's min is
    therefore at most L, and no composition is shorter than L (each is a
    walk from a to c), nor longer than 2^(k+1). So the fixpoint arrives
    after ceil(log2(depth)) + 1 rounds; cycles end it too (pairs, not
    paths, bound the table at |V|^2). Raises RuntimeError if
    max_iterations rounds end before the fixpoint (some shortest path is
    longer than 2^(max_iterations-1)) rather than return a partial
    closure."""
    # read twice below (nodes and edges): materialize the filtered source once
    e = _filtered_edges(edges, ignored).localCheckpoint()
    nodes = e.select(F.col("child").alias("qid")).union(e.select("parent"))
    closure = (
        nodes.select("qid", F.col("qid").alias("ancestor"), F.lit(0).alias("depth"))
        .union(e.select("child", "parent", F.lit(1)))
        .groupBy("qid", "ancestor").agg(F.min("depth").alias("depth"))
        .localCheckpoint()
    )
    delta = closure.where(F.col("depth") == 1)
    for _ in range(max_iterations):
        step = (
            delta.alias("x")
            .join(closure.alias("y"), F.col("x.ancestor") == F.col("y.qid"))
            .groupBy(F.col("x.qid").alias("qid"), F.col("y.ancestor").alias("ancestor"))
            .agg(F.min(F.col("x.depth") + F.col("y.depth")).alias("depth"))
        )
        delta = step.join(closure, ["qid", "ancestor"], "left_anti").localCheckpoint()
        if delta.isEmpty():
            return closure
        # each piece is checkpointed: the union's plan is at most
        # max_iterations + 1 leaves, and no round rewrites the known pairs
        closure = closure.union(delta)
    raise RuntimeError(
        f"p279_closure: no fixpoint within {max_iterations} rounds "
        f"(an ancestor lies more than 2^{max_iterations - 1} P279 steps away)"
    )


def _p31_roots(edges: DataFrame, ignored: list[str] | None) -> DataFrame:
    """(qid, root): each entity's non-ignored P31 roots."""
    p31 = edges.where(F.col("pid") == "P31").select(
        F.col("child_qid").alias("qid"), F.col("parent_qid").alias("root")
    )
    return _drop_ignored(p31, ignored, "root")


def classifying_ancestors(
    edges: DataFrame, ignored: list[str] | None = None,
    closure_df: DataFrame | None = None,
) -> DataFrame:
    """(qid, ancestor) per the reference's wikidata_entries_classifying_entry:
    P279-closure of the entity itself UNION P279-closure of each non-ignored
    P31 root (closure includes the root).

    closure_df: a precomputed (qid, ancestor) P279 closure of these edges —
    pass the same frame to instance_types so one closure build (or one
    materialized_closure table) serves both consumers."""
    p31 = _p31_roots(edges, ignored)
    closure = closure_df if closure_df is not None else p279_closure(
        edges.where(F.col("pid") == "P279"), ignored=ignored)
    own = closure  # includes (qid, qid)
    via_roots = p31.join(closure.withColumnRenamed("qid", "root"), "root").select("qid", "ancestor")
    # roots themselves are ancestors even if they have no P279 edges
    root_self = p31.select("qid", F.col("root").alias("ancestor"))
    return own.union(via_roots).union(root_self).distinct()


def instance_types(edges: DataFrame, ignored: list[str] | None = None,
                   closure_df: DataFrame | None = None) -> DataFrame:
    """(qid, type_qid) per get_all_types_describing_wikidata_object: the P31
    roots plus the P279-closure of each root (used by the disambig check,
    wikimedia_link_issue_reporter.py:1130-1140, :1737-1759).

    closure_df: see classifying_ancestors — share one closure build."""
    p31 = _p31_roots(edges, ignored)
    closure = closure_df if closure_df is not None else p279_closure(
        edges.where(F.col("pid") == "P279"), ignored=ignored)
    via_roots = p31.join(closure.withColumnRenamed("qid", "root"), "root").select(
        "qid", F.col("ancestor").alias("type_qid")
    )
    root_self = p31.select("qid", F.col("root").alias("type_qid"))
    return via_roots.union(root_self).distinct()


def materialized_closure(
    edges: DataFrame,
    table_name: str = "wb_p279_closure",
    ignored: list[str] | None = None,
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
    if catalog.table_exists(spark, table_name) and catalog.table_exists(spark, meta_name):
        stored = catalog.load_table(spark, meta_name).collect()
        if stored and stored[0]["fingerprint"] == fingerprint:
            return catalog.load_table(spark, table_name)
    catalog.drop_table(spark, meta_name)  # torn-rebuild fence: no meta until data is complete
    result = p279_closure(edges, ignored=ignored)
    catalog.save_table(result, table_name, bucket_by=(_N_BUCKETS, ["qid"]))
    catalog.save_table(
        spark.createDataFrame([(fingerprint,)], "fingerprint string"), meta_name
    )
    return catalog.load_table(spark, table_name)
