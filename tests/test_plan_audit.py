"""Physical-plan regression pins for the plan shapes that carry the
engine's scale story — cheap to check, expensive to lose silently.

Each assertion here encodes a lesson that cost a round to learn:
Python stages sneaking into native paths, dedup hash aggregates
reappearing in joins that are duplicate-free by construction, or the
InferFiltersFromGenerate filter re-inlining a staged candidate tree.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikibrain_spark.operators import knn, spatial_join

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def wd_plan(spark):
    left = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("event_id").alias("left_id"),
        (F.pmod(F.col("event_id") * 7, 160) - 80.0).alias("lat"),
        (F.pmod(F.col("event_id") * 11, 350) - 175.0).alias("lon"),
    )
    right = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        F.col("n_nationkey").alias("right_id"),
        (F.pmod(F.col("n_nationkey") * 13, 160) - 80.0).alias("lat"),
        (F.pmod(F.col("n_nationkey") * 17, 350) - 175.0).alias("lon"),
    )
    return _plan(knn.within_distance_join(left, right, km=1500.0))


def test_within_distance_plan_is_narrow_and_compiled(spark, wd_plan):
    """Zero shuffles (pairs unique by construction -> no dedup aggregate;
    the only allowed exchange is the broadcast of the ring side) and no
    Python stage anywhere."""
    assert "Python" not in wd_plan
    assert "HashAggregate" not in wd_plan and "ObjectHashAggregate" not in wd_plan
    stripped = wd_plan.replace("BroadcastExchange", "BX")
    assert "Exchange" not in stripped, "unexpected shuffle in the range join"


def test_within_distance_candidate_projections_stay_staged(spark):
    """The trig half-width columns must survive as separate projections —
    if an optimizer rule re-inlines them (the InferFiltersFromGenerate
    pathology), the plan grows a giant Filter below the Generate and
    codegen silently falls back to interpreted eval."""
    df = spark.createDataFrame(
        pd.DataFrame({"left_id": [1], "lat": [10.0], "lon": [20.0]}))
    staged = knn.with_within_distance_candidate_cells(df, 1500.0, 0)
    plan = _plan(staged.select(F.explode_outer("cells").alias("cell")))
    # the Generate's child chain must NOT contain a Filter mentioning the
    # spherical-cap trig (ACOS appears only in the staged projection)
    gen_idx = plan.find("Generate")
    assert gen_idx != -1
    below = plan[gen_idx:]
    for line in below.splitlines():
        if "Filter" in line:
            assert "ACOS" not in line, "candidate tree re-inlined into a filter"


def test_within_distance_shuffle_plan_is_salted_shuffle_join(spark):
    """Big-big variant: the main join must be a SHUFFLED join on
    (cell, salt) — not a broadcast of either fact side — and stay
    Python-free. Broadcasts are allowed only for the hot-cell dim.
    Exactly one shuffled join: the two fact-side exchanges feeding it are
    the whole shuffle budget (plus the map-side-combined hotness count)."""
    left = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("event_id").alias("left_id"),
        (F.pmod(F.col("event_id") * 7, 160) - 80.0).alias("lat"),
        (F.pmod(F.col("event_id") * 11, 350) - 175.0).alias("lon"),
    )
    right = spark.read.parquet(f"{SF_DIR}/nation.parquet").select(
        F.col("n_nationkey").alias("right_id"),
        (F.pmod(F.col("n_nationkey") * 13, 160) - 80.0).alias("lat"),
        (F.pmod(F.col("n_nationkey") * 17, 350) - 175.0).alias("lon"),
    )
    plan = _plan(knn.within_distance_join_shuffle(
        left, right, km=1500.0, hot_cell_threshold=10, n_salt=4))
    assert "Python" not in plan
    shuffled_joins = plan.count("ShuffledHashJoin") + plan.count("SortMergeJoin")
    assert shuffled_joins == 1, f"expected exactly one shuffled join:\n{plan}"
    # the shuffled join keys must include the salt (skew treatment active)
    join_line = next(l for l in plan.splitlines()
                     if "ShuffledHashJoin" in l or "SortMergeJoin" in l)
    assert "salt" in join_line and "cell" in join_line
    # fact-side shuffles only: exactly the 2 exchanges feeding the join
    # (the hotness count runs once at localCheckpoint time, not per side)
    stripped = plan.replace("BroadcastExchange", "BX")
    assert stripped.count("Exchange") <= 2, f"extra shuffles:\n{plan}"
    assert "HashAggregate" not in plan, "hotness count leaked into the join plan"


def test_shuffle_pip_plan_is_one_cogroup_no_post_refine_exchange(spark):
    """Round-5 verdict #1: the shuffle PIP's refine is ONE cogrouped
    Python stage keyed by (bucket, salt) — geometry crosses the shuffle
    once per covered cell, never per candidate pair — and its output flows
    out with NO further exchange and NO dedup aggregate (pairs are unique
    by construction: one (cell, salt) per point, each (boundary, cell)
    once in the cover). The two exchanges feeding the cogroup are the
    explicit numbered repartitions (round 6): a user-specified partition
    count is exempt from AQE coalescing, which otherwise folds this
    deliberately-light shuffle into one task and serializes every group
    behind a single Python worker."""
    pts = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("event_id").cast("string").alias("image_id"),
        (F.pmod(F.col("event_id") * 7, 160) - 80.0).alias("lat"),
        (F.pmod(F.col("event_id") * 11, 350) - 175.0).alias("lon"),
    )
    bnd = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 30.0, 30.0],
               "ring_lon": [-20.0, 40.0, 40.0, -20.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    plan = _plan(spatial_join.shuffle_pip_join(
        pts, bnd, res=3, hot_cell_threshold=10, n_salt=4))
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert "HashAggregate" not in plan and "ObjectHashAggregate" not in plan
    # toString prints downstream operators first: everything BEFORE the
    # cogroup line is post-refine and must be exchange-free
    post_refine = plan[: plan.find("FlatMapCoGroupsInPandas")]
    assert "Exchange" not in post_refine, f"post-refine shuffle:\n{plan}"
    # shuffle budget: EXACTLY the two (bucket, salt) repartitions feeding
    # the cogroup (reused by it — no third exchange) — geometry is carried
    # through the cover prepass (no attach join at all) and the
    # uncovered-points semi-filter broadcasts (broadcasts don't count)
    stripped = plan.replace("BroadcastExchange", "BX")
    assert stripped.count("Exchange") <= 2, f"extra shuffles:\n{plan}"
    # the uncovered-points filter must be a broadcast SEMI join (no
    # distinct aggregate, no shuffle) on the points side
    assert "LeftSemi" in plan, f"covered-cells semi-filter missing:\n{plan}"


def test_knn_kring_plan_has_no_dedup_aggregate(spark):
    """The ring is array_distinct and places join on a single cell, so the
    only aggregate-ish operator allowed is the top-k Window."""
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": [1, 2], "lat": [10.0, 20.0], "lon": [30.0, 40.0]}))
    p = spark.createDataFrame(
        pd.DataFrame({"place_id": [1, 2, 3], "lat": [10.0, 21.0, 50.0], "lon": [30.0, 41.0, 60.0]}))
    plan = _plan(knn.knn_kring(q, p, k=2, res=2, ring=1))
    assert "HashAggregate" not in plan and "ObjectHashAggregate" not in plan
    assert "Window" in plan  # the top-k itself


@pytest.fixture(scope="module")
def native_pip_inputs(spark):
    """(points, boundaries) for the native PIP plan pins: the sf0.001
    events as scattered points and one 30x60-degree box."""
    bnd = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 30.0, 30.0],
               "ring_lon": [-20.0, 40.0, 40.0, -20.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    pts = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.col("event_id").cast("string").alias("image_id"),
        (F.pmod(F.col("event_id") * 7, 160) - 80.0).alias("lat"),
        (F.pmod(F.col("event_id") * 11, 350) - 175.0).alias("lon"),
    )
    return pts, bnd


def test_clipped_dim_native_plan_points_side_pure(native_pip_inputs):
    """The clipped-dim native PIP (round 6) must keep the points side
    zero-Python and zero-shuffle: exactly ONE Python map — MapInArrow,
    the clip dim build, once per snapshot — and ONE shuffle exchange
    (round 8: the clip-unit repartition that parallelizes the prepass),
    inside the broadcast subtree. The dim is (cell, p) rows, never
    grouped: no aggregate, and the probe side is a bare scan into the one
    BroadcastHashJoin, whose condition is the parity fold."""
    pts, bnd = native_pip_inputs
    plan = _plan(spatial_join.broadcast_pip_join_native(
        pts, bnd, cell_prefilter_res=2, clip_dim=True))
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Aggregate" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("BroadcastExchange") == 1
    assert plan.replace("BroadcastExchange", "BX").count("Exchange") == 1, plan
    # the one MapInArrow and the Exchange are in the broadcast (dim)
    # subtree: toString indents children, so both must appear AFTER the
    # BroadcastExchange line
    bx = plan.find("BroadcastExchange")
    assert plan.find("MapInArrow") > bx
    assert plan.replace("BroadcastExchange", "BX").find("Exchange") > bx


def test_one_row_dim_plan_is_one_broadcast_nested_loop_join(native_pip_inputs):
    """The native PIP without a prefilter pairs every point with every
    polygon's struct row in ONE broadcast nested-loop join whose condition
    is the parity fold: no aggregate gathers the polygons into one row,
    no Generate explodes the matches, and the only exchange is the
    broadcast."""
    pts, bnd = native_pip_inputs
    plan = _plan(spatial_join.broadcast_pip_join_native(pts, bnd))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "Aggregate" not in plan and "Generate" not in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "Exchange" not in plan.replace("BroadcastExchange", "BX"), plan


def test_unclipped_prefilter_plan_is_two_broadcast_hash_joins(native_pip_inputs):
    """The unclipped prefiltered native PIP joins each point's cell onto
    polygon_cover's (boundary_id, cell) rows, then boundary_id onto
    polygon_structs: exactly two broadcast hash joins and nothing that
    numbers, groups or re-explodes the candidates — no Window, no
    aggregate, no exchange besides the two broadcasts, and the only
    Generate is the cover's explode inside its broadcast."""
    pts, bnd = native_pip_inputs
    plan = _plan(spatial_join.broadcast_pip_join_native(pts, bnd, cell_prefilter_res=2))
    assert "Window" not in plan and "Aggregate" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert plan.count("BroadcastExchange") == 2, plan
    assert "Exchange" not in plan.replace("BroadcastExchange", "BX"), plan
    lines = plan.splitlines()
    gen = [i for i, ln in enumerate(lines) if "Generate " in ln]
    assert len(gen) == 1 and "explode(" in lines[gen[0]], plan
    # ancestors of the Generate: each line above it indented less than
    # everything between them (toString indents children under parents)
    depth = lines[gen[0]].index("+- ")
    ancestors = []
    for ln in reversed(lines[:gen[0]]):
        d = ln.find("+- ")
        if d < depth:
            ancestors.append(ln[d + 3:])
            depth = d
    assert any(a.startswith("BroadcastExchange") for a in ancestors), plan


def test_compactness_single_pass_no_join(spark):
    """polygon_compactness (round 7) computes both geodesic folds in ONE
    projection over the dim — a self-join of the two per-boundary
    aggregates would shuffle at millions of boundaries for nothing."""
    bdf = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 5.0, 5.0],
               "ring_lon": [0.0, 5.0, 5.0, 0.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )
    plan = spatial_join.polygon_compactness(bdf)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan
