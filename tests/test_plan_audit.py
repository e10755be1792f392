"""Physical-plan regression pins for the plan shapes that carry the
engine's scale story — cheap to check, expensive to lose silently.

Each assertion here encodes a lesson that cost a round to learn:
Python stages sneaking into native paths, dedup hash aggregates
reappearing in joins that are duplicate-free by construction, or the
InferFiltersFromGenerate filter re-inlining a staged candidate tree.
"""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikibrain_spark import jvm
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


def test_shuffle_pip_plan_is_native_candidate_rows(native_pip_inputs):
    """The shuffle PIP builds the native candidate rows: no Python stage
    anywhere in the plan, exactly one compiled fold call and it
    is the condition of the (cell, salt) join, the uncovered points leave
    through a broadcast SEMI join (no distinct aggregate), and nothing
    groups the candidates (pairs are unique by construction: one
    (cell, salt) per point, each (boundary, cell) once per salt)."""
    pts, bnd = native_pip_inputs
    plan = _plan(spatial_join.shuffle_pip_join(
        pts, bnd, res=3, hot_cell_threshold=10, n_salt=4))
    for op in ("FlatMapCoGroupsInPandas", "MapInPandas", "Python"):
        assert op not in plan, plan
    assert plan.count(f"{jvm.PIP_FOLD}(") == 1, plan
    join = next(ln for ln in plan.splitlines() if f"{jvm.PIP_FOLD}(" in ln)
    assert "Join" in join and "salt" in join and "cell" in join, plan
    assert "LeftSemi" in plan, f"covered-cells semi-filter missing:\n{plan}"
    assert "Aggregate" not in plan, plan
    # the broadcast strategy is the same operator with a broadcast dim
    assert "Python" not in _plan(spatial_join.broadcast_pip_join(pts, bnd))


def test_clipped_shuffle_pip_plan_has_one_python_map(native_pip_inputs):
    """The clipped shuffle PIP has no Python operator at all: the dim
    build is the compiled clip exploded in the boundary scan's stage, and
    the fold stays the compiled join condition."""
    pts, bnd = native_pip_inputs
    plan = _plan(spatial_join.shuffle_pip_join(
        pts, bnd, res=3, hot_cell_threshold=10, n_salt=4))
    assert "Python" not in plan and "InArrow" not in plan and "InPandas" not in plan, plan
    assert plan.count(f"{jvm.CLIP_CELLS}(") == 1, plan
    assert plan.count(f"{jvm.PIP_FOLD}(") == 1, plan
    assert "Join" in next(ln for ln in plan.splitlines() if f"{jvm.PIP_FOLD}(" in ln), plan


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


def _assert_compiled_fold(plan: str, key_cols: list[str], packed: str = "p") -> None:
    """The native PIP's fold is ONE call of the compiled UDF, in the join
    condition, with no interpreted aggregate/exists lambda left in it;
    the broadcast it reads is pruned to key_cols plus the bbin and ebin
    fields of `packed` (no p.edges, no p.bid shipped)."""
    assert plan.count(f"{jvm.PIP_FOLD}(") == 1, plan
    join = next(ln for ln in plan.splitlines() if f"{jvm.PIP_FOLD}(" in ln)
    assert "Join" in join, plan
    assert "lambdafunction" not in join and "exists(" not in plan, plan
    lines = plan.splitlines()
    under = [lines[i + 1] for i, ln in enumerate(lines[:-1])
             if "BroadcastExchange" in ln and "bbin" in lines[i + 1]]
    assert len(under) == 1, plan
    cols = under[0].split("Project [", 1)[1].rsplit("]", 1)[0]
    shipped = [re.sub(r"#\d+L?", "", c.strip()) for c in cols.split(",")]
    assert shipped == [
        *key_cols, f"{packed}.bbin AS _extract_bbin", f"{packed}.ebin AS _extract_ebin"], plan


def test_clipped_dim_native_plan_points_side_pure(native_pip_inputs):
    """The clipped-dim native PIP has no Python operator and no exchange
    but its one broadcast: the dim is the compiled clip exploded straight
    off the boundary scan (one call, inside the broadcast subtree), never
    grouped, and the probe side is a bare scan into the one
    BroadcastHashJoin, whose condition is the parity fold. The broadcast
    ships the cell, the id and the clip's bbin and ebin; p.edges, unpacked
    from ebin only where it is read, never runs."""
    pts, bnd = native_pip_inputs
    plan = _plan(spatial_join.broadcast_pip_join_native(pts, bnd, cell_prefilter_res=2))
    assert "Python" not in plan and "InArrow" not in plan and "InPandas" not in plan, plan
    assert "Aggregate" not in plan and "aggregate(" not in plan, plan
    _assert_compiled_fold(plan, ["_c.cell AS cell", "boundary_id"], packed="_c")
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange") == 1, plan
    assert f"{jvm.UNPACK_EDGES}(" not in plan, plan
    # the one clip call is in the broadcast (dim) subtree: toString
    # indents children, so it must appear AFTER the BroadcastExchange line
    assert plan.count(f"{jvm.CLIP_CELLS}(") == 1, plan
    assert plan.find(f"{jvm.CLIP_CELLS}(") > plan.find("BroadcastExchange"), plan


def test_one_row_dim_plan_is_one_broadcast_nested_loop_join(native_pip_inputs):
    """The native PIP without a prefilter pairs every point with every
    polygon's struct row in ONE broadcast nested-loop join whose condition
    is the parity fold: no aggregate gathers the polygons into one row,
    no Generate explodes the matches, and the only exchange is the
    broadcast."""
    pts, bnd = native_pip_inputs
    plan = _plan(spatial_join.broadcast_pip_join_native(pts, bnd))
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    _assert_compiled_fold(plan, ["boundary_id"])
    assert "aggregate(" not in plan and "Python" not in plan, plan
    assert "Aggregate" not in plan and "Generate" not in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "Exchange" not in plan.replace("BroadcastExchange", "BX"), plan


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
