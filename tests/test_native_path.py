"""The fully-JVM flagship path (compiled binary f64 parse + compiled
even-odd PIP) must agree exactly with the fused Python path."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from scripts.driver_split import count_py4j_calls
from wikibrain_spark import codecs, jvm
from wikibrain_spark.functions import binparse
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
        spatial_join.shuffle_pip_join(pts, boundaries, res=2, clip_cover=False)


def test_native_pip_matches_kernel_path(spark, paths):
    images = spark.read.parquet(paths["images"])
    boundaries = spark.read.parquet(paths["boundaries"])
    native = spatial_join.tile_assignments(images, boundaries, res=9, strategy="native")
    python_path = spatial_join.tile_assignments(images, boundaries, res=9, strategy="fused")
    a = native.toPandas().sort_values(["image_id", "boundary_id"]).reset_index(drop=True)
    b = python_path.toPandas().sort_values(["image_id", "boundary_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


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
# (statistics pass + tile_assignments): measured 563 on local[4], with
# each pure Column expression built once per JVM (session.expr_once); the
# per-call builds made about 4,600. The bound leaves ~1.5x headroom.
PY4J_BUDGET = 850


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
