"""Round-7 pins for the round-6 ADVICE/verdict hygiene items:

- three-way (NumPy / Column / SQL) parent-rollup parity, including cells
  whose centers sit exactly at parent-cell boundaries (the ulp trap the
  identical-arithmetic-form fix in geo/cells.py closes);
- the clipped cover is a provable SUBSET of the bbox cover the shuffle
  semi-filter broadcasts, including the lon_max == +180 seam ring;
- _COVER_STATS_CACHE is LRU-bounded with an explicit clear hook;
- _shuffle_partitions falls back to defaultParallelism when the conf is
  non-numeric ("auto" on AQE-managed deployments);
- drop_table enforces the same _SAFE_NAME contract as save_table;
- shuffle_pip_join's res=None reads the same decision as
  auto_prefilter and plans the same clipped dim.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikibrain_spark.geo import cells, clip
from wikibrain_spark.operators import spatial_join
from wikibrain_spark.sources import catalog, synthetic


def _three_way_parents(spark, child_ids: np.ndarray, parent_res: int, child_res: int):
    np_par = cells.hexlite_parent(child_ids, parent_res)
    pdf = pd.DataFrame({"c": child_ids})
    col_par = (
        spark.createDataFrame(pdf)
        .select(cells.hexlite_parent_col(F.col("c"), parent_res, child_res).alias("p"))
        .toPandas()["p"]
        .to_numpy()
    )
    con = duckdb.connect()
    con.register("t", pdf)
    sql_par = (
        con.sql(f"select {cells.hexlite_parent_sql('c', parent_res, child_res)} as p from t")
        .df()["p"]
        .to_numpy()
    )
    return np_par, col_par, sql_par


@pytest.mark.parametrize("child_res,parent_res", [(7, 3), (9, 4), (5, 1), (4, 2)])
def test_hexlite_parent_three_way_parity_random(spark, child_res, parent_res):
    rng = np.random.default_rng(7)
    lats = rng.uniform(-89.9, 89.9, 2000)
    lons = rng.uniform(-180.0, 180.0, 2000)
    child = cells.hexlite_cell(lats, lons, child_res)
    np_par, col_par, sql_par = _three_way_parents(spark, child, parent_res, child_res)
    assert np.array_equal(np_par, col_par)
    assert np.array_equal(np_par, sql_par)


@pytest.mark.parametrize("child_res,parent_res", [(3, 1), (2, 0)])
def test_hexlite_parent_three_way_parity_exhaustive(spark, child_res, parent_res):
    """EVERY child cell at the resolution — no boundary cell escapes.

    The odd-resolution steps (sqrt7 ladder) make child centers land
    arbitrarily close to parent-cell boundaries; a different-but-equal
    arithmetic form for the center can floor to a different parent
    exactly there (round-6 ADVICE item 4)."""
    n_lat, n_lon = cells.hexlite_dims(child_res)
    lat_idx, lon_idx = np.meshgrid(
        np.arange(n_lat, dtype=np.int64), np.arange(n_lon, dtype=np.int64), indexing="ij"
    )
    hdr = (np.int64(cells.HEXLITE_MODE) << 60) | (np.int64(child_res) << 56)
    child = (hdr | (lat_idx.ravel() << 28) | lon_idx.ravel()).astype(np.int64)
    np_par, col_par, sql_par = _three_way_parents(spark, child, parent_res, child_res)
    assert np.array_equal(np_par, col_par)
    assert np.array_equal(np_par, sql_par)


def _ring_bbox_cover(rings: list, res: int) -> set:
    """The bbox cover the shuffle semi-filter broadcasts: per ring, the
    hexlite_cover_bbox of its unwrapped extent."""
    from wikibrain_spark.geo import pip

    out: set = set()
    for la, lo in rings:
        la = np.asarray(la, dtype=np.float64)
        lo = np.asarray(lo, dtype=np.float64)
        xs = pip.unwrap_lon(lo) if pip.ring_wraps(lo) else lo
        out |= set(
            cells.hexlite_cover_bbox(
                float(la.min()), float(la.max()), float(xs.min()), float(xs.max()), res
            ).tolist()
        )
    return out


@pytest.mark.parametrize("res", [1, 2, 3])
def test_clipped_cover_subset_of_bbox_cover(res):
    """clipped_cell_cover must never emit a cell the semi-filter's bbox
    cover would drop — including the lon_max == +180 seam ring (round-6
    ADVICE item 5: the old non-wrapped branch skipped branch B there)
    and a dateline-wrapping ring at an odd (non-integral 360/step)
    resolution."""
    ring_sets = {
        "plain": [([10.0, 10.0, 35.0, 35.0], [-40.0, 5.0, 5.0, -40.0])],
        "seam_180": [([-20.0, -20.0, 12.0, 12.0], [150.0, 180.0, 180.0, 150.0])],
        "dateline": [([-5.0, -5.0, 20.0, 20.0], [170.0, -165.0, -165.0, 170.0])],
        "donut": [
            ([0.0, 0.0, 30.0, 30.0], [0.0, 40.0, 40.0, 0.0]),
            ([10.0, 10.0, 20.0, 20.0], [10.0, 30.0, 30.0, 10.0]),
        ],
    }
    for name, rings in ring_sets.items():
        got = set(clip.clipped_cell_cover(rings, res).keys())
        bbox = _ring_bbox_cover(rings, res)
        assert got, f"{name}: clipped cover empty"
        assert got <= bbox, (
            f"{name}@res{res}: clipped cover emits cells outside the "
            f"semi-filter bbox cover: {sorted(got - bbox)[:5]}"
        )


def _tiny_boundary(spark, lon0: float):
    return spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 5.0, 5.0],
               "ring_lon": [lon0, lon0 + 5.0, lon0 + 5.0, lon0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )


def test_cover_stats_cache_lru_bound_and_clear(spark, monkeypatch):
    monkeypatch.setattr(spatial_join, "_COVER_STATS_CACHE_MAX", 2)
    spatial_join.clear_cover_stats_cache()
    frames = [_tiny_boundary(spark, lon0) for lon0 in (-40.0, 0.0, 40.0)]
    keys = [f.semanticHash() for f in frames]
    assert len(set(keys)) == 3, "fixture frames must hash distinctly"
    for f in frames:
        spatial_join._cover_stats(f)
    assert len(spatial_join._COVER_STATS_CACHE) == 2
    assert keys[0] not in spatial_join._COVER_STATS_CACHE  # LRU evicted
    assert keys[2] in spatial_join._COVER_STATS_CACHE
    # re-touching an entry refreshes recency before the next insert
    spatial_join._cover_stats(frames[1])
    spatial_join._cover_stats(frames[0])
    assert keys[1] in spatial_join._COVER_STATS_CACHE
    assert keys[2] not in spatial_join._COVER_STATS_CACHE
    spatial_join.clear_cover_stats_cache()
    assert not spatial_join._COVER_STATS_CACHE


def test_shuffle_partitions_fallback_on_non_numeric_conf(spark):
    assert spatial_join._shuffle_partitions(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )

    # vanilla Spark validates the conf as int at set() time, so the
    # "auto" spelling (AQE-managed deployments, e.g. Databricks) can't
    # be injected into a live session — exercise the fallback through a
    # stub with the same attribute shape instead
    class _Conf:
        def get(self, key):
            assert key == "spark.sql.shuffle.partitions"
            return "auto"

    class _SC:
        defaultParallelism = 12

    class _Stub:
        conf = _Conf()
        sparkContext = _SC()

    assert spatial_join._shuffle_partitions(_Stub()) == 12


def test_drop_table_rejects_unsafe_name(spark):
    for bad in ("x; DROP TABLE y", "a b", "t`x", ""):
        with pytest.raises(ValueError):
            catalog.drop_table(spark, bad)


def test_shuffle_clip_cover_auto_matches_prefilter_decision(spark):
    """shuffle_pip_join's "auto" decision (res=None) and
    broadcast_pip_join_native's cell_prefilter_res="auto" plan the
    same dim: auto_prefilter's res, clipped, on a 4-vertex rectangle and
    on the 12k-edge coastline alike."""
    import re

    coast = synthetic.generate_coastlines()
    cdf = spark.createDataFrame(
        [(int(r["boundary_id"]),
          [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
         for _, r in coast.iterrows()],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )
    pts = spark.createDataFrame([("a", 1.0, 2.0)], "image_id string, lat double, lon double")
    for bdf in (_tiny_boundary(spark, -20.0), cdf):
        res, clip = spatial_join.auto_prefilter(bdf)
        assert clip
        plans = [
            f._jdf.queryExecution().executedPlan().toString() for f in (
                spatial_join.shuffle_pip_join(pts, bdf),
                spatial_join.broadcast_pip_join_native(pts, bdf, cell_prefilter_res="auto"))
        ]
        for plan in plans:
            assert re.findall(r"wb_clip_cells\(rings#\d+, (\d+),", plan) == [str(res)], plan


def test_pole_closure_perimeter_convention_pinned(spark):
    """COVERAGE.md delta 5 (round-6 verdict item 4, adjudicated DOCUMENT):
    polygon_perimeter_km counts an OSM/GeoJSON pole-closure ring's
    synthetic meridian segments as boundary — perimeter of a lat -70
    Antarctica-style cap = coast length + EXACTLY two 20-degree meridian
    legs (the lat -90 seam edge is zero-length under haversine:
    cos(-90) = 0 kills the dlon term). polygon_area_km2 must stay
    closure-edge-free (spherical-band weight 2 + sin(-90) + sin(-90) = 0
    exactly on the seam edge; meridian legs have dlon = 0)."""
    from wikibrain_spark.geo.geodesic import EARTH_RADIUS_KM, haversine_km

    lons = np.linspace(-180, 180, 73)
    ring_lon = np.concatenate([lons, [180.0, -180.0]]).tolist()
    ring_lat = np.concatenate([np.full(73, -70.0), [-90.0, -90.0]]).tolist()
    bdf = spark.createDataFrame(
        [(1, [{"ring_lat": ring_lat, "ring_lon": ring_lon, "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )
    got_p = spatial_join.polygon_perimeter_km(bdf).collect()[0]["perimeter_km"]
    coast = float(
        haversine_km(
            np.full(72, -70.0), lons[:-1], np.full(72, -70.0), lons[1:]
        ).sum()
    )
    meridian_leg = EARTH_RADIUS_KM * np.radians(20.0)
    assert got_p == pytest.approx(coast + 2.0 * meridian_leg, rel=1e-12)
    assert 2.0 * meridian_leg == pytest.approx(4448.0, abs=5.0)  # the phantom km

    # area is exact for the cap despite the closure edges: 2*pi*R^2*(1+sin(-70))
    got_a = spatial_join.polygon_area_km2(bdf).collect()[0]["area_km2"]
    want_a = 2.0 * np.pi * EARTH_RADIUS_KM**2 * (1.0 + np.sin(np.radians(-70.0)))
    assert got_a == pytest.approx(want_a, rel=1e-12)


def test_flagship_auto_prefilter_plan_identity(spark, tmp_path):
    """Round-6 verdict item 5: tile_assignments defaults to
    native_prefilter_res="auto". The gate-carrier bench row stays
    measurable only if the auto decision on the flagship fixture is
    STABLE — pin it (res 4, clipped), and pin that the auto default
    stays row-identical to the fixed res 3 on the e2e fixture."""
    paths = synthetic.materialize(str(tmp_path / "wbs"), 200)
    images = spark.read.parquet(paths["images"])
    bdf = spark.read.parquet(paths["boundaries"])
    assert spatial_join.auto_prefilter(bdf) == (4, True), (
        "flagship fixture auto decision drifted — the bench gate-carrier "
        "plan changed; re-adjudicate BENCH/NOTES before accepting"
    )
    auto_rows = spatial_join.tile_assignments(
        images, bdf, res=9, strategy="native"
    ).collect()
    fixed_rows = spatial_join.tile_assignments(
        images, bdf, res=9, strategy="native", native_prefilter_res=3
    ).collect()
    key = lambda r: (r["image_id"], r["boundary_id"])
    assert sorted(auto_rows, key=key) == sorted(fixed_rows, key=key)
    assert len(auto_rows) > 0


def test_megacoast_fixture_invariants():
    """600k-vertex stress fixture (round-6 verdict item 2): seeded,
    simple-by-construction rings; hole nested inside the continent by
    the _coast_ring radial bounds; the shelf ring genuinely crosses the
    dateline (wide raw, narrow unwrapped)."""
    from wikibrain_spark.geo import pip

    mega = synthetic.generate_megacoast()
    n_verts = sum(
        len(rr["ring_lat"]) for _, r in mega.iterrows() for rr in r["rings"]
    )
    assert n_verts == 600_000
    outer, hole = mega.iloc[0]["rings"]
    ro = np.hypot(np.asarray(outer["ring_lat"]) - 20.0,
                  np.asarray(outer["ring_lon"]) + 40.0)
    rh = np.hypot(np.asarray(hole["ring_lat"]) - 20.0,
                  np.asarray(hole["ring_lon"]) + 40.0)
    assert ro.min() > rh.max()  # hole strictly nested
    assert pip.ring_wraps(np.asarray(mega.iloc[1]["rings"][0]["ring_lon"]))
    # deterministic across calls
    again = synthetic.generate_megacoast()
    np.testing.assert_array_equal(
        np.asarray(mega.iloc[0]["rings"][0]["ring_lat"]),
        np.asarray(again.iloc[0]["rings"][0]["ring_lat"]),
    )


def test_megacoast_strategies_match_numpy_kernel(spark, tmp_path):
    """Both statistics-driven physical strategies (clip-to-cell shuffle;
    clipped-dim prefiltered native) agree with the reference
    NumPy crossing-parity kernel on the 600k-vertex fixture — the
    order-of-magnitude transport/refine parity pin the 12k coastline
    could not give. Probes concentrate near both boundaries (including
    hole interior and dateline seam) so every code path sees hits."""
    from wikibrain_spark.geo import pip

    mega = synthetic.generate_megacoast()
    pq = str(tmp_path / "mega_bnd.parquet")
    mega.to_parquet(pq, index=False)
    bdf = spark.read.parquet(pq)

    rng = np.random.default_rng(11)
    lat = np.concatenate([
        rng.uniform(-35.0, 75.0, 40),    # continent box (incl. hole region)
        rng.uniform(-30.0, 10.0, 20),    # dateline shelf box
    ])
    shelf_lon = rng.uniform(155.0, 205.0, 20)
    lon = np.concatenate([
        rng.uniform(-95.0, 35.0, 40),
        np.where(shelf_lon >= 180.0, shelf_lon - 360.0, shelf_lon),
    ])
    pts = pd.DataFrame({
        "image_id": [f"m{i}" for i in range(lat.size)], "lat": lat, "lon": lon
    })
    pdf = spark.createDataFrame(pts)

    want = set()
    for _, r in mega.iterrows():
        inside = pip.points_in_rings(
            lat, lon, [(rr["ring_lat"], rr["ring_lon"]) for rr in r["rings"]]
        )
        want |= {(pts["image_id"].iloc[i], int(r["boundary_id"]))
                 for i in np.flatnonzero(inside)}
    assert want, "probe set must produce hits"

    for name, fn in {
        "shuffle": lambda: spatial_join.shuffle_pip_join(
            pdf, bdf, hot_cell_threshold=2000, n_salt=4),
        "native_auto": lambda: spatial_join.broadcast_pip_join_native(
            pdf, bdf, cell_prefilter_res="auto"),
    }.items():
        got = {(r["image_id"], r["boundary_id"]) for r in fn().collect()}
        assert got == want, f"{name} diverges from NumPy kernel on megacoast"


def test_vertex_heavy_auto_res_relaxation(spark, tmp_path):
    """Round-7: a 600k-vertex snapshot earns a finer cover (the refine's
    per-point cost is edges-per-boundary-cell, falling ~2.6x per res
    step) — megacoast resolves to (2, clipped), one step finer than the
    strict mean gate allows, while low-vertex snapshots keep the strict
    gate (coastline stays (2, clipped), POLYS-sized rects stay coarse)."""
    mega = synthetic.generate_megacoast()
    pq = str(tmp_path / "mega.parquet")
    mega.to_parquet(pq, index=False)
    mdf = spark.read.parquet(pq)
    assert spatial_join.auto_prefilter(mdf) == (2, True)
    # strict gate would have stopped at res 1 for these spans
    s = spatial_join._cover_stats(mdf)
    step2 = cells.hexlite_step(2)
    mean_cover_r2 = (s["sum_ab"] / s["n_outer"]) / step2**2 + (
        s["sum_absum"] / s["n_outer"]
    ) / step2 + 1.0
    assert mean_cover_r2 > 1024.0  # relaxation is what admitted res 2
    assert s["s_e_n"] / s["n_outer"] > 10_000.0  # and vertex weight earned it
