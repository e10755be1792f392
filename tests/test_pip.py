import numpy as np

from wikibrain_spark.geo import pip

SQUARE_LAT = np.array([0.0, 0.0, 10.0, 10.0])
SQUARE_LON = np.array([0.0, 10.0, 10.0, 0.0])


def test_points_in_ring_square():
    lat = np.array([5.0, 15.0, -1.0, 5.0])
    lon = np.array([5.0, 5.0, 5.0, 15.0])
    got = pip.points_in_ring(lat, lon, SQUARE_LAT, SQUARE_LON)
    assert got.tolist() == [True, False, False, False]


def test_half_open_edge_rule_no_double_count():
    # two squares sharing the lon=10 edge: a point on the shared edge must be
    # in exactly one
    right_lat = SQUARE_LAT
    right_lon = SQUARE_LON + 10.0
    lat = np.array([5.0])
    lon = np.array([10.0])
    in_left = pip.points_in_ring(lat, lon, SQUARE_LAT, SQUARE_LON)
    in_right = pip.points_in_ring(lat, lon, right_lat, right_lon)
    assert int(in_left[0]) + int(in_right[0]) == 1


def test_concave_polygon():
    # C-shape: point in the notch is outside
    ring_lat = np.array([0.0, 0.0, 10.0, 10.0, 8.0, 8.0, 2.0, 2.0])
    ring_lon = np.array([0.0, 10.0, 10.0, 0.0, 0.0, 8.0, 8.0, 0.0])
    lat = np.array([5.0, 1.0, 9.0])
    lon = np.array([4.0, 5.0, 5.0])
    got = pip.points_in_ring(lat, lon, ring_lat, ring_lon)
    assert got.tolist() == [False, True, True]


def test_polygon_index_matches_bruteforce():
    rng = np.random.default_rng(7)
    polys = []
    for i in range(30):
        clat, clon = rng.uniform(-60, 60), rng.uniform(-170, 170)
        r = rng.uniform(0.5, 4.0)
        ang = np.linspace(0, 2 * np.pi, 8, endpoint=False)
        polys.append((i, clat + r * np.sin(ang), clon + r * np.cos(ang)))
    idx = pip.PolygonIndex([p[0] for p in polys], [p[1] for p in polys], [p[2] for p in polys], res=3)
    lat = rng.uniform(-65, 65, 2000)
    lon = rng.uniform(-175, 175, 2000)
    got_pt, got_poly = idx.query_batch(lat, lon)
    got = set(zip(got_pt.tolist(), got_poly.tolist()))
    want = set()
    for pid, rlat, rlon in polys:
        inside = pip.points_in_ring(lat, lon, rlat, rlon)
        for j in np.nonzero(inside)[0]:
            want.add((int(j), pid))
    assert got == want


def test_polygon_index_chunks_points_against_heavy_ring(monkeypatch):
    """query_batch hands crossing_parity at most PARITY_CELL_BUDGET
    point x edge cells per call (a whole batch against a 400k-vertex
    ring would allocate GBs), with the unchunked kernel's answer."""
    ang = np.linspace(0.0, 2 * np.pi, 3001)[:-1]
    r = 5.0 + 0.5 * np.sin(40 * ang)
    rlat, rlon = 10.0 + r * np.sin(ang), 20.0 + r * np.cos(ang)
    rng = np.random.default_rng(3)
    lat, lon = rng.uniform(4.0, 16.0, 700), rng.uniform(14.0, 26.0, 700)
    want = np.nonzero(pip.points_in_ring(lat, lon, rlat, rlon))[0]
    assert 0 < want.size < lat.size

    monkeypatch.setattr(pip, "PARITY_CELL_BUDGET", 300_000)
    cells_per_call = []
    real = pip.crossing_parity

    def spy(plat, plon, ring_lat, ring_lon):
        cells_per_call.append(len(plat) * len(ring_lat))
        return real(plat, plon, ring_lat, ring_lon)

    monkeypatch.setattr(pip, "crossing_parity", spy)
    got_pt, got_poly = pip.PolygonIndex([9], [rlat], [rlon], res=2).query_batch(lat, lon)
    assert len(cells_per_call) > 1 and max(cells_per_call) <= 300_000
    assert sorted(got_pt.tolist()) == want.tolist() and set(got_poly.tolist()) == {9}


# ------------------------------------------------- multipolygon / hole /
# antimeridian (round-4 verdict #1: the north rule's real OSM boundary shape)

def _rect(la0, la1, lo0, lo1, hole=False):
    return ([la0, la0, la1, la1], [lo0, lo1, lo1, lo0], hole)


def test_points_in_rings_donut_and_enclave():
    donut = [_rect(0.0, 50.0, 100.0, 160.0), _rect(10.0, 40.0, 110.0, 150.0, True)]
    lat = np.array([5.0, 20.0, 45.0, 20.0, 60.0])
    lon = np.array([130.0, 130.0, 130.0, 90.0, 130.0])
    # in ring, in hole (OUT), in ring above hole, west of outer, north of outer
    assert pip.points_in_rings(lat, lon, donut).tolist() == [True, False, True, False, False]
    # enclave polygon inside the hole is its own polygon and contains the point
    enclave = [_rect(15.0, 35.0, 115.0, 145.0)]
    assert pip.points_in_rings(np.array([20.0]), np.array([130.0]), enclave).tolist() == [True]


def test_points_in_rings_multipolygon_two_outers():
    mp = [_rect(-60.0, -20.0, -170.0, -150.0), _rect(-60.0, -20.0, 150.0, 170.0)]
    lat = np.array([-40.0, -40.0, -40.0])
    lon = np.array([-160.0, 160.0, 0.0])
    assert pip.points_in_rings(lat, lon, mp).tolist() == [True, True, False]


def test_dateline_crossing_ring():
    # lat [30,60] x lon [170, -170]: span > 180 -> unwrapped frame
    rlat = np.array([30.0, 30.0, 60.0, 60.0])
    rlon = np.array([170.0, -170.0, -170.0, 170.0])
    lat = np.array([45.0, 45.0, 45.0, 29.0, 45.0, 45.0])
    lon = np.array([175.0, -175.0, 0.0, 175.0, -170.0, 170.0])
    # half-open: lon=-170 (unwrapped 190) excluded, lon=170 included
    got = pip.points_in_ring(lat, lon, rlat, rlon)
    assert got.tolist() == [True, True, False, False, False, True]


def test_polygon_index_rings_form_with_wrap_and_holes():
    polys = [
        (3, [_rect(0.0, 50.0, 100.0, 160.0), _rect(10.0, 40.0, 110.0, 150.0, True)]),
        (6, [_rect(30.0, 60.0, 170.0, -170.0)]),
        (5, [_rect(-60.0, -20.0, -170.0, -150.0), _rect(-60.0, -20.0, 150.0, 170.0)]),
    ]
    idx = pip.PolygonIndex([p[0] for p in polys], rings=[p[1] for p in polys], res=3)
    rng = np.random.default_rng(3)
    lat = rng.uniform(-85, 85, 3000)
    lon = rng.uniform(-180, 180, 3000)
    got_pt, got_poly = idx.query_batch(lat, lon)
    got = set(zip(got_pt.tolist(), got_poly.tolist()))
    want = set()
    for pid, rings in polys:
        inside = pip.points_in_rings(lat, lon, rings)
        want |= {(int(j), pid) for j in np.nonzero(inside)[0]}
    assert got == want and want
    # the dateline polygon is bucketed on BOTH sides of ±180
    assert any(p == 6 for _, p in want)
    east = {j for j, p in want if p == 6 and lon[j] > 0}
    west = {j for j, p in want if p == 6 and lon[j] < 0}
    assert east and west


def test_dateline_sliver_seam_parity(spark):
    """A wrapped ring whose unwrapped lon_max lands just past +180 (in the
    grid's over-wide last cell) contains probe points that encode to
    lon_idx 0. The bucketed PolygonIndex, the native cover, and the
    one-row fold must all keep them (round-5 ADVICE seam fix)."""
    import pandas as pd
    from wikibrain_spark.operators import spatial_join

    # raw lons straddle ±180: unwrapped range [176, 180.2]
    rlat = [0.0, 0.0, 10.0, 10.0]
    rlon = [176.0, -179.8, -179.8, 176.0]
    assert pip.ring_wraps(np.array(rlon))
    lat = np.array([5.0, 5.0, 5.0])
    lon = np.array([-179.9, 179.0, -179.7])  # in-sliver, in-east, outside
    want_mask = pip.points_in_ring(lat, lon, np.array(rlat), np.array(rlon))
    assert want_mask.tolist() == [True, True, False]
    idx = pip.PolygonIndex([1], rings=[[(rlat, rlon, False)]], res=3)
    got_pt, _ = idx.query_batch(lat, lon)
    assert set(got_pt.tolist()) == {0, 1}
    bdf = spark.createDataFrame(
        [(1, [{"ring_lat": rlat, "ring_lon": rlon, "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    pdf = spark.createDataFrame(pd.DataFrame(
        {"image_id": ["a", "b", "c"], "lat": lat, "lon": lon}))
    for fn in (
        lambda: spatial_join.broadcast_pip_join_native(pdf, bdf),
        lambda: spatial_join.broadcast_pip_join_native(pdf, bdf, cell_prefilter_res=3),
        lambda: spatial_join.broadcast_pip_join(pdf, bdf),
        lambda: spatial_join.shuffle_pip_join(pdf, bdf, res=3),
    ):
        got = [r["image_id"] for r in fn().collect()]
        assert sorted(got) == ["a", "b"]


def test_pole_enclosing_ring_with_closure_edges():
    """Antarctica-style ring: coast at lat -70 plus the standard
    OSM/GeoJSON pole-closure edges (down to -90 at ±180). Such a ring
    spans the full longitude range in BOTH frames, so ring_wraps must NOT
    unwrap it — raw plate-carrée even-odd handles it exactly."""
    lons = np.linspace(-180, 180, 73)
    ring_lon = np.concatenate([lons, [180.0, -180.0]])
    ring_lat = np.concatenate([np.full(73, -70.0), [-90.0, -90.0]])
    assert not pip.ring_wraps(ring_lon)
    lat = np.array([-80.0, -85.0, -60.0, 0.0, -89.9])
    lon = np.array([0.0, 150.0, 0.0, 0.0, -179.0])
    got = pip.points_in_ring(lat, lon, ring_lat, ring_lon)
    assert got.tolist() == [True, True, False, False, True]
    # a Fiji-style ring still unwraps
    assert pip.ring_wraps(np.array([170.0, -170.0, -170.0, 170.0]))


def test_pole_ring_native_parity(spark):
    """The native path agrees with the NumPy kernel on the
    pole-enclosing ring (its _ring_wraps_col must also keep the raw frame)."""
    import pandas as pd
    from wikibrain_spark.operators import spatial_join

    lons = np.linspace(-180, 180, 37)
    ring_lon = np.concatenate([lons, [180.0, -180.0]]).tolist()
    ring_lat = np.concatenate([np.full(37, -70.0), [-90.0, -90.0]]).tolist()
    bdf = spark.createDataFrame(
        [(1, [{"ring_lat": ring_lat, "ring_lon": ring_lon, "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    rng = np.random.default_rng(2)
    n = 1500
    pts = pd.DataFrame({
        "image_id": [f"p{i}" for i in range(n)],
        "lat": rng.uniform(-90, 0, n), "lon": rng.uniform(-180, 180, n)})
    pdf = spark.createDataFrame(pts)
    want = {
        pts["image_id"][i]
        for i in np.nonzero(pip.points_in_rings(
            pts["lat"].to_numpy(), pts["lon"].to_numpy(),
            [(ring_lat, ring_lon)]))[0]
    }
    for fn in (
        lambda: spatial_join.broadcast_pip_join_native(pdf, bdf),
        # clipped dim (round 6): the pole ring stays in the RAW frame and
        # its closure edges at ±180 must clip per cell without tearing
        lambda: spatial_join.broadcast_pip_join_native(pdf, bdf, cell_prefilter_res=2),
        lambda: spatial_join.broadcast_pip_join_native(pdf, bdf, cell_prefilter_res=1),
        lambda: spatial_join.broadcast_pip_join(pdf, bdf),
        # the SHUFFLE dim: Sutherland-Hodgman pieces of the pole-closure
        # edges, at two resolutions
        lambda: spatial_join.shuffle_pip_join(
            pdf, bdf, res=2, hot_cell_threshold=100, n_salt=4,
            hotness_sample_fraction=1.0),
        lambda: spatial_join.shuffle_pip_join(
            pdf, bdf, res=1, hot_cell_threshold=100, n_salt=4,
            hotness_sample_fraction=1.0),
    ):
        got = [r["image_id"] for r in fn().collect()]
        assert len(got) == len(set(got))
        assert set(got) == want and want


def test_polygon_area_matches_analytic_band_areas(spark):
    """polygon_area_km2 (round 6): the spherical-band ring sum is EXACT
    for constant-latitude bands, so rectangle / donut / dateline /
    pole-cap fixtures pin against closed-form areas at machine
    precision; holes subtract."""
    import math

    from wikibrain_spark.geo.geodesic import EARTH_RADIUS_KM as R
    from wikibrain_spark.operators import spatial_join

    lons = [float(-180 + 5 * i) for i in range(73)]
    rows = [
        (1, [([0.0, 0.0, 30.0, 30.0], [-20.0, 40.0, 40.0, -20.0], False)]),
        (2, [([0.0, 0.0, 50.0, 50.0], [100.0, 160.0, 160.0, 100.0], False),
             ([10.0, 10.0, 40.0, 40.0], [110.0, 150.0, 150.0, 110.0], True)]),
        (3, [([30.0, 30.0, 60.0, 60.0], [170.0, -170.0, -170.0, 170.0], False)]),
        (4, [([-70.0] * 73 + [-90.0, -90.0], lons + [180.0, -180.0], False)]),
    ]
    bdf = spark.createDataFrame(rows, f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    got = {r["boundary_id"]: r["area_km2"]
           for r in spatial_join.polygon_area_km2(bdf).collect()}

    def band(la0, la1, dlon_deg):
        return R * R * math.radians(dlon_deg) * (
            math.sin(math.radians(la1)) - math.sin(math.radians(la0)))

    want = {
        1: band(0, 30, 60),
        2: band(0, 50, 60) - band(10, 40, 40),
        3: band(30, 60, 20),
        4: 2 * math.pi * R * R * (1 - math.sin(math.radians(70))),
    }
    for k, w in want.items():
        assert abs(got[k] - w) / w < 1e-12, (k, got[k], w)
