"""End-to-end: images parquet -> geotag UDF -> PIP join -> tile assignments,
checked row-for-row against the pure-Python oracle (FIXTURES.md §6)."""

import numpy as np
import pandas as pd
import pytest

from wikibrain_spark.operators import geotag, spatial_join
from wikibrain_spark.sources import synthetic

N_IMAGES = 400


@pytest.fixture(scope="module")
def paths(tmp_path_factory):
    return synthetic.materialize(str(tmp_path_factory.mktemp("wbs")), N_IMAGES)


@pytest.fixture(scope="module")
def images(spark, paths):
    return spark.read.parquet(paths["images"])


@pytest.fixture(scope="module")
def boundaries(spark, paths):
    return spark.read.parquet(paths["boundaries"])


def test_geotag_matches_embedded_truth(spark, paths, images):
    got = geotag.extract_geotags(images).toPandas().sort_values("image_id").reset_index(drop=True)
    want = pd.read_parquet(paths["expected_geotags"]).sort_values("image_id").reset_index(drop=True)
    assert len(got) == N_IMAGES
    assert got["image_id"].tolist() == want["image_id"].tolist()
    np.testing.assert_allclose(got["lat"], want["lat"], rtol=0, atol=0)  # exact
    np.testing.assert_allclose(got["lon"], want["lon"], rtol=0, atol=0)
    # cells consistent with the NumPy kernel
    from wikibrain_spark.geo import cells

    for r in (7, 9, 11):
        np.testing.assert_array_equal(
            got[f"cell_r{r}"].to_numpy(),
            cells.hexlite_cell(want["lat"].to_numpy(), want["lon"].to_numpy(), r),
        )
    assert got["s2_cell"].nunique() > 1


def _tiles_df(df):
    return (
        df.toPandas()[["image_id", "cell_r9", "boundary_id", "qid"]]
        .sort_values(["image_id", "boundary_id"])
        .reset_index(drop=True)
    )


def test_broadcast_tiles_match_oracle(spark, paths, images, boundaries):
    pts = geotag.extract_geotags(images, with_s2=False)
    got = _tiles_df(spatial_join.tile_assignments(pts, boundaries, strategy="broadcast"))
    want = pd.read_parquet(paths["expected_tiles"])
    pd.testing.assert_frame_equal(got, want.astype({"cell_r9": "int64"}), check_dtype=False)
    assert len(got) > 0


def test_shuffle_join_matches_broadcast(spark, paths, images, boundaries):
    pts = geotag.extract_geotags(images, with_s2=False)
    b = spatial_join.broadcast_pip_join(pts, boundaries).select("image_id", "boundary_id")
    s = spatial_join.shuffle_pip_join(pts, boundaries).select("image_id", "boundary_id")
    bp = b.toPandas().sort_values(["image_id", "boundary_id"]).reset_index(drop=True)
    sp = s.toPandas().sort_values(["image_id", "boundary_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(bp, sp)


def test_shuffle_join_salting_path(spark, paths, images, boundaries):
    # force every cell hot so the salted path actually executes
    pts = geotag.extract_geotags(images, with_s2=False)
    s = spatial_join.shuffle_pip_join(pts, boundaries, hot_cell_threshold=0, n_salt=4)
    b = spatial_join.broadcast_pip_join(pts, boundaries)
    assert sorted(map(tuple, s.select("image_id", "boundary_id").collect())) == sorted(
        map(tuple, b.select("image_id", "boundary_id").collect())
    )


def test_decode_stats_invariants(spark, images):
    stats = geotag.decode_stats(images).toPandas()
    assert len(stats) == N_IMAGES
    lossy = stats[stats["fmt"] == "dctq"]
    assert (lossy["psnr_db"] >= 40.0).all()  # BASELINE.json per-row invariant
    lossless = stats[stats["fmt"] != "dctq"]
    assert np.isinf(lossless["psnr_db"]).all()


def test_phash_recomputation_matches_for_lossless(spark, images):
    stats = geotag.decode_stats(images).toPandas().set_index("image_id")
    orig = images.select("image_id", "fmt", "phash").toPandas().set_index("image_id")
    joined = orig.join(stats[["phash_check"]])
    lossless = joined[joined["fmt"] != "dctq"]
    assert (lossless["phash"] == lossless["phash_check"]).all()


def test_image_features_shape(spark, images):
    feats = geotag.image_features(images.limit(20)).toPandas()
    assert len(feats) == 20
    assert all(len(f) == 8 * 8 * 3 for f in feats["feature"])


def test_complex_boundaries_exercised_in_flagship(spark, paths, boundaries):
    """The generator's complex-geometry fixtures (donut 8, enclave 9,
    multipolygon 10, dateline 11) are present, and flagship images really
    land in ring/enclave/multipolygon regions — so every strategy-parity
    test above exercises holes and multi-outer parity, not just simple
    rings (round-4 verdict #1)."""
    want = pd.read_parquet(paths["expected_tiles"])
    per = want.groupby("boundary_id").size()
    assert per.get(8, 0) > 0, "no images in the donut ring"
    assert per.get(9, 0) > 0, "no images in the enclave"
    assert per.get(10, 0) > 0, "no images in the multipolygon"
    assert per.get(11, 0) == 0, "dateline polygon has no image cluster"
    # every enclave image is inside the donut's hole -> NOT matched to 8
    in_encl = set(want.loc[want["boundary_id"] == 9, "image_id"])
    in_donut = set(want.loc[want["boundary_id"] == 8, "image_id"])
    assert not (in_encl & in_donut), "hole parity violated: image in both donut and enclave"
    # dateline polygon is in the table with a wrap-spanning ring
    mer = boundaries.where("boundary_id = 11").collect()[0]["rings"][0]
    lons = np.asarray(mer["ring_lon"])
    assert lons.max() - lons.min() > 180.0


def test_all_strategies_match_numpy_oracle_on_complex_fixture(spark):
    """All four PIP strategies return identical pairs on a fixture with a
    donut, an enclave in its hole, a two-outer multipolygon, and a
    dateline-crossing polygon — pinned against the NumPy kernel oracle."""
    from wikibrain_spark.geo import pip

    def rect(la0, la1, lo0, lo1, hole=False):
        return {"ring_lat": [la0, la0, la1, la1],
                "ring_lon": [lo0, lo1, lo1, lo0], "is_hole": hole}

    rows = [
        (3, [rect(0.0, 50.0, 100.0, 160.0), rect(10.0, 40.0, 110.0, 150.0, True)]),
        (4, [rect(15.0, 35.0, 115.0, 145.0)]),
        (5, [rect(-60.0, -20.0, -170.0, -150.0), rect(-60.0, -20.0, 150.0, 170.0)]),
        (6, [rect(30.0, 60.0, 170.0, -170.0)]),
    ]
    bdf = spark.createDataFrame(rows, f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    rng = np.random.default_rng(9)
    n = 2500
    pts = pd.DataFrame({
        "image_id": [f"p{i}" for i in range(n)],
        "lat": rng.uniform(-85, 85, n), "lon": rng.uniform(-180, 180, n)})
    pdf = spark.createDataFrame(pts)

    idx = pip.PolygonIndex(
        [r[0] for r in rows],
        rings=[[(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r[1]] for r in rows],
        res=3)
    pt, poly = idx.query_batch(pts["lat"].to_numpy(), pts["lon"].to_numpy())
    want = set(zip(pts["image_id"].to_numpy()[pt], poly.tolist()))
    assert {p for _, p in want} == {3, 4, 5, 6}  # every fixture case fires

    strategies = {
        "broadcast": lambda: spatial_join.broadcast_pip_join(pdf, bdf),
        "native": lambda: spatial_join.broadcast_pip_join_native(pdf, bdf),
        "native_prefilter": lambda: spatial_join.broadcast_pip_join_native(
            pdf, bdf, cell_prefilter_res=3),
        # clipped dim: per-cell LOCAL geometry through the same native
        # fold (round 6) — donut/enclave/dateline parity must survive
        # Sutherland-Hodgman fragmentation
        "native_prefilter_clipped": lambda: spatial_join.broadcast_pip_join_native(
            pdf, bdf, cell_prefilter_res=3, clip_dim=True),
        "shuffle_salted": lambda: spatial_join.shuffle_pip_join(
            pdf, bdf, hot_cell_threshold=100, n_salt=4, hotness_sample_fraction=1.0),
    }
    for name, fn in strategies.items():
        pairs = [(r["image_id"], r["boundary_id"]) for r in fn().collect()]
        assert len(pairs) == len(set(pairs)), f"{name} emits duplicate pairs"
        assert set(pairs) == want, f"{name} diverges from NumPy oracle"


def test_all_strategies_match_numpy_oracle_on_coastline_fixture(spark):
    """All four PIP strategies return identical pairs on the HIGH-VERTEX
    coastline fixture (~12k edges: 4k-vertex outer + 2k-vertex hole,
    3k-vertex dateline ring, two 1.5k-vertex components) — vertex count
    is the variable real OSM boundaries stress that the <=40-vertex
    fixtures never did (round-5 verdict #2). Oracle is the NumPy kernel."""
    from wikibrain_spark.geo import pip

    coast = synthetic.generate_coastlines()
    assert sum(
        len(rr["ring_lat"]) for _, r in coast.iterrows() for rr in r["rings"]
    ) >= 10_000
    bdf = spark.createDataFrame(
        [
            (int(r["boundary_id"]),
             [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
            for _, r in coast.iterrows()
        ],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )
    rng = np.random.default_rng(11)
    n = 2500
    # half global scatter, half concentrated on the fixture regions so the
    # hole/dateline/components branches all fire with real hit counts
    pts = pd.DataFrame({
        "image_id": [f"p{i}" for i in range(n)],
        "lat": np.concatenate([
            rng.uniform(-85, 85, n // 2),
            rng.uniform(-45, 45, n - n // 2)]),
        "lon": np.concatenate([
            rng.uniform(-180, 180, n // 2),
            np.where(rng.random(n - n // 2) < 0.5,
                     rng.uniform(30, 90, n - n // 2),
                     rng.uniform(160, 180, n - n // 2) * rng.choice([1.0, -1.0], n - n // 2))]),
    })
    pdf = spark.createDataFrame(pts)

    want = set()
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    for _, r in coast.iterrows():
        rings = [(rr["ring_lat"], rr["ring_lon"]) for rr in r["rings"]]
        inside = pip.points_in_rings(lat, lon, rings)
        want |= set(zip(pts["image_id"].to_numpy()[inside],
                        [int(r["boundary_id"])] * int(inside.sum())))
    assert {p for _, p in want} == {30, 31, 32}  # every component fires

    strategies = {
        "broadcast": lambda: spatial_join.broadcast_pip_join(pdf, bdf),
        "native": lambda: spatial_join.broadcast_pip_join_native(pdf, bdf),
        # the unclipped prefiltered fold visits each candidate's FULL
        # edge list, so vertex-heavy polygons at fine res belong to the
        # clipped dims; this pins that the unclipped native path stays
        # CORRECT on them at a coarse res.
        "native_prefilter": lambda: spatial_join.broadcast_pip_join_native(
            pdf, bdf, cell_prefilter_res=0),
        # the round-6 fix for exactly that limitation: clip_dim carries
        # only each cell's LOCAL edge subset, so the vertex-heavy set
        # runs at res 2 with a megabyte-scale dim instead of res 0
        "native_prefilter_clipped": lambda: spatial_join.broadcast_pip_join_native(
            pdf, bdf, cell_prefilter_res=2, clip_dim=True),
        "shuffle_salted": lambda: spatial_join.shuffle_pip_join(
            pdf, bdf, hot_cell_threshold=200, n_salt=4, hotness_sample_fraction=1.0),
        # clip_cover=False ships full geometry once per covered cell —
        # the transport-heavy fallback must stay output-identical
        "shuffle_unclipped": lambda: spatial_join.shuffle_pip_join(
            pdf, bdf, res=2, hot_cell_threshold=200, n_salt=4,
            hotness_sample_fraction=1.0, clip_cover=False),
    }
    for name, fn in strategies.items():
        pairs = [(r["image_id"], r["boundary_id"]) for r in fn().collect()]
        assert len(pairs) == len(set(pairs)), f"{name} emits duplicate pairs"
        assert set(pairs) == want, f"{name} diverges from NumPy oracle on coastline"


def test_auto_prefilter_picks_clip_for_vertex_heavy_dims(spark):
    """auto_prefilter: the physical-strategy chooser plans the clipped
    O(vertices + cells) dim for low-vertex and vertex-heavy polygon sets
    alike, at a resolution of at least 1 for both — and
    cell_prefilter_res="auto" stays row-identical to the reference
    kernel on the vertex-heavy coastline."""
    from wikibrain_spark.geo import pip

    low = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 30.0, 30.0],
               "ring_lon": [-20.0, 40.0, 40.0, -20.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    res_low, clip_low = spatial_join.auto_prefilter(low)
    assert clip_low and res_low >= 1

    coast = synthetic.generate_coastlines()
    cdf = spark.createDataFrame(
        [(int(r["boundary_id"]),
          [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
         for _, r in coast.iterrows()],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    res_c, clip_c = spatial_join.auto_prefilter(cdf)
    assert clip_c and res_c >= 1

    rng = np.random.default_rng(5)
    pts = pd.DataFrame({
        "image_id": [f"p{i}" for i in range(800)],
        "lat": rng.uniform(-85, 85, 800), "lon": rng.uniform(-180, 180, 800)})
    pdf = spark.createDataFrame(pts)
    want = set()
    for _, r in coast.iterrows():
        inside = pip.points_in_rings(
            pts["lat"].to_numpy(), pts["lon"].to_numpy(),
            [(rr["ring_lat"], rr["ring_lon"]) for rr in r["rings"]])
        want |= set(zip(pts["image_id"].to_numpy()[inside],
                        [int(r["boundary_id"])] * int(inside.sum())))
    got = {(r["image_id"], r["boundary_id"]) for r in
           spatial_join.broadcast_pip_join_native(
               pdf, cdf, cell_prefilter_res="auto").collect()}
    assert got == want


def test_all_strategies_handle_empty_boundary_dim(spark):
    """An empty boundary snapshot is a legitimate production state (a
    region filter matching nothing); every strategy — including the auto
    chooser and both clipped paths, whose stats/clip prepasses see zero
    rows — must return an empty result, not raise."""
    pdf = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a", "b"], "lat": [1.0, 2.0], "lon": [3.0, 4.0]}))
    empty = spark.createDataFrame([], f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    for fn in (
        lambda: spatial_join.shuffle_pip_join(pdf, empty),
        lambda: spatial_join.broadcast_pip_join_native(pdf, empty, cell_prefilter_res="auto"),
        lambda: spatial_join.broadcast_pip_join_native(pdf, empty, cell_prefilter_res=2, clip_dim=True),
        lambda: spatial_join.broadcast_pip_join(pdf, empty),
        lambda: spatial_join.broadcast_pip_join_native(pdf, empty),
    ):
        assert fn().count() == 0
