"""The compiled parity fold (jvm/PipFold.java) behind every native PIP
variant and the shuffle join: a seeded differential test against the
NumPy kernel on adversarial geometry, null coordinates in batch and
stream, and the jar build and loading (for the fold and the header
parse, jvm/LeDouble.java)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from wikibrain_spark import codecs, jvm
from wikibrain_spark.functions import binparse
from wikibrain_spark.geo import cells, pip
from wikibrain_spark.operators import spatial_join

POINT_SCHEMA = "image_id string, lat double, lon double"


def _ring(lat, lon, hole=False):
    return {"ring_lat": [float(x) for x in lat], "ring_lon": [float(x) for x in lon],
            "is_hole": hole}


def _star(rng, c_lat, c_lon, r_min, r_max, n):
    ang = np.sort(rng.uniform(0.0, 2 * np.pi, n))
    r = rng.uniform(r_min, r_max, n)
    return c_lat + r * np.sin(ang), c_lon + r * np.cos(ang)


def _boundaries() -> list[tuple[int, list[dict]]]:
    """Multipolygons with holes, dateline rings, cell-aligned rectangles
    with horizontal edges, degenerate and duplicated rings, a
    pole-enclosing cap and a pair of nearly coincident rings."""
    rng = np.random.default_rng(20261017)
    rows = []
    for bid in range(1, 7):
        c_lat, c_lon = rng.uniform(-50, 50), rng.uniform(-150, 150)
        outer = _star(rng, c_lat, c_lon, 3.0, 7.0, int(rng.integers(5, 40)))
        hole = _star(rng, c_lat, c_lon, 0.5, 2.5, int(rng.integers(3, 12)))
        rings = [_ring(*outer), _ring(*hole, hole=True)]
        if bid % 2 == 0:  # a second component
            rings.append(_ring(*_star(rng, c_lat + 12.0, c_lon, 1.0, 3.0, 9)))
        rows.append((bid, rings))
    # dateline: one ring straddling +-180, and a Fiji-style pair
    d_lat, d_lon = _star(rng, -15.0, 179.0, 2.0, 5.0, 23)
    rows.append((7, [_ring(d_lat, ((d_lon + 180.0) % 360.0) - 180.0)]))
    rows.append((8, [_ring([5.0, 5.0, 12.0, 12.0], [176.0, -177.0, -177.0, 176.0]),
                     _ring([20.0, 20.0, 24.0, 24.0], [170.0, 174.0, 174.0, 170.0])]))
    # rectangles whose edges sit on res-2 and res-4 cell borders
    for bid, res, (i0, i1, j0, j1) in ((9, 2, (80, 84, 160, 166)), (10, 4, (700, 716, 900, 930))):
        step = cells.hexlite_step(res)
        la0, la1 = i0 * step - 90.0, i1 * step - 90.0
        lo0, lo1 = j0 * step - 180.0, j1 * step - 180.0
        rows.append((bid, [_ring([la0, la0, la1, la1], [lo0, lo1, lo1, lo0])]))
    # degenerate rings: two vertices, collinear, repeated vertices
    rows.append((11, [_ring([30.0, 34.0], [-100.0, -96.0]),
                      _ring([30.0, 31.0, 32.0], [-90.0, -89.0, -88.0])]))
    rows.append((12, [_ring([40.0, 40.0, 40.0, 44.0, 44.0, 44.0],
                            [-80.0, -76.0, -76.0, -76.0, -80.0, -80.0])]))
    # the same ring twice in one polygon cancels; twice across ids does not
    twice = _ring(*_star(rng, -40.0, -60.0, 2.0, 4.0, 11))
    rows.append((13, [twice, twice]))
    rows.append((14, [twice]))
    rows.append((15, [twice]))
    # q_pip_polar's cap: it encloses the south pole in the raw frame
    lons = [float(-180 + 5 * i) for i in range(73)]
    rows.append((16, [_ring([-70.0] * 73 + [-90.0, -90.0], lons + [180.0, -180.0])]))
    # two boundaries whose rings nearly coincide: every vertex moved 1e-9
    near = _star(rng, 25.0, 60.0, 2.0, 4.0, 17)
    rows.append((17, [_ring(*near)]))
    rows.append((18, [_ring(near[0] + 1e-9, near[1] + 1e-9)]))
    return rows


def _points(rows) -> pd.DataFrame:
    rng = np.random.default_rng(7)
    lat, lon = [], []
    for _, rings in rows:
        for r in rings:
            la, lo = np.array(r["ring_lat"]), np.array(r["ring_lon"])
            # every vertex, and the midpoint of every horizontal edge (a
            # point on a slanted edge is left out: clipping moves that
            # edge's end points, so which side it rounds to is not exact)
            flat = la == np.roll(la, -1)
            lat += [*la, *la[flat]]
            lon += [*lo, *((lo + np.roll(lo, -1)) / 2)[flat]]
            n = 60
            lat += list(rng.uniform(la.min() - 1.0, la.max() + 1.0, n))
            lon += list(rng.uniform(lo.min() - 1.0, lo.max() + 1.0, n))
    # hexlite cell borders at both prefilter resolutions, across the
    # cell-aligned rectangles
    for res, (i0, i1, j0, j1) in ((2, (79, 86, 159, 168)), (4, (699, 718, 899, 932))):
        step = cells.hexlite_step(res)
        for i in range(i0, i1):
            for j in range(j0, j1):
                la, lo = i * step - 90.0, j * step - 180.0
                lat += [la, la, la + step / 3]
                lon += [lo, lo + step / 3, lo]
    lon = [((x + 180.0) % 360.0) - 180.0 if abs(x) > 180.0 else x for x in lon]
    pts = pd.DataFrame({"lat": np.asarray(lat, float), "lon": np.asarray(lon, float)})
    pts["image_id"] = [f"p{i}" for i in range(len(pts))]
    return pts[["image_id", "lat", "lon"]]


def _with_nulls(pts: pd.DataFrame) -> list[tuple]:
    """pts as rows plus three rows with a null lat, lon or both."""
    return [*map(tuple, pts.itertuples(index=False)),
            ("null_lat", None, 5.0), ("null_lon", 5.0, None), ("null_both", None, None)]


def _expected(rows, pts) -> set[tuple[str, int]]:
    lat, lon = pts["lat"].to_numpy(), pts["lon"].to_numpy()
    want = set()
    for bid, rings in rows:
        inside = pip.points_in_rings(lat, lon, [(r["ring_lat"], r["ring_lon"]) for r in rings])
        want |= {(pid, bid) for pid in pts["image_id"].to_numpy()[inside]}
    return want


VARIANTS = {
    "one_row": {},
    "unclipped_res4": {"cell_prefilter_res": 4},
    "clipped_res2": {"cell_prefilter_res": 2, "clip_dim": True},
}


@pytest.fixture(scope="module")
def fold_case(spark):
    rows = _boundaries()
    pts = _points(rows)
    want = _expected(rows, pts)
    hit_ids = {bid for _, bid in want}
    # every interesting case fires, and the cancelled ring never does
    assert {1, 2, 7, 8, 9, 10, 12, 14, 15, 16, 17, 18} <= hit_ids and 13 not in hit_ids
    bdf = spark.createDataFrame(rows, f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    return rows, pts, want, bdf


@pytest.mark.parametrize("variant", VARIANTS)
def test_every_native_variant_matches_numpy_kernel(spark, fold_case, variant):
    """Each native variant returns exactly the NumPy kernel's pairs on
    points at vertices, on horizontal edges and on cell borders; a null
    lat or lon yields no row and no error."""
    _, pts, want, bdf = fold_case
    pdf = spark.createDataFrame(_with_nulls(pts), POINT_SCHEMA)
    got = [(r["image_id"], r["boundary_id"]) for r in
           spatial_join.broadcast_pip_join_native(pdf, bdf, **VARIANTS[variant]).collect()]
    assert len(got) == len(set(got)), "duplicate output pairs"
    assert set(got) == want


@pytest.mark.parametrize("clip_cover,res", [(False, 4), (True, 2)], ids=["unclipped_res4", "clipped_res2"])
def test_shuffle_join_matches_numpy_kernel(spark, fold_case, clip_cover, res):
    """shuffle_pip_join returns exactly the NumPy kernel's pairs on the
    same adversarial points, with every cell salted, and drops null
    coordinates."""
    _, pts, want, bdf = fold_case
    pdf = spark.createDataFrame(_with_nulls(pts), POINT_SCHEMA)
    out = spatial_join.shuffle_pip_join(
        pdf, bdf, res=res, hot_cell_threshold=0, n_salt=3,
        hotness_sample_fraction=1.0, clip_cover=clip_cover)
    got = [(r["image_id"], r["boundary_id"]) for r in out.collect()]
    assert len(got) == len(set(got)), "duplicate output pairs"
    assert set(got) == want


def test_stream_static_join_drops_null_coordinates(spark, fold_case, tmp_path):
    """Through the stream-static join, the compiled fold gives the batch
    answer and null coordinates yield no row."""
    rows, pts, want, bdf = fold_case
    src = str(tmp_path / "points")
    spark.createDataFrame(_with_nulls(pts), POINT_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(POINT_SCHEMA).parquet(src)
    for name, kw in (("one_row", {}), ("clipped_res2", VARIANTS["clipped_res2"])):
        table = f"pip_fold_stream_{name}"
        q = (spatial_join.broadcast_pip_join_native(stream, bdf, **kw)
             .writeStream.format("memory").queryName(table)
             .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        got = {(r["image_id"], r["boundary_id"]) for r in spark.table(table).collect()}
        assert got == want, name


def test_changed_source_rebuilds_jar(tmp_path, monkeypatch):
    """The jar is keyed on a hash of the Java sources: unchanged sources
    reuse it, an edited source builds a new one."""
    src = tmp_path / "src"
    src.mkdir()
    for n in os.listdir(jvm.SOURCE_DIR):
        if n.endswith(".java"):
            shutil.copy(os.path.join(jvm.SOURCE_DIR, n), src / n)
    monkeypatch.setattr(jvm, "SOURCE_DIR", str(src))
    monkeypatch.setattr(jvm, "CACHE_DIR", str(tmp_path / "cache"))
    first = jvm.jar_path()
    built = os.path.getmtime(first)
    assert jvm.jar_path() == first and os.path.getmtime(first) == built
    with open(src / "PipFold.java", "a") as fh:
        fh.write("// edited\n")
    second = jvm.jar_path()
    assert second != first and os.path.exists(second)
    assert sorted(os.listdir(tmp_path / "cache")) == sorted(
        [os.path.basename(first), os.path.basename(second)])


def test_missing_javac_raises_naming_javac(tmp_path, monkeypatch):
    monkeypatch.setattr(jvm, "CACHE_DIR", str(tmp_path / "cache"))
    monkeypatch.setattr(shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="javac"):
        jvm.jar_path()


def test_unloadable_class_raises_naming_it(spark, monkeypatch):
    monkeypatch.setattr(jvm, "_UDFS", (("wb_missing", "wikibrain_spark.jvm.NoSuchFold", BooleanType()),))
    with pytest.raises(RuntimeError, match="NoSuchFold"):
        jvm.register(spark)


def test_every_java_class_is_a_registered_udf(spark):
    """The jar carries no dead class: every .java source in the package is
    a UDF in jvm._UDFS, and each one registers in a plain session with
    its declared return type (array-of-struct ones included)."""
    sources = {f"wikibrain_spark.jvm.{n[:-len('.java')]}"
               for n in os.listdir(jvm.SOURCE_DIR) if n.endswith(".java")}
    assert sources == {cls for _, cls, _ in jvm._UDFS}
    plain = SparkSession.builder.getOrCreate().newSession()
    jvm.register(plain)
    assert all(plain.catalog.functionExists(name) for name, _, _ in jvm._UDFS)
    # a triangle inside one res-2 cell clips to itself
    ring = F.array(F.struct(F.array(*map(F.lit, [0.1, 0.1, 0.2])).alias("ring_lat"),
                            F.array(*map(F.lit, [0.1, 0.2, 0.1])).alias("ring_lon"),
                            F.lit(False).alias("is_hole")))
    res = 2
    clipped = plain.range(1).select(F.call_function(
        jvm.CLIP_CELLS, ring, F.lit(res), F.lit(cells.hexlite_step(res))).alias("c"))
    unpacked = clipped.select(F.call_function(jvm.UNPACK_EDGES, F.col("c")[0]["ebin"]).alias("e"))
    declared = {name: rtype for name, _, rtype in jvm._UDFS}
    assert clipped.schema["c"].dataType.simpleString() == declared[jvm.CLIP_CELLS].replace(" ", "")
    assert unpacked.schema["e"].dataType.simpleString() == declared[jvm.UNPACK_EDGES].replace(" ", "")
    edges = unpacked.first()["e"]
    assert [(e["y0"], e["x0"], e["y1"], e["x1"], e["w"]) for e in edges] == [
        (0.1, 0.1, 0.1, 0.2, False), (0.1, 0.2, 0.2, 0.1, False), (0.2, 0.1, 0.1, 0.1, False)]


def test_plain_session_needs_no_spark_jars(spark, fold_case):
    """A session from a plain SparkSession.builder, with no spark.jars and
    a fresh function registry, runs the native join: the jar is added and
    the fold registered on first use."""
    _, pts, want, bdf = fold_case
    plain = SparkSession.builder.getOrCreate().newSession()
    assert "wikibrain-jvm" not in plain.conf.get("spark.jars", "")
    assert not plain.catalog.functionExists(jvm.PIP_FOLD)
    b = plain.createDataFrame(bdf.collect(), bdf.schema)
    got = {(r["image_id"], r["boundary_id"]) for r in spatial_join.broadcast_pip_join_native(
        plain.createDataFrame(pts), b, cell_prefilter_res=4).collect()}
    assert got == want


def test_plain_session_parses_headers_before_any_pip_call(spark):
    """In a plain SparkSession.builder session whose registry holds none of
    the compiled UDFs, le_double_col registers the jar's UDFs itself: the
    header parse works before any PIP call."""
    plain = SparkSession.builder.getOrCreate().newSession()
    assert not any(plain.catalog.functionExists(name) for name, _, _ in jvm._UDFS)
    images = plain.createDataFrame(  # makes `plain` the active session
        [(codecs.pack_header("ppm", 1, 1, 52.52, -13.405),)], "bytes binary")
    row = images.select(*binparse.geotag_cols(F.col("bytes"))).first()
    assert (row["lat"], row["lon"]) == (52.52, -13.405)
    assert plain.catalog.functionExists(jvm.LE_DOUBLE)
