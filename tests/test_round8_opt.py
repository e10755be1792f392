"""Round-8 optimization pins: the behavior-preserving guarantees of the
performance work (staged HOF expressions, strip-chunked clip prepass,
unclipped prefilter dim, fan_out) plus the round-7 ADVICE fixes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wikibrain_spark.geo import cells
from wikibrain_spark.geo import clip as _clip
from wikibrain_spark.geo import simplify as _simp
from wikibrain_spark.operators import spatial_join
from wikibrain_spark.session import fan_out
from wikibrain_spark.sources import synthetic


def test_dp_simplify_degenerate_ring_keeps_three_vertices():
    """Round-7 ADVICE: an all-coincident ring must still return >= 3
    vertices (the documented guarantee downstream parity folds rely on)."""
    ys = np.zeros(10)
    xs = np.zeros(10)
    sy, sx = _simp.dp_simplify_ring(ys, xs, 0.5)
    assert sy.size >= 3 and sx.size == sy.size


def test_shuffle_pip_rejects_unknown_clip_cover_string(spark):
    """Round-7 ADVICE: clip_cover='false' (or any non-'auto' string) must
    raise instead of silently enabling the clipped path via truthiness."""
    bnd = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 10.0, 10.0],
               "ring_lon": [0.0, 10.0, 10.0, 0.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    pts = spark.createDataFrame([("a", 5.0, 5.0)], "image_id string, lat double, lon double")
    with pytest.raises(ValueError, match="clip_cover"):
        spatial_join.shuffle_pip_join(pts, bnd, clip_cover="false")


def test_tile_assignments_rejects_unknown_strategy(spark):
    """A misspelled strategy must raise instead of silently running the
    shuffle join, naming the four accepted values."""
    bnd = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 10.0, 10.0],
               "ring_lon": [0.0, 10.0, 10.0, 0.0], "is_hole": False}], "Q1", "en:A")],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}, qid string, wikipedia string")
    pts = spark.createDataFrame([("a", 5.0, 5.0)], "image_id string, lat double, lon double")
    with pytest.raises(ValueError, match="'broadcast', 'fused', 'native', 'shuffle'"):
        spatial_join.tile_assignments(pts, bnd, strategy="brodcast")


def test_clipped_cell_cover_strip_partition_equals_full():
    """The strip-chunked parallel prepass (round 8): partitioning the strip
    range yields exactly the full cover's (cell -> pieces) map, each entry
    emitted by exactly one chunk with identical content and order."""
    coast = synthetic.generate_coastlines()
    for _, row in coast.iterrows():
        rings = [(r["ring_lat"], r["ring_lon"]) for r in row["rings"]]
        full = _clip.clipped_cell_cover(rings, 2)
        merged: dict = {}
        for lo, hi in [(0, 25), (26, 50), (51, 1000)]:
            part = _clip.clipped_cell_cover(rings, 2, strip_lo=lo, strip_hi=hi)
            assert not (set(part) & set(merged)), "cell split across chunks"
            merged.update(part)
        assert set(merged) == set(full)
        for c, plist in full.items():
            assert len(plist) == len(merged[c])
            for (a, b, w), (a2, b2, w2) in zip(plist, merged[c]):
                assert np.array_equal(a, a2) and np.array_equal(b, b2) and w == w2


def test_clip_units_cover_distributed_equals_direct(spark):
    """clipped_cell_rows (the compiled clip over the coastline fixture,
    is_hole flags included) emits exactly one row per (cell, boundary)
    whose packed edges are the pieces' closed edge lists from the direct
    per-boundary clipped_cell_cover."""
    coast = synthetic.generate_coastlines()
    bnd = spark.createDataFrame(
        [(int(r["boundary_id"]),
          [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
         for _, r in coast.iterrows()],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    got = {}
    for r in spatial_join.clipped_cell_rows(bnd, 2).collect():
        key = (r["cell"], r["boundary_id"])
        assert key not in got, f"split entry {key}"
        got[key] = bytes(r["p"]["ebin"])
    want = {}
    for _, r in coast.iterrows():
        rings = [(rr["ring_lat"], rr["ring_lon"]) for rr in r["rings"]]
        for c, plist in _clip.clipped_cell_cover(rings, 2).items():
            want[(c, int(r["boundary_id"]))] = np.concatenate([
                np.column_stack([ys, np.roll(ys, -1), xs, np.roll(xs, -1),
                                 np.full(ys.size, float(w))])
                for ys, xs, w in plist
            ]).astype("<f8").tobytes()
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], k


def test_fan_out_is_noop_at_or_above_parallelism(spark):
    p = spark.sparkContext.defaultParallelism
    few = spark.createDataFrame([(i,) for i in range(10)], "x long").coalesce(1)
    assert fan_out(few).rdd.getNumPartitions() == p
    wide = spark.range(1000).repartition(p)
    assert fan_out(wide) is wide  # untouched frame, no extra shuffle


def test_fan_out_passes_streaming_frame_through(spark):
    """A streaming frame has no RDD to count partitions on: fan_out must
    hand it back unchanged instead of raising."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert stream.isStreaming
    assert fan_out(stream) is stream


def test_position_indexed_prefilter_dim_matches_one_row_dim(spark):
    """The unclipped prefilter dim (cell join onto polygon_cover, then
    boundary_id join onto polygon_structs) must produce exactly the one-row
    dim's containment pairs, each pair once, on corner geometry: a
    dateline ring, overlapping rectangles, a two-outer-ring multipolygon
    whose ring bboxes share res-2 cells, and a ring with a hole; probes
    include res-2 cell borders and every ring vertex."""
    def ring(lat, lon, hole=False):
        return {"ring_lat": lat, "ring_lon": lon, "is_hole": hole}

    rings = {
        1: [ring([0.0, 0.0, 30.0, 30.0], [-20.0, 40.0, 40.0, -20.0])],
        2: [ring([-30.0, -30.0, -5.0, -5.0], [170.0, -165.0, -165.0, 170.0])],
        3: [ring([10.0, 10.0, 70.0, 70.0], [-30.0, 60.0, 60.0, -30.0])],
        # two disjoint triangles splitting one square: their bboxes cover
        # the same res-2 cells, which the cover must still emit once
        4: [ring([50.0, 50.0, 53.0], [100.0, 103.0, 100.0]),
            ring([53.0, 50.3, 53.0], [103.0, 103.0, 100.3])],
        5: [ring([-10.0, -10.0, -4.0, -4.0], [10.0, 16.0, 16.0, 10.0]),
            ring([-8.0, -8.0, -6.0, -6.0], [12.0, 14.0, 14.0, 12.0], hole=True)],
    }
    bnd = spark.createDataFrame(
        sorted(rings.items()), f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    step = cells.hexlite_step(2)
    probes = [(float((i * 37) % 100 - 50), float((i * 91) % 360 - 180)) for i in range(500)]
    border_lat = [-90.0 + k * step for k in range(70, 127)]
    border_lon = [-180.0 + j * step for j in (*range(166, 172), *range(245, 250), *range(306, 315))]
    probes += [(la, lo) for la in border_lat for lo in border_lon]
    probes += [(la + step / 2, lo) for la in border_lat for lo in border_lon]
    probes += [(la, lo + step / 2) for la in border_lat for lo in border_lon]
    probes += [(la, lo) for rs in rings.values() for r in rs
               for la, lo in zip(r["ring_lat"], r["ring_lon"])]
    pts = spark.createDataFrame(
        [(str(i), la, lo) for i, (la, lo) in enumerate(probes)],
        "image_id string, lat double, lon double")

    def pairs(df):
        return sorted((r["image_id"], r["boundary_id"]) for r in df.collect())

    one_row = pairs(spatial_join.broadcast_pip_join_native(pts, bnd))
    prefiltered = pairs(spatial_join.broadcast_pip_join_native(pts, bnd, cell_prefilter_res=2))
    assert prefiltered == one_row
    assert len(set(one_row)) == len(one_row)
    assert {b for _, b in one_row} == set(rings)
