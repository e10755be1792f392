"""Round-8 optimization pins: the behavior-preserving guarantees of the
performance work (staged HOF expressions, strip-chunked clip prepass,
position-indexed prefilter dim, fan_out) plus the round-7 ADVICE fixes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

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
    """clipped_cover_frame through _clip_units emits exactly one row per
    (boundary, cell) with the same packed geometry as the direct
    per-boundary enumeration."""
    coast = synthetic.generate_coastlines()
    bnd = spark.createDataFrame(
        [(int(r["boundary_id"]),
          [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
         for _, r in coast.iterrows()],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    got = {}
    for r in spatial_join.clipped_cover_frame(bnd, 2).collect():
        key = (r["boundary_id"], r["cell"])
        assert key not in got, f"split entry {key}"
        got[key] = np.asarray(r["geom"])
    want = {}
    for _, r in coast.iterrows():
        rings = [(rr["ring_lat"], rr["ring_lon"]) for rr in r["rings"]]
        for c, plist in _clip.clipped_cell_cover(rings, 2).items():
            want[(int(r["boundary_id"]), c)] = _clip.pack_pieces(plist)
    assert set(got) == set(want)
    for k in want:
        assert np.array_equal(got[k], want[k]), k


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
    """The position-indexed unclipped prefilter dim (round 8) must produce
    exactly the one-row dim's containment pairs on corner geometry
    (dateline ring + overlapping rectangles)."""
    bnd = spark.createDataFrame(
        [(1, [{"ring_lat": [0.0, 0.0, 30.0, 30.0],
               "ring_lon": [-20.0, 40.0, 40.0, -20.0], "is_hole": False}]),
         (2, [{"ring_lat": [-30.0, -30.0, -5.0, -5.0],
               "ring_lon": [170.0, -165.0, -165.0, 170.0], "is_hole": False}]),
         (3, [{"ring_lat": [10.0, 10.0, 70.0, 70.0],
               "ring_lon": [-30.0, 60.0, 60.0, -30.0], "is_hole": False}])],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    pts = spark.createDataFrame(
        [(str(i), float((i * 37) % 100 - 50), float((i * 91) % 360 - 180))
         for i in range(500)],
        "image_id string, lat double, lon double")
    one_row = {(r["image_id"], r["boundary_id"])
               for r in spatial_join.broadcast_pip_join_native(pts, bnd).collect()}
    prefiltered = {(r["image_id"], r["boundary_id"])
                   for r in spatial_join.broadcast_pip_join_native(
                       pts, bnd, cell_prefilter_res=2).collect()}
    assert prefiltered == one_row and len(one_row) > 0
