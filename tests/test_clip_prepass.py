"""The one-pass clip prepass (geo/clip.py clip_bands / clipped_cell_cover)
against a naive oracle: Sutherland-Hodgman of the FULL ring per latitude
strip, then of the full strip piece per column window. The kernel clips
only each band's reduced ring and rotates every piece back to the full
clip's start vertex, so the comparison is exact: same cells in the same
order, same vertex sequences, same unwrap flags."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from wikibrain_spark.geo import cells, clip, pip
from wikibrain_spark.operators import spatial_join
from wikibrain_spark.sources import synthetic

pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


# ------------------------------------------------------------ naive oracle

def _clip_ring(ys, xs, y_lo, y_hi, x_lo, x_hi):
    """Sequential Sutherland-Hodgman of one ring to a box (4 planes)."""
    for sel, bound, keep_ge in ((0, y_lo, True), (0, y_hi, False),
                                (1, x_lo, True), (1, x_hi, False)):
        a = ys if sel == 0 else xs
        inside = (a >= bound) if keep_ge else (a <= bound)
        if inside.all():
            continue
        if not inside.any():
            return None
        nxt = np.roll(inside, -1)
        by, bx, bn = np.roll(ys, -1), np.roll(xs, -1), np.roll(a, -1)
        cross = inside != nxt
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (bound - a) / (bn - a)
            cy = ys + t * (by - ys)
            cx = xs + t * (bx - xs)
        cnt = cross.astype(np.int64) + nxt.astype(np.int64)
        off = np.concatenate(([0], np.cumsum(cnt)))
        oy, ox = np.empty(off[-1]), np.empty(off[-1])
        ci = off[:-1][cross]
        oy[ci], ox[ci] = cy[cross], cx[cross]
        vi = (off[:-1] + cross)[nxt]
        oy[vi], ox[vi] = by[nxt], bx[nxt]
        ys, xs = oy, ox
        if ys.size < 3:
            return None
    return ys, xs


def _oracle_cover(rings, res, strip_lo=None, strip_hi=None):
    """Full ring per strip, full strip piece per column: the per-strip
    algorithm clipped_cell_cover replaced, O(V x strips + piece x cols)."""
    step = cells.hexlite_step(res)
    n_lat, n_lon = cells.hexlite_dims(res)
    hdr = (cells.HEXLITE_MODE << 60) | (res << 56)
    m = step * clip.MARGIN_FRAC
    out: dict[int, list] = {}
    for la, lo in rings:
        la = np.asarray(la, dtype=np.float64)
        lo = np.asarray(lo, dtype=np.float64)
        wraps = pip.ring_wraps(lo)
        xs_ring = pip.unwrap_lon(lo) if wraps else lo
        i0 = max(0, int(np.floor((la.min() + 90.0) / step)))
        i1 = min(n_lat - 1, int(np.floor((la.max() + 90.0) / step)))
        if strip_lo is not None:
            i0 = max(i0, strip_lo)
        if strip_hi is not None:
            i1 = min(i1, strip_hi)
        u_lo, u_hi = float(xs_ring.min()), float(xs_ring.max())
        cs, shifted = set(), set()
        if u_lo < 180.0:
            c_a = int(np.floor((u_lo + 180.0) / step))
            c_b = int(np.floor((min(u_hi, np.nextafter(180.0, 0.0)) + 180.0) / step))
            cs.update(range(max(0, c_a), min(n_lon - 1, c_b) + 1))
        if u_hi >= 180.0:
            c_a = int(np.floor((max(u_lo, 180.0) - 180.0) / step))
            c_b = int(np.floor((u_hi - 180.0) / step))
            shifted.update(range(max(0, c_a), min(n_lon - 1, c_b) + 1))
        for i in range(i0, i1 + 1):
            y_lo = i * step - 90.0
            strip = _clip_ring(la, xs_ring, y_lo - m, y_lo + step + m, -1e30, 1e30)
            if strip is None:
                continue
            sy, sx = strip
            for c in sorted(cs | shifted):
                x_lo = c * step - 180.0
                windows = []
                if c in cs:
                    windows.append((x_lo, x_lo + step, wraps))
                if c in shifted:
                    windows.append((x_lo + 360.0, x_lo + 360.0 + step, True))
                for w_lo, w_hi, unwrap_probe in windows:
                    piece = _clip_ring(sy, sx, -1e30, 1e30, w_lo - m, w_hi + m)
                    if piece is not None:
                        out.setdefault(hdr | (i << 28) | c, []).append(
                            (piece[0], piece[1], unwrap_probe))
    return out


def _assert_same_cover(got, want, label):
    assert list(got) == list(want), f"{label}: cell keys differ"
    for c, plist in want.items():
        assert len(got[c]) == len(plist), f"{label}: piece count at {c}"
        for (y, x, w), (y2, x2, w2) in zip(got[c], plist):
            assert w == w2, f"{label}: unwrap flag at {c}"
            assert np.array_equal(y, y2) and np.array_equal(x, x2), (
                f"{label}: piece vertices differ at {c}")


# --------------------------------------------------------- adversarial rings

def _star(rng, lat0, lon0, r, n, spikes=0.0):
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = r * (1.0 + 0.3 * rng.uniform(-1, 1, n))
    if spikes:
        rad[::7] *= spikes  # long excursions above/below many strips
    return lat0 + rad * np.sin(ang), lon0 + rad * np.cos(ang)


def _ring_sets(res, seed):
    rng = np.random.default_rng(seed)
    step = cells.hexlite_step(res)
    m = step * clip.MARGIN_FRAC
    sets = {}
    # edges spanning several strips and columns (extents in cell steps,
    # so every resolution sees the same shapes)
    sets["spanning"] = [(np.array([-13.0, -11.5, 12.6, 13.7, 1.7]) * step,
                         np.array([-16.5, 6.6, 8.3, -14.9, -19.8]) * step)]
    sets["sliver"] = [(np.array([-10.0, 10.0, 10.3]) * step,
                       np.array([3.3, 3.6, 3.5]) * step)]
    # long excursions above and below a band: comb with teeth both ways
    xs = np.linspace(0.0, 8.0, 41) * step
    teeth = np.where(np.arange(41) % 2 == 0, 9.0, -9.0) * step
    sets["comb"] = [(np.concatenate(([0.1 * step], teeth, [0.1 * step])),
                     np.concatenate(([-0.4 * step], xs, [8.4 * step])))]
    sets["spiky_star"] = [_star(rng, 5.0, 30.0, 4.0, 300, spikes=4.0)]
    # vertices exactly on strip / column borders and on the margined
    # band bounds (the kernel's float expressions for them)
    n_lat, n_lon = cells.hexlite_dims(res)
    y_b = (n_lat // 2 - 3 + np.arange(6)) * step - 90.0
    x_b = (n_lon // 3 + np.arange(8)) * step - 180.0
    ys = np.concatenate((y_b, y_b[::-1] - m, [y_b[0] + step + m]))
    xs = np.concatenate((x_b[:6], x_b[6:7] + m + np.zeros(6), [x_b[0] - m]))
    sets["borders"] = [(ys, xs)]
    stair = [p for k in range(5) for p in ((y_b[k], x_b[k]), (y_b[k], x_b[k + 1]))]
    stair += [(y_b[5], x_b[5]), (y_b[5], x_b[0])]
    sets["staircase"] = [tuple(np.array(v) for v in zip(*stair))]
    # dateline crossings: Fiji-style wrap and a ring with a +180 seam edge
    d_lat, d_lon = _star(rng, -17.0, 179.0, 6.0, 200)
    sets["dateline"] = [(d_lat, ((d_lon + 180.0) % 360.0) - 180.0)]
    sets["seam_180"] = [(np.array([-6.0, -6.0, 4.0, 4.0]) * step,
                         180.0 - np.array([9.0, 0.0, 0.0, 9.0]) * step)]
    # holes and multipolygons
    o_lat, o_lon = _star(rng, 30.0, -60.0, 9.0, 400)
    h_lat, h_lon = _star(rng, 30.0, -60.0, 2.0, 120)
    t_lat, t_lon = _star(rng, -45.0, 100.0, 3.0, 90)
    sets["holes_multi"] = [(o_lat, o_lon), (h_lat, h_lon), (t_lat, t_lon)]
    # rings that touch a pole: a ring with a vertex on +90 and an
    # Antarctica-style cap with the closure edges down to -90 at the seam
    # (it covers every column, so the naive oracle runs it at res <= 2)
    sets["north_pole"] = [([80.0, 90.0, 84.0, 78.0], [-30.0, 0.0, 40.0, 10.0])]
    if res <= 2:
        cap_lon = np.linspace(-180.0, 180.0, 181)
        cap_lat = -72.0 + 3.0 * np.sin(np.radians(cap_lon) * 5)
        sets["south_cap"] = [(np.concatenate((cap_lat, [-90.0, -90.0])),
                              np.concatenate((cap_lon, [180.0, -180.0])))]
    return sets


@pytest.mark.parametrize("res", [1, 2, 3])
@pytest.mark.parametrize("seed", [0, 1])
def test_clip_kernel_equals_full_ring_oracle(res, seed):
    for name, rings in _ring_sets(res, seed).items():
        rings = [(np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64))
                 for a, b in rings]
        want = _oracle_cover(rings, res)
        assert want, f"{name}@res{res}: oracle cover empty"
        _assert_same_cover(clip.clipped_cell_cover(rings, res), want, f"{name}@res{res}")


@pytest.mark.parametrize("seed", range(6))
def test_clip_kernel_equals_oracle_on_random_stars(seed):
    rng = np.random.default_rng(100 + seed)
    res = int(rng.integers(1, 4))
    lat0 = float(rng.uniform(-70, 70))
    lon0 = float(rng.uniform(-180, 180))
    la, lo = _star(rng, lat0, lon0, float(rng.uniform(1, 12)), 500,
                   spikes=float(rng.uniform(1, 3)))
    la = np.clip(la, -90.0, 90.0)
    lo = ((lo + 180.0) % 360.0) - 180.0
    rings = [(la, lo)]
    _assert_same_cover(clip.clipped_cell_cover(rings, res), _oracle_cover(rings, res),
                       f"star seed {seed}")
    # the strip-range seam the parallel prepass splits on
    i_mid = int(np.floor((lat0 + 90.0) / cells.hexlite_step(res)))
    for s_lo, s_hi in ((None, i_mid), (i_mid + 1, None)):
        _assert_same_cover(
            clip.clipped_cell_cover(rings, res, strip_lo=s_lo, strip_hi=s_hi),
            _oracle_cover(rings, res, s_lo, s_hi), f"star seed {seed} strips {s_lo}-{s_hi}")


def test_clip_kernel_equals_oracle_on_megacoast_shelf():
    """The 100k-vertex dateline-crossing megacoast boundary at res 2."""
    mega = synthetic.generate_megacoast()
    rings = [(r["ring_lat"], r["ring_lon"]) for r in mega["rings"].iloc[1]]
    _assert_same_cover(clip.clipped_cell_cover(rings, 2), _oracle_cover(rings, 2),
                       "megacoast 41")


def test_clip_units_ship_megacoast_about_once(spark, tmp_path):
    """The clip units carry each boundary's rings once per unit; on the
    600k-vertex megacoast at its auto res (2) the units' ring vertices
    must stay within 2x the snapshot's (native size() aggregate — no
    Python UDF runs)."""
    mega = synthetic.generate_megacoast()
    n_vertices = sum(len(r["ring_lat"]) for rings in mega["rings"] for r in rings)
    path = str(tmp_path / "mega.parquet")
    mega.to_parquet(path, index=False)
    bnd = spark.read.parquet(path)
    units = spatial_join._clip_units(bnd, 2)
    shipped = units.select(
        F.aggregate("rings", F.lit(0).cast("long"),
                    lambda acc, r: acc + F.size(r["ring_lat"])).alias("nv")
    ).agg(F.sum("nv")).collect()[0][0]
    assert n_vertices <= shipped <= 2 * n_vertices, (shipped, n_vertices)


def test_clip_units_follow_the_chunk_target(spark, monkeypatch):
    """_clip_units' expressions are memoized per JVM; the memo key carries
    the vertex target, so lowering it (as the coastline differential test
    does) splits the same boundaries into more units at the same res."""
    coast = synthetic.generate_coastlines()
    bdf = spark.createDataFrame(
        [(int(r["boundary_id"]),
          [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
         for _, r in coast.iterrows()],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )
    default = spatial_join._clip_units(bdf, 2).count()
    monkeypatch.setattr(spatial_join, "_CLIP_CHUNK_TARGET_VERTICES", 1_000)
    small = spatial_join._clip_units(bdf, 2).count()
    assert default == len(coast) < small, (default, small)
