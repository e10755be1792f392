"""The one-pass clip prepass (geo/clip.py clip_bands / clipped_cell_cover)
against a naive oracle: Sutherland-Hodgman of the FULL ring per latitude
strip, then of the full strip piece per column window. The kernel clips
only each band's reduced ring and rotates every piece back to the full
clip's start vertex, so the comparison is exact: same cells in the same
order, same vertex sequences, same unwrap flags."""

from __future__ import annotations

import numpy as np
import pytest

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


# ------------------------------------- compiled clip (jvm/ClipCells.java)

def _packed_oracle(rows, res):
    """{(cell, boundary_id): (bbin, ebin)} from clipped_cell_cover: one
    bbox per probe frame (frames in first-seen order) and each piece's
    closed edge list, as clipped_cell_rows packs them."""
    want = {}
    for bid, rings in rows:
        for c, plist in clip.clipped_cell_cover(rings, res).items():
            frames: dict[bool, list[float]] = {}
            for ys, xs, w in plist:
                box = [float(ys.min()), float(ys.max()), float(xs.min()), float(xs.max())]
                fb = frames.setdefault(bool(w), box)
                fb[:] = [min(fb[0], box[0]), max(fb[1], box[1]),
                         min(fb[2], box[2]), max(fb[3], box[3])]
            bbin = np.array([[*fb, float(w)] for w, fb in frames.items()], dtype="<f8")
            ebin = np.concatenate([
                np.column_stack([ys, np.roll(ys, -1), xs, np.roll(xs, -1),
                                 np.full(ys.size, float(w))])
                for ys, xs, w in plist]).astype("<f8")
            want[(c, bid)] = (bbin.tobytes(), ebin.tobytes())
    return want


def _assert_rows_match_oracle(spark, rows, res, label):
    """clipped_cell_rows over `rows` ((boundary_id, [(lat, lon), ...]))
    gives the oracle's (cell, boundary_id) set with byte-identical bbin and
    ebin, and p.edges unpacks ebin."""
    bdf = spark.createDataFrame(
        [(bid, [([float(v) for v in la], [float(v) for v in lo], False) for la, lo in rings])
         for bid, rings in rows],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}")
    got = {}
    for r in spatial_join.clipped_cell_rows(bdf, res).collect():
        key = (r["cell"], r["boundary_id"])
        assert key not in got, f"{label}: repeated row {key}"
        assert r["p"]["bid"] == r["boundary_id"]
        ebin = bytes(r["p"]["ebin"])
        rec = np.frombuffer(ebin, dtype="<f8").reshape(-1, 5)
        edges = np.array([(e["y0"], e["y1"], e["x0"], e["x1"], float(e["w"]))
                          for e in r["p"]["edges"]]).reshape(-1, 5)
        assert np.array_equal(edges, rec), f"{label}: p.edges differs from ebin at {key}"
        got[key] = (bytes(r["p"]["bbin"]), ebin)
    want = _packed_oracle(
        [(bid, [(np.asarray(la, dtype=np.float64), np.asarray(lo, dtype=np.float64))
                for la, lo in rings]) for bid, rings in rows], res)
    assert want, f"{label}: oracle cover empty"
    assert set(got) == set(want), f"{label}: (cell, boundary_id) sets differ"
    for k, (bbin, ebin) in want.items():
        assert got[k][0] == bbin, f"{label}: bbin differs at {k}"
        assert got[k][1] == ebin, f"{label}: ebin differs at {k}"


def _coast_rows(frame):
    return [(int(r["boundary_id"]), [(rr["ring_lat"], rr["ring_lon"]) for rr in r["rings"]])
            for _, r in frame.iterrows()]


@pytest.mark.parametrize("res", [1, 2, 3])
def test_compiled_clip_bytes_equal_oracle_on_adversarial_rings(spark, res):
    """Every adversarial ring set above (cell-border vertices and
    staircases, combs, slivers, dateline and +180-seam rings, holes and
    multipolygons, pole-touching rings and the Antarctica-style
    pole-enclosing cap at res <= 2) as one boundary each, plus a
    Fiji-style multipolygon whose dateline ring and raw island share a
    cell, so that cell packs one bbox per frame."""
    rows = [(bid, rings) for bid, rings in enumerate(_ring_sets(res, 0).values(), start=1)]
    fiji = [([5.0, 5.0, 12.0, 12.0], [176.0, -177.0, -177.0, 176.0]),
            ([8.0, 8.0, 9.0], [178.2, 178.8, 178.5])]
    rows.append((len(rows) + 1, fiji))
    two_frames = _packed_oracle([(0, [(np.asarray(a), np.asarray(b)) for a, b in fiji])], res)
    assert any(len(bbin) == 80 for bbin, _ in two_frames.values()), "no two-frame cell"
    _assert_rows_match_oracle(spark, rows, res, f"adversarial@res{res}")


def test_compiled_clip_bytes_equal_oracle_on_coastline(spark):
    _assert_rows_match_oracle(spark, _coast_rows(synthetic.generate_coastlines()), 2,
                              "coastline@res2")


def test_compiled_clip_bytes_equal_oracle_on_megacoast(spark):
    """Both megacoast boundaries at their auto res (2): the 400k-vertex
    coastline with its 100k-vertex inland-sea hole, and the 100k-vertex
    dateline shelf."""
    _assert_rows_match_oracle(spark, _coast_rows(synthetic.generate_megacoast()), 2,
                              "megacoast@res2")
