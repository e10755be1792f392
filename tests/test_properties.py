"""Property-based tests (hypothesis) for the pure kernels: codecs, cells,
PIP, apply_changes semantics vs an independent spec implementation."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wikibrain_spark import codecs
from wikibrain_spark.geo import cells, pip

# numeric kernels must be warning-clean (expected div/overflow regimes are
# suppressed inside the kernels via np.errstate); a RuntimeWarning here is a
# real numeric defect, not noise — fail loudly.
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")

finite_lat = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
finite_lon = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)


@given(finite_lat, finite_lon)
@settings(max_examples=200, deadline=None)
def test_geotag_header_roundtrip(lat, lon):
    payload = codecs.pack_header("ppm", 4, 4, lat, lon)
    got_lat, got_lon = codecs.extract_geotag(payload)
    assert got_lat == lat and got_lon == lon  # bit-exact
    b_lat, b_lon = codecs.extract_geotags_batch([payload])
    assert b_lat[0] == lat and b_lon[0] == lon


@given(finite_lat, finite_lon, st.integers(min_value=0, max_value=13))
@settings(max_examples=200, deadline=None)
def test_hexlite_center_fixpoint(lat, lon, res):
    cell = cells.hexlite_cell(np.array([lat]), np.array([lon]), res)
    clat, clon = cells.hexlite_center(cell)
    again = cells.hexlite_cell(clat, clon, res)
    assert cell[0] == again[0]


@given(finite_lat, finite_lon, st.integers(min_value=1, max_value=12),
       st.integers(min_value=0, max_value=11))
@settings(max_examples=100, deadline=None)
def test_hexlite_parent_contains_child_center(lat, lon, res, coarser):
    if coarser >= res:
        return
    child = cells.hexlite_cell(np.array([lat]), np.array([lon]), res)
    parent = cells.hexlite_parent(child, coarser)
    # the child's center must encode into the parent at the coarser res
    clat, clon = cells.hexlite_center(child)
    assert parent[0] == cells.hexlite_cell(clat, clon, coarser)[0]


@given(st.integers(min_value=3, max_value=64), st.integers(min_value=3, max_value=64),
       st.sampled_from(["ppm", "bmp", "pngz"]), st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=30, deadline=None)
def test_lossless_codec_roundtrip_any_size(h, w, fmt, seed):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    out, meta = codecs.decode_image(codecs.encode_image(img, fmt, 0.0, 0.0))
    assert np.array_equal(out, img)
    assert (meta["w"], meta["h"]) == (w, h)


@given(st.integers(min_value=8, max_value=48), st.integers(min_value=8, max_value=48),
       st.integers(min_value=0, max_value=2**31 - 1))
@settings(max_examples=20, deadline=None)
def test_dctq_psnr_any_size(h, w, seed):
    rng = np.random.default_rng(seed)
    # worst case: pure noise
    img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    out, _ = codecs.decode_image(codecs.encode_image(img, "dctq", 0.0, 0.0))
    assert codecs.psnr(img, out) >= 40.0


@given(st.lists(st.tuples(finite_lat, finite_lon), min_size=3, max_size=10),
       finite_lat, finite_lon)
@settings(max_examples=100, deadline=None)
def test_pip_point_far_outside_bbox_is_outside(ring, lat, lon):
    rl = np.array([p[0] for p in ring])
    rn = np.array([p[1] for p in ring])
    if lat > rl.max() or lat < rl.min():  # outside the lat range: no crossings
        assert not pip.points_in_ring(np.array([lat]), np.array([lon]), rl, rn)[0]


# ---- apply_changes vs an independent spec implementation -----------------

def _apply_spec(tags: dict, changes: list) -> tuple[bool, dict]:
    """Direct implementation of the documented CAS semantics
    (reference apply_changes.py:5-20), used as the property oracle."""
    tags = dict(tags)
    for change in changes:
        for k, v in change["from"].items():
            if v is not None:
                if tags.get(k) != v:
                    return False, tags
                del tags[k]
            else:
                if k in tags:
                    return False, tags
        for k, v in change["to"].items():
            if tags.get(k) is not None:
                return False, tags
            if v is not None:
                tags[k] = v
    return True, tags


keys = st.sampled_from(["a", "b", "c", "d"])
vals = st.one_of(st.none(), st.sampled_from(["1", "2", "3"]))
change = st.fixed_dictionaries({
    "from": st.dictionaries(keys, vals, max_size=2),
    "to": st.dictionaries(keys, vals, max_size=2),
})


@given(st.dictionaries(keys, st.sampled_from(["1", "2", "3"]), max_size=3),
       st.lists(change, max_size=3))
@settings(max_examples=60, deadline=None)
def test_apply_changes_matches_spec(spark, tags, changes):
    from wikibrain_spark.operators.apply_changes import CHANGES_TYPE, apply_tag_changes

    df = spark.createDataFrame([(tags, changes)], f"tags map<string,string>, changes {CHANGES_TYPE}")
    row = apply_tag_changes(df).collect()[0]
    ok_spec, tags_spec = _apply_spec(tags, changes)
    assert row["prereq_ok"] == ok_spec
    if ok_spec:
        assert dict(row["new_tags"]) == tags_spec


def _star_ring(seed: int, c_lat: float, c_lon: float, base_r: float, n: int):
    """Random simple ring (single-valued radius construction, same
    argument as the synthetic coastline fixtures), wrapped to
    [-180, 180) so dateline-crossing cases occur whenever the center
    sits near ±180."""
    rng = np.random.default_rng(seed)
    ang = np.linspace(0, 2 * np.pi, n, endpoint=False)
    r = np.ones(n)
    for k, octave in enumerate((3, 7, 13)):
        r += (0.25 / (k + 1)) * np.sin(octave * ang + rng.uniform(0, 2 * np.pi))
    r = base_r * np.clip(r, 0.25, None)
    la = c_lat + r * np.sin(ang)
    lo = ((c_lon + r * np.cos(ang) + 180.0) % 360.0) - 180.0
    return la, lo


def _piece_parity(pieces_for_cell: list, lat: float, lon: float) -> bool:
    """Crossing parity over one cell's clipped pieces — the refine rule
    restated independently (same ray test as the DuckDB oracles)."""
    inside = False
    for ys, xs, unwrap_probe in pieces_for_cell:
        x = lon + 360.0 if (unwrap_probe and lon < 0.0) else lon
        y0, x0 = ys, xs
        y1, x1 = np.roll(ys, -1), np.roll(xs, -1)
        crossing = (y0 > lat) != (y1 > lat)
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = (x1 - x0) * (lat - y0) / (y1 - y0) + x0
        inside ^= bool(int(np.sum(crossing & (x < xi))) % 2)
    return inside


@given(st.integers(min_value=0, max_value=2**31), st.integers(min_value=1, max_value=3),
       st.floats(min_value=-55.0, max_value=55.0),
       st.floats(min_value=-180.0, max_value=179.9),
       st.floats(min_value=2.0, max_value=14.0))
@settings(max_examples=40, deadline=None)
def test_clipped_cover_parity_matches_pip_kernel(seed, res, c_lat, c_lon, base_r):
    """Round-7 net over the round-6 lead surface: for a random simple
    ring (dateline-crossing whenever the center lands near ±180) at a
    random resolution, the per-cell CLIPPED pieces must reproduce the
    reference crossing parity for every probe — probe's cell absent
    from the cover => outside; present => piece-parity XOR. This is the
    invariant the clipped PIP dims rest on (geo/clip.py's
    parity-preservation argument), checked end-to-end through
    clipped_cell_cover rather than through any Spark plan."""
    from wikibrain_spark.geo import cells as _cells
    from wikibrain_spark.geo import clip as _clip

    la, lo = _star_ring(seed, c_lat, c_lon, base_r, 160)
    pieces = _clip.clipped_cell_cover([(la, lo)], res)

    rng = np.random.default_rng(seed + 1)
    p_lat = np.clip(c_lat + rng.uniform(-1.8, 1.8, 60) * base_r, -89.9, 89.9)
    p_lon = ((c_lon + rng.uniform(-1.8, 1.8, 60) * base_r + 180.0) % 360.0) - 180.0
    want = pip.points_in_rings(p_lat, p_lon, [(la, lo)])
    cell_ids = _cells.hexlite_cell(p_lat, p_lon, res)
    for i in range(p_lat.size):
        got = _piece_parity(pieces.get(int(cell_ids[i]), []), float(p_lat[i]), float(p_lon[i]))
        assert got == bool(want[i]), (
            f"clip parity diverges at probe ({p_lat[i]}, {p_lon[i]}) res {res}"
        )


@given(st.integers(min_value=0, max_value=2**31),
       st.floats(min_value=-55.0, max_value=55.0),
       st.floats(min_value=-180.0, max_value=179.9),
       st.floats(min_value=1e-3, max_value=1.0))
@settings(max_examples=60, deadline=None)
def test_dp_simplify_hausdorff_guarantee_property(seed, c_lat, c_lon, tol):
    """Segment-distance Douglas-Peucker guarantee on random simple
    rings: every ORIGINAL vertex within tol of the simplified closed
    chain; kept vertices are a >=3-subset in original order."""
    from wikibrain_spark.geo import simplify as _simp

    la, lo = _star_ring(seed, c_lat, c_lon, 8.0, 200)
    xs = pip.unwrap_lon(lo) if pip.ring_wraps(lo) else lo
    sy, sx = _simp.dp_simplify_ring(la, xs, tol)
    assert sy.size >= 3
    y1, x1 = np.roll(sy, -1), np.roll(sx, -1)
    dy, dx = y1 - sy, x1 - sx
    l2 = dy * dy + dx * dx
    my = la[:, None] - sy[None, :]
    mx = xs[:, None] - sx[None, :]
    with np.errstate(invalid="ignore", divide="ignore"):
        t = np.clip(np.where(l2 > 0, (my * dy + mx * dx) / l2, 0.0), 0.0, 1.0)
    d2 = ((my - t * dy) ** 2 + (mx - t * dx) ** 2).min(axis=1)
    assert float(np.sqrt(d2.max())) <= tol + 1e-9
