"""Clip-to-cell polygon covers: bounded per-cell geometry for the
clipped native PIP dim (spatial_join.clipped_cell_rows).

The dim itself is built by the compiled port of this module,
jvm/ClipCells.java, inside the boundary scan's stage. This NumPy
implementation is its test oracle (as geo/pip.py is the fold's): the
compiled clip must give the same cells and byte-identical packed pieces,
and clip_bands is pinned against a naive full-ring Sutherland-Hodgman.

A 10^4-vertex boundary covering 10^5 grid cells must NOT ship its full
ring set once per covered cell — that is O(cells x vertices) shuffle
volume (~10 GB for one continental coastline at res 4). Instead each
covering cell carries only the polygon's geometry CLIPPED to that cell's
window: total transported edges are O(vertices + cells) (every original
edge appears in the few cells it crosses; interior cells degenerate to
the 4-edge window rectangle).

Correctness: Sutherland-Hodgman clipping of a simple ring against a
(slightly margined) cell window produces a closed polygon whose region
equals ring-region ∩ window, so for any probe point INSIDE the cell the
even-odd crossing parity of the clipped piece equals the original ring's
parity — the window's bridge edges supply exactly the crossings the
removed far geometry used to. Parity XORs across rings (holes,
multipolygon components) exactly as with full geometry. The margin keeps
probes that sit exactly ON a cell boundary (the float lattice does hit
j*step-180 at some resolutions) strictly interior to their cell's
window, away from the introduced bridge edges.

Cell windows are derived from the PROBE-side cell formula
(cells.hexlite_cell: lat_idx = min(floor((lat+90)/step), n_lat-1),
lon_idx = min(floor(mod(lon+180,360)/step), n_lon-1)) rather than from
any cover enumeration, so membership is exact at EVERY resolution —
including those where 360/step is non-integral and the +180-seam cell is
over-wide. A dateline-crossing ring (wide raw, narrow unwrapped —
geo/pip.py ring_wraps) is clipped in its unwrapped frame against BOTH
images of each raw cell's window (the window itself and the window
shifted +360); its pieces carry an explicit unwrap-probe flag, because a
clipped fragment no longer looks wrapping-shaped to the heuristic.

The clip runs once per polygon snapshot on the DIM side, one boundary
per call: embarrassingly parallel and tiny next to the points table.
"""

from __future__ import annotations

import numpy as np

from wikibrain_spark.geo import cells, pip

# window margin as a fraction of the cell step: large enough that no
# float-lattice probe coordinate can coincide with a bridge edge, small
# enough that margin-zone area is negligible (the clipped region may
# exceed the cell by the margin strip; that never changes parity for
# probes inside the cell)
MARGIN_FRAC = 1e-6


def _touching(e_lo: np.ndarray, e_hi: np.ndarray, b_lo: np.ndarray,
              b_hi: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(band, edge) pairs, edge-major, for every edge whose closed range
    [e_lo, e_hi] meets the closed band [b_lo, b_hi]; b_lo must be
    ascending. The comparisons are exactly the clip's
    inside tests, so an edge is left out iff both its ends lie outside
    the same plane of the band."""
    w = float(np.max(b_hi - b_lo))
    k0 = np.searchsorted(b_lo, e_lo - 2.0 * w, "left")
    cnt = np.maximum(np.searchsorted(b_lo, e_hi, "right") - k0, 0)
    edge = np.repeat(np.arange(e_lo.size), cnt)
    start = np.cumsum(cnt) - cnt
    band = np.arange(edge.size) - np.repeat(start - k0, cnt)
    ok = (e_hi[edge] >= b_lo[band]) & (e_lo[edge] <= b_hi[band])
    return band[ok], edge[ok]


def _segments(seg: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(first, lens, nxt) of a segment-sorted id array: each run's first
    position and length, and every position's cyclic successor inside
    its own run (each run is one closed ring)."""
    first = np.flatnonzero(np.concatenate(([True], seg[1:] != seg[:-1])))
    lens = np.diff(np.append(first, seg.size))
    nxt = np.arange(1, seg.size + 1)
    nxt[first + lens - 1] = first
    return first, lens, nxt


def clip_bands(a: np.ndarray, b: np.ndarray, b_lo: np.ndarray,
               b_hi: np.ndarray) -> list[tuple[int, np.ndarray, np.ndarray]]:
    """Sutherland-Hodgman clip of one simple closed ring (a = coordinates
    on the clipped axis, b = the other axis) to every slab
    b_lo[k] <= a <= b_hi[k] (b_lo ascending) at once. Returns
    [(k, piece_a, piece_b), ...] in k order for the slabs whose clip is
    non-empty; each piece is exactly what clipping the whole ring to that
    slab alone gives (planes a >= lo then a <= hi, each skipped when the
    ring is wholly inside it, no piece when nothing is inside), down to
    its start vertex.

    Each slab clips only its REDUCED ring: the endpoints of the edges
    touching it (_touching), in ring order. That collapses every run of
    non-touching edges — consecutive ones share a vertex, so a run lies
    wholly above or wholly below the slab — to its two end vertices. A
    run outside a plane emits nothing there, and a run inside the first
    plane but outside the second emits vertices the second plane drops,
    so the reduced ring clips to the same cyclic vertex sequence (same
    crossing points, computed from the same edges in the same direction).
    All slabs run as one segmented vectorized pass.

    Start vertex: sequential S-H emits per input edge i (v_i -> v_{i+1})
    its crossing point, then v_{i+1}, so its output is ordered by
    (edge, crossing-before-vertex). Every emission is keyed 2*k(edge)
    (crossing) or 2*k(edge) + 1 (vertex); the keys of a reduced ring's
    edges are the full-ring index of the edge ENDING at each reduced
    edge's end vertex (for a touching edge, the edge itself; a collapsed
    edge emits only that end vertex, which the full ring emits at that
    edge). Each piece is rotated to its minimum key — the full-ring
    clip's first emission."""
    n = a.size
    an = np.concatenate((a[1:], a[:1]))
    band, edge = _touching(np.minimum(a, an), np.maximum(a, an), b_lo, b_hi)
    if not band.size:
        return []
    ukey = np.unique(np.concatenate((band * n + edge, band * n + (edge + 1) % n)))
    seg, idx = np.divmod(ukey, n)
    first, lens, nxt = _segments(seg)
    keys = (idx[nxt] - 1) % n
    ca, cb = a[idx], b[idx]
    for bounds, keep_ge in ((b_lo, True), (b_hi, False)):
        bound = bounds[seg]
        inside = (ca >= bound) if keep_ge else (ca <= bound)
        nxt_in = inside[nxt]
        cross = inside != nxt_in
        can, cbn = ca[nxt], cb[nxt]
        a0, a1 = ca[cross], can[cross]
        t = (bound[cross] - a0) / (a1 - a0)
        b0 = cb[cross]
        cnt = cross.astype(np.int64) + nxt_in
        off = np.cumsum(cnt) - cnt
        m = int(cnt.sum())
        oa, ob = np.empty(m), np.empty(m)
        ok = np.empty(m, dtype=np.int64)
        ci, vi = off[cross], (off + cross)[nxt_in]
        oa[ci] = a0 + t * (a1 - a0)
        ob[ci] = b0 + t * (cbn[cross] - b0)
        ok[ci] = 2 * keys[cross]
        oa[vi], ob[vi] = can[nxt_in], cbn[nxt_in]
        ok[vi] = 2 * keys[nxt_in] + 1
        # a ring wholly inside the plane passes through unchanged (the
        # emission above is rotated by one: every edge emits its end
        # vertex; overwrite in place so each vertex keeps its own key). A
        # ring with nothing inside clips to nothing; a partly inside one
        # emits >= 1 vertex and >= 2 crossings, so the sequential clip's
        # "fewer than 3 vertices" rule can never drop it.
        n_out = np.add.reduceat(cnt, first)
        all_in = np.add.reduceat(inside.astype(np.int64), first) == lens
        if all_in.any():
            same = np.repeat(all_in, lens)
            p = off[same]
            oa[p], ob[p], ok[p] = ca[same], cb[same], 2 * keys[same] + 1
        keep = n_out > 0
        oseg = np.repeat(seg, cnt)
        if not keep.all():
            sel = np.repeat(keep, n_out)
            oa, ob, ok, oseg = oa[sel], ob[sel], ok[sel], oseg[sel]
            if not oseg.size:
                return []
        ca, cb, keys, seg = oa, ob, ok, oseg
        first, lens, nxt = _segments(seg)
    # rotate each piece to its (unique) minimum key
    kmin = np.repeat(np.minimum.reduceat(keys, first), lens)
    r0 = np.repeat(first, lens)
    shift = np.repeat(np.flatnonzero(keys == kmin) - first, lens)
    pos = r0 + (np.arange(seg.size) - r0 + shift) % np.repeat(lens, lens)
    ca, cb = ca[pos], cb[pos]
    ends = first + lens
    return [(int(seg[f]), ca[f:e], cb[f:e]) for f, e in zip(first, ends)]


def clipped_cell_cover(
    rings: list, res: int, strip_lo: int | None = None, strip_hi: int | None = None
) -> dict[int, list]:
    """Per-cell clipped geometry for one boundary's ring list.

    rings: [(ring_lat, ring_lon), ...] arrays (is_hole irrelevant —
    parity needs no roles). Returns {cell_id: [(ys, xs, unwrap_probe),
    ...]} where piece coords are in the ring's test frame and
    unwrap_probe says whether probe lons must shift +360 when < 0.

    Decomposition is strip-then-column, one clip_bands pass per level:
    each ring is clipped to all its latitude strips at once (every edge
    bucketed into the margined strips it touches; each strip clips only
    its reduced ring), then each strip piece to all its column windows
    the same way. The output is exactly what clipping the FULL ring per
    strip and the full strip piece per column gives: same cells, same
    vertex sequences from the same start vertex, same piece order. Work
    is O(V + sum over edges of the strips and columns each touches +
    occupied cells) in a fixed number of NumPy passes per ring and per
    strip — no per-cell Python clip. Measured 0.5 s serial on a 4-core
    VM for the 600k-vertex megacoast at res 2 (4.2 s for the per-strip,
    per-column full-ring clip it replaces).

    strip_lo/strip_hi (round 8): restrict the walk to latitude strips in
    [strip_lo, strip_hi]. Every cell belongs to exactly one strip, so a
    partition of the strip range yields each (cell) entry exactly once,
    with pieces in the same ring/strip/column order as the unrestricted
    call."""
    step = cells.hexlite_step(res)
    n_lat, n_lon = cells.hexlite_dims(res)
    hdr = (cells.HEXLITE_MODE << 60) | (res << 56)
    m = step * MARGIN_FRAC
    out: dict[int, list] = {}

    for ring in rings:
        la = np.asarray(ring[0], dtype=np.float64)
        lo = np.asarray(ring[1], dtype=np.float64)
        wraps = pip.ring_wraps(lo)
        xs_ring = pip.unwrap_lon(lo) if wraps else lo
        i0 = max(0, int(np.floor((la.min() + 90.0) / step)))
        i1 = min(n_lat - 1, int(np.floor((la.max() + 90.0) / step)))
        if strip_lo is not None:
            i0 = max(i0, int(strip_lo))
        if strip_hi is not None:
            i1 = min(i1, int(strip_hi))
        if i0 > i1:
            continue
        # candidate RAW lon cells: project the ring's x-range back through
        # the probe-side cell formula, mirroring hexlite_cover_bbox's two
        # branches EXACTLY so the clipped cover is a provable subset of the
        # bbox cover the semi-filter broadcasts (round-6 ADVICE: the old
        # non-wrapped branch skipped branch B when lon_max == +180, silently
        # relying on the half-open edge rule to keep a lon=+180 probe
        # outside). Branch A columns clip against the window itself; branch
        # B columns (unwrapped x >= 180, where raw probes arrive at x-360,
        # i.e. probe lons shift +360) clip against the window's +360 image.
        u_lo, u_hi = float(xs_ring.min()), float(xs_ring.max())
        cs: set[int] = set()
        shifted: set[int] = set()
        if u_lo < 180.0:  # branch A: probes keep their raw longitude
            c_a = int(np.floor((u_lo + 180.0) / step))
            c_b = int(np.floor((min(u_hi, np.nextafter(180.0, 0.0)) + 180.0) / step))
            cs.update(range(max(0, c_a), min(n_lon - 1, c_b) + 1))
        if u_hi >= 180.0:  # branch B: probes arrive at x - 360
            c_a = int(np.floor((max(u_lo, 180.0) - 180.0) / step))
            c_b = int(np.floor((u_hi - 180.0) / step))
            shifted.update(range(max(0, c_a), min(n_lon - 1, c_b) + 1))
        # column windows in emission order (column, then branch A before
        # B): each branch clips against ITS image of the raw cell window in
        # the ring's test frame — branch A the window itself (probes keep
        # their lon), branch B the +360 image (raw < 0 probes arrive
        # shifted +360 — and so does a raw +180 probe, which encodes into
        # the seam column j=0 and keeps its lon, landing inside the +360
        # image directly)
        wins = []
        for c in sorted(cs | shifted):
            x_lo = c * step - 180.0
            if c in cs:
                wins.append((c, x_lo - m, x_lo + step + m, wraps))
            if c in shifted:
                wins.append((c, x_lo + 360.0 - m, x_lo + 360.0 + step + m, True))
        if not wins:
            continue
        w_ord = np.argsort([w[1] for w in wins], kind="stable")
        w_lo = np.array([wins[k][1] for k in w_ord])
        w_hi = np.array([wins[k][2] for k in w_ord])

        ys_lo = np.arange(i0, i1 + 1) * step - 90.0
        for band, sy, sx in clip_bands(la, xs_ring, ys_lo - m, ys_lo + step + m):
            row = hdr | ((i0 + band) << 28)
            pieces = sorted(
                ((int(w_ord[k]), px, py) for k, px, py in clip_bands(sx, sy, w_lo, w_hi)),
                key=lambda t: t[0],
            )
            for k, px, py in pieces:
                c, _, _, unwrap_probe = wins[k]
                out.setdefault(row | c, []).append((py, px, unwrap_probe))
    return out

