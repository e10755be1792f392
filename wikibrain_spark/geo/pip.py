"""Point-in-polygon kernels + a grid-bucketed polygon index (STRtree-lite).

Vectorized even-odd (crossing-number) test in NumPy. Edge rule: a point
exactly on a horizontal edge, or on the right/top boundary, is OUTSIDE;
points on the left/bottom crossing are INSIDE — the standard half-open
rule, so every point lands in at most one of two polygons sharing an edge.
Deterministic; the synthetic-fixture generator uses this same kernel as
the ground-truth oracle (FIXTURES.md §3 tie rule).

MULTIPOLYGON / HOLE / ANTIMERIDIAN model (round-4 verdict #1 — the north
rule's real OSM boundary shape; the reference has no polygon ops at all,
its spatial surface is point distances, wikimedia_link_issue_reporter.py
1368-1376 / 1880-1895, so this model is new surface, not a port):

* A polygon is a LIST of rings. Containment is the even-odd fill rule
  over the union of all rings' edges: one outer ring -> classic test;
  outer + inner (hole) ring -> a point inside both crosses an even total
  and is OUTSIDE (enclave semantics: San Marino's boundary is a separate
  polygon sitting inside Italy's hole); two disjoint outers -> a
  multipolygon (either component contains the point). `is_hole` is
  metadata (OSM inner/outer roles) used for bbox/cover construction —
  parity itself never needs it, which is what makes the rule robust to
  role-tagging errors in real OSM data.
* A ring CROSSES THE ANTIMERIDIAN iff its longitude span exceeds 180°
  raw but fits within 180° unwrapped (see ring_wraps — the second
  condition keeps pole-enclosing rings, which stay wide in both frames,
  in the raw frame). A crossing ring is tested in
  the UNWRAPPED frame: ring lons < 0 shift by +360 (Fiji's
  [-180,-176]∪[176,180] becomes a contiguous [176,184]); a point enters
  that frame as lon+360 when lon < 0. The unwrap is per-ring — rings of
  one multipolygon may disagree (Fiji again) — and parity composes
  because each ring's crossing parity is frame-independent.
* A POLE-ENCLOSING ring (Antarctica) must carry the standard
  OSM/GeoJSON pole-closure edges (run to lat ±90 at lon ±180 and close
  along the pole); plate-carrée even-odd then handles it exactly with
  no special casing (pinned in tests).

The index buckets polygon bboxes into hexlite cells at a chosen resolution;
lookup is O(1) per point + exact tests against only the bucket's polygons.
Spark never runs this module: the engine's one PIP fold is the compiled
jvm/PipFold.java (spatial_join). The NumPy kernel and PolygonIndex are
its test oracles (synthetic.expected_tiles, perfbench's correctness
check) and the reference for its edge rule and floating-point order.
"""

from __future__ import annotations

import numpy as np

from wikibrain_spark.geo import cells

# a ring wider than half the globe is taken to cross the antimeridian
WRAP_SPAN_DEG = 180.0

# point x edge cells one crossing_parity call may materialize: its
# float64 temporaries then stay ~64 MB each (a 2,048-point Arrow batch
# against a 400k-vertex ring would otherwise allocate several GB)
PARITY_CELL_BUDGET = 8_000_000


def ring_wraps(ring_lon: np.ndarray) -> bool:
    """True iff the ring crosses the antimeridian AND unwrapping helps.

    A Fiji-style ring has raw lon span > 180 (e.g. [-180,-176]∪[176,180]
    spans ~352°) but collapses to a NARROW contiguous band (~8°) in the
    unwrapped (+360) frame — unwrap it. A POLE-ENCLOSING ring
    (Antarctica with the standard OSM/GeoJSON pole-closure edges running
    down to lat -90 at ±180) legitimately spans (nearly) the full
    longitude range in BOTH frames; unwrapping would tear its geometry
    apart, while the raw plate-carrée frame handles it exactly (the
    closure edges at ±180 provide the crossings even-odd needs). So:
    a ring crosses the dateline iff it is wide raw but fits in half the
    globe unwrapped."""
    ring_lon = np.asarray(ring_lon, dtype=np.float64)
    raw_span = float(np.max(ring_lon) - np.min(ring_lon))
    if raw_span <= WRAP_SPAN_DEG:
        return False
    u = unwrap_lon(ring_lon)
    return float(np.max(u) - np.min(u)) <= WRAP_SPAN_DEG


def unwrap_lon(lon: np.ndarray) -> np.ndarray:
    """Shift negative longitudes by +360: the frame in which a
    dateline-crossing ring is contiguous."""
    return np.where(lon < 0.0, lon + 360.0, lon)


def points_in_ring(lat: np.ndarray, lon: np.ndarray, ring_lat: np.ndarray, ring_lon: np.ndarray) -> np.ndarray:
    """Even-odd test of N points against one closed ring (M vertices).

    Vectorized over points x edges; memory O(N*M) per call — callers chunk
    points (see PARITY_CELL_BUDGET). Antimeridian-aware: a
    wrapping ring and the probe lons are moved to the unwrapped frame.
    """
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    ring_lat = np.asarray(ring_lat, dtype=np.float64)
    ring_lon = np.asarray(ring_lon, dtype=np.float64)
    if ring_wraps(ring_lon):
        ring_lon = unwrap_lon(ring_lon)
        lon = unwrap_lon(lon)
    return crossing_parity(lat, lon, ring_lat, ring_lon)


def crossing_parity(
    lat: np.ndarray, lon: np.ndarray, ring_lat: np.ndarray, ring_lon: np.ndarray
) -> np.ndarray:
    """Raw crossing-parity test — NO frame heuristic: ring coords and
    probe lons must already be in the same frame. The explicit-frame
    entrypoint for clipped cover pieces, whose pre-unwrapped fragments no
    longer look 'wrapping-shaped' to the ring_wraps heuristic."""
    y0, x0 = ring_lat, ring_lon
    y1, x1 = np.roll(ring_lat, -1), np.roll(ring_lon, -1)
    y = lat[:, None]
    x = lon[:, None]
    crosses = (y0[None, :] > y) != (y1[None, :] > y)
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        x_at_y = (x1 - x0)[None, :] * (y - y0[None, :]) / (y1 - y0)[None, :] + x0[None, :]
    hits = crosses & (x < x_at_y)
    return hits.sum(axis=1) % 2 == 1


def points_in_rings(lat: np.ndarray, lon: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd test against a multipolygon: XOR of per-ring parities.

    rings: list of (ring_lat, ring_lon) or (ring_lat, ring_lon, is_hole)
    tuples — is_hole is ignored here (parity needs no roles)."""
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    inside = np.zeros(len(lat), dtype=bool)
    for r in rings:
        inside ^= points_in_ring(lat, lon, np.asarray(r[0], dtype=np.float64),
                                 np.asarray(r[1], dtype=np.float64))
    return inside


def _ring_tuples(ring_lats, ring_lons, rings):
    """Normalize the two ctor forms to per-polygon ring-tuple lists."""
    if rings is not None:
        return [
            [(np.asarray(r[0], dtype=np.float64), np.asarray(r[1], dtype=np.float64),
              bool(r[2]) if len(r) > 2 else False) for r in poly]
            for poly in rings
        ]
    return [
        [(np.asarray(la, dtype=np.float64), np.asarray(lo, dtype=np.float64), False)]
        for la, lo in zip(ring_lats, ring_lons)
    ]


class PolygonIndex:
    """Grid-bucketed (multi)polygon set for batched point lookups.

    Construct from parallel arrays (pickles cheaply for Spark broadcast),
    either the legacy single-outer-ring form
      PolygonIndex(poly_ids, ring_lats, ring_lons, res=...)
    or the multipolygon form
      PolygonIndex(poly_ids, rings=[[(lat_arr, lon_arr, is_hole), ...], ...])

    Per polygon the index keeps one bbox PER OUTER RING (holes sit inside
    an outer, so they never extend coverage), each tagged with its frame:
    a dateline-crossing ring's bbox lives in the unwrapped (+360) frame.
    The bucket cover relies on hexlite_cover_bbox's two-branch probe-
    formula enumeration, which maps an unwrapped bbox onto cells on BOTH
    sides of ±180° exactly where raw probe longitudes encode.
    """

    def __init__(self, poly_ids, ring_lats=None, ring_lons=None, res: int = 4, rings=None):
        self.poly_ids = np.asarray(poly_ids, dtype=np.int64)
        self.rings = _ring_tuples(ring_lats, ring_lons, rings)
        self.res = res
        # per polygon: list of (lat_min, lat_max, lon_min, lon_max, wrapped)
        # over OUTER rings, lon bounds in the ring's own frame
        self.boxes: list[list[tuple[float, float, float, float, bool]]] = []
        self.buckets: dict[int, list[int]] = {}
        for p, poly in enumerate(self.rings):
            boxes = []
            for rlat, rlon, is_hole in poly:
                if is_hole:
                    continue
                wrapped = ring_wraps(rlon)
                rl = unwrap_lon(rlon) if wrapped else rlon
                box = (float(rlat.min()), float(rlat.max()), float(rl.min()), float(rl.max()), wrapped)
                boxes.append(box)
                for c in cells.hexlite_cover_bbox(box[0], box[1], box[2], box[3], res):
                    bucket = self.buckets.setdefault(int(c), [])
                    if not bucket or bucket[-1] != p:
                        bucket.append(p)
            self.boxes.append(boxes)

    def candidate_polys(self, lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
        """Distinct polygon positions whose bucket any point touches."""
        point_cells = cells.hexlite_cell(lat, lon, self.res)
        cand: set[int] = set()
        for c in np.unique(point_cells):
            cand.update(self.buckets.get(int(c), ()))
        return np.fromiter(cand, dtype=np.int64) if cand else np.empty(0, dtype=np.int64)

    def query_batch(self, lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """All (point_idx, poly_id) containment pairs for a batch of points.

        bbox prefilter then exact even-odd test over ALL rings of the
        polygon, polygon-at-a-time, vectorized over the candidate points
        in chunks of at most PARITY_CELL_BUDGET points x ring vertices.
        """
        lat = np.asarray(lat, dtype=np.float64)
        lon = np.asarray(lon, dtype=np.float64)
        lon360 = unwrap_lon(lon)
        out_pt: list[np.ndarray] = []
        out_poly: list[np.ndarray] = []
        for p in self.candidate_polys(lat, lon):
            m = np.zeros(len(lat), dtype=bool)
            for lat_min, lat_max, lon_min, lon_max, wrapped in self.boxes[p]:
                x = lon360 if wrapped else lon
                m |= (lat >= lat_min) & (lat <= lat_max) & (x >= lon_min) & (x <= lon_max)
            if not m.any():
                continue
            idx = np.nonzero(m)[0]
            rings = self.rings[p]
            chunk = max(1, PARITY_CELL_BUDGET // max(1, max(r[0].size for r in rings)))
            hit = np.concatenate([
                c[points_in_rings(lat[c], lon[c], rings)]
                for c in (idx[s:s + chunk] for s in range(0, idx.size, chunk))
            ])
            if hit.size:
                out_pt.append(hit)
                out_poly.append(np.full(hit.size, self.poly_ids[p], dtype=np.int64))
        if not out_pt:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
        return np.concatenate(out_pt), np.concatenate(out_poly)
