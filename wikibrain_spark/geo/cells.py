"""Hierarchical geo-cell indexes: "hexlite" (H3-bit-layout grid) and S2-style ids.

The sandbox has no h3/s2 native libs (SURVEY.md §7.0), so both indexes are
implemented from the published algorithms, vectorized in NumPy, with three
co-equal implementations of the hexlite encoder that MUST agree bit-for-bit
(tested in tests/test_cells.py):

  1. ``hexlite_cell(lat, lon, res)``      — NumPy kernel (inside pandas UDFs)
  2. ``hexlite_cell_col(lat, lon, res)``  — native Spark Column expression
     (whole-stage codegen; the hot path — no Python in the plan)
  3. ``hexlite_cell_sql(lat, lon, res)``  — ANSI SQL string (DuckDB oracle)

hexlite design (documented simplification of H3, allowed by SURVEY.md §7.0:
the reference has no H3 at all, so the contract is a deterministic,
self-consistent hierarchical cell assignment):
  - equal-angle lat/lon grid; cell edge shrinks by sqrt(7) per resolution
    (H3 is aperture-7: x7 area per res => x sqrt(7) linear), matching H3's
    average edge progression (res 7 ~ 1 km).
  - 64-bit id packs H3-style header bits: [4b mode=1][4b res][28b lat_idx]
    [28b lon_idx]. Unlike real H3 the cells are squares on the equal-angle
    grid, which makes k-ring, covering, and SQL-oracle parity exact and O(1).

S2 ids use the real S2 bit layout (face << 61 | hilbert_pos << 1 | lsb) with
the quadratic s-t projection from the S2 geometry papers; the Hilbert curve
is the classic Wikipedia xy2d rotation algorithm (S2's per-face initial
orientation tables are not replicated — ids are self-consistent and
hierarchy-preserving but not bit-identical to Google S2; documented here).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from wikibrain_spark.session import expr_once

HEXLITE_MODE = 1
HEXLITE_BASE_DEG = 8.0  # res-0 cell edge in degrees
_SQRT7 = math.sqrt(7.0)


def hexlite_step(res: int) -> float:
    """Cell edge in degrees at a resolution (res 7 ~ 0.0088 deg ~ 1 km)."""
    return HEXLITE_BASE_DEG / (_SQRT7 ** res)


def hexlite_dims(res: int) -> tuple[int, int]:
    """(n_lat, n_lon) grid dimensions at a resolution."""
    step = hexlite_step(res)
    return math.ceil(180.0 / step), math.ceil(360.0 / step)


# ------------------------------------------------------------- numpy kernel

def hexlite_cell(lat, lon, res: int) -> np.ndarray:
    """Vectorized NumPy encoder. lat [-90,90], lon [-180,180] -> int64 ids."""
    step = hexlite_step(res)
    n_lat, n_lon = hexlite_dims(res)
    lat = np.asarray(lat, dtype=np.float64)
    lon = np.asarray(lon, dtype=np.float64)
    lat_idx = np.minimum(np.floor((lat + 90.0) / step), n_lat - 1).astype(np.int64)
    lon_idx = np.minimum(np.floor(np.mod(lon + 180.0, 360.0) / step), n_lon - 1).astype(np.int64)
    return (np.int64(HEXLITE_MODE) << 60) | (np.int64(res) << 56) | (lat_idx << 28) | lon_idx


def hexlite_decode(cell) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """int64 cell ids -> (res, lat_idx, lon_idx)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = (cell >> 56) & 0xF
    lat_idx = (cell >> 28) & ((1 << 28) - 1)
    lon_idx = cell & ((1 << 28) - 1)
    return res, lat_idx, lon_idx


def hexlite_center(cell) -> tuple[np.ndarray, np.ndarray]:
    """Cell center (lat, lon). Vectorized; all cells must share one res."""
    res, lat_idx, lon_idx = hexlite_decode(cell)
    step = hexlite_step(int(np.asarray(res).flat[0]))
    lat = (lat_idx + 0.5) * step - 90.0
    lon = (lon_idx + 0.5) * step - 180.0
    return lat, lon


def hexlite_parent(cell, parent_res: int) -> np.ndarray:
    """Parent at a coarser res = re-encode the center (sqrt(7) steps do not
    nest integrally, so parenthood is by containment of the center point)."""
    lat, lon = hexlite_center(cell)
    return hexlite_cell(lat, lon, parent_res)


def hexlite_k_ring(cell: int, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of a single cell (incl. itself).

    Longitude wraps; latitude clamps at the poles. Returns unique int64 ids.
    """
    res, lat_idx, lon_idx = (int(x) for x in hexlite_decode(np.int64(cell)))
    n_lat, n_lon = hexlite_dims(res)
    di = np.arange(-k, k + 1)
    lat_g, lon_g = np.meshgrid(lat_idx + di, lon_idx + di, indexing="ij")
    keep = (lat_g >= 0) & (lat_g < n_lat)
    lat_g = lat_g[keep]
    lon_g = np.mod(lon_g[keep], n_lon)
    ids = (np.int64(HEXLITE_MODE) << 60) | (np.int64(res) << 56) | (lat_g.astype(np.int64) << 28) | lon_g.astype(np.int64)
    return np.unique(ids)


def hexlite_cover_bbox(lat_min, lat_max, lon_min, lon_max, res: int) -> np.ndarray:
    """All cells containing any probe point inside a lat/lon bbox. lon
    bounds may exceed +180 (the unwrapped frame of a dateline-crossing
    ring): the portion beyond 180 covers cells whose probes arrive with
    RAW (negative) longitudes, so its columns are enumerated through the
    probe formula — j = floor((x - 180) / step) for unwrapped x >= 180,
    exactly where a raw probe at x - 360 encodes. Index-modular wrapping
    (the previous formulation) is NOT equivalent: it shifts longitude by
    n_lon*step - 360, which is non-zero at odd resolutions (the sqrt7
    ladder makes 360/step non-integral there — up to 2.85 deg at res 1),
    displacing the raw-negative columns by up to a full cell (round-6
    correctness fix; subsumes the round-5 +180-seam special case)."""
    step = hexlite_step(res)
    n_lat, n_lon = hexlite_dims(res)
    i0 = max(0, int(math.floor((lat_min + 90.0) / step)))
    i1 = min(n_lat - 1, int(math.floor((lat_max + 90.0) / step)))
    cols: list[int] = []
    if lon_min < 180.0:  # raw >= -180 branch: probes keep their longitude
        a = max(0, int(math.floor((lon_min + 180.0) / step)))
        b = min(n_lon - 1, int(math.floor(
            (min(lon_max, np.nextafter(180.0, 0.0)) + 180.0) / step)))
        cols.extend(range(a, b + 1))
    if lon_max >= 180.0:  # raw < 0 branch: probes arrive at x - 360
        a = max(0, int(math.floor((max(lon_min, 180.0) - 180.0) / step)))
        b = min(n_lon - 1, int(math.floor((lon_max - 180.0) / step)))
        cols.extend(range(a, b + 1))
    lat_g, lon_g = np.meshgrid(
        np.arange(i0, i1 + 1), np.unique(np.asarray(cols, dtype=np.int64)), indexing="ij"
    )
    ids = (np.int64(HEXLITE_MODE) << 60) | (np.int64(res) << 56) | (lat_g.astype(np.int64) << 28) | lon_g.astype(np.int64)
    return np.unique(ids)


_IDX_MASK = (1 << 28) - 1


# ----------------------------------------------------- Spark Column (codegen)

def hexlite_parent_col(cell: Column, parent_res: int, child_res: int) -> Column:
    """Native Column mirror of hexlite_parent: pyramid rollups (tile stats
    at res 9 -> dashboards at res 3) must work from CELL IDS alone — the
    flagship output carries cell_r9, not raw coordinates. Parenthood is
    center-based approximate containment, like real H3 (the sqrt7 ladder
    is not nested; a child straddling a parent boundary deviates <=1 index
    from direct point encoding — pinned in tests). child_res is a plan
    constant — at rest the engine stores one resolution per column, so the
    decode step stays literal arithmetic inside whole-stage codegen."""
    step_c = hexlite_step(child_res)
    # identical arithmetic FORM to hexlite_center's (idx + 0.5) * step - 90:
    # a different-but-algebraically-equal form (idx*step + (step/2 - 90))
    # can differ by an ulp, letting the parent floor disagree with the
    # NumPy kernel exactly at a parent-cell boundary (three-way parity is
    # pinned in test_cells)
    lat_c = (
        F.shiftright(cell, 28).bitwiseAND(F.lit(_IDX_MASK)).cast("double") + F.lit(0.5)
    ) * F.lit(step_c) - F.lit(90.0)
    lon_c = (
        cell.bitwiseAND(F.lit(_IDX_MASK)).cast("double") + F.lit(0.5)
    ) * F.lit(step_c) - F.lit(180.0)
    return hexlite_cell_col(lat_c, lon_c, parent_res)


def hexlite_parent_sql(cell_expr: str, parent_res: int, child_res: int) -> str:
    """Equivalent ANSI SQL (DuckDB oracle). Must match the two above."""
    step_c = hexlite_step(child_res)
    # same (idx + 0.5) * step - 90 form as hexlite_center / the Column
    # mirror — see hexlite_parent_col for why the form itself matters
    lat_c = f"(((({cell_expr} >> 28) & {_IDX_MASK}) + 0.5) * {step_c!r} - 90.0)"
    lon_c = f"((({cell_expr} & {_IDX_MASK}) + 0.5) * {step_c!r} - 180.0)"
    return hexlite_cell_sql(lat_c, lon_c, parent_res)


def hexlite_cell_col(lat: Column | str, lon: Column | str, res: int) -> Column:
    """Native Column expression — stays inside whole-stage codegen.

    Given column NAMES, the expression is built once per JVM
    (session.expr_once) and shared by every caller; alias it at the call
    site."""
    if isinstance(lat, str) and isinstance(lon, str):
        return expr_once(("hexlite_cell_col", lat, lon, res),
                         lambda: hexlite_cell_col(F.col(lat), F.col(lon), res))
    step = hexlite_step(res)
    n_lat, n_lon = hexlite_dims(res)
    lat_idx = F.least(F.floor((lat + F.lit(90.0)) / F.lit(step)), F.lit(n_lat - 1)).cast("long")
    lon_idx = F.least(
        F.floor(F.pmod(lon + F.lit(180.0), F.lit(360.0)) / F.lit(step)), F.lit(n_lon - 1)
    ).cast("long")
    header = (HEXLITE_MODE << 60) | (res << 56)
    return (F.lit(header) + F.shiftleft(lat_idx, 28) + lon_idx).cast("long")


def hexlite_cell_sql(lat_expr: str, lon_expr: str, res: int) -> str:
    """Equivalent ANSI SQL (DuckDB oracle). Must match the two above exactly."""
    step = hexlite_step(res)
    n_lat, n_lon = hexlite_dims(res)
    header = (HEXLITE_MODE << 60) | (res << 56)
    lat_idx = f"least(floor(({lat_expr} + 90.0) / {step!r}), {n_lat - 1})::BIGINT"
    # SQL mod keeps the sign of the dividend; inputs here are lon+180 >= 0
    lon_idx = (
        f"least(floor((( ({lon_expr} + 180.0) % 360.0 + 360.0) % 360.0) / {step!r}), {n_lon - 1})::BIGINT"
    )
    return f"({header} + ({lat_idx} * 268435456) + {lon_idx})"


# ------------------------------------------------------------------- S2-style

S2_MAX_LEVEL = 30

_FACE_UV = (
    # face: (u from, v from) given unit vector components, per S2 face layout
    lambda x, y, z: (y / x, z / x),       # face 0: +x
    lambda x, y, z: (-x / y, z / y),      # face 1: +y
    lambda x, y, z: (-x / z, -y / z),     # face 2: +z
    lambda x, y, z: (z / x, y / x),       # face 3: -x
    lambda x, y, z: (z / y, -x / y),      # face 4: -y
    lambda x, y, z: (-y / z, -x / z),     # face 5: -z
)


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    """S2 quadratic projection (the published ST_UV quadratic transform).

    np.where evaluates BOTH branches, so one of the sqrts always sees a
    negative argument for |u| > 1/3 — the selected value is never NaN, but
    the rejected branch raises a RuntimeWarning without the errstate fence
    (same class of fence as geo/pip.py's x_at_y division)."""
    with np.errstate(invalid="ignore"):
        return np.where(u >= 0, 0.5 * np.sqrt(1.0 + 3.0 * u), 1.0 - 0.5 * np.sqrt(1.0 - 3.0 * u))


def _hilbert_xy2d(order: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized classic Hilbert xy->d (rotation form), int64-safe to order 30."""
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x, dtype=np.int64)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f, y_f = x.copy(), y.copy()
        x = np.where(flip, s - 1 - x_f, x_f)
        y = np.where(flip, s - 1 - y_f, y_f)
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


def s2_cell_id(lat, lon, level: int = S2_MAX_LEVEL) -> np.ndarray:
    """S2-bit-layout cell ids (face<<61 | pos<<1 | 1 at max level, then
    truncated to `level` with the standard trailing-lsb encoding)."""
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    x = np.cos(lat_r) * np.cos(lon_r)
    y = np.cos(lat_r) * np.sin(lon_r)
    z = np.sin(lat_r)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az), np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)
    u = np.empty_like(x)
    v = np.empty_like(x)
    with np.errstate(divide="ignore", invalid="ignore"):
        for f in range(6):
            m = face == f
            if m.any():
                uf, vf = _FACE_UV[f](x[m], y[m], z[m])
                u[m], v[m] = uf, vf
    max_ij = (1 << S2_MAX_LEVEL) - 1
    i = np.clip((_uv_to_st(u) * (1 << S2_MAX_LEVEL)).astype(np.int64), 0, max_ij)
    j = np.clip((_uv_to_st(v) * (1 << S2_MAX_LEVEL)).astype(np.int64), 0, max_ij)
    pos = _hilbert_xy2d(S2_MAX_LEVEL, i, j)
    cid = (face << 61) | (pos << 1) | 1
    if level < S2_MAX_LEVEL:
        lsb = np.int64(1) << (2 * (S2_MAX_LEVEL - level))
        cid = (cid & ~(lsb - 1)) | lsb
    return cid


def s2_parent(cell_id, level: int) -> np.ndarray:
    """Standard S2 parent: zero below the new lsb, set the new lsb."""
    cell_id = np.asarray(cell_id, dtype=np.int64)
    lsb = np.int64(1) << (2 * (S2_MAX_LEVEL - level))
    return (cell_id & ~(lsb - 1)) | lsb
