"""Point-in-polygon spatial join: geotagged points vs boundary polygons.

Boundary geometry is the canonical MULTIPOLYGON `rings` schema
(RINGS_TYPE): outer rings + holes under the even-odd fill rule, with
per-ring antimeridian unwrap — see geo/pip.py's module doc for the model.
Legacy single-ring frames (ring_lat/ring_lon arrays) are upgraded by
normalize_rings at every operator entry point.

One operator (SURVEY.md U4, J12-J14): native candidate rows, behind
broadcast_pip_join_native, broadcast_pip_join, shuffle_pip_join and every
tile_assignments strategy. Each point is joined to the candidate
polygons' packed geometry rows, and the compiled parity fold
jvm/PipFold.java is the join condition. Zero Python on the points side,
and none in the dims: the clipped dim's clip is compiled too
(jvm/ClipCells.java, ~0.2 s warm for the 600k-vertex megacoast at res 2
on a 4-core VM, in the boundary scan's stage). geo/pip.py's NumPy kernel
and PolygonIndex are the test oracles the fold is pinned against.
- broadcast_pip_join_native broadcasts the dim: one-row, unclipped
  cell-prefiltered, or clipped to each cell's window, the one dim
  auto_prefilter plans (at the resolution the statistics pass picks);
  broadcast_pip_join is its cell_prefilter_res="auto" form. Boundary
  columns the points lack (tile_assignments' tags) ride in the dim rows.
- shuffle_pip_join builds the same (cell, polygon) rows but joins them on
  (cell, salt) with no broadcast hint, so Catalyst and AQE pick the
  distribution from the dim's size. Hot cells (megacity polygons) are
  salted explicitly: the points side gets salt =
  pmod(xxhash64(image_id), n_salt) and each hot cell's dim rows are
  replicated n_salt times, ONLY for cells above a hotness threshold
  measured by a sampled count pre-pass.

Statistics: every native entry reads one memoized statistics pass first
(_cover_stats): one Spark job, a select of the compiled per-polygon terms
(jvm/RingStats.java) collected through Arrow and totalled with NumPy on
the driver. It picks the cover resolution, raises on a repeated
boundary_id, and logs one JSON decision record per measurement.

Driver cost: a PySpark Column is built in the JVM one py4j round trip per
operator, and the native plan's higher-order-function expressions run to
hundreds of operators. Each pure expression here (polygon_cover's cells,
polygon_structs' staged rings, edges and struct, the statistics call,
the clip call and its row struct, the cell and header columns, the fold
condition) is therefore built ONCE PER JVM through session.expr_once,
keyed on its parameters, and reused by every DataFrame after that. The
memo holds only expressions without a top-level alias: every call site
puts its own output alias on, so two frames (shuffle_pip_join's two
polygon_cover frames, say) never share an output attribute.
"""

from __future__ import annotations

import json
import logging
import math
from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wikibrain_spark import jvm
from wikibrain_spark.geo import cells
from wikibrain_spark.session import expr_once

COVER_RES = 4  # polygon_cover default; shuffle_pip_join auto-sizes (_auto_cover_res)

# planner gates of _choose_res (its docstring gives the cost model)
_MAX_MEAN_CELLS = 1024.0  # mean bbox cover per outer ring
_MAX_RING_CELLS = 16384.0  # worst ring's bbox cover
_HEAVY_EDGES_PER_POLY = 10_000.0  # above this mean, the mean gate widens 8x

# canonical boundary geometry: a MULTIPOLYGON as an array of rings
# (outer rings + holes; even-odd fill rule — see geo/pip.py module doc)
RINGS_TYPE = "array<struct<ring_lat: array<double>, ring_lon: array<double>, is_hole: boolean>>"


def normalize_rings(boundaries: DataFrame) -> DataFrame:
    """Upgrade a boundary frame to the canonical `rings` column.

    Legacy frames carry a single outer ring as parallel ring_lat/ring_lon
    arrays; they become a one-element rings array with is_hole=false.
    Frames already carrying `rings` pass through untouched. Pure native
    expressions — no Python, no shuffle."""
    if "rings" in boundaries.columns:
        return boundaries
    wrapped = F.array(
        F.struct(
            F.col("ring_lat").alias("ring_lat"),
            F.col("ring_lon").alias("ring_lon"),
            F.lit(False).alias("is_hole"),
        )
    )
    keep = [c for c in boundaries.columns if c not in ("ring_lat", "ring_lon")]
    return boundaries.select(*keep, wrapped.alias("rings"))


def _shuffle_partitions(spark: SparkSession) -> int:
    """spark.sql.shuffle.partitions as an int, falling back to the
    cluster's default parallelism when the conf is non-numeric ("auto"
    on AQE-managed deployments, e.g. Databricks) — sizing a repartition
    must never raise over a perf knob's spelling."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


# LRU-bounded memo of _cover_stats results. Keyed by the plan's
# semanticHash: a boundary snapshot is treated as IMMUTABLE for the
# session (documented contract). Every consumer is a perf knob, so a
# stale hit can never change output rows; the bound keeps a long-lived session
# iterating over many snapshots from growing the memo forever, and
# clear_cover_stats_cache() is the explicit invalidation hook for a
# session that REWRITES a snapshot path and wants fresh statistics.
_COVER_STATS_CACHE: "OrderedDict[int, dict]" = OrderedDict()
_COVER_STATS_CACHE_MAX = 64
_LOG = logging.getLogger(__name__)


def clear_cover_stats_cache() -> None:
    """Drop all memoized boundary-snapshot statistics (snapshot rollover
    hook: res decisions after a snapshot rewrite re-measure)."""
    _COVER_STATS_CACHE.clear()


def _cover_stats(boundaries: DataFrame) -> dict:
    """The polygon-dim sufficient statistics every resolution decision
    needs, and that decision: one Spark job that never collects geometry
    (_measure_cover_stats). Ring level (outer rings, the cover): sums and
    maxima of the bbox span products ab and a+b, plus the outer-ring
    count, so any res's mean/max cover follows from cover(r) =
    ab/step^2 + (a+b)/step + 1 (linear in the stats); s_e_n =
    sum_poly(edges x outer rings) gives the vertex weight. `res` is
    auto_prefilter's resolution (_choose_res) and `cover_cells` the bbox
    cover it predicts. Memoized per logical plan (semanticHash): a
    boundary snapshot is treated as immutable for the session; every
    consumer is a perf knob, so a stale hit can never change output rows.
    Each measurement logs one JSON decision record (logger
    wikibrain_spark.operators.spatial_join, level INFO): the statistics,
    the res, clip and the predicted cover cells; a memo hit logs nothing.

    The same pass counts the polygon rows per boundary_id and raises
    ValueError naming a repeated id: every native dim keys its geometry
    rows by boundary_id, so a repeated id would pair a point with it more
    than once. Every native entry point (broadcast_pip_join_native at any
    cell_prefilter_res, and shuffle_pip_join) calls this first."""
    key = boundaries.semanticHash()
    stats = _COVER_STATS_CACHE.get(key)
    if stats is None:
        stats = _measure_cover_stats(boundaries)
        stats["res"], stats["cover_cells"] = _choose_res(stats)
        _LOG.info("%s", json.dumps({
            "decision": "spatial_join.auto_prefilter", "res": stats["res"], "clip": True,
            "cover_cells": stats["cover_cells"],
            "stats": {k: stats[k] for k in (
                "polygons", "n_outer", "sum_ab", "sum_absum", "max_ab", "max_sum", "s_e_n")}}))
        _COVER_STATS_CACHE[key] = stats
        if len(_COVER_STATS_CACHE) > _COVER_STATS_CACHE_MAX:
            _COVER_STATS_CACHE.popitem(last=False)
    else:
        _COVER_STATS_CACHE.move_to_end(key)
    if stats["id_rows"] > 1:
        raise ValueError(
            f"boundary_id {stats['dup_id']} names {stats['id_rows']} polygon rows; "
            "boundary_id must be unique"
        )
    return stats


def _measure_cover_stats(boundaries: DataFrame) -> dict:
    """The one job behind _cover_stats: a select of the compiled
    per-polygon terms (jvm/RingStats.java) over the boundary scan,
    collected through Arrow as one fixed-size row per polygon, and
    totalled with NumPy on the driver. max_* skip nulls, as Spark's max
    does, and are None without an outer ring that has vertices."""
    jvm.register(boundaries.sparkSession)
    terms = expr_once(("ring_stats",), lambda: F.call_function(jvm.RING_STATS, F.col("rings")))
    t = normalize_rings(boundaries).select("boundary_id", terms.alias("s")).toArrow().flatten()
    col = {n: t.column(f"s.{n}").to_numpy(zero_copy_only=False)
           for n in ("sum_ab", "sum_absum", "n_outer", "max_ab", "max_sum", "edges")}
    n_outer = np.nan_to_num(col["n_outer"]).astype(np.int64)  # a null rings counts nothing

    def top(x):
        x = x[~np.isnan(x)]
        return float(x.max()) if x.size else None

    ids, rows = np.unique(t.column("boundary_id").to_numpy(zero_copy_only=False),
                          return_counts=True)
    return {
        "polygons": t.num_rows,
        "n_outer": int(n_outer.sum()),
        "sum_ab": float(np.nansum(col["sum_ab"])),
        "sum_absum": float(np.nansum(col["sum_absum"])),
        "max_ab": top(col["max_ab"]),
        "max_sum": top(col["max_sum"]),
        "s_e_n": float(np.dot(np.nan_to_num(col["edges"]), n_outer)),
        "id_rows": int(rows.max()) if rows.size else 0,
        "dup_id": ids[rows.argmax()] if rows.size else None,
    }


def _choose_res(s: dict) -> tuple[int, float]:
    """(res, predicted bbox cover cells at res) from the totals: the
    finest res whose mean bbox cover per outer ring is <= _MAX_MEAN_CELLS
    and whose worst ring's is <= _MAX_RING_CELLS, 0 when none is (or
    there is no outer ring). The cover-count formula (a/step+1)(b/step+1)
    = ab/step^2 + (a+b)/step + 1 is linear in (ab, a+b), so the mean needs
    only E[ab], E[a+b]; the max gate uses max(ab), max(a+b), an upper
    bound on the worst ring's cover, conservative in the safe direction.
    A snapshot without an outer ring that has vertices covers no cell and
    gets res 0.

    What the gates bound: (a) the clip prepass — jvm/ClipCells.java clips
    each ring to all its strips and each strip piece to all its columns,
    one task per boundary, measured warm on a 4-core VM at ~0.26 us per
    vertex plus ~1.6 us per occupied cell (0.13 s for the 500k-vertex
    megacoast boundary over 2.8k cells at res 2; 0.06 s for a 4-vertex
    square over 39k cells at res 3), so _MAX_RING_CELLS caps a polygon's
    per-cell term at ~0.03 s — and (b) the clipped dim's rows (an interior
    cell carries its 4-edge window, ~200 bytes). Finer res buys pruning:
    each dim row holds fewer edges and fewer points reach each row, so the
    gates sit as fine as the prepass allows rather than as coarse as
    correctness allows.

    VERTEX-HEAVY relaxation (round 7, from the 600k-vertex megacoast
    row): the fold visits O(edges-in-the-probe's-cell) per point, and
    boundary-cell edge density falls ~linearly with step (the ring's
    edges spread over ~perimeter/step boundary cells), so for a
    high-vertex snapshot ONE step of extra resolution cuts the dominant
    per-point term ~2.6x while the costs the mean gate bounds (dim rows,
    clip prepass) stay seconds even at 8x the gate. When the mean edge
    count per polygon exceeds _HEAVY_EDGES_PER_POLY the mean gate widens
    8x (the max gate — a single worst-task bound — never moves). Measured
    on megacoast (res 1 -> 2): 20M-point join 3.5x faster; the res-2
    clipped dim builds in ~0.2 s once per snapshot. Low-vertex snapshots
    are unaffected (coastline mean ~3.8k edges/poly keeps the strict
    gate)."""
    n = s["n_outer"]
    if s["max_ab"] is None:
        return 0, 0.0
    max_mean_cells = _MAX_MEAN_CELLS
    if s["s_e_n"] / n > _HEAVY_EDGES_PER_POLY:
        max_mean_cells = 8.0 * max_mean_cells
    for res in range(7, -1, -1):
        step = cells.hexlite_step(res)
        mean_cover = (s["sum_ab"] / n) / step**2 + (s["sum_absum"] / n) / step + 1.0
        max_cover = s["max_ab"] / step**2 + s["max_sum"] / step + 1.0
        if res == 0 or (mean_cover <= max_mean_cells and max_cover <= _MAX_RING_CELLS):
            return res, s["sum_ab"] / step**2 + s["sum_absum"] / step + n


def _auto_cover_res(boundaries: DataFrame) -> int:
    """Cover resolution of the native candidate-row dims, from the
    memoized statistics pass (_cover_stats; _choose_res has the gates and
    the cost model behind them)."""
    return _cover_stats(boundaries)["res"]


def auto_prefilter(boundaries: DataFrame) -> tuple[int, bool]:
    """Physical-strategy chooser for the native dims: returns
    (cell_prefilter_res, clip_dim) from the memoized one-job statistics
    pass the shuffle strategy reads too (_cover_stats) — the engine-side
    analogue of Catalyst picking a join strategy from size statistics.
    res comes from the _choose_res gates. clip_dim is always True: the
    clipped dim (clipped_cell_rows) carries only each cell's local edges,
    so a point's fold is bounded at any vertex weight, and it is one
    broadcast where the unclipped dim needs two. It measured faster, with
    identical output, where the unclipped dim was chosen before (the
    12-city tiles snapshot and bench.py's 20k-image flagship). The pair
    keeps its shape for the callers that unpack it. Pass the result to
    broadcast_pip_join_native, or just pass cell_prefilter_res="auto"
    there."""
    return _auto_cover_res(boundaries), True


def broadcast_pip_join(points: DataFrame, boundaries: DataFrame) -> DataFrame:
    """points(image_id, lat, lon, ...) x boundaries -> (image_id, lat, lon,
    boundary_id): broadcast_pip_join_native with the dim planned by
    auto_prefilter."""
    return broadcast_pip_join_native(points, boundaries, cell_prefilter_res="auto")


def _ring_wraps_col(ring_lon):
    """Native analogue of pip.ring_wraps: unwrap only when the raw span
    exceeds 180° AND the unwrapped frame strictly reduces it (a
    pole-enclosing ring spans the full range in both frames and must stay
    in the raw frame — see pip.ring_wraps)."""
    raw_span = F.array_max(ring_lon) - F.array_min(ring_lon)
    u = F.transform(ring_lon, lambda x: F.when(x < 0, x + F.lit(360.0)).otherwise(x))
    u_span = F.array_max(u) - F.array_min(u)
    return (raw_span > F.lit(180.0)) & (u_span <= F.lit(180.0))


def _unwrap_lon_col(ring_lon, wrapped):
    return F.when(
        wrapped,
        F.transform(ring_lon, lambda x: F.when(x < 0, x + F.lit(360.0)).otherwise(x)),
    ).otherwise(ring_lon)


def _staged_rings_col(rings):
    """Per-ring test-frame geometry MATERIALIZED ONCE (round 8, guide §1/§4
    'per-task work'): array<struct<la, ulo, w, is_hole>> where `ulo` is the
    ring's lons in its own test frame (unwrapped iff the ring crosses the
    dateline) and `w` the wrap flag.

    Why this exists: higher-order-function lambdas are interpreted, and an
    expression like element_at(_unwrap_lon_col(r.ring_lon, ...), i) nested
    inside a per-edge/per-strip lambda re-evaluates the WHOLE O(vertices)
    unwrap transform on every lambda invocation — O(edges x vertices) (the
    structs build) / O(strips x vertices) (the cover enumeration) element
    evals. polygon_cover on the 600k-vertex megacoast measured 12-13 s of
    pure interpreted re-evaluation this way (vs 0.14 s for the scan).
    Staging the derived array once per ring makes every later reference an
    O(1) field access on a materialized value. Values are bit-identical:
    the staged expressions are exactly the previous inline subtrees."""
    def stage(r):
        w = _ring_wraps_col(r["ring_lon"])
        return F.struct(
            r["ring_lat"].alias("la"),
            r["ring_lon"].alias("lo"),
            _unwrap_lon_col(r["ring_lon"], w).alias("ulo"),
            w.alias("w"),
            r["is_hole"].alias("is_hole"),
        )

    return F.transform(rings, stage)


def broadcast_pip_join_native(
    points: DataFrame,
    boundaries: DataFrame,
    cell_prefilter_res: int | str | None = None,
    extra_cols: tuple[str, ...] = (),
    clip_dim: bool = False,
) -> DataFrame:
    """Fully-JVM, fully-NARROW even-odd PIP: every variant joins each point
    to its candidate polygons' struct<bid, bbin, ebin, edges> rows from a
    broadcast dim, with one call of the compiled fold jvm/PipFold.java
    (registered by jvm.register) as the join condition. The fold reads
    the packed little-endian bboxes and edges (polygon_structs has the
    layout) in a tight loop: a bbox gate, then crossing parity with the
    same half-open edge rule and floating-point operation order as the
    NumPy kernel (geo/pip.py points_in_ring). A null lat or lon is
    outside. Because the polygons are data, the condition is one fixed
    call at any polygon count (inlined plan literals hit Janino's 64 KB
    method ceiling at a few hundred edges).

    Zero Python and zero shuffle of the points side.

    cell_prefilter_res: None (the one-row dim) makes every polygon a
    candidate of every point — a broadcast nested-loop join. When set,
    each point folds only over the polygons whose cover holds its hexlite
    cell at that res. This is the scale configuration for large polygon
    COUNTS (per-point work drops from O(all polygons) to O(cell
    candidates)).

    cell_prefilter_res="auto" takes the resolution from the auto_prefilter
    statistics pass (one job, memoized per boundary snapshot) and always
    uses the clipped dim.

    clip_dim (with cell_prefilter_res): one broadcast hash join on cell
    against clipped_cell_rows — each (cell, polygon) row carries only the
    geometry clipped to that cell's window, making the per-point fold
    O(local edges), so fine prefilter resolutions work at ANY vertex
    weight. The dim build is a once-per-snapshot compiled clip of each
    boundary (jvm/ClipCells.java, in the boundary scan's stage; the whole
    plan stays zero-Python). clip_dim=False at a fixed res makes two
    broadcast hash equi-joins instead — each point's cell against
    polygon_cover's (boundary_id, cell) rows, then boundary_id against
    polygon_structs — whose broadcasts are O(cells + vertices) but whose
    fold visits each candidate's whole edge list.

    Ties on a slanted edge: a point exactly on a slanted (neither
    horizontal nor vertical) edge is inside or outside by the clip's
    rounding in the clipped dim, while the one-row and unclipped dims and
    the NumPy kernel (geo/pip.py) apply the half-open rule to the original
    edge. Clipping moves a slanted edge's end points to the cell window by
    interpolation, which can move the edge by an ulp. Points on vertices
    and on horizontal edges get the same answer from every dim
    (tests/test_pip_fold.py pins both).

    extra_cols: additional columns carried through to the output. A column
    the points frame has comes from each point (e.g. event_time on the
    Structured Streaming path — every plan shape here is
    stream-static-join legal: a broadcast static dim and no shuffle of the
    points, so the SAME operator serves batch and stream). A column the
    points frame lacks comes from the boundary frame and rides in the dim
    row (tile_assignments' qid and wikipedia tags), so no join attaches it.

    boundary_id must be unique: every variant reads the memoized
    _cover_stats pass first, which raises ValueError naming a repeated id.
    """
    auto = auto_prefilter(boundaries)  # raises on a repeated boundary_id
    if cell_prefilter_res == "auto":
        cell_prefilter_res, clip_dim = auto
    carry = tuple(c for c in extra_cols if c not in points.columns)

    # each branch builds candidate rows (point, boundary_id, *carry, p)
    # for the shared fold tail
    if cell_prefilter_res is None:
        cand = points.crossJoin(F.broadcast(polygon_structs(boundaries, carry)))
    elif clip_dim:
        cand = points.withColumn(
            "cell", cells.hexlite_cell_col("lat", "lon", cell_prefilter_res)
        ).join(F.broadcast(clipped_cell_rows(boundaries, cell_prefilter_res, carry)), "cell")
    else:
        # polygon_cover emits each (boundary_id, cell) once and boundary_id
        # is unique, so the cell join yields one row per (point, candidate)
        # and the boundary_id join attaches that candidate's own struct.
        # Both sides are broadcast hash relations (O(cells + vertices)
        # bytes). Keep the structs on a hash join's build side: resolving
        # them from a per-row array column copies the whole array per row
        # (measured 70x slower at 2M points).
        cand = (
            points.withColumn("cell", cells.hexlite_cell_col("lat", "lon", cell_prefilter_res))
            .join(F.broadcast(polygon_cover(boundaries, cell_prefilter_res)), "cell")
            .join(F.broadcast(polygon_structs(boundaries, carry)), "boundary_id")
        )
    return _fold_candidates(cand, extra_cols)


def _fold_candidates(cand: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """The tail every native PIP plan shares: keep the candidate rows
    (point, boundary_id, p) whose point the compiled fold puts inside p,
    as (image_id, lat, lon, *extra_cols, boundary_id). Spark pushes the
    fold filter into the candidate join's condition. The tail reads the
    dim's boundary_id column, not p.bid, so the dim side ships only the
    keys, p.bbin and p.ebin."""
    jvm.register(cand.sparkSession)
    inside = expr_once(("pip_fold",), lambda: F.call_function(
        jvm.PIP_FOLD, F.col("lat"), F.col("lon"), F.col("p")["bbin"], F.col("p")["ebin"]))
    return cand.where(inside).select("image_id", "lat", "lon", *extra_cols, "boundary_id")


def polygon_structs(boundaries: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(boundary_id, *carry, p) where p = struct<bid, bbin, ebin, edges> —
    the row-data (multi)polygon representation consumed by the native PIP
    fold (jvm/PipFold.java); carry names boundary columns (tags) to keep
    beside it.

    bbin: one bbox per OUTER ring (holes never extend coverage), packed as
    five little-endian doubles [lat_min, lat_max, lon_min, lon_max, w]:
    lon bounds in the ring's own frame, w = 1.0 for a wrapped
    (dateline-crossing) ring, else 0.0. ebin: the flat even-odd edge list
    over ALL rings, five little-endian doubles per edge [y0, y1, x0, x1,
    w], each edge in its ring's frame — parity composes per ring, so
    edges of differently-framed rings (a Fiji-style multipolygon) coexist
    in one fold. Both are packed by the compiled PackDoubles UDF, so the
    build stays native. edges: the same edge list as
    array<struct<y0, x0, y1, x1, w>>, for size(p.edges) counters; the
    join reads only bbin and ebin, so Spark prunes it from the broadcast.

    boundary_id must be unique: the prefiltered native joins attach
    structs by boundary_id, so a duplicated id attaches both polygons'
    structs to each of their cover rows and a point can come out paired
    with that id more than once. _cover_stats, which every auto-planned
    join and shuffle_pip_join reads, raises ValueError on one.

    Round 8: the per-ring test-frame arrays are STAGED once
    (_staged_rings_col, a separate projection so CollapseProject cannot
    re-inline it) — the previous per-edge lambda re-evaluated the
    O(vertices) unwrap transform per edge index, an O(vertices^2)
    interpreted blowup on high-vertex rings."""
    jvm.register(boundaries.sparkSession)
    edges, p = expr_once(("polygon_structs",), _polygon_struct_exprs)
    # the edge structs are staged too: ebin and edges both read them
    return (
        _staged_rings_frame(boundaries, carry)
        .select("boundary_id", *carry, "_rs", edges.alias("_e"))
        .select("boundary_id", *carry, p.alias("p"))
    )


def _polygon_struct_exprs() -> tuple[Column, Column]:
    """polygon_structs' (_e, p) over the staged `_rs` rings: the flat edge
    structs, and the struct built from `_rs` and `_e`."""
    def ring_edges(s):
        la, ulo = s["la"], s["ulo"]
        n = F.size(la)
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.struct(
                F.element_at(la, i + 1).alias("y0"),
                F.element_at(ulo, i + 1).alias("x0"),
                F.element_at(la, F.pmod(i + 1, n) + 1).alias("y1"),
                F.element_at(ulo, F.pmod(i + 1, n) + 1).alias("x1"),
                s["w"].alias("w"),
            ),
        )

    def ring_box(s):
        return F.array(
            F.array_min(s["la"]), F.array_max(s["la"]),
            F.array_min(s["ulo"]), F.array_max(s["ulo"]), s["w"].cast("double"),
        )

    def pack(records):
        return F.call_function(jvm.PACK_DOUBLES, F.flatten(records))

    rs = F.col("_rs")
    p = F.struct(
        F.col("boundary_id").alias("bid"),
        pack(F.transform(F.filter(rs, lambda s: ~s["is_hole"]), ring_box)).alias("bbin"),
        pack(F.transform("_e", lambda e: F.array(
            e["y0"], e["y1"], e["x0"], e["x1"], e["w"].cast("double")))).alias("ebin"),
        F.col("_e").alias("edges"),
    )
    return F.flatten(F.transform(rs, ring_edges)), p


def polygon_area_km2(boundaries: DataFrame) -> DataFrame:
    """(boundary_id, area_km2): geodesic polygon area on the sphere —
    per ring, the discrete spherical-band sum
    |sum_i (lam_{i+1} - lam_i) * (2 + sin(phi_i) + sin(phi_{i+1}))| * R^2/2
    (the classic GeoJSON/Turf ring-area formula; exact for constant-
    latitude bands: an equator ring gives 2*pi*R^2, a pole-closed cap at
    phi gives 2*pi*R^2*(1 - sin|phi|) through its zero-weight closure
    edges). Hole rings subtract; lons are unwrapped per ring exactly as
    the PIP covers do, so dateline rings integrate over a contiguous
    lambda range. Orientation-free (per-ring absolute value).

    Native Column expressions end to end — the HOF fold is interpreted
    per vertex but runs on the polygon DIM once per snapshot, the same
    cost position as polygon_structs. This is the engine-side counterpart
    of the reference's P2046 'area exists' skip condition
    (wikimedia_link_issue_reporter.py:1880-1895): there the area is a
    Wikidata claim; here it is derivable from the geometry itself."""
    return _staged_rings_frame(boundaries).select(
        "boundary_id", _area_km2_col().alias("area_km2")
    )


def _staged_rings_frame(boundaries: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(boundary_id, *carry, _rs) with the per-ring test-frame arrays
    materialized once (see _staged_rings_col) — the shared input
    projection of the geodesic folds, so their per-vertex lambdas
    reference pre-built arrays instead of re-evaluating the O(vertices)
    unwrap per vertex (an O(vertices^2) interpreted blowup on high-vertex
    rings; round 8)."""
    staged = expr_once(("staged_rings",), lambda: _staged_rings_col(F.col("rings")))
    return normalize_rings(boundaries).select("boundary_id", *carry, staged.alias("_rs"))


def _area_km2_col() -> Column:
    """The polygon_area_km2 fold as a reusable Column over the staged
    `_rs` rings (_staged_rings_frame) — shared with polygon_compactness
    so combined QA signals come from ONE pass over the dim (no self-join
    of two aggregates)."""
    from wikibrain_spark.geo.geodesic import EARTH_RADIUS_KM

    def ring_area(s):
        la, ulo = s["la"], s["ulo"]
        n = F.size(la)
        signed = F.aggregate(
            F.sequence(F.lit(0), n - 1),
            F.lit(0.0),
            lambda acc, i: acc
            + (
                F.radians(F.element_at(ulo, F.pmod(i + 1, n) + 1))
                - F.radians(F.element_at(ulo, i + 1))
            )
            * (
                F.lit(2.0)
                + F.sin(F.radians(F.element_at(la, i + 1)))
                + F.sin(F.radians(F.element_at(la, F.pmod(i + 1, n) + 1)))
            ),
        )
        sign = F.when(s["is_hole"], F.lit(-1.0)).otherwise(F.lit(1.0))
        return sign * F.abs(signed) * F.lit(EARTH_RADIUS_KM**2 / 2.0)

    return F.aggregate(
        F.transform(F.col("_rs"), ring_area), F.lit(0.0), lambda a, x: a + x
    )


def polygon_perimeter_km(boundaries: DataFrame) -> DataFrame:
    """(boundary_id, perimeter_km): total geodesic boundary length — the
    haversine sum over every ring's closed edge list (hole rings ARE
    boundary, so they add). Native Column fold on the polygon dim, the
    same cost position as polygon_area_km2; haversine is wrap-safe
    (sin(dlon/2) is 2*pi-periodic), so raw ring coordinates need no
    unwrap. Together with polygon_area_km2 this gives the standard
    compactness QA signals (e.g. Polsby-Popper 4*pi*A/P^2) a boundary
    pipeline filters on."""
    return _staged_rings_frame(boundaries).select(
        "boundary_id", _perimeter_km_col().alias("perimeter_km")
    )


def _perimeter_km_col() -> Column:
    """The polygon_perimeter_km fold as a reusable Column over the staged
    `_rs` rings (see _area_km2_col). Uses each ring's RAW lons (`lo`) —
    haversine is wrap-safe, and raw coordinates keep the fold bit-identical
    to the pre-staging formulation."""
    from wikibrain_spark.geo.geodesic import haversine_km_col

    def ring_len(s):
        la, lo = s["la"], s["lo"]
        n = F.size(la)
        return F.aggregate(
            F.sequence(F.lit(0), n - 1),
            F.lit(0.0),
            lambda acc, i: acc
            + haversine_km_col(
                F.element_at(la, i + 1),
                F.element_at(lo, i + 1),
                F.element_at(la, F.pmod(i + 1, n) + 1),
                F.element_at(lo, F.pmod(i + 1, n) + 1),
            ),
        )

    return F.aggregate(
        F.transform(F.col("_rs"), ring_len), F.lit(0.0), lambda a, x: a + x
    )


def polygon_compactness(boundaries: DataFrame) -> DataFrame:
    """(boundary_id, area_km2, perimeter_km, polsby_popper): the standard
    compactness QA signal 4*pi*A/P^2 (1.0 = a circle; gerrymander-style
    filaments -> 0). Both geodesic folds are computed in ONE pass over
    the normalized dim (shared _area_km2_col/_perimeter_km_col Columns) —
    a self-join of the two per-boundary aggregates would shuffle at
    millions of boundaries for no reason. Inherits the documented
    pole-closure perimeter convention (COVERAGE.md delta 5): pole-cap
    polygons score less compact because their synthetic meridian closure
    edges count as boundary length."""
    return (
        _staged_rings_frame(boundaries)
        .select(
            "boundary_id",
            _area_km2_col().alias("area_km2"),
            _perimeter_km_col().alias("perimeter_km"),
        )
        .select(
            "boundary_id",
            "area_km2",
            "perimeter_km",
            (
                F.lit(4.0 * math.pi) * F.col("area_km2")
                / (F.col("perimeter_km") * F.col("perimeter_km"))
            ).alias("polsby_popper"),
        )
    )


def simplify_rings(boundaries: DataFrame, tolerance_deg: float) -> DataFrame:
    """Douglas-Peucker boundary generalization: same rings schema out,
    every ring a Hausdorff-(<= tolerance_deg) approximation of the
    original (geo/simplify.py has the guarantee and the caveats — the
    operator is APPROXIMATE by design; containment within tolerance of a
    boundary can flip). Once-per-snapshot dim prepass, embarrassingly
    parallel per polygon — the same cost position as the clip prepass it
    feeds: simplifying a 600k-vertex snapshot before clipped_cell_rows /
    shuffle_pip_join shrinks every vertex-linear term downstream by the
    reduction factor."""
    from wikibrain_spark.geo import simplify as _simp

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield pd.DataFrame({
                "boundary_id": b["boundary_id"].astype("int64"),
                "rings": [
                    _simp.simplify_rings_pd(rings, tolerance_deg)
                    for rings in b["rings"]
                ],
            })

    return normalize_rings(boundaries).mapInPandas(
        fn, schema=f"boundary_id long, rings {RINGS_TYPE}"
    )


def clipped_cell_rows(boundaries: DataFrame, res: int, carry: tuple[str, ...] = ()) -> DataFrame:
    """(cell, boundary_id, *carry, p struct) — the per-cell candidate rows
    with BOUNDED per-cell geometry, one row per (cell, polygon): each
    carries only the polygon CLIPPED to that cell's window (geo/clip.py),
    re-expressed as polygon_structs' struct<bid, bbin, ebin, edges> shape,
    beside the boundary columns (tags) that carry names.
    The unclipped prefilter folds each candidate's full edge
    list, so a point near a 10^5-vertex ring pays every vertex; clipped,
    the total is O(vertices + cells) (every original edge lands in the few
    cells it crosses, interior cells degenerate to the 4-edge window), so
    fine resolutions stay broadcast-sized at ANY vertex weight and each
    point's fold visits only LOCAL edges.

    The build is one projection over the boundary scan: the compiled
    jvm/ClipCells.java clips each boundary row to its cells (byte for byte
    what geo/clip.py's clipped_cell_cover gives, packed as below) and an
    explode makes the rows. No Python and no shuffle: the clip runs in the
    scan's own stage, one boundary per call, once per snapshot: ~0.2 s
    warm on a 4-core VM for the 600k-vertex megacoast at res 2 (3.3k
    rows). The POINTS side stays zero-Python too (an equi-join on cell + compiled
    fold: broadcast in broadcast_pip_join_native, on (cell, salt) in
    shuffle_pip_join).

    bbin: one bbox per probe FRAME over the entry's pieces (raw and
    unwrapped pieces can coexist in one cell for a Fiji-style
    multipolygon; a single bbox cannot span both frames), packed as five
    little-endian doubles [lat_min, lat_max, lon_min, lon_max, w] with
    w = 1.0 for the unwrapped frame, frames in first-seen order. A point
    in region ∩ cell lies in some piece's region, hence inside its
    frame's bbox — the bbox gate stays a correct prefilter. ebin: every
    piece's closed edge list, five little-endian doubles [y0, y1, x0, x1,
    w] per edge. Parity over the clipped pieces equals full-ring parity
    for probes inside the cell (geo/clip.py's preservation argument).
    edges: the same edge list as array<struct<y0, x0, y1, x1, w>>, for
    size(p.edges) counters, unpacked from ebin by the compiled
    jvm/UnpackEdges.java only where it is read; the join reads bbin and
    ebin alone, so Spark prunes it."""
    jvm.register(boundaries.sparkSession)
    clipped, p = expr_once(("clipped_cell_rows", res), lambda: _clipped_row_exprs(res))
    return (
        normalize_rings(boundaries)
        .select("boundary_id", *carry, clipped.alias("_c"))
        .select(F.col("_c")["cell"].alias("cell"), "boundary_id", *carry, p.alias("p"))
    )


def _clipped_row_exprs(res: int) -> tuple[Column, Column]:
    """clipped_cell_rows' explode of the compiled clip over `rings`, and
    the p struct built from the exploded `_c`."""
    c = F.col("_c")
    clipped = F.explode(F.call_function(
        jvm.CLIP_CELLS, F.col("rings"), F.lit(res), F.lit(cells.hexlite_step(res))))
    p = F.struct(
        F.col("boundary_id").alias("bid"),
        c["bbin"].alias("bbin"),
        c["ebin"].alias("ebin"),
        F.call_function(jvm.UNPACK_EDGES, c["ebin"]).alias("edges"),
    )
    return clipped, p


def clipped_cell_dim(boundaries: DataFrame, res: int) -> DataFrame:
    """clipped_cell_rows as (cell, polys array<struct>): bench.py's and perfbench's dim probes."""
    return clipped_cell_rows(boundaries, res).groupBy("cell").agg(F.collect_list("p").alias("polys"))


def polygon_cover(boundaries: DataFrame, res: int = COVER_RES) -> DataFrame:
    """Explode each polygon to its covering cells at `res` (bbox cover of
    every non-hole ring; holes sit inside an outer so they add no cells).
    This is the scale-side pre-pass; at 10^12 rows it runs once per polygon
    snapshot and is tiny next to the points table.

    NATIVE expressions end to end (round 5): the per-ring bbox index
    ranges are enumerated with sequence() (codegen'd) and the cell ids
    assembled with shift/or — zero Python in the plan, which is what lets
    the cell-prefiltered native PIP (whose dim embeds this cover) keep the
    flagship's no-Python-anywhere property. Bit-parity with the NumPy
    hexlite_cover_bbox kernel is pinned in tests, dateline rings included
    (the unwrapped bbox portion at/above +180 is enumerated through the
    probe formula — see hexlite_cover_bbox — so raw-negative probes land
    in exactly the emitted cells at every resolution).

    The explode expression is built once per JVM and res
    (_cover_explode); each call aliases it `cell`, so two cover frames
    in one plan keep distinct output attributes."""
    cover = expr_once(("polygon_cover", res), lambda: _cover_explode(res))
    return normalize_rings(boundaries).select("boundary_id", cover.alias("cell"))


def _cover_explode(res: int) -> Column:
    """polygon_cover's explode(covered cells) over the `rings` column."""
    step = cells.hexlite_step(res)
    n_lat, n_lon = cells.hexlite_dims(res)
    hdr = (cells.HEXLITE_MODE << 60) | (res << 56)

    # Round 8: the enumeration is a THREE-LEVEL staged expression. Level 1
    # reduces each outer ring to its bbox scalars (the only O(vertices)
    # work — the unwrap pass runs once per ring, and only when the raw
    # span can wrap); level 2 materializes each ring's (i0, i1, cols) so
    # the per-strip lambda references a PRE-BUILT column array; level 3
    # assembles ids from scalars. The previous single-lambda form
    # re-evaluated the whole unwrap transform + column construction once
    # PER LATITUDE STRIP (HOF lambdas are interpreted, with no common-
    # subexpression reuse): O(strips x vertices) element evals — measured
    # 12-13 s on the 600k-vertex megacoast dim where the scan itself is
    # 0.14 s. Emitted ids are bit-identical (same formulas, same order).
    def ring_bbox(r):
        la, lo = r["ring_lat"], r["ring_lon"]
        raw_min, raw_max = F.array_min(lo), F.array_max(lo)
        can_wrap = raw_max - raw_min > F.lit(180.0)
        u = F.transform(lo, lambda x: F.when(x < 0, x + F.lit(360.0)).otherwise(x))
        return F.struct(
            F.array_min(la).alias("la_min"),
            F.array_max(la).alias("la_max"),
            raw_min.alias("raw_min"),
            raw_max.alias("raw_max"),
            F.when(can_wrap, F.array_min(u)).alias("u_min"),
            F.when(can_wrap, F.array_max(u)).alias("u_max"),
        )

    def ring_ranges(m):
        # same wrap rule as _ring_wraps_col, from the staged scalars
        w = (m["raw_max"] - m["raw_min"] > F.lit(180.0)) & (
            m["u_max"] - m["u_min"] <= F.lit(180.0)
        )
        lo_min = F.when(w, m["u_min"]).otherwise(m["raw_min"])
        lo_max = F.when(w, m["u_max"]).otherwise(m["raw_max"])
        i0 = F.greatest(F.lit(0).cast("long"), F.floor((m["la_min"] + F.lit(90.0)) / F.lit(step)))
        i1 = F.least(F.lit(n_lat - 1).cast("long"), F.floor((m["la_max"] + F.lit(90.0)) / F.lit(step)))
        # two-branch probe-formula column enumeration (mirrors
        # hexlite_cover_bbox bit-for-bit; see its docstring for why
        # index-modular wrapping mislocates raw-negative columns at odd
        # resolutions). Branch A: the bbox portion below +180, probes keep
        # their raw longitude. Branch B: the unwrapped portion at/above
        # +180, whose probes arrive at x - 360. sequence() bounds are
        # ordered within each branch's guard (sequence counts DOWN when
        # lo > hi — the F.sequence(1, 0) trap), and no pmod is needed:
        # both branches emit in-range indexes directly.
        e180 = F.lit(math.nextafter(180.0, 0.0))
        ja0 = F.greatest(F.lit(0).cast("long"), F.floor((lo_min + F.lit(180.0)) / F.lit(step)))
        ja1 = F.least(
            F.lit(n_lon - 1).cast("long"),
            F.floor((F.least(lo_max, e180) + F.lit(180.0)) / F.lit(step)),
        )
        jb0 = F.greatest(
            F.lit(0).cast("long"),
            F.floor((F.greatest(lo_min, F.lit(180.0)) - F.lit(180.0)) / F.lit(step)),
        )
        jb1 = F.least(
            F.lit(n_lon - 1).cast("long"), F.floor((lo_max - F.lit(180.0)) / F.lit(step))
        )
        empty = F.array().cast("array<long>")
        cols = F.concat(
            F.when(lo_min < F.lit(180.0), F.sequence(ja0, ja1)).otherwise(empty),
            F.when(lo_max >= F.lit(180.0), F.sequence(jb0, jb1)).otherwise(empty),
        )
        return F.struct(i0.alias("i0"), i1.alias("i1"), cols.alias("cols"))

    def ring_cells(rng):
        return F.flatten(F.transform(
            F.sequence(rng["i0"], rng["i1"]),
            lambda i: F.transform(
                rng["cols"],
                lambda j: F.lit(hdr).bitwiseOR(F.shiftleft(i, 28)).bitwiseOR(j),
            ),
        ))

    covered = F.array_distinct(F.flatten(F.transform(
        F.transform(
            F.transform(F.filter(F.col("rings"), lambda r: ~r["is_hole"]), ring_bbox),
            ring_ranges,
        ),
        ring_cells,
    )))
    return F.explode(covered)


def shuffle_pip_join(
    points: DataFrame,
    boundaries: DataFrame,
    res: int | None = None,
    hot_cell_threshold: int = 50_000,
    n_salt: int = 8,
    hotness_sample_fraction: float = 0.01,
    clip_cover: bool | str = "auto",
) -> DataFrame:
    """Shuffled native PIP with explicit hot-cell salting.

    points must carry (image_id, lat, lon). Returns (image_id, lat, lon,
    boundary_id).

    The same candidate rows and compiled fold as broadcast_pip_join_native,
    distributed by (cell, salt) instead of a broadcast hint: each point
    carries its hexlite cell at `res` and a salt; the dim is one row per
    (cell, polygon) carrying the polygon's packed geometry; the two sides
    equi-join on (cell, salt) and the fold (jvm/PipFold.java) is the join
    condition. There is no hint, so Catalyst and AQE pick broadcast or
    shuffled from the dim's size. Zero Python on the points side. Pairs
    are unique by construction: a point has one (cell, salt), and the dim
    holds each (cell, polygon) once per salt (boundary_id must be unique;
    a repeated id raises ValueError).

    res=None takes the cover resolution from auto_prefilter (one job,
    memoized per boundary snapshot).

    PROBE-SIDE-ONLY salting invariant: hotness is measured on the points
    side only, never on the polygon-cover side. Per-cell work is
    points x cover_rows; salting the points side splits that product
    across n_salt tasks whichever factor is large, while a cover-hot but
    points-cold cell does little total work — so measuring the cover side
    would pay a pre-pass over the exploded cover frame to find cells that
    never bottleneck a task. Pinned by the build-hot/probe-cold fixture in
    test_pipeline_ops. A cell whose sampled point count passes
    hot_cell_threshold gets salt = pmod(xxhash64(image_id), n_salt) on its
    points and n_salt copies of its dim rows; other cells use salt 0.
    Points in cells no polygon covers are dropped by the covered-cells
    semi-filter before the join.

    CLIP-TO-CELL DIM (clip_cover="auto", the default, reads
    auto_prefilter's clip decision, which is always True):
    clipped_cell_rows carries only the polygon clipped to the cell's
    window: O(vertices + cells) in total, built by the compiled clip
    (jvm/ClipCells.java) in the boundary scan's stage, and each fold
    visits a handful of LOCAL edges (geo/clip.py has the
    parity-preservation argument). clip_cover=False ships the unclipped
    dim (polygon_cover joined to polygon_structs on boundary_id), which
    carries each polygon's FULL edge list on every covered cell,
    O(cells x vertices). broadcast_pip_join_native's docstring has the
    clipped dim's slanted-edge tie.
    """
    from wikibrain_spark.operators.knn import _sampled_hot_cells

    if isinstance(clip_cover, str) and clip_cover != "auto":
        raise ValueError(
            f"clip_cover must be a bool or the string 'auto', got {clip_cover!r}"
        )  # round-7 ADVICE: any other string silently enabled clipping via truthiness
    auto_res, auto_clip = auto_prefilter(boundaries)  # raises on a repeated boundary_id
    res = auto_res if res is None else res
    clip_cover = auto_clip if clip_cover == "auto" else clip_cover
    pts = points.select(
        "image_id", "lat", "lon",
        cells.hexlite_cell_col("lat", "lon", res).alias("cell"),
    )

    # SAMPLED hotness pre-pass: cells whose estimated point-count exceeds
    # the threshold get split into n_salt sub-keys. Salting is perf-only
    # (any cell subset is output-identical), so the seeded sample detects
    # hot cells at ~1% of a full count scan; fraction=1.0 recovers the
    # exact pre-pass. See knn._sampled_hot_cells for the cutoff math.
    hot = _sampled_hot_cells(pts, "cell", hot_cell_threshold, n_salt, hotness_sample_fraction)

    if clip_cover:
        dim = clipped_cell_rows(boundaries, res)
    else:
        # one struct per polygon: broadcast it, as the native path does (a
        # boundary frame with no size statistics would otherwise plan a
        # sort-merge join with two boundary_id exchanges)
        dim = polygon_cover(boundaries, res).join(
            F.broadcast(polygon_structs(boundaries)), "boundary_id")
    # replicate the dim rows of hot cells: salt 0..n_salt-1
    dim_salted = (
        dim.join(F.broadcast(hot), "cell", "left")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)))
        .drop("n_salt")
    )
    # COVERED-CELLS semi-filter: points in cells no polygon's bbox covers
    # can never match — drop them BEFORE the shuffle. The filter uses the
    # NATIVE bbox cover enumeration (a superset of the clipped cover —
    # clipping only ever removes cells), so it adds zero Python and no
    # second run of the clip prepass; left_semi needs no distinct, so no
    # aggregate enters the plan.
    covered_cells = polygon_cover(boundaries, res).select("cell")
    pts_salted = (
        pts.join(F.broadcast(covered_cells), "cell", "left_semi")
        .join(F.broadcast(hot), "cell", "left")
        .withColumn(
            "salt",
            F.when(F.col("n_salt").isNull(), F.lit(0)).otherwise(
                F.pmod(F.xxhash64("image_id"), F.col("n_salt")).cast("int")
            ),
        )
        .drop("n_salt")
    )
    return _fold_candidates(pts_salted.join(dim_salted, ["cell", "salt"]))


def tile_assignments(
    points: DataFrame, boundaries: DataFrame, res: int = 9, strategy: str = "broadcast",
    native_prefilter_res: int | str | None = "auto",
) -> DataFrame:
    """The flagship output row (SURVEY.md §7.1 step 3): image x containing
    boundary x tile cell + the boundary's wiki tags.

    Returns (image_id, cell_r{res}, boundary_id, qid, wikipedia).
    strategy: 'broadcast' | 'shuffle' (points = geotagged rows), or
    'native' (points = the raw images DataFrame: the compiled header
    parse binparse.geotag_cols feeds broadcast_pip_join_native). 'fused'
    is an alias of 'native'. All of them run the native candidate-row
    operator with no Python anywhere in the plan. Any other value raises.

    native_prefilter_res: the native strategy's cell_prefilter_res. The
    DEFAULT "auto" takes the resolution from the auto_prefilter statistics
    pass and uses the clipped dim, so an unknown or high-vertex boundary
    snapshot gets a legal broadcast plan without asking; the flagship
    fixture resolves to (4, clipped) (tests/test_round7_hygiene.py pins
    it). A fixed int keeps that res unclipped; None selects the one-row
    dim, a nested-loop join (the scaling harness still measures it).

    The broadcast and native strategies carry the qid and wikipedia tags
    in their dim rows (broadcast_pip_join_native's extra_cols), so the
    plan holds one broadcast: the clipped dim's. The shuffle strategy
    attaches them with a broadcast join on boundary_id.
    """
    if strategy not in ("broadcast", "fused", "native", "shuffle"):
        raise ValueError(
            "strategy must be one of 'broadcast', 'fused', 'native', 'shuffle', "
            f"got {strategy!r}"
        )
    tags = ("qid", "wikipedia")
    if strategy == "shuffle":
        pairs = shuffle_pip_join(points, boundaries).join(  # carries lat/lon
            F.broadcast(boundaries.select("boundary_id", *tags)), "boundary_id")
    else:
        if strategy == "broadcast":
            pts, prefilter = points.select("image_id", "lat", "lon"), "auto"
        else:
            # fully-JVM flagship: compiled header parse + compiled PIP
            # fold; points = the raw images DataFrame
            from wikibrain_spark.functions import binparse

            # the parse resolves in points' session, which need not be the
            # active one that le_double_col registers on
            jvm.register(points.sparkSession)
            pts = points.select("image_id", *binparse.geotag_cols("bytes"))
            prefilter = native_prefilter_res
        # the points carry no tags, so they ride in the dim rows
        pairs = broadcast_pip_join_native(
            pts, boundaries, cell_prefilter_res=prefilter, extra_cols=tags)
    return (
        pairs.select(
            "image_id",
            cells.hexlite_cell_col("lat", "lon", res).alias(f"cell_r{res}"),
            "boundary_id",
            "qid",
            "wikipedia",
        )
    )
