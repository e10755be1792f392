"""Point-in-polygon spatial join: geotagged points vs boundary polygons.

Boundary geometry is the canonical MULTIPOLYGON `rings` schema
(RINGS_TYPE): outer rings + holes under the even-odd fill rule, with
per-ring antimeridian unwrap — see geo/pip.py's module doc for the model.
Legacy single-ring frames (ring_lat/ring_lon arrays) are upgraded by
normalize_rings at every operator entry point.

Four physical strategies, one logical contract (SURVEY.md U4, J12-J14):

1. broadcast_pip_join — the dimension side (boundary polygons) is small
   enough to broadcast. We broadcast the raw ring arrays once; each Python
   worker builds the grid-bucketed PolygonIndex a single time per partition
   (amortized inside mapInPandas), then streams Arrow batches through it.
   This is the STRtree-in-mapInPandas pattern from the north star.

2. geotag_pip_fused — strategy 1 fused with the geotag header parse.

3. broadcast_pip_join_native — zero Python: polygons as row data through
   broadcast joins into a native parity fold (auto_prefilter plans it).

4. shuffle_pip_join — polygons too big to broadcast. Polygons are exploded
   to their covering hexlite cells; points carry their cell; the equi-join
   on cell co-locates candidates; an exact ring test refines. Hot cells
   (megacity polygons) are salted: the points side gets salt =
   pmod(hash(image_id), n_salt) and the polygon side is replicated n_salt
   times — ONLY for cells above a hotness threshold measured by a cheap
   count pre-pass (AQE skew-join is the backstop, but it cannot split the
   Python refine stage, so explicit salting is load-bearing at 100 TB).

At 100 TB the join key is (cell_r{res}); the points side arrives already
partitioned by cell prefix from the geotag stage, so the shuffle moves
only the exploded polygon side when bucketing is aligned.
"""

from __future__ import annotations

import math
from collections import OrderedDict
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wikibrain_spark.geo import cells, pip

COVER_RES = 4  # polygon_cover default; shuffle_pip_join auto-sizes (_auto_cover_res)

# planner gates, shared by _auto_cover_res, auto_prefilter and
# shuffle_pip_join (their docstrings give the cost model behind each)
_MAX_MEAN_CELLS = 1024.0  # mean bbox cover per outer ring
_MAX_RING_CELLS = 16384.0  # worst ring's bbox cover
_HEAVY_EDGES_PER_POLY = 10_000.0  # above this mean, the mean gate widens 8x
_CLIP_THRESHOLD_EDGES = 2_000_000.0  # unclipped sum_poly(edges x cover) past which to clip
_INDEX_MAX_MEAN_CELLS = 256.0  # _auto_index_res (PolygonIndex buckets): mean cover
_INDEX_MAX_RING_CELLS = 4096.0  # _auto_index_res: worst ring's cover

# canonical boundary geometry: a MULTIPOLYGON as an array of rings
# (outer rings + holes; even-odd fill rule — see geo/pip.py module doc)
RINGS_TYPE = "array<struct<ring_lat: array<double>, ring_lon: array<double>, is_hole: boolean>>"
# the hit rows the Python PIP strategies emit
_PIP_SCHEMA = "image_id string, lat double, lon double, boundary_id long"


def pack_rings_col(rings):
    """Flat array<double> wire format for a multipolygon: rings
    concatenated, each as [n_pts, unwrap_probe, lats..., lons...], with
    lons stored in the ring's TEST FRAME (unwrapped for dateline-crossing
    rings) and unwrap_probe saying whether probe lons shift +360 when
    negative. Same format geo/clip.py pack_pieces emits for clipped
    covers, so the refine kernel is shared.

    The cogrouped shuffle refine ships geometry in this format because the
    cogroup Arrow deserializer in this pyspark/pyarrow combination
    segfaults on any doubly-nested column (array<struct<array…>> and
    array<array<double>> both crash the worker in arrow_to_pandas; flat
    array<double> is fine) — and a flat double vector is also the cheapest
    transport Arrow offers (no offsets-of-offsets, no struct dispatch).
    Native expressions only; the per-ring transform iterates rings, not
    vertices — the vertex arrays concat through JVM-side."""
    def one(r):
        w = _ring_wraps_col(r["ring_lon"])
        return F.concat(
            F.array(F.size(r["ring_lat"]).cast("double"), w.cast("double")),
            r["ring_lat"], _unwrap_lon_col(r["ring_lon"], w),
        )
    return F.flatten(F.transform(rings, one))


def unpack_rings(packed) -> list:
    """Inverse of pack_rings_col / clip.pack_pieces:
    → [(lat_arr, lon_arr_test_frame, unwrap_probe), ...]."""
    a = np.asarray(packed, dtype=np.float64)
    o, rings = 0, []
    while o < a.size:
        n = int(a[o])
        unwrap = a[o + 1] != 0.0
        rings.append((a[o + 2:o + 2 + n], a[o + 2 + n:o + 2 + 2 * n], unwrap))
        o += 2 + 2 * n
    return rings


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


def _collect_polygon_rings(boundaries: DataFrame) -> tuple[np.ndarray, list]:
    """Driver-side pull of the broadcast dim: (ids, per-polygon ring-tuple
    lists) as plain Python lists (pickles cheaply into the broadcast)."""
    rows = normalize_rings(boundaries).select("boundary_id", "rings").collect()
    ids = np.array([r["boundary_id"] for r in rows], dtype=np.int64)
    rings = [
        [(list(rr["ring_lat"]), list(rr["ring_lon"]), bool(rr["is_hole"])) for rr in r["rings"]]
        for r in rows
    ]
    return ids, rings


def _auto_index_res(rings_per_poly) -> int:
    """Finest hexlite res whose bbox cover stays <= _INDEX_MAX_MEAN_CELLS
    cells per outer ring ON AVERAGE and <= _INDEX_MAX_RING_CELLS for EVERY
    ring. A fixed fine res is a trap for large polygons: at res 4 a
    60°-wide boundary enumerates ~2x10^5 bucket cells, and the PolygonIndex
    rebuilds that dict in EVERY Python worker — measured as the dominant
    cost of the broadcast strategy on continent-scale test rectangles.
    The max gate matters for SKEWED sets (round-5 verdict #3): one
    continent-scale ring among 10^3 city-scale rings passes the mean gate
    at a fine res (the cities dilute the average) and re-inherits exactly
    that per-worker enumeration pathology — the worst ring, not the mean,
    is what a worker's dict build actually pays per polygon. Driver-side,
    deterministic, O(total rings)."""
    spans = []
    for rings in rings_per_poly:
        for rlat, rlon, is_hole in rings:
            if is_hole:
                continue
            rlat = np.asarray(rlat, dtype=np.float64)
            rlon = np.asarray(rlon, dtype=np.float64)
            if pip.ring_wraps(rlon):
                rlon = pip.unwrap_lon(rlon)
            spans.append((float(rlat.max() - rlat.min()), float(rlon.max() - rlon.min())))
    if not spans:
        return 0
    for res in range(7, 0, -1):
        step = cells.hexlite_step(res)
        covers = [(a / step + 1.0) * (b / step + 1.0) for a, b in spans]
        if (sum(covers) / len(covers) <= _INDEX_MAX_MEAN_CELLS
                and max(covers) <= _INDEX_MAX_RING_CELLS):
            return res
    return 0


def _shuffle_partitions(spark: SparkSession) -> int:
    """spark.sql.shuffle.partitions as an int, falling back to the
    cluster's default parallelism when the conf is non-numeric ("auto"
    on AQE-managed deployments, e.g. Databricks) — sizing a cogroup must
    never raise over a perf knob's spelling."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (ValueError, TypeError):
        return spark.sparkContext.defaultParallelism


# LRU-bounded memo of _cover_stats results. Keyed by the plan's
# semanticHash: a boundary snapshot is treated as IMMUTABLE for the
# session (documented contract — same assumption the broadcast
# PolygonIndex pull makes). Every consumer is a perf knob, so a stale
# hit can never change output rows; the bound keeps a long-lived session
# iterating over many snapshots from growing the memo forever, and
# clear_cover_stats_cache() is the explicit invalidation hook for a
# session that REWRITES a snapshot path and wants fresh statistics.
_COVER_STATS_CACHE: "OrderedDict[int, dict]" = OrderedDict()
_COVER_STATS_CACHE_MAX = 64


def clear_cover_stats_cache() -> None:
    """Drop all memoized boundary-snapshot statistics (snapshot rollover
    hook: res/clip decisions after a snapshot rewrite re-measure)."""
    _COVER_STATS_CACHE.clear()


def _cover_stats(boundaries: DataFrame) -> dict:
    """One distributed agg of the polygon-dim sufficient statistics every
    resolution/strategy decision needs — never collects geometry. Ring
    level (outer rings, the cover): sums/ maxima of the bbox span products
    ab and a+b, plus the outer-ring count, so any res's mean/max cover
    follows from cover(r) = ab/step^2 + (a+b)/step + 1 (linear in the
    stats). Poly level (the unclipped cover's replication): the shuffle
    cover ships each polygon's FULL edge list once per covering cell, and
    the unclipped native dim pairs it with every covering cell, so the
    edge count at res is sum_poly(edges_poly * cover_poly) =
    S_e_ab/step^2 + S_e_sum/step + S_e_n with S_e_* = sum_poly(edges *
    sum_outer_ring(ab | a+b | 1)) — also linear, captured in the same
    pass. Memoized per logical plan (semanticHash): a boundary snapshot
    is treated as immutable for the session (the same assumption the
    broadcast PolygonIndex pull makes); every consumer is a perf knob, so
    a stale hit can never change output rows."""
    key = boundaries.semanticHash()
    if key in _COVER_STATS_CACHE:
        _COVER_STATS_CACHE.move_to_end(key)
        return _COVER_STATS_CACHE[key]
    r = F.col("r")
    # round 8: stage the per-ring bbox scalars in one projection so the
    # unwrap transform runs at most twice per ring (u_min/u_max, gated on
    # the raw span) instead of ~6 inlined copies — same staging discipline
    # as polygon_cover; the emitted statistics are bit-identical
    raw_min, raw_max = F.array_min(r["ring_lon"]), F.array_max(r["ring_lon"])
    can_wrap = raw_max - raw_min > F.lit(180.0)
    u = F.transform(r["ring_lon"], lambda x: F.when(x < 0, x + F.lit(360.0)).otherwise(x))
    staged = (
        normalize_rings(boundaries)
        .select("boundary_id", F.explode("rings").alias("r"))
        .select(
            "boundary_id",
            r["is_hole"].alias("is_hole"),
            F.size(r["ring_lat"]).cast("double").alias("edges"),
            (F.array_max(r["ring_lat"]) - F.array_min(r["ring_lat"])).alias("a"),
            raw_min.alias("raw_min"),
            raw_max.alias("raw_max"),
            F.when(can_wrap, F.array_min(u)).alias("u_min"),
            F.when(can_wrap, F.array_max(u)).alias("u_max"),
        )
    )
    w = (F.col("raw_max") - F.col("raw_min") > F.lit(180.0)) & (
        F.col("u_max") - F.col("u_min") <= F.lit(180.0)
    )
    outer = (~F.col("is_hole")).cast("double")
    a = F.col("a")
    b = F.when(w, F.col("u_max") - F.col("u_min")).otherwise(F.col("raw_max") - F.col("raw_min"))
    per_poly = (
        staged
        .select(
            "boundary_id",
            (outer * a * b).alias("ab"),
            (outer * (a + b)).alias("absum"),
            outer.alias("n_outer"),
            F.when(~F.col("is_hole"), a * b).alias("ab_or_null"),
            F.when(~F.col("is_hole"), a + b).alias("absum_or_null"),
            F.col("edges").alias("edges"),
        )
        .groupBy("boundary_id")
        .agg(
            F.sum("ab").alias("p_ab"),
            F.sum("absum").alias("p_sum"),
            F.sum("n_outer").alias("p_n"),
            F.max("ab_or_null").alias("p_max_ab"),
            F.max("absum_or_null").alias("p_max_sum"),
            F.sum("edges").alias("p_edges"),
        )
    )
    row = per_poly.agg(
        F.sum("p_ab").alias("sum_ab"),
        F.sum("p_sum").alias("sum_absum"),
        F.sum("p_n").alias("n_outer"),
        F.max("p_max_ab").alias("max_ab"),
        F.max("p_max_sum").alias("max_sum"),
        F.sum(F.col("p_edges") * F.col("p_ab")).alias("s_e_ab"),
        F.sum(F.col("p_edges") * F.col("p_sum")).alias("s_e_sum"),
        F.sum(F.col("p_edges") * F.col("p_n")).alias("s_e_n"),
    ).collect()[0]
    stats = dict(row.asDict())
    _COVER_STATS_CACHE[key] = stats
    if len(_COVER_STATS_CACHE) > _COVER_STATS_CACHE_MAX:
        _COVER_STATS_CACHE.popitem(last=False)
    return stats


def _replication_estimates(boundaries: DataFrame, res: int) -> tuple[float, float]:
    """(estimated covered-cell count, estimated replicated edge structs)
    for an UNCLIPPED cover of `boundaries` at `res`, from the memoized
    _cover_stats sufficient statistics. The cover count is
    sum_ring((a/step+1)(b/step+1)) expanded to the linear form; the
    replication count weights each ring's cover by its edge count —
    exactly what the unclipped shuffle cover ships, and the edges the
    unclipped native dim's fold pairs with covered cells. Both
    auto_prefilter's clip_dim flip and shuffle_pip_join's clip_cover
    flip + n_buckets sizing read THIS function, so the two strategies
    make one consistent statistics-driven decision."""
    s = _cover_stats(boundaries)
    if not s["n_outer"]:
        return 0.0, 0.0
    step = cells.hexlite_step(res)
    cover_est = s["sum_ab"] / step**2 + s["sum_absum"] / step + s["n_outer"]
    replicated = s["s_e_ab"] / step**2 + s["s_e_sum"] / step + s["s_e_n"]
    return cover_est, replicated


def _auto_cover_res(boundaries: DataFrame) -> int:
    """_auto_index_res for the SHUFFLE strategy: analogous gates (mean
    bbox cover <= _MAX_MEAN_CELLS per outer ring, worst ring <=
    _MAX_RING_CELLS) but computed from a native aggregate of per-ring bbox
    spans — the shuffle side must never collect the polygon geometry to
    the driver (its dim can be big; that is the strategy's reason to
    exist). The cover-count formula
    (a/step+1)(b/step+1) = ab/step^2 + (a+b)/step + 1 is linear in
    (ab, a+b), so mean needs only E[ab], E[a+b]; the max gate uses
    max(ab), max(a+b) — an upper bound on the worst ring's cover,
    conservative in exactly the safe direction. One tiny agg job, O(1)
    rows collected, memoized per logical plan (semanticHash) so repeated
    joins against the same boundary snapshot pay it once per session
    (treats a boundary snapshot as immutable for the session — the same
    assumption the broadcast strategy's PolygonIndex pull makes; res is a
    perf knob, so a stale hit can never change the output rows).

    What the gates bound (round 6, bucketed cogroup): group count no
    longer scales with the cover (see shuffle_pip_join's BOUNDED GROUP
    COUNT note), so the res cost model is (a) the clip prepass —
    geo/clip.py clipped_cell_cover clips each ring to all its strips and
    each strip piece to all its columns in vectorized passes, measured
    serial on a 4-core VM at ~0.8 us per vertex plus ~6 us per occupied
    cell (0.39 s for the 500k-vertex megacoast boundary over 2.8k cells
    at res 2; 0.12 s for a 4-vertex square over 19.6k cells at res 3),
    in units of ~_CLIP_CHUNK_TARGET_VERTICES vertices, so _MAX_RING_CELLS
    caps a polygon's per-cell term at ~0.1 s — and (b) cover row count
    (tiny rows). Finer res
    buys pruning: fewer points survive the covered-cells semi-filter and
    each cover row tests fewer points, so the gates sit as fine as the
    prepass allows rather than as coarse as correctness allows.

    VERTEX-HEAVY relaxation (round 7, from the 600k-vertex megacoast
    row): the refine visits O(edges-in-the-probe's-cell) per point, and
    boundary-cell edge density falls ~linearly with step (the ring's
    edges spread over ~perimeter/step boundary cells), so for a
    high-vertex snapshot ONE step of extra resolution cuts the dominant
    per-point term ~2.6x while the costs the mean gate bounds (cover
    rows, clip prepass) stay seconds even at 8x the gate. When the mean
    edge count per polygon exceeds _HEAVY_EDGES_PER_POLY the mean gate
    widens 8x (the max gate — a single worst-task bound — never moves).
    Measured on megacoast (res 1 -> 2): 20M-point refine 3.5x faster,
    prepass +2 s once per snapshot. Low-vertex snapshots are unaffected
    (coastline mean ~3.8k edges/poly keeps the strict gate)."""
    s = _cover_stats(boundaries)
    if not s["n_outer"]:
        return 0
    max_mean_cells = _MAX_MEAN_CELLS
    if s["s_e_n"] / s["n_outer"] > _HEAVY_EDGES_PER_POLY:
        max_mean_cells = 8.0 * max_mean_cells
    for res in range(7, 0, -1):
        step = cells.hexlite_step(res)
        mean_cover = (s["sum_ab"] / s["n_outer"]) / step**2 + (
            s["sum_absum"] / s["n_outer"]
        ) / step + 1.0
        max_cover = s["max_ab"] / step**2 + s["max_sum"] / step + 1.0
        if mean_cover <= max_mean_cells and max_cover <= _MAX_RING_CELLS:
            return res
    return 0


def auto_prefilter(boundaries: DataFrame) -> tuple[int, bool]:
    """Physical-strategy chooser for the broadcast native path: returns
    (cell_prefilter_res, clip_dim) from the same one-job distributed
    stats pass the shuffle strategy sizes itself with (_cover_stats) —
    the engine-side analogue of Catalyst picking a join strategy from
    size statistics. res comes from the _auto_cover_res gates; clip_dim
    flips ON when the UNCLIPPED cover at that res pairs more than
    _CLIP_THRESHOLD_EDGES edges with cells. A point folds over the full
    edge list of every polygon covering its cell, so sum_poly(edges x
    cover), linear in the captured statistics, is the fold work summed
    over the covered cells; past the threshold the clipped dim, whose
    fold visits only each cell's local edges, wins outright (99.4M ->
    59.8k edges on the 12k-vertex coastline fixture at res 3).
    Pass the result to broadcast_pip_join_native, or just pass
    cell_prefilter_res="auto" there."""
    res = _auto_cover_res(boundaries)
    _, replicated = _replication_estimates(boundaries, res)
    return res, replicated > _CLIP_THRESHOLD_EDGES


def broadcast_pip_join(points: DataFrame, boundaries: DataFrame, index_res: int | None = None) -> DataFrame:
    """points(image_id, lat, lon, ...) x boundaries -> (image_id, boundary_id).

    The polygon set is collected on the driver (it is the broadcast dim) and
    shipped via a Spark broadcast variable; workers rebuild the index once.
    index_res=None (default) sizes the bucket grid to the polygon extents
    (see _auto_index_res)."""
    pip_batches = _index_pip_fn(
        points.sparkSession, boundaries, index_res,
        lambda b: (b["lat"].to_numpy(), b["lon"].to_numpy()),
    )
    # lat/lon ride along so downstream tile encoding needs no re-join
    return points.select("image_id", "lat", "lon").mapInPandas(pip_batches, schema=_PIP_SCHEMA)


def _index_pip_fn(spark: SparkSession, boundaries: DataFrame, index_res: int | None, coords):
    """The mapInPandas function of the Python broadcast strategies: the
    polygon rings are collected on the driver and broadcast once, each
    partition builds the PolygonIndex once, and every batch's points
    (coords(batch) -> lat, lon arrays) come out as (image_id, lat, lon,
    boundary_id) hit rows."""
    ids, rings = _collect_polygon_rings(boundaries)
    if index_res is None:
        index_res = _auto_index_res(rings)
    bc = spark.sparkContext.broadcast((ids, rings, index_res))

    def pip_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        p_ids, p_rings, res = bc.value
        index = pip.PolygonIndex(p_ids, rings=p_rings, res=res)  # once per partition
        for b in batches:
            lat, lon = coords(b)
            pt_idx, poly_id = index.query_batch(lat, lon)
            yield pd.DataFrame(
                {
                    "image_id": b["image_id"].to_numpy()[pt_idx],
                    "lat": lat[pt_idx],
                    "lon": lon[pt_idx],
                    "boundary_id": poly_id,
                }
            )

    return pip_batches


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
    to its candidate polygons' struct<bid, boxes, edges> rows from a
    broadcast dim, with a bbox prefilter + crossing-parity fold
    (higher-order functions over ROW DATA, not plan literals) as the join
    condition.

    Zero Python and zero shuffle of the points side. A previous formulation
    inlined every edge as a plan literal, which hit Janino's 64 KB
    method/constant-pool ceiling at a few hundred edges (round-1 verdict
    'what's wrong #4'); with the polygons as data the lambda is fixed-size
    regardless of polygon cardinality. Same half-open edge rule as the
    NumPy kernel (geo/pip.py points_in_ring).

    cell_prefilter_res: None (the one-row dim) makes every polygon a
    candidate of every point — a broadcast nested-loop join. When set, two
    broadcast hash equi-joins — each point's hexlite cell against
    polygon_cover's (boundary_id, cell) rows, then boundary_id against
    polygon_structs — so each point folds only over the polygons whose
    bbox covers its cell. This is the scale configuration for large
    polygon COUNTS (per-point work drops from O(all polygons) to O(cell
    candidates)). The broadcasts are O(cells + vertices): the cover
    carries ids only and each polygon's struct ships once. Per-point work
    still grows with VERTEX weight: a candidate's fold visits its
    polygon's whole edge list, which is what clip_dim=True bounds.

    cell_prefilter_res="auto" resolves BOTH the resolution and clip_dim
    from the auto_prefilter statistics pass (one tiny agg job, memoized
    per boundary snapshot) — the engine picks the physical dim strategy
    the way Catalyst picks a join strategy from size stats.

    clip_dim (with cell_prefilter_res): one broadcast hash join on cell
    against clipped_cell_rows — each (cell, polygon) row carries only the
    geometry clipped to that cell's window, making the per-point fold
    O(local edges), so fine prefilter resolutions work at ANY vertex
    weight. The dim build gains a once-per-snapshot Python prepass (the
    points side stays zero-Python, zero-shuffle); keep the default when
    the polygon set is low-vertex and the fully-native dim build matters
    more than fold locality.

    extra_cols: additional point-side columns carried through to the output
    (e.g. event_time on the Structured Streaming path — every plan shape
    here is stream-static-join legal: a broadcast static dim and no
    shuffle of the points, so the SAME operator serves batch and stream).
    """
    if cell_prefilter_res == "auto":
        cell_prefilter_res, clip_dim = auto_prefilter(boundaries)
    poly_structs = polygon_structs(boundaries)

    lat, lon = F.col("lat"), F.col("lon")
    # probe lon in the unwrapped frame, used against dateline-crossing
    # rings — STAGED as a point-side column (round 8): the fold references
    # it once per edge, and inline it was a per-edge CASE re-evaluation
    points = points.withColumn("_lon360", F.when(lon < 0, lon + F.lit(360.0)).otherwise(lon))
    lon360 = F.col("_lon360")

    def inside(p):
        crossings = F.aggregate(
            p["edges"],
            F.lit(0),
            lambda acc, e: acc + F.when(
                ((e["y0"] > lat) != (e["y1"] > lat))
                & (F.when(e["w"], lon360).otherwise(lon)
                   < (e["x1"] - e["x0"]) * (lat - e["y0"])
                   # null denominator when y1==y0 -> null predicate -> 0
                   # (never a divide-by-zero under ANSI)
                   / F.when(e["y1"] != e["y0"], e["y1"] - e["y0"]) + e["x0"]),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        in_bbox = F.exists(
            p["boxes"],
            lambda b: (lat >= b["lat_min"]) & (lat <= b["lat_max"])
            & (F.when(b["w"], lon360).otherwise(lon) >= b["lon_min"])
            & (F.when(b["w"], lon360).otherwise(lon) <= b["lon_max"]),
        )
        return F.when(in_bbox, F.pmod(crossings, F.lit(2)) == 1).otherwise(F.lit(False))

    # each branch builds candidate rows (point, boundary_id, p); Spark pushes
    # the shared fold filter below into the join condition. The tail reads
    # the dim's boundary_id column, not p.bid, so the broadcast is pruned to
    # the fields the fold reads
    if cell_prefilter_res is None:
        cand = points.crossJoin(F.broadcast(poly_structs))
    elif clip_dim:
        cand = points.withColumn(
            "cell", cells.hexlite_cell_col(lat, lon, cell_prefilter_res)
        ).join(F.broadcast(clipped_cell_rows(boundaries, cell_prefilter_res)), "cell")
    else:
        # polygon_cover emits each (boundary_id, cell) once and boundary_id
        # is unique, so the cell join yields one row per (point, candidate)
        # and the boundary_id join attaches that candidate's own struct.
        # Both sides are broadcast hash relations (O(cells + vertices)
        # bytes). Keep the structs on a hash join's build side: resolving
        # them from a per-row array column copies the whole array per row
        # (measured 70x slower at 2M points).
        cand = (
            points.withColumn("cell", cells.hexlite_cell_col(lat, lon, cell_prefilter_res))
            .join(F.broadcast(polygon_cover(boundaries, cell_prefilter_res)), "cell")
            .join(F.broadcast(poly_structs), "boundary_id")
        )
    return cand.where(inside(F.col("p"))).select(
        "image_id", "lat", "lon", *extra_cols, "boundary_id"
    )


def polygon_structs(boundaries: DataFrame) -> DataFrame:
    """(boundary_id, p) where p = struct<bid, boxes, edges> — the row-data
    (multi)polygon representation consumed by the native PIP fold.

    boxes: one bbox per OUTER ring (holes never extend coverage), lon
    bounds in the ring's own frame with a `w` (wrapped) flag. edges: the
    flat even-odd edge list over ALL rings, each edge tagged with its
    ring's frame — parity composes per ring, so edges of differently-
    framed rings (a Fiji-style multipolygon) coexist in one fold.

    boundary_id must be unique: the prefiltered native join attaches
    structs by boundary_id, so a duplicated id attaches both polygons'
    structs to each of their cover rows and a point can come out paired
    with that id more than once.

    Round 8: the per-ring test-frame arrays are STAGED once
    (_staged_rings_col, a separate projection so CollapseProject cannot
    re-inline it) — the previous per-edge lambda re-evaluated the
    O(vertices) unwrap transform per edge index, an O(vertices^2)
    interpreted blowup on high-vertex rings."""

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
        return F.struct(
            F.array_min(s["la"]).alias("lat_min"),
            F.array_max(s["la"]).alias("lat_max"),
            F.array_min(s["ulo"]).alias("lon_min"),
            F.array_max(s["ulo"]).alias("lon_max"),
            s["w"].alias("w"),
        )

    staged = normalize_rings(boundaries).select(
        "boundary_id", _staged_rings_col(F.col("rings")).alias("_rs")
    )
    rs = F.col("_rs")
    return staged.select(
        "boundary_id",
        F.struct(
            F.col("boundary_id").alias("bid"),
            F.transform(F.filter(rs, lambda s: ~s["is_hole"]), ring_box).alias("boxes"),
            F.flatten(F.transform(rs, ring_edges)).alias("edges"),
        ).alias("p"),
    )


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


def _staged_rings_frame(boundaries: DataFrame) -> DataFrame:
    """(boundary_id, _rs) with the per-ring test-frame arrays materialized
    once (see _staged_rings_col) — the shared input projection of the
    geodesic folds, so their per-vertex lambdas reference pre-built arrays
    instead of re-evaluating the O(vertices) unwrap per vertex (an
    O(vertices^2) interpreted blowup on high-vertex rings; round 8)."""
    return normalize_rings(boundaries).select(
        "boundary_id", _staged_rings_col(F.col("rings")).alias("_rs")
    )


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


# target vertex load per clip-prepass unit. Every unit ships its
# boundary's full strip-intersecting rings, so a boundary split into k
# units crosses the shuffle and the Arrow channel ~k times; the split only
# pays while the kernel time it parallelizes exceeds that transport plus a
# Python stage's fixed cost (~0.3 s per stage at local[4] on a 4-core VM).
# clipped_cell_cover measures ~0.8 us/vertex serial (0.39 s for the
# 500k-vertex megacoast boundary at res 2; the per-strip clip it replaced
# cost 7.8 us/vertex, hence the old 60k target), so a unit of up to 500k
# vertices costs about one stage overhead of kernel time: the megacoast
# ships each vertex once (two units, 600k vertices, where the 60k target
# shipped 4.0M across 11 units) and a 10^7-vertex boundary still spreads
# over 20 tasks (each shipping the whole ring).
_CLIP_CHUNK_TARGET_VERTICES = 500_000


def _clip_units(boundaries: DataFrame, res: int) -> DataFrame:
    """(boundary_id, rings, strip_lo, strip_hi) work units for the clip
    prepass (round 8). Cells are strip-aligned, so partitioning each
    boundary's latitude-strip range into contiguous chunks (one unit per
    ~_CLIP_CHUNK_TARGET_VERTICES vertices) parallelizes the prepass with
    NO downstream merge: a unit emits exactly the (cell, pieces) entries
    of its own strips, disjoint from every other unit's, with identical
    per-entry content and piece order.

    Each unit carries the boundary's rings FILTERED (with a one-strip
    safety margin) to those whose latitude range can touch the unit's
    strips — a ring that cannot reach them would clip to nothing. The
    final repartition spreads units across the cluster; it moves each
    ring once per unit that keeps it (see _CLIP_CHUNK_TARGET_VERTICES for
    why that is about once)."""
    spark = boundaries.sparkSession
    step = cells.hexlite_step(res)
    n_lat, _ = cells.hexlite_dims(res)

    r2 = F.col("_r2")
    staged = normalize_rings(boundaries).select(
        "boundary_id",
        F.transform(
            F.col("rings"),
            lambda r: F.struct(
                r.alias("r"),
                F.floor((F.array_min(r["ring_lat"]) + F.lit(90.0)) / F.lit(step)).alias("i0"),
                F.floor((F.array_max(r["ring_lat"]) + F.lit(90.0)) / F.lit(step)).alias("i1"),
                F.size(r["ring_lat"]).alias("nv"),
            ),
        ).alias("_r2"),
    )
    i0 = F.greatest(F.lit(0).cast("long"), F.array_min(F.transform(r2, lambda x: x["i0"])))
    i1 = F.least(F.lit(n_lat - 1).cast("long"), F.array_max(F.transform(r2, lambda x: x["i1"])))
    n_strips = i1 - i0 + 1
    total_v = F.aggregate(r2, F.lit(0), lambda a, x: a + x["nv"])
    n_chunks = F.least(
        n_strips,
        F.greatest(F.lit(1).cast("long"), F.ceil(total_v / F.lit(_CLIP_CHUNK_TARGET_VERTICES))),
    )
    with_bounds = staged.select(
        "boundary_id", "_r2",
        i0.alias("_i0"), n_strips.alias("_ns"), n_chunks.alias("_nc"),
    )
    k = F.col("_k")
    strip_lo = F.col("_i0") + F.floor(k * F.col("_ns") / F.col("_nc"))
    strip_hi = F.col("_i0") + F.floor((k + 1) * F.col("_ns") / F.col("_nc")) - 1
    units = (
        with_bounds
        # explode(sequence) drops boundaries with null bounds (no rings)
        .withColumn("_k", F.explode(F.sequence(F.lit(0).cast("long"), F.col("_nc") - 1)))
        .select(
            "boundary_id",
            F.transform(
                F.filter(
                    F.col("_r2"),
                    lambda x: (x["i0"] <= strip_hi + 1) & (x["i1"] >= strip_lo - 1),
                ),
                lambda x: x["r"],
            ).alias("rings"),
            strip_lo.cast("long").alias("strip_lo"),
            strip_hi.cast("long").alias("strip_hi"),
        )
    )
    return units.repartition(_shuffle_partitions(spark))


def _unit_covers(batch, res: int) -> Iterator[tuple[int, dict]]:
    """(boundary_id, clipped_cell_cover) for every _clip_units row of an
    Arrow batch. The rings are read as zero-copy NumPy slices of the
    batch's flat coordinate buffers: no per-vertex Python objects on the
    way in."""
    from wikibrain_spark.geo import clip as _clip

    rings = batch.column("rings")
    r_off = rings.offsets.to_numpy()
    lat, lon = rings.values.field("ring_lat"), rings.values.field("ring_lon")
    lat_off, lat_v = lat.offsets.to_numpy(), lat.values.to_numpy()
    lon_off, lon_v = lon.offsets.to_numpy(), lon.values.to_numpy()
    bids = batch.column("boundary_id").to_numpy()
    s_lo = batch.column("strip_lo").to_numpy()
    s_hi = batch.column("strip_hi").to_numpy()
    for i in range(batch.num_rows):
        ring_list = [
            (lat_v[lat_off[k]:lat_off[k + 1]], lon_v[lon_off[k]:lon_off[k + 1]])
            for k in range(r_off[i], r_off[i + 1])
        ]
        yield int(bids[i]), _clip.clipped_cell_cover(
            ring_list, res, strip_lo=int(s_lo[i]), strip_hi=int(s_hi[i]))


def _list_array(lengths: list, values):
    """Arrow list array of consecutive runs of `values` (run i has
    lengths[i] elements)."""
    import pyarrow as pa

    off = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=off[1:])
    return pa.ListArray.from_arrays(pa.array(off), values)


def clipped_cover_frame(boundaries: DataFrame, res: int) -> DataFrame:
    """(boundary_id, cell, geom array<double>): the clip-to-cell cover the
    shuffle strategy cogroups against — each covered cell carries only the
    polygon geometry CLIPPED to its window, packed flat for the Arrow
    channel (geo/clip.py pack_pieces wire format). Extracted from
    shuffle_pip_join so the scaling harness can build its
    cogroup-transport probe from the IDENTICAL cover side (same prepass,
    same shuffle, parity kernel removed)."""
    import pyarrow as pa

    from wikibrain_spark.geo import clip as _clip

    def cover_fn(batches):
        for batch in batches:
            bids, ids, packs = [], [], []
            for bid, pieces in _unit_covers(batch, res):
                for c, plist in pieces.items():
                    bids.append(bid)
                    ids.append(c)
                    packs.append(_clip.pack_pieces(plist))
            if not ids:
                continue
            geom = np.concatenate(packs)
            yield pa.RecordBatch.from_arrays([
                pa.array(bids, pa.int64()),
                pa.array(ids, pa.int64()),
                _list_array([g.size for g in packs], pa.array(geom, pa.float64())),
            ], names=["boundary_id", "cell", "geom"])

    # strip-aligned parallel prepass (round 8, see _clip_units): units are
    # disjoint in (cell), so the union of per-unit covers IS the cover
    return _clip_units(boundaries, res).mapInArrow(
        cover_fn, schema="boundary_id long, cell long, geom array<double>"
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


def clipped_cell_rows(boundaries: DataFrame, res: int) -> DataFrame:
    """(cell, boundary_id, p struct) — the per-cell candidate rows with
    BOUNDED per-cell geometry, one row per (cell, polygon): each carries
    only the polygon CLIPPED to that cell's window (geo/clip.py),
    re-expressed as the struct<bid, boxes, edges> shape the native fold
    consumes. The unclipped prefilter folds each candidate's full edge
    list, so a point near a 10^5-vertex ring pays every vertex; clipped,
    the total is O(vertices + cells) (every original edge lands in the few
    cells it crosses, interior cells degenerate to the 4-edge window), so
    fine resolutions stay broadcast-sized at ANY vertex weight and each
    point's fold visits only LOCAL edges.

    The build is a mapInArrow over the polygon DIM's clip units — once
    per snapshot, embarrassingly parallel, the same prepass position as
    the shuffle strategy's clip cover. The POINTS side stays zero-Python and
    zero-shuffle (unchanged broadcast hash equi-join + native fold).

    boxes: one bbox per probe FRAME over the entry's pieces (raw and
    unwrapped pieces can coexist in one cell for a Fiji-style
    multipolygon; a single bbox cannot span both frames). A point in
    region ∩ cell lies in some piece's region, hence inside its frame's
    bbox — the exists() gate stays a correct prefilter. Parity over the
    clipped pieces equals full-ring parity for probes inside the cell
    (geo/clip.py's preservation argument)."""
    import pyarrow as pa

    def struct(names, arrays):
        return pa.StructArray.from_arrays(arrays, names=names)

    def dim_fn(batches):
        for batch in batches:
            cell_ids: list[int] = []
            bids: list[int] = []
            cell_nv: list[int] = []
            n_boxes: list[int] = []
            boxes: list[tuple] = []
            ys_l: list[np.ndarray] = []
            xs_l: list[np.ndarray] = []
            ws: list[bool] = []
            for bid, pieces in _unit_covers(batch, res):
                for cell_id, plist in pieces.items():
                    # one bbox per probe frame, frames in first-seen order
                    frame_box: dict[bool, list[float]] = {}
                    for ys, xs, w in plist:
                        ys_l.append(ys)
                        xs_l.append(xs)
                        ws.append(bool(w))
                        lo_y, hi_y = float(ys.min()), float(ys.max())
                        lo_x, hi_x = float(xs.min()), float(xs.max())
                        fb = frame_box.get(bool(w))
                        if fb is None:
                            frame_box[bool(w)] = [lo_y, hi_y, lo_x, hi_x]
                        else:
                            fb[0] = min(fb[0], lo_y); fb[1] = max(fb[1], hi_y)
                            fb[2] = min(fb[2], lo_x); fb[3] = max(fb[3], hi_x)
                    boxes.extend((*fb, w) for w, fb in frame_box.items())
                    n_boxes.append(len(frame_box))
                    cell_nv.append(sum(ys.size for ys, _, _ in plist))
                    cell_ids.append(int(cell_id))
                    bids.append(bid)
            if not cell_ids:
                continue
            # a closed piece's edge list is (v_i -> v_{i+1 mod n}): the
            # vertex arrays against a next-index gather that wraps at each
            # piece's end, for the whole batch in a few array ops
            y0, x0 = np.concatenate(ys_l), np.concatenate(xs_l)
            lens = np.array([a.size for a in ys_l])
            ends = np.cumsum(lens)
            nxt = np.arange(1, y0.size + 1)
            nxt[ends - 1] = ends - lens
            edges = struct(["y0", "x0", "y1", "x1", "w"], [
                pa.array(y0), pa.array(x0), pa.array(y0[nxt]), pa.array(x0[nxt]),
                pa.array(np.repeat(np.array(ws, dtype=bool), lens)),
            ])
            bx = list(zip(*boxes))
            box_arr = struct(
                ["lat_min", "lat_max", "lon_min", "lon_max", "w"],
                [pa.array(bx[k], pa.float64()) for k in range(4)]
                + [pa.array(bx[4], pa.bool_())],
            )
            bid_arr = pa.array(bids, pa.int64())
            yield pa.RecordBatch.from_arrays([
                pa.array(cell_ids, pa.int64()),
                bid_arr,
                struct(["bid", "boxes", "edges"], [
                    bid_arr, _list_array(n_boxes, box_arr), _list_array(cell_nv, edges),
                ]),
            ], names=["cell", "boundary_id", "p"])

    schema = (
        "cell long, boundary_id long, p struct<bid: long, "
        "boxes: array<struct<lat_min: double, lat_max: double, "
        "lon_min: double, lon_max: double, w: boolean>>, "
        "edges: array<struct<y0: double, x0: double, y1: double, "
        "x1: double, w: boolean>>>"
    )
    # the struct<bid, boxes, edges> shape the native fold consumes is
    # built as Arrow arrays over the flat per-batch vertex buffers, so the
    # channel carries columnar buffers with no per-element conversion.
    # strip-aligned parallel prepass (round 8, see _clip_units): units are
    # disjoint in (cell), so no (cell, bid) entry is split across tasks
    return _clip_units(boundaries, res).mapInArrow(dim_fn, schema=schema)


def clipped_cell_dim(boundaries: DataFrame, res: int) -> DataFrame:
    """clipped_cell_rows as (cell, polys array<struct>): bench.py's and perfbench's dim probes."""
    return clipped_cell_rows(boundaries, res).groupBy("cell").agg(F.collect_list("p").alias("polys"))


def polygon_cover(
    boundaries: DataFrame, res: int = COVER_RES, with_rings: bool = False
) -> DataFrame:
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
    in exactly the emitted cells at every resolution)."""
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
        e180 = F.lit(float(np.nextafter(180.0, 0.0)))
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
    # with_rings carries the geometry THROUGH the explode (narrow op) so a
    # consumer needing (cell, rings) rows pays no attach join — the shuffle
    # PIP strategy keys its cogroup on this directly (one rings copy per
    # covered cell, which is exactly its transport bound anyway)
    keep = ["boundary_id", "rings"] if with_rings else ["boundary_id"]
    return normalize_rings(boundaries).select(
        *keep, F.explode(covered).alias("cell")
    )


def shuffle_pip_join(
    points: DataFrame,
    boundaries: DataFrame,
    res: int | None = None,
    hot_cell_threshold: int = 50_000,
    n_salt: int = 8,
    hotness_sample_fraction: float = 0.01,
    clip_cover: bool | str = "auto",
    n_buckets: int | None = None,
) -> DataFrame:
    """Shuffle strategy with explicit hot-cell salting.

    points must carry (image_id, lat, lon). Returns (image_id, boundary_id).

    PROBE-SIDE-ONLY salting invariant: hotness is measured on the points
    side only, never on the polygon-cover side. Per-cell work is
    points x cover_rows; salting the points side splits that product
    across n_salt tasks whichever factor is large, while a cover-hot but
    points-cold cell does little total work — so measuring the cover side
    would pay a pre-pass over the exploded cover frame to find cells that
    never bottleneck a task. Pinned by the build-hot/probe-cold fixture in
    test_pipeline_ops.

    GROUP-ONCE GEOMETRY TRANSPORT (round-5 verdict #1): the refine stage
    is a COGROUPED applyInPandas — the points of a group and the geometry
    of the polygons covering that group's cells arrive as two separate
    frames, so each polygon's rings cross the shuffle and the Arrow
    channel ONCE PER COVERED CELL, never once per candidate pair. The
    previous formulation joined rings onto the candidate output, which
    shipped a full copy of the boundary's multipolygon on EVERY
    point x boundary row: a 10^4-vertex coastline in a 50k-point hot cell
    serialized ~5x10^8 float pairs through one worker's Arrow channel.
    Now that same cell ships 50k narrow point rows + one 10^4-vertex
    geometry. The output needs NO dedup: a point belongs to exactly one
    (cell, salt) pair and the cover emits each (boundary, cell) once, so
    (image_id, boundary_id) pairs are unique by construction (same proof
    as within_distance_join; plan pinned in test_plan_audit).

    BOUNDED GROUP COUNT (round 6): the cogroup key is (bucket, salt)
    with bucket = pmod(xxhash64(cell), n_buckets), NOT the raw cell.
    Spark's cogrouped applyInPandas pays ~2-3 ms of framework overhead
    per GROUP (per-group Arrow batch + pandas materialization, measured
    round 6), so keying by cell makes group count — and therefore a hard
    floor on the stage's CPU — scale with the COVER (O(cells), i.e. with
    resolution), reaching minutes at res >= 3 on a continent-bbox dim.
    Bucketing caps groups at ~n_buckets x n_salt independent of
    resolution; inside a group the per-cell candidate semantics are
    recovered with a sorted searchsorted merge (vectorized, zero Python
    per row). Both cogroup inputs are explicitly
    repartition(N, bucket, salt)-ed: the exchanges satisfy the cogroup's
    required clustering (no extra shuffle — plan-pinned) and the
    user-specified N is exempt from AQE partition coalescing, which
    otherwise folds this deliberately-light shuffle into ONE task and
    serializes every group behind a single Python worker (the round-3
    AQE-coalesce trap, re-measured here: 16k groups = 38 s serial).
    n_buckets defaults to 16x the session's shuffle partitions — groups
    stay ~10-100x finer than tasks for even scheduling while the
    per-group overhead stays amortized; scale it with the cluster the
    same way shuffle partitions scale.

    Memory: applyInPandas materializes each cogroup whole (it does not
    stream Arrow batches). A group holds ~covered_points/n_buckets rows
    plus any one hot cell's 1/n_salt share, so hot_cell_threshold still
    bounds the skew term — a cell above it splits into n_salt groups.
    Points in cells no polygon covers are dropped by the covered-cells
    semi-filter before the shuffle.

    CLIP-TO-CELL COVER (clip_cover="auto", the default): once-per-cell
    transport still duplicates the FULL geometry per covered cell —
    O(cells x vertices) shuffle volume, ~10 GB for one 10^4-vertex
    continental boundary at res 4. With clipping, the cover prepass
    (a mapInArrow over the polygon DIM — once per snapshot,
    embarrassingly parallel per polygon) ships each cell only the
    polygon clipped to that cell's window: O(vertices + cells) total,
    and the refine folds over a handful of LOCAL edges instead of the
    whole ring (geo/clip.py has the parity-preservation argument).
    "auto" flips clipping on exactly when the statistics say the
    duplication it removes is worth a Python prepass: the unclipped
    cover would replicate sum_poly(edges x cover) edge coordinates
    through the shuffle — linear in the _cover_stats sufficient
    statistics, the same decision auto_prefilter makes for clip_dim —
    and below _CLIP_THRESHOLD_EDGES the zero-extra-Python native cover
    wins outright (a 40-vertex rectangle set replicates ~10^5 doubles:
    clipping that costs a whole extra Spark job to save megabytes,
    measured as the regressed round-6 bench row). Booleans force
    either path.

    n_buckets=None sizes the cogroup from the same statistics:
    ~4 groups per task (hash-LLN keeps per-bucket cell counts
    concentrated once covered cells >> buckets, so finer bucketing
    buys little balancing while its ~2-3 ms/group Arrow overhead is a
    hard floor on the stage — 512 groups cost ~1.2 s of pure framework
    time on a fixture whose total refine work is milliseconds), floored
    at one group per task and never more buckets than the estimated
    covered-cell count (beyond that buckets are provably empty). Skew
    is the salt's job, not the bucket count's: a hot cell splits into
    n_salt groups regardless of how many buckets there are.
    """
    from wikibrain_spark.operators.knn import _sampled_hot_cells

    if isinstance(clip_cover, str) and clip_cover != "auto":
        raise ValueError(
            f"clip_cover must be a bool or the string 'auto', got {clip_cover!r}"
        )  # round-7 ADVICE: any other string silently enabled clipping via truthiness
    if res is None:
        res = _auto_cover_res(boundaries)
    spark = points.sparkSession
    if clip_cover == "auto" or n_buckets is None:
        # memoized; _auto_cover_res already paid the stats job
        cover_est, replicated = _replication_estimates(boundaries, res)
        if clip_cover == "auto":
            clip_cover = replicated > _CLIP_THRESHOLD_EDGES
    pts = points.select(
        "image_id", "lat", "lon",
        cells.hexlite_cell_col(F.col("lat"), F.col("lon"), res).alias("cell"),
    )

    # SAMPLED hotness pre-pass: cells whose estimated point-count exceeds
    # the threshold get split into n_salt sub-keys. Salting is perf-only
    # (any cell subset is output-identical), so the seeded sample detects
    # hot cells at ~1% of a full count scan; fraction=1.0 recovers the
    # exact pre-pass. See knn._sampled_hot_cells for the cutoff math.
    hot = _sampled_hot_cells(pts, "cell", hot_cell_threshold, n_salt, hotness_sample_fraction)

    if clip_cover:
        cover = clipped_cover_frame(boundaries, res)
    else:
        # full geometry carried through the explode — no attach join;
        # packed flat for the cogroup Arrow channel (see pack_rings_col)
        cover = (
            polygon_cover(boundaries, res, with_rings=True)
            .withColumn("geom", pack_rings_col(F.col("rings")))
            .drop("rings")
        )
    n_part = _shuffle_partitions(spark)
    if n_buckets is None:
        n_buckets = max(n_part, min(4 * n_part, int(cover_est) + 1))
    bucket = F.pmod(F.xxhash64(F.col("cell")), F.lit(n_buckets)).cast("int")

    # replicate polygon cover rows for hot cells: salt 0..n_salt-1. The
    # geometry rides this POLYGON side of the cogroup: one row per
    # (boundary, covered cell, salt) — bounded by the cover, not by points
    polys_salted = (
        cover.join(F.broadcast(hot), "cell", "left")
        .withColumn("salt", F.explode(F.sequence(F.lit(0), F.coalesce(F.col("n_salt"), F.lit(1)) - 1)))
        .drop("n_salt")
        .withColumn("bucket", bucket)
    )
    # COVERED-CELLS semi-filter: points in cells no polygon's bbox covers
    # can never match — drop them BEFORE the shuffle and the cogroup, so
    # neither the exchange nor the per-group Python overhead is paid for
    # the (at sparse densities, vast) uncovered majority. The filter uses
    # the NATIVE bbox cover enumeration (a superset of the clipped cover —
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
        .withColumn("bucket", bucket)
    )

    def refine(pts_b: pd.DataFrame, polys_b: pd.DataFrame) -> pd.DataFrame:
        if pts_b.empty or polys_b.empty:
            return pd.DataFrame(
                {"image_id": pd.Series(dtype=object),
                 "lat": pd.Series(dtype=np.float64),
                 "lon": pd.Series(dtype=np.float64),
                 "boundary_id": pd.Series(dtype=np.int64)}
            )
        # per-cell merge inside the bucket: sort the group's points by
        # cell once, then each cover row selects ITS cell's contiguous
        # point range with two searchsorted probes — the candidate set is
        # identical to a per-cell cogroup, with O(n log n) setup instead
        # of per-cell group overhead
        cell_arr = pts_b["cell"].to_numpy()
        order = np.argsort(cell_arr, kind="stable")
        cs = cell_arr[order]
        lat = pts_b["lat"].to_numpy()[order]
        lon = pts_b["lon"].to_numpy()[order]
        ids = pts_b["image_id"].to_numpy()[order]
        out = []
        lon360 = np.where(lon < 0.0, lon + 360.0, lon)
        # each cover row tests its cell's points vectorized. Packed coords
        # are already in each ring's test frame, so parity uses the
        # EXPLICIT-frame kernel (the heuristic would misread clipped
        # fragments). crossing_parity materializes points x edges — chunk
        # the point axis so a hot (threshold-sized) cell against a
        # 10^4-vertex ring stays ~8M cells per slab, not N*M gigabytes
        for bid, pcell, packed in zip(
            polys_b["boundary_id"].to_numpy(), polys_b["cell"].to_numpy(), polys_b["geom"]
        ):
            lo_i = int(np.searchsorted(cs, pcell, "left"))
            hi_i = int(np.searchsorted(cs, pcell, "right"))
            if lo_i == hi_i:
                continue
            rings = unpack_rings(packed)
            n_edges = sum(len(r[0]) for r in rings)
            chunk = max(1024, 8_000_000 // max(1, n_edges))
            hits = []
            for s in range(lo_i, hi_i, chunk):
                e = min(s + chunk, hi_i)
                inside = np.zeros(e - s, dtype=bool)
                for ys, xs, unwrap in rings:
                    inside ^= pip.crossing_parity(
                        lat[s:e], (lon360 if unwrap else lon)[s:e], ys, xs,
                    )
                hits.append(np.nonzero(inside)[0] + s)
            idx = np.concatenate(hits) if hits else np.empty(0, dtype=np.int64)
            if idx.size:
                out.append(pd.DataFrame(
                    {"image_id": ids[idx],
                     "lat": lat[idx], "lon": lon[idx],
                     "boundary_id": np.full(idx.size, bid, dtype=np.int64)}
                ))
        if not out:
            return refine(pts_b.iloc[:0], polys_b.iloc[:0])
        return pd.concat(out, ignore_index=True)

    return (
        pts_salted.repartition(n_part, "bucket", "salt")
        .groupBy("bucket", "salt")
        .cogroup(polys_salted.repartition(n_part, "bucket", "salt").groupBy("bucket", "salt"))
        .applyInPandas(refine, schema=_PIP_SCHEMA)
    )


def geotag_pip_fused(images: DataFrame, boundaries: DataFrame, index_res: int | None = None) -> DataFrame:
    """Fused geotag-extract + PIP in ONE mapInPandas: images (image_id,
    bytes) -> (image_id, lat, lon, boundary_id).

    The composable path (extract_geotags -> broadcast_pip_join) crosses the
    JVM<->Python Arrow channel twice per row; at full width that doubles the
    Python-worker count per task and the Arrow (de)serialization. Fusing
    keeps one worker per task and reads the binary column exactly once —
    use for the hot path when no intermediate columns are needed.
    index_res=None sizes the bucket grid to the polygon extents.
    """
    from wikibrain_spark import codecs

    fused = _index_pip_fn(
        images.sparkSession, boundaries, index_res,
        lambda b: codecs.extract_geotags_batch(b["hdr"].tolist()),
    )
    # header-only projection before the Arrow hop (see extract_geotags)
    return images.select(
        "image_id", F.substring("bytes", 1, codecs.HEADER_SIZE).alias("hdr")
    ).mapInPandas(fused, schema=_PIP_SCHEMA)


def tile_assignments(
    points: DataFrame, boundaries: DataFrame, res: int = 9, strategy: str = "broadcast",
    native_prefilter_res: int | str | None = "auto",
) -> DataFrame:
    """The flagship output row (SURVEY.md §7.1 step 3): image x containing
    boundary x tile cell + the boundary's wiki tags.

    Returns (image_id, cell_r{res}, boundary_id, qid, wikipedia).
    strategy: 'broadcast' | 'shuffle' (points = geotagged rows), or
    'fused' | 'native' (points = the raw images DataFrame; 'fused' makes
    one Python hop total, 'native' none). Any other value raises.

    native_prefilter_res: the native strategy's cell-prefilter resolution.
    Since round 5 the flagship native path DEFAULTS to the cell-prefiltered
    dim: per-point work drops from O(all polygon edges) to O(cell-candidate
    edges) — the one-row dim pairs every point with every polygon, which
    stopped being competitive once boundaries grew multipolygon/hole
    rings — and the dim build (polygon_cover) is now native expressions,
    so the whole plan keeps zero Python (pinned). The DEFAULT is "auto"
    (round 7): both the resolution and the clipped-vs-unclipped dim come
    from the auto_prefilter statistics pass, so a user pointing the
    flagship at an unknown/high-vertex boundary snapshot gets a legal
    broadcast plan without knowing to ask — the engine-side analogue of
    Catalyst choosing a join strategy from size statistics. Gate-carrier
    measurability is preserved by a plan-identity pin: the flagship
    fixture must keep resolving to (4, unclipped)
    (tests/test_round7_hygiene.py), so the bench row's plan cannot drift
    silently. A fixed int keeps the old behavior; None selects the
    one-row dim, a nested-loop join (the scaling harness still measures
    it).
    """
    if strategy not in ("broadcast", "fused", "native", "shuffle"):
        raise ValueError(
            "strategy must be one of 'broadcast', 'fused', 'native', 'shuffle', "
            f"got {strategy!r}"
        )
    if strategy == "fused":
        pairs = geotag_pip_fused(points, boundaries)
    elif strategy == "native":
        # fully-JVM flagship: native binary header parse + native PIP;
        # points = the raw images DataFrame
        from wikibrain_spark import codecs
        from wikibrain_spark.functions import binparse

        pts = points.select(
            "image_id",
            binparse.le_double_col(F.col("bytes"), 11).alias("lat"),
            binparse.le_double_col(F.col("bytes"), 19).alias("lon"),
        )
        pairs = broadcast_pip_join_native(
            pts, boundaries, cell_prefilter_res=native_prefilter_res
        )
    else:
        join_fn = broadcast_pip_join if strategy == "broadcast" else shuffle_pip_join
        pairs = join_fn(points, boundaries)  # carries lat/lon: no re-join shuffle
    dim = boundaries.select("boundary_id", "qid", "wikipedia")
    return (
        pairs.join(F.broadcast(dim), "boundary_id")
        .select(
            "image_id",
            cells.hexlite_cell_col(F.col("lat"), F.col("lon"), res).alias(f"cell_r{res}"),
            "boundary_id",
            "qid",
            "wikipedia",
        )
    )
