"""The perfbench workloads.

Each workload makes its inputs from the seed into its own work directory
(never the data/ caches), builds an independent reference, and exposes:

  properties()     the input's size and shape, for the summary line
  prepare()        inputs + reference (untimed, part of set-up)
  warm_up()        the untimed first run: (output correct, a copy of it with
                   one boundary_id flipped fails the check)
  iterate()        one timed run through the engine's public functions
  check(result)    True iff the run's output matches the reference
  spans(tracer)    one traced run: a span around each layer's public call
  counters(tracer) layer counters, measured outside the spans

Sizes are fixed here, not taken from the command line, so every run of a
workload measures the same amount of work.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from wikibrain_spark import codecs
from wikibrain_spark.geo import cells, pip
from wikibrain_spark.functions import binparse
from wikibrain_spark.operators import spatial_join
from wikibrain_spark.sources import synthetic

TILE_COLS = ("image_id", "cell_r9", "boundary_id", "qid", "wikipedia")
NULL = "\\N"
N_FILES = 8  # input parquet files, two per core at local[4]


# ------------------------------------------------------------ checksums

def row_hash(cols) -> "F.Column":
    """CRC-32 of a row's '|'-joined column values, nulls spelled NULL; the
    sum over a frame is its order-independent checksum."""
    return F.crc32(F.concat_ws("|", *[F.coalesce(c.cast("string"), F.lit(NULL)) for c in cols]))


def row_crc(values) -> int:
    """Python twin of row_hash."""
    return zlib.crc32("|".join(NULL if v is None else str(v) for v in values).encode())


def reduce_tiles(tiles, flip_id: str | None = None, sample_ids: tuple[str, ...] = ()):
    """One action over a tiles frame: its row count `n` and checksum `h`;
    with flip_id also `h_flipped`, the checksum of the same rows with that
    image's boundary_id corrupted (the self-test); with sample_ids also
    those images' rows as `sample`."""
    cols = [F.col(c) for c in TILE_COLS]
    aggs = [F.count("*").alias("n"), F.sum(row_hash(cols)).alias("h")]
    if flip_id is not None:
        bid = F.when(F.col("image_id") == flip_id, F.col("boundary_id") + 1).otherwise(
            F.col("boundary_id"))
        aggs.append(F.sum(row_hash([bid if c == "boundary_id" else F.col(c)
                                    for c in TILE_COLS])).alias("h_flipped"))
    if sample_ids:
        aggs.append(F.collect_list(F.when(F.col("image_id").isin(list(sample_ids)),
                                          F.struct(*cols))).alias("sample"))
    return tiles.agg(*aggs).collect()[0]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_header_copies(ids: np.ndarray, payloads: list[bytes], copies: int, path: str) -> None:
    """The image table the tiles runs scan: `copies` replicas of each base
    image with fresh ids `<id>_<copy>`, carrying the 26-byte geotag header
    of the real encoded payload (the only bytes the native path reads), in
    N_FILES parquet files."""
    os.makedirs(path, exist_ok=True)
    headers = [p[: codecs.HEADER_SIZE] for p in payloads]
    per_file = -(-copies // N_FILES)
    for f in range(N_FILES):
        reps = range(f * per_file, min(copies, (f + 1) * per_file))
        table = pa.table({
            "image_id": pa.array([f"{i}_{r}" for r in reps for i in ids], pa.string()),
            "bytes": pa.array([h for _ in reps for h in headers], pa.binary()),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def reference_checksum(rows: list[tuple], copies: int) -> tuple[int, int]:
    """(count, checksum) of `rows` replicated as write_header_copies does."""
    h = 0
    for r in range(copies):
        for image_id, *rest in rows:
            h += row_crc((f"{image_id}_{r}", *rest))
    return len(rows) * copies, h


# ------------------------------------------------------------ workloads

class _Tiles:
    """Shared shape of the tiles workloads: a header-only image table
    scanned from parquet, a boundary snapshot, and
    spatial_join.tile_assignments(images, boundaries, res=9,
    strategy="native") reduced to (count, checksum) in the same action."""

    copies: int
    base_images: int
    warm_runs: int  # untimed runs before timing; the first one is checked

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.seed = spark, seed
        self.images_path = os.path.join(work, "images")
        self.boundaries_path = os.path.join(work, "boundaries.parquet")
        self.rows = self.copies * self.base_images
        self.expected: tuple[int, int] | None = None
        self.flip_id: str | None = None

    def tiles(self, images=None, boundaries=None):
        if images is None:
            images = self.spark.read.parquet(self.images_path)
            boundaries = self.spark.read.parquet(self.boundaries_path)
        return spatial_join.tile_assignments(images, boundaries, res=9, strategy="native")

    def iterate(self):
        spatial_join.clear_cover_stats_cache()
        r = reduce_tiles(self.tiles())
        return r["n"], r["h"]

    def check(self, result) -> bool:
        return result == self.expected

    def warm_up(self) -> tuple[bool, bool]:
        spatial_join.clear_cover_stats_cache()
        r = reduce_tiles(self.tiles(), flip_id=self.flip_id)
        return self.check((r["n"], r["h"])), not self.check((r["n"], r["h_flipped"]))

    def spans(self, tracer) -> bool:
        """Spans around scan -> geotag parse -> auto_prefilter -> dim build
        -> pip join -> tile_assignments; True iff the last one's output
        passes the check."""
        images = self.spark.read.parquet(self.images_path)
        boundaries = self.spark.read.parquet(self.boundaries_path)
        pts = parse_geotags(images)
        with tracer.span("sources.scan"):
            noop(images.select("image_id", "bytes"))
        with tracer.span("binparse.geotag", children=("sources.scan",)):
            noop(pts)
        spatial_join.clear_cover_stats_cache()
        with tracer.span("spatial_join.auto_prefilter"):
            self.res, self.clip = spatial_join.auto_prefilter(boundaries)
        with tracer.span("spatial_join.dim_build") as rec:
            if self.clip:
                d = spatial_join.clipped_cell_dim(boundaries, self.res).agg(
                    F.count("*").alias("rows"),
                    F.sum(F.aggregate("polys", F.lit(0), lambda a, p: a + F.size(p["edges"]))),
                ).collect()[0]
                rec["rows"], rec["edges"] = int(d[0]), int(d[1])
            else:
                # the unclipped dim: the cover plus each polygon's struct once
                rec["rows"] = spatial_join.polygon_cover(boundaries, self.res).count()
                rec["edges"] = int(spatial_join.polygon_structs(boundaries).agg(
                    F.sum(F.size(F.col("p")["edges"]))).collect()[0][0])
        spatial_join.clear_cover_stats_cache()
        with tracer.span("spatial_join.pip_join", children=(
                "binparse.geotag", "spatial_join.auto_prefilter", "spatial_join.dim_build")) as rec:
            rec["pairs"] = spatial_join.broadcast_pip_join_native(
                pts, boundaries, cell_prefilter_res="auto").count()
        spatial_join.clear_cover_stats_cache()
        with tracer.span("spatial_join.tile_assignments",
                         children=("spatial_join.pip_join",)) as rec:
            r = reduce_tiles(self.tiles(images, boundaries))
        return self.check((r["n"], r["h"]))

    def counters(self, tracer) -> dict:
        """Layer counters measured outside every span: the candidate rows
        that reach the parity fold and the edges they carry (an upper bound
        on edge evaluations, since the fold skips a candidate whose bbox
        misses the point)."""
        images = self.spark.read.parquet(self.images_path)
        boundaries = self.spark.read.parquet(self.boundaries_path)
        pts = parse_geotags(images)
        located = pts.select(cells.hexlite_cell_col(F.col("lat"), F.col("lon"), self.res).alias("cell"))
        if self.clip:
            dim = spatial_join.clipped_cell_dim(boundaries, self.res)
            cand = located.join(F.broadcast(dim), "cell").select(
                F.explode("polys").alias("p")).select(F.size(F.col("p")["edges"]).alias("edges"))
        else:
            cover = spatial_join.polygon_cover(boundaries, self.res).select("cell", "boundary_id")
            sizes = spatial_join.polygon_structs(boundaries).select(
                F.col("p")["bid"].alias("boundary_id"), F.size(F.col("p")["edges"]).alias("edges"))
            cand = located.join(F.broadcast(cover), "cell").join(F.broadcast(sizes), "boundary_id")
        c = cand.agg(F.count("*"), F.sum("edges")).collect()[0]
        candidates, edges = int(c[0]), int(c[1] or 0)
        pairs = tracer.get("spatial_join.pip_join")["pairs"]
        # the local-file scan reports almost no "Bytes Read" to the event
        # log, so the scan's input is the size of the files it reads
        input_bytes = sum(os.path.getsize(os.path.join(self.images_path, f))
                          for f in os.listdir(self.images_path))
        return {
            "sources.scan.input_bytes": input_bytes,
            "spatial_join.auto_prefilter.res": self.res,
            "spatial_join.auto_prefilter.clip": int(self.clip),
            "spatial_join.pip_join.candidate_rows": candidates,
            "spatial_join.pip_join.edge_evals_per_point": edges / self.rows,
            "spatial_join.pip_join.hit_ratio": pairs / candidates if candidates else 0.0,
        }


def parse_geotags(images):
    """The native header parse exactly as tile_assignments' native path does it."""
    return images.select(
        "image_id",
        binparse.le_double_col(F.col("bytes"), 11).alias("lat"),
        binparse.le_double_col(F.col("bytes"), 19).alias("lon"),
    )


class TilesCity(_Tiles):
    """Flagship tiles over the 12 tagged city boundaries (donut, enclave,
    multipolygon and dateline cases); 35% of images fall in the megacity."""

    base_images = 2000
    copies = 256
    warm_runs = 4  # run times keep falling over the first four runs

    def properties(self) -> dict:
        return {"images": self.rows, "base_images": self.base_images, "boundaries": 12,
                "max_vertices": 24, "hot_cell_share": 0.35}

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        boundaries = synthetic.generate_boundaries(rng)
        images, truth = synthetic.generate_images(self.base_images, rng)
        boundaries.to_parquet(self.boundaries_path, index=False)
        write_header_copies(images["image_id"].to_numpy(), list(images["bytes"]),
                            self.copies, self.images_path)
        ref = synthetic.expected_tiles(truth, boundaries)
        wikipedia = dict(zip(boundaries["boundary_id"], boundaries["wikipedia"]))
        ref["wikipedia"] = [wikipedia[b] for b in ref["boundary_id"]]
        rows = list(ref[list(TILE_COLS)].itertuples(index=False, name=None))
        self.expected = reference_checksum(rows, self.copies)
        self.flip_id = f"{rows[0][0]}_0"


def coast_snapshot() -> pd.DataFrame:
    """generate_megacoast() plus the qid and wikipedia tags the flagship
    join carries."""
    coast = synthetic.generate_megacoast()
    coast["qid"] = ["Q140", "Q141"]
    coast["wikipedia"] = ["en:Continent", "en:Dateline Shelf"]
    return coast


def coast_points(coast: pd.DataFrame, n: int, rng) -> tuple[np.ndarray, np.ndarray]:
    """n points uniform over the outer-ring bounding boxes, half per
    boundary; the dateline ring's box is drawn in its unwrapped frame."""
    lat_parts, lon_parts = [], []
    for k, rings in enumerate(coast["rings"]):
        outer = rings[0]
        la = np.asarray(outer["ring_lat"])
        lo = np.asarray(outer["ring_lon"])
        if pip.ring_wraps(lo):
            lo = pip.unwrap_lon(lo)
        m = n // 2 if k == 0 else n - n // 2
        lat_parts.append(rng.uniform(la.min(), la.max(), m))
        lon_parts.append(rng.uniform(lo.min(), lo.max(), m))
    lat = np.concatenate(lat_parts)
    lon = np.concatenate(lon_parts)
    return lat, ((lon + 180.0) % 360.0) - 180.0


def encode_points(lat: np.ndarray, lon: np.ndarray, rng) -> list[bytes]:
    """Real encoded 8x8 image payloads geotagged at each point."""
    fmts = list(codecs.FMT_CODES)
    return [
        codecs.encode_image(rng.integers(0, 256, (8, 8, 3), dtype=np.uint8),
                            fmts[i % len(fmts)], float(a), float(o))
        for i, (a, o) in enumerate(zip(lat, lon))
    ]


def coast_sample_rows(coast: pd.DataFrame, ids, lat, lon) -> list[tuple]:
    """The expected output rows of copy 0 of the sampled points, from the
    NumPy even-odd kernel over each boundary's full rings."""
    rows = []
    cell = cells.hexlite_cell(lat, lon, 9)
    for bid, rings, qid, wp in zip(coast["boundary_id"], coast["rings"],
                                   coast["qid"], coast["wikipedia"]):
        rr = [(r["ring_lat"], r["ring_lon"]) for r in rings]
        # chunks of 4 points keep the points x edges temporaries small
        inside = np.concatenate([
            pip.points_in_rings(lat[i:i + 4], lon[i:i + 4], rr) for i in range(0, len(lat), 4)
        ])
        rows += [(f"{ids[i]}_0", int(cell[i]), int(bid), qid, wp) for i in np.flatnonzero(inside)]
    return sorted(rows)


class TilesCoast(_Tiles):
    """Flagship tiles over the ~600k-vertex megacoast snapshot, geotags
    spread over its bounding boxes: auto_prefilter picks the clipped dim,
    so the statistics pass, the Python clip prepass and the fold over
    boundary-cell edges dominate."""

    base_images = 2000
    copies = 64
    warm_runs = 3  # run times keep falling over the first three runs
    sample = 48  # base points checked exactly against geo.pip

    def properties(self) -> dict:
        return {"images": self.rows, "base_images": self.base_images, "boundaries": 2,
                "vertices": 600_000, "checked_sample": self.sample}

    def prepare(self) -> None:
        rng = np.random.default_rng(self.seed)
        coast = coast_snapshot()
        lat, lon = coast_points(coast, self.base_images, rng)
        ids = np.array([f"coast_{i:06d}" for i in range(self.base_images)])
        coast.to_parquet(self.boundaries_path, index=False)
        write_header_copies(ids, encode_points(lat, lon, rng), self.copies, self.images_path)
        pick = np.sort(rng.choice(self.base_images, self.sample, replace=False))
        self.sample_expected = coast_sample_rows(coast, ids[pick], lat[pick], lon[pick])
        self.sample_ids = tuple(f"{i}_0" for i in ids[pick])
        self.flip_id = self.sample_expected[0][0]

    def warm_up(self) -> tuple[bool, bool]:
        """The first run: every sampled point's rows match geo.pip exactly,
        and its (count, checksum) becomes what every later run repeats."""
        spatial_join.clear_cover_stats_cache()
        r = reduce_tiles(self.tiles(), flip_id=self.flip_id, sample_ids=self.sample_ids)
        self.expected = r["n"], r["h"]
        got = sorted(tuple(row) for row in r["sample"])
        return got == self.sample_expected, not self.check((r["n"], r["h_flipped"]))


WORKLOADS = {
    "tiles_city": TilesCity,
    "tiles_coast": TilesCoast,
}
