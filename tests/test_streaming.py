"""Structured Streaming path: streaming tile counts must equal the batch
aggregation over the same files."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from wikibrain_spark import codecs
from wikibrain_spark.geo import cells
from wikibrain_spark.streaming import pipeline


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    rng = np.random.default_rng(11)
    root = tmp_path_factory.mktemp("stream")
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    for fileno in range(3):
        rows = []
        for i in range(40):
            lat = float(rng.uniform(-60, 60))
            lon = float(rng.uniform(-170, 170))
            rows.append(
                {
                    "image_id": f"img_{fileno}_{i}",
                    "bytes": codecs.encode_image(img, "ppm", lat, lon),
                    "w": 8, "h": 8, "fmt": "ppm",
                    "caption": "c", "phash": 0,
                    "event_time_us": int(
                        (pd.Timestamp("2024-01-01") + pd.Timedelta(minutes=fileno * 7 + i % 5)).value // 1000
                    ),
                }
            )
        pd.DataFrame(rows).to_parquet(root / f"part{fileno}.parquet", index=False)
    return str(root)


def test_streaming_counts_match_batch(spark, stream_dir, tmp_path):
    counts = pipeline.streaming_tile_counts(spark, stream_dir, res=3, window_duration="10 minutes")
    pipeline.run_stream_once(counts, str(tmp_path / "ckpt"), "tile_counts_test")
    got = spark.sql("select * from tile_counts_test").toPandas()

    batch = spark.read.parquet(stream_dir)
    from wikibrain_spark.operators import geotag

    pts = geotag.extract_geotags(batch, resolutions=(3,), with_s2=False)
    joined = batch.select(
        "image_id", F.timestamp_micros("event_time_us").alias("event_time")
    ).join(pts, "image_id")
    want = (
        joined.groupBy(F.window("event_time", "10 minutes").alias("win"), F.col("cell_r3").alias("cell"))
        .agg(F.count("*").alias("n_images"))
        .select(F.col("win.start").alias("window_start"), "cell", "n_images")
        .toPandas()
    )
    key = ["window_start", "cell"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
    assert got["n_images"].sum() == 120


@pytest.fixture(scope="module")
def dedup_stream_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("dedup_stream")
    # fingerprints repeat within AND across files; survivor = min image_id
    for fileno, fps in enumerate([["a", "b", "a", "c"], ["b", "d", "a", "d"]]):
        pd.DataFrame({
            "image_id": [f"img_{fileno}_{i}" for i in range(len(fps))],
            "fp": fps,
        }).to_parquet(root / f"part{fileno}.parquet", index=False)
    return str(root)


def test_streaming_dedup_first_occurrence_only(spark, dedup_stream_dir, tmp_path):
    """applyInPandasWithState exact-dedup: one surviving row per fingerprint
    across all micro-batches (state persisted via checkpoint); within a batch
    the deterministic survivor is the minimum image_id."""
    stream = (
        spark.readStream.schema("image_id string, fp string")
        .option("maxFilesPerTrigger", 1)  # force 2 micro-batches -> cross-batch state
        .parquet(dedup_stream_dir)
    )
    deduped = pipeline.streaming_dedup(stream, key_col="fp", id_col="image_id")
    q = (
        deduped.writeStream.outputMode("append").format("memory")
        .queryName("dedup_test").option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {r["fp"]: r["image_id"] for r in spark.sql("select * from dedup_test").collect()}
    assert got == {
        "a": "img_0_0",   # first batch, min id among the two 'a's
        "b": "img_0_1",   # first batch beats second-batch 'b'
        "c": "img_0_3",
        "d": "img_1_1",   # min id among the two 'd's in batch 2
    }


@pytest.fixture(scope="module")
def rect_boundaries(spark):
    # two disjoint rectangles over the stream fixture's lat/lon range
    rows = [
        (1, [0.0, 0.0, 50.0, 50.0], [-100.0, 0.0, 0.0, -100.0]),
        (2, [-50.0, -50.0, -5.0, -5.0], [20.0, 150.0, 150.0, 20.0]),
    ]
    return spark.createDataFrame(
        rows, "boundary_id long, ring_lat array<double>, ring_lon array<double>"
    )


def test_streaming_pip_matches_batch(spark, stream_dir, rect_boundaries, tmp_path):
    """The UNCHANGED native PIP operator runs as a stream-static join:
    streaming windowed per-boundary counts == the batch plan on the same
    files and the same operator."""
    from wikibrain_spark.operators import geotag, spatial_join

    counts = pipeline.streaming_pip_boundary_counts(
        spark, stream_dir, rect_boundaries, window_duration="10 minutes"
    )
    pipeline.run_stream_once(counts, str(tmp_path / "ckpt_pip"), "pip_stream_test")
    got = spark.sql("select * from pip_stream_test").toPandas()

    batch = spark.read.parquet(stream_dir)
    pts = geotag.extract_geotags(batch, resolutions=(3,), with_s2=False).join(
        batch.select("image_id", F.timestamp_micros("event_time_us").alias("event_time")),
        "image_id",
    )
    want = (
        spatial_join.broadcast_pip_join_native(
            pts, rect_boundaries, cell_prefilter_res=2, extra_cols=("event_time",)
        )
        .groupBy(F.window("event_time", "10 minutes").alias("win"), "boundary_id")
        .agg(F.count("*").alias("n_images"))
        .select(F.col("win.start").alias("window_start"), "boundary_id", "n_images")
        .toPandas()
    )
    key = ["window_start", "boundary_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
    assert got["n_images"].sum() > 0, "fixture must actually hit the rectangles"


def _write_stream_file(path, specs):
    """specs: list of (image_id, lat, lon, minutes_after_midnight)."""
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    rows = [
        {
            "image_id": iid,
            "bytes": codecs.encode_image(img, "ppm", lat, lon),
            "w": 8, "h": 8, "fmt": "ppm", "caption": "c", "phash": 0,
            "event_time_us": int(
                (pd.Timestamp("2024-03-01") + pd.Timedelta(minutes=minutes)).value // 1000
            ),
        }
        for iid, lat, lon, minutes in specs
    ]
    pd.DataFrame(rows).to_parquet(path, index=False)


def test_append_mode_watermark_drops_too_late_rows(spark, tmp_path):
    """Real watermark semantics under outputMode=append, across three
    sequential runs sharing one checkpoint (the watermark is persisted and
    resumed):

      run 1: events at 00:00..00:04 and 01:00 -> watermark becomes 00:30
             (availableNow runs a finalization micro-batch, so the
             [00:00,00:10) window emits with the 3 on-time rows already).
      run 2: a too-late event at 00:05 (window [00:00,00:10) is already
             below the watermark -> DROPPED — were it kept, it would
             re-open that window's state and surface in run 3) plus an
             in-watermark late event at 00:45 (kept, pending). Nothing
             newly finalizes, so run 2 emits nothing.
      run 3: an event at 02:30 pushes the watermark past 00:50 and 01:10,
             emitting EXACTLY the 00:40 window (late-but-ok row counted)
             and the 01:00 window — no resurrected [00:00,00:10) row,
             which proves the too-late drop.
    """
    src = tmp_path / "wm_src"
    src.mkdir()
    ckpt = str(tmp_path / "wm_ckpt")
    out = str(tmp_path / "wm_out")

    def emitted(_run_name):
        # parquet sink: the memory sink refuses checkpoint recovery, and
        # resuming the persisted watermark across restarts is the point
        counts = pipeline.streaming_tile_counts(
            spark, str(src), res=3, window_duration="10 minutes", watermark="30 minutes"
        )
        q = (
            counts.writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {
            (str(r["window_start"].time()), r["n_images"])
            for r in spark.read.parquet(out).collect()
        }

    _write_stream_file(src / "a.parquet", [
        ("on_time_1", 10.0, 10.0, 0),
        ("on_time_2", 10.0, 10.0, 2),
        ("on_time_3", 10.0, 10.0, 4),
        ("advancer_1", 10.0, 10.0, 60),
    ])
    got1 = emitted("wm_run1")
    assert got1 == {("00:00:00", 3)}, (
        f"[00:00,00:10) finalizes with the 3 on-time rows; got {got1}"
    )

    _write_stream_file(src / "b.parquet", [
        ("too_late", 10.0, 10.0, 5),     # below watermark 00:30 -> dropped
        ("ok_late", 10.0, 10.0, 45),     # above watermark -> kept, pending
    ])
    got2 = emitted("wm_run2")
    assert got2 == {("00:00:00", 3)}, (
        f"nothing newly finalizes in run 2 (sink is cumulative); got {got2}"
    )

    _write_stream_file(src / "c.parquet", [("advancer_2", 10.0, 10.0, 150)])
    got3 = emitted("wm_run3")
    assert got3 == {("00:00:00", 3), ("00:40:00", 1), ("01:00:00", 1)}, (
        f"ok_late must be counted exactly once, too_late never; got {got3}"
    )


def test_stream_stream_interval_join_bounded_state(spark, tmp_path):
    """Stream-stream interval join with watermark-derived state eviction,
    across two runs of one checkpoint:

      run 1: img1@00:00 and img2@02:00; caption c1 for img1 @00:10 matches
             inside [img_time, +30min]. An advancer caption @02:00 pushes
             the caption watermark to 01:30, which is past
             img1_time + max_delay (00:30) -> img1's join state is evicted.
      run 2: c2 for img1 @00:20 would have matched but its partner state is
             gone AND it is below the caption watermark -> no output row;
             c3 for img2 @02:10 is in-window and above the watermark ->
             matches. Exactly {c1, c3} ever emit.
    """
    img_dir, cap_dir = tmp_path / "imgs", tmp_path / "caps"
    img_dir.mkdir(); cap_dir.mkdir()
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    base = pd.Timestamp("2024-03-01")

    def us(minutes):
        return int((base + pd.Timedelta(minutes=minutes)).value // 1000)

    img = np.zeros((8, 8, 3), dtype=np.uint8)
    pd.DataFrame([
        {"image_id": "img1", "bytes": codecs.encode_image(img, "ppm", 1.0, 1.0),
         "w": 8, "h": 8, "fmt": "ppm", "caption": "", "phash": 0, "event_time_us": us(0)},
        {"image_id": "img2", "bytes": codecs.encode_image(img, "ppm", 2.0, 2.0),
         "w": 8, "h": 8, "fmt": "ppm", "caption": "", "phash": 0, "event_time_us": us(120)},
    ]).to_parquet(img_dir / "a.parquet", index=False)

    def run_once():
        j = pipeline.streaming_caption_join(
            spark, str(img_dir), str(cap_dir),
            max_delay="30 minutes", watermark="30 minutes",
        )
        q = (
            j.writeStream.outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        return {
            (r["image_id"], r["matched_caption"])
            for r in spark.read.parquet(out).collect()
        }

    pd.DataFrame([
        {"image_id": "img1", "caption": "c1", "event_time_us": us(10)},
        {"image_id": "zzz", "caption": "advancer", "event_time_us": us(120)},
    ]).to_parquet(cap_dir / "a.parquet", index=False)
    got1 = run_once()
    assert got1 == {("img1", "c1")}, f"in-window caption must match; got {got1}"

    pd.DataFrame([
        {"image_id": "img1", "caption": "c2", "event_time_us": us(20)},   # evicted partner
        {"image_id": "img2", "caption": "c3", "event_time_us": us(130)},  # in window
    ]).to_parquet(cap_dir / "b.parquet", index=False)
    got2 = run_once()
    assert got2 == {("img1", "c1"), ("img2", "c3")}, (
        f"evicted-state caption must not resurrect a match; got {got2}"
    )


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Single-run equivalence: the streaming interval join over fully
    available inputs produces exactly the batch join with the same
    condition (no late data, so watermarks change nothing)."""
    img_dir, cap_dir = tmp_path / "imgs_b", tmp_path / "caps_b"
    img_dir.mkdir(); cap_dir.mkdir()
    base = pd.Timestamp("2024-04-01")
    us = lambda m: int((base + pd.Timedelta(minutes=m)).value // 1000)
    img = np.zeros((8, 8, 3), dtype=np.uint8)
    rng = np.random.default_rng(5)
    pd.DataFrame([
        {"image_id": f"i{k}", "bytes": codecs.encode_image(img, "ppm", 1.0, 1.0),
         "w": 8, "h": 8, "fmt": "ppm", "caption": "", "phash": 0,
         "event_time_us": us(int(rng.integers(0, 40)))}
        for k in range(25)
    ]).to_parquet(img_dir / "a.parquet", index=False)
    caps = pd.DataFrame([
        {"image_id": f"i{int(rng.integers(0, 30))}", "caption": f"c{k}",
         "event_time_us": us(int(rng.integers(0, 80)))}
        for k in range(60)
    ])
    caps.to_parquet(cap_dir / "a.parquet", index=False)

    j = pipeline.streaming_caption_join(spark, str(img_dir), str(cap_dir), max_delay="30 minutes")
    q = (
        j.writeStream.outputMode("append").format("parquet")
        .option("path", str(tmp_path / "out_b"))
        .option("checkpointLocation", str(tmp_path / "ck_b"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {(r["image_id"], r["matched_caption"])
           for r in spark.read.parquet(str(tmp_path / "out_b")).collect()}

    bi = spark.read.parquet(str(img_dir)).select(
        "image_id", F.timestamp_micros("event_time_us").alias("img_time"))
    bc = spark.read.parquet(str(cap_dir)).select(
        F.col("image_id").alias("cid"), "caption",
        F.timestamp_micros("event_time_us").alias("cap_time"))
    want = {(r["image_id"], r["caption"])
            for r in bi.join(
                bc,
                (F.col("image_id") == F.col("cid"))
                & (F.col("cap_time") >= F.col("img_time"))
                & (F.col("cap_time") <= F.col("img_time") + F.expr("INTERVAL 30 minutes")),
            ).collect()}
    assert got == want and len(want) > 5


def test_streaming_pip_complex_geometry_matches_batch(spark, stream_dir, tmp_path):
    """Stream-static PIP over MULTIPOLYGON geometry: a donut (outer +
    hole) and a dateline-crossing ring flow through the same stream-static
    native fold, and the windowed counts equal the batch plan — pinning
    that the rings schema and the wrap/hole handling are stream-legal.
    Runs the prefiltered dim (res 2, stream-static hash joins) and the
    one-row dim (res None, a stream-static nested-loop join)."""
    from wikibrain_spark.operators import geotag, spatial_join

    def rect(la0, la1, lo0, lo1, hole=False):
        return ([la0, la0, la1, la1], [lo0, lo1, lo1, lo0], hole)

    boundaries = spark.createDataFrame(
        [
            (7, [rect(0.0, 50.0, -100.0, 0.0), rect(10.0, 40.0, -80.0, -20.0, True)]),
            (8, [rect(-50.0, -5.0, 170.0, -170.0)]),
        ],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )
    batch = spark.read.parquet(stream_dir)
    pts = geotag.extract_geotags(batch, resolutions=(3,), with_s2=False).join(
        batch.select("image_id", F.timestamp_micros("event_time_us").alias("event_time")),
        "image_id",
    )
    key = ["window_start", "boundary_id"]
    for res in (2, None):
        counts = pipeline.streaming_pip_boundary_counts(
            spark, stream_dir, boundaries, window_duration="10 minutes",
            cell_prefilter_res=res,
        )
        table = f"pip_cplx_test_{res}"
        pipeline.run_stream_once(counts, str(tmp_path / f"ckpt_cplx_{res}"), table)
        got = spark.sql(f"select * from {table}").toPandas()
        want = (
            spatial_join.broadcast_pip_join_native(
                pts, boundaries, cell_prefilter_res=res, extra_cols=("event_time",)
            )
            .groupBy(F.window("event_time", "10 minutes").alias("win"), "boundary_id")
            .agg(F.count("*").alias("n_images"))
            .select(F.col("win.start").alias("window_start"), "boundary_id", "n_images")
            .toPandas()
        )
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
            check_dtype=False,
        )
        assert got["n_images"].sum() > 0


def test_streaming_pip_clipped_dim_matches_batch(spark, stream_dir, tmp_path):
    """Stream-static PIP with the CLIPPED prefiltered dim (round 6): the
    clipped dim is still a broadcast static dim — its clip prepass runs on
    the static side only — so the stream-static join stays stateless-legal
    and must equal the batch plan over high-vertex coastline geometry."""
    from wikibrain_spark.operators import geotag, spatial_join
    from wikibrain_spark.sources import synthetic

    coast = synthetic.generate_coastlines()
    boundaries = spark.createDataFrame(
        [
            (int(r["boundary_id"]),
             [(rr["ring_lat"], rr["ring_lon"], rr["is_hole"]) for rr in r["rings"]])
            for _, r in coast.iterrows()
        ],
        f"boundary_id long, rings {spatial_join.RINGS_TYPE}",
    )
    counts = pipeline.streaming_pip_boundary_counts(
        spark, stream_dir, boundaries, window_duration="10 minutes"
    )
    pipeline.run_stream_once(counts, str(tmp_path / "ckpt_clip"), "pip_clip_test")
    got = spark.sql("select * from pip_clip_test").toPandas()

    batch = spark.read.parquet(stream_dir)
    pts = geotag.extract_geotags(batch, resolutions=(3,), with_s2=False).join(
        batch.select("image_id", F.timestamp_micros("event_time_us").alias("event_time")),
        "image_id",
    )
    want = (
        spatial_join.broadcast_pip_join_native(
            pts, boundaries, cell_prefilter_res=2, extra_cols=("event_time",)
        )
        .groupBy(F.window("event_time", "10 minutes").alias("win"), "boundary_id")
        .agg(F.count("*").alias("n_images"))
        .select(F.col("win.start").alias("window_start"), "boundary_id", "n_images")
        .toPandas()
    )
    key = ["window_start", "boundary_id"]
    pd.testing.assert_frame_equal(
        got.sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
    # and the res-2 batch plan equals the res-0 batch plan's rows
    want2 = (
        spatial_join.broadcast_pip_join_native(
            pts, boundaries, cell_prefilter_res=0, extra_cols=("event_time",)
        )
        .groupBy(F.window("event_time", "10 minutes").alias("win"), "boundary_id")
        .agg(F.count("*").alias("n_images"))
        .select(F.col("win.start").alias("window_start"), "boundary_id", "n_images")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        want.sort_values(key).reset_index(drop=True),
        want2.sort_values(key).reset_index(drop=True),
        check_dtype=False,
    )
