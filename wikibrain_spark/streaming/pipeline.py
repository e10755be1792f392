"""Structured Streaming front-end for the geotag->tile pipeline.

The reference is batch-only (SURVEY.md §2.8); this is the incremental
variant a 100 TB ingest needs: new image files land in a directory
(or an object-store prefix / Kafka topic at scale), are geotagged with the
SAME compiled header parse as the batch path (binparse.geotag_cols), and
roll up into per-cell counts with event-time watermarking for late data.

The batch and streaming paths share all operator code — only the source
(read vs readStream) and sink differ, which is the Structured Streaming
contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikibrain_spark import jvm
from wikibrain_spark.functions import binparse
from wikibrain_spark.geo import cells

# event_time arrives as epoch microseconds (int64) — parquet timestamp
# physical encodings vary by writer; an explicit integer column is portable
IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, event_time_us long"
)


def streaming_geotags(spark: SparkSession, source_dir: str, res: int = 7) -> DataFrame:
    """readStream over an image-file directory -> geotagged stream
    (image_id, lat, lon, event_time_us, event_time, cell): the same two
    compiled header reads as geotag.extract_geotags, in the scan's stage."""
    stream = (
        spark.readStream.schema(IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    # the parse resolves in `spark`, which need not be the active session
    # that le_double_col registers on
    jvm.register(spark)
    tagged = stream.select("image_id", *binparse.geotag_cols("bytes"), "event_time_us")
    return tagged.withColumn("event_time", F.timestamp_micros("event_time_us")).withColumn(
        "cell", cells.hexlite_cell_col(F.col("lat"), F.col("lon"), res)
    )


def streaming_tile_counts(
    spark: SparkSession,
    source_dir: str,
    res: int = 7,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Windowed per-cell image counts with a watermark for late arrivals."""
    tagged = streaming_geotags(spark, source_dir, res)
    return (
        tagged.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_duration).alias("win"), "cell")
        .agg(F.count("*").alias("n_images"))
        .select(F.col("win.start").alias("window_start"), "cell", "n_images")
    )


def run_stream_once(
    df: DataFrame,
    checkpoint_dir: str,
    table_name: str = "tile_counts",
    output_mode: str | None = None,
):
    """Drain all available input (Trigger.AvailableNow) into a memory sink —
    the test/bench harness entrypoint; swap sink for parquet/Iceberg in prod.

    output_mode None keeps the historical default (complete). Pass "append"
    to exercise real watermark finalization: windows emit only once the
    watermark passes their end, and later runs over the same checkpoint
    resume the persisted watermark (late rows beyond it are dropped)."""
    q = (
        df.writeStream.outputMode(output_mode or ("complete" if table_name else "append"))
        .format("memory")
        .queryName(table_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_pip_boundary_counts(
    spark: SparkSession,
    source_dir: str,
    boundaries: DataFrame,
    window_duration: str = "10 minutes",
    watermark: str = "30 minutes",
    cell_prefilter_res: int | None = 2,
) -> DataFrame:
    """Streaming geotag → PIP → windowed per-boundary counts.

    The PIP stage is the UNCHANGED batch operator
    (spatial_join.broadcast_pip_join_native): a broadcast static dim joined
    onto the stream with zero shuffle of the points, which is exactly the
    stream-static join shape Structured Streaming supports statelessly.
    Event time rides through the operator via extra_cols; the windowed
    count then carries the watermark for late data. The cell-prefiltered
    dim is clipped, and STILL a broadcast static dim (its compiled clip
    runs on the static side only), so the stream-static legality argument
    holds — pinned equal to batch over high-vertex geometry in
    test_streaming. The whole stream graph is zero-Python.
    """
    from wikibrain_spark.operators import spatial_join

    tagged = streaming_geotags(spark, source_dir).select(
        "image_id", "lat", "lon", "event_time"
    )
    enriched = spatial_join.broadcast_pip_join_native(
        tagged, boundaries, cell_prefilter_res, extra_cols=("event_time",)
    )
    return (
        enriched.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_duration).alias("win"), "boundary_id")
        .agg(F.count("*").alias("n_images"))
        .select(F.col("win.start").alias("window_start"), "boundary_id", "n_images")
    )


def streaming_dedup(
    docs: DataFrame,
    key_col: str = "fp",
    id_col: str = "image_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Stateful streaming exact-dedup (applyInPandasWithState): the first row
    per fingerprint — across ALL micro-batches, state persisted in the
    checkpoint — passes; every later duplicate is dropped. The ingest-time
    companion of the batch dedup operators (operators/dedup.py): at 100 TB
    the fingerprint groupBy shards state across executors and each group's
    state is one int.

    Within a batch the deterministic survivor is the minimum id (the
    reference point for re-runs). Input must be a streaming DataFrame
    carrying (key_col, id_col); ``carry_cols`` names additional DOUBLE
    columns the survivor row carries through (e.g. lat/lon so the dedup
    stage can feed the spatial join without a re-join)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_cols = [key_col, id_col, *carry_cols]
    out_schema = f"{key_col} string, {id_col} string" + "".join(
        f", {c} double" for c in carry_cols
    )

    def first_only(key, pdfs, state: GroupState):
        if state.exists:
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        if rows.empty:
            return
        state.update((1,))
        yield rows.sort_values(id_col).iloc[:1][out_cols]

    return (
        docs.groupBy(key_col)
        .applyInPandasWithState(
            first_only, out_schema, "seen int", "append", GroupStateTimeout.NoTimeout
        )
    )


def streaming_caption_join(
    spark: SparkSession,
    image_dir: str,
    caption_dir: str,
    max_delay: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each image matches caption annotations
    that arrive on a SECOND stream within [img_time, img_time + max_delay].

    Both sides carry watermarks, and the time-range join condition lets
    Structured Streaming derive state-eviction bounds from them: an image
    row is dropped from join state once the caption watermark passes
    img_time + max_delay, so state is bounded by (rate x window), not by
    stream length — the property that makes this run forever at 100 TB.
    Unmatched rows are dropped (inner join); the test pins the bounded-
    state semantics across query restarts.
    """
    imgs = (
        spark.readStream.schema(IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(image_dir)
        .select("image_id", F.timestamp_micros("event_time_us").alias("img_time"))
        .withWatermark("img_time", watermark)
    )
    caps = (
        spark.readStream.schema("image_id string, caption string, event_time_us long")
        .option("maxFilesPerTrigger", 8)
        .parquet(caption_dir)
        .select(
            F.col("image_id").alias("cap_image_id"),
            F.col("caption").alias("matched_caption"),
            F.timestamp_micros("event_time_us").alias("cap_time"),
        )
        .withWatermark("cap_time", watermark)
    )
    return (
        imgs.join(
            caps,
            (F.col("image_id") == F.col("cap_image_id"))
            & (F.col("cap_time") >= F.col("img_time"))
            & (F.col("cap_time") <= F.col("img_time") + F.expr(f"INTERVAL {max_delay}")),
            "inner",
        )
        .select("image_id", "matched_caption", "img_time", "cap_time")
    )
