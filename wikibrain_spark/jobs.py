"""End-to-end driver jobs: the flagship pipeline with per-partition
resumability (north rule: partitioned state keyed by spatial cell,
resumable from per-partition checkpoints with lineage + metrics).

Partitioning: coarse latitude bands of the tile grid (a prefix of the
hexlite cell key). At test scale the banded filter re-reads a cached
DataFrame; at 100 TB the input arrives partitioned by cell prefix
(Iceberg/parquet partition keys), so each band's scan prunes to its own
files — same driver loop, pruned physical plan.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wikibrain_spark.geo import cells
from wikibrain_spark.operators import spatial_join
from wikibrain_spark.streaming.checkpoint import PartitionLedger, run_partitioned


def flagship_partitioned(
    spark: SparkSession,
    images: DataFrame,
    boundaries: DataFrame,
    out_root: str,
    n_bands: int = 8,
    res: int = 9,
    input_fingerprint: str = "",
) -> dict[str, dict]:
    """Run tile assignment band-by-band with ledger commits; re-runs skip
    committed bands. Returns this run's newly committed metrics."""
    tiles = spatial_join.tile_assignments(images, boundaries, res=res, strategy="native")
    # band = latitude prefix of the tile cell key (the 'keyed by H3 cell'
    # partitioning): decode lat_idx from the packed cell id
    n_lat, _ = cells.hexlite_dims(res)
    lat_idx = F.shiftright(f"cell_r{res}", 28).bitwiseAND(F.lit((1 << 28) - 1))
    tiles = tiles.withColumn(
        "band", F.least(F.floor(lat_idx * n_bands / n_lat), F.lit(n_bands - 1)).cast("int")
    ).persist()

    def make(band: str) -> DataFrame:
        return tiles.where(F.col("band") == int(band)).drop("band")

    try:
        return run_partitioned(
            spark, [str(b) for b in range(n_bands)], make, out_root,
            input_fingerprint=input_fingerprint,
        )
    finally:
        tiles.unpersist()


def streaming_flagship_ingest(
    spark: SparkSession,
    source_dir: str,
    boundaries: DataFrame,
    out_root: str,
    checkpoint_dir: str,
    res: int = 9,
    cell_prefilter_res: int | None = 2,
    max_files_per_trigger: int = 8,
    fail_before_commit: set[int] | None = None,
) -> dict[str, dict]:
    """ONE resumable streaming ingest job (round-3 verdict #7): image
    stream -> native geotag parse -> cross-batch stateful exact dedup ->
    native PIP -> tile cells -> per-micro-batch ledger commit.

    Exactly-once output across kills and restarts, by composing two
    mechanisms:
      * Structured Streaming's checkpoint (source offsets + the dedup
        operator's state store) makes every micro-batch REPLAYABLE: a
        batch whose offsets were not committed re-runs with identical
        input and identical dedup state on restart;
      * the foreachBatch ledger commit is IDEMPOTENT per batch id: a
        replayed batch whose ledger row exists is skipped outright; one
        that died between the parquet write and the ledger append is
        rewritten (mode=overwrite) and then committed.
    The ledger is the source of truth (a partition directory without a
    ledger row is staging garbage), exactly as in the batch job above.

    The stream graph is zero-Python except the dedup state operator: the
    geotag parse is the compiled header parse (binparse.geotag_cols), and
    the PIP is the native broadcast fold (the clipped dim at
    ``cell_prefilter_res``; None selects the one-row dim), whose dim rows
    carry the boundaries' qid and wikipedia tags when the frame has them —
    both the UNCHANGED batch operators.

    ``fail_before_commit``: test-only fault injection — batch ids that
    raise AFTER writing their parquet but BEFORE the ledger commit,
    simulating a mid-commit kill.

    Returns the full committed-ledger map after the run drains
    (Trigger.AvailableNow).
    """
    from wikibrain_spark import jvm
    from wikibrain_spark.functions import binparse
    from wikibrain_spark.streaming.pipeline import IMAGE_SCHEMA, streaming_dedup

    # the parse resolves in `spark`, which need not be the active session
    # that le_double_col registers on
    jvm.register(spark)
    stream = (
        spark.readStream.schema(IMAGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )
    pts = stream.select(
        "image_id",
        F.md5("bytes").alias("fp"),
        *binparse.geotag_cols("bytes"),
    )
    unique = streaming_dedup(pts, key_col="fp", id_col="image_id", carry_cols=("lat", "lon"))

    ledger = PartitionLedger(out_root)
    # the tags ride in the PIP's dim rows; with tags, boundary_id leads the
    # written columns (the committed partitions' schema)
    tags = ("qid", "wikipedia") if "qid" in boundaries.columns else ()
    cell = cells.hexlite_cell_col("lat", "lon", res).alias(f"cell_r{res}")
    cols = ["boundary_id", "image_id", cell, *tags] if tags else ["image_id", cell, "boundary_id"]

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        key = f"b{batch_id}"
        if key in ledger.committed():
            return  # replayed after a post-commit crash: nothing to do
        t0 = time.time()
        out = spatial_join.broadcast_pip_join_native(
            batch_df, boundaries, cell_prefilter_res, extra_cols=tags
        ).select(*cols)
        part_dir = os.path.join(out_root, f"partition={key}")
        out.write.mode("overwrite").parquet(part_dir)
        # row_count MUST come from the WRITTEN files, not a second action on
        # the stateful frame: the first-only dedup operator has already
        # consumed its state by the time a recount would re-run, so a cache
        # eviction between write and count would record 0 against a complete
        # parquet partition. Reading the footer-counted output back is the
        # only count that cannot diverge from what was committed.
        n = batch_df.sparkSession.read.parquet(part_dir).count()
        if fail_before_commit and batch_id in fail_before_commit:
            raise RuntimeError(f"injected failure before ledger commit of batch {batch_id}")
        ledger.commit(key, {
            "row_count": n,
            "elapsed_sec": round(time.time() - t0, 3),
            "input_fingerprint": f"stream_batch={batch_id}",
        })

    q = (
        unique.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return ledger.committed()


def read_flagship_output(spark: SparkSession, out_root: str) -> DataFrame:
    """Union of all committed partitions (ledger is the source of truth)."""
    ledger = PartitionLedger(out_root)
    parts = sorted(ledger.committed())
    if not parts:
        raise ValueError(f"no committed partitions under {out_root}")
    # ONE multi-path scan, not a per-partition union loop: a Python-side
    # unionByName chain builds an O(n_partitions)-deep driver plan that
    # blows up analysis time at thousands of committed partitions, while a
    # single FileScan over the path list stays one plan node at any count.
    return spark.read.parquet(*(f"{out_root}/partition={p}" for p in parts))
