#!/usr/bin/env python3
"""One scaling-bench measurement at a fixed parallelism level.

Usage: python scripts/scaling_worker.py <cpus> [n_images] [sf_dir]
Prints one JSON line with per-job seconds and rows/sec. Run in a fresh
process per level so each JVM sizes itself to its core count.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.errors import StreamingQueryException

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    cpus = int(sys.argv[1])
    n_images = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    from pyspark.sql import functions as F

    from wikibrain_spark.operators import geotag, spatial_join
    from wikibrain_spark.session import get_spark
    from wikibrain_spark.sources import synthetic

    paths = synthetic.materialize(os.path.join(REPO, "data", f"bench_{n_images}"), n_images)
    # larger Arrow batches than the session default: the header-only hot
    # path ships 26-byte rows, so per-batch pandas overhead dominates at
    # 2048 rows/batch; 16k rows/batch is still only ~40 MB for full images
    spark = get_spark(
        "scaling", master=f"local[{cpus}]", shuffle_partitions=cpus * 2,
        arrow_batch_rows=16384,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # repartition the input so every core has work regardless of file count
    images = spark.read.parquet(paths["images"]).repartition(cpus * 4).cache()
    n = images.count()  # materialize cache before timing
    boundaries = spark.read.parquet(paths["boundaries"])

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    # warm-up: JVM codegen AND one full-width pass through every Python
    # worker (spawning 32 workers + importing numpy/pandas costs seconds of
    # wall clock and is not steady-state throughput — on a real cluster the
    # executors are long-lived)
    noop(spark.range(1_000_000).select(F.sum("id")))
    noop(geotag.extract_geotags(images, with_s2=False))

    def timed(job, repeats: int = 2):
        best = float("inf")
        for _ in range(repeats):
            t0 = time.time()
            noop(job())
            best = min(best, time.time() - t0)
        return round(best, 3)

    # replicate the flagship input 256x JVM-side (crossJoin with a tiny range:
    # one cache scan, 256x the Python header-parse + PIP work) so fixed
    # per-stage overheads stop dominating the measurement
    rep = spark.range(256).withColumnRenamed("id", "rep")
    from wikibrain_spark import codecs as _codecs

    # slice headers BEFORE replication: replicating full pixel payloads 64x
    # through the join costs ~50 GB of JVM memory traffic for data the
    # flagship never reads
    images_rep = (
        images.select("image_id", F.substring("bytes", 1, _codecs.HEADER_SIZE).alias("bytes"))
        .crossJoin(rep)
        .select(F.concat("image_id", F.lit("_"), "rep").alias("image_id"), "bytes")
    )
    n4 = n * 256

    res = {"cpus": cpus, "n_images": n4}

    res["flagship_tiles_sec"] = timed(
        lambda: spatial_join.tile_assignments(images_rep, boundaries, res=9, strategy="fused")
    )
    res["flagship_rows_per_sec"] = round(n4 / res["flagship_tiles_sec"], 1)

    # zero-Python flagship: compiled header parse + compiled-fold PIP — no
    # Arrow channel anywhere. TWO configurations measured since round 5:
    # the ONE-ROW dim (per-point fold over every polygon edge — pure
    # compute, the gate carrier continuous with rounds 2-4) and the
    # cell-PREFILTERED dim (the round-5 production default: per-point work
    # is O(cell candidates), but the plan adds a broadcast hash probe whose
    # local-mode shared-socket copy term the pip3000 copy-probe row
    # quantifies — read it against that probe, not the compute rows).
    res["flagship_native_sec"] = timed(
        lambda: spatial_join.tile_assignments(
            images_rep, boundaries, res=9, strategy="native",
            native_prefilter_res=None,
        )
    )
    res["flagship_native_rows_per_sec"] = round(n4 / res["flagship_native_sec"], 1)
    res["flagship_native_prefilter_sec"] = timed(
        lambda: spatial_join.tile_assignments(images_rep, boundaries, res=9, strategy="native")
    )
    res["flagship_native_prefilter_rows_per_sec"] = round(
        n4 / res["flagship_native_prefilter_sec"], 1
    )

    # channel-ceiling probe: an identity mapInPandas over the same row count.
    # In local mode the JVM<->Python Arrow channel tops out near ~4M rows/s
    # TOTAL regardless of core count (all executor threads share one JVM);
    # this probe quantifies that artifact so the flagship number can be
    # read against it. On a real multi-executor cluster each executor has
    # its own channel, so this term scales with executors.
    def _ident(batches):
        for b in batches:
            yield b

    probe = images_rep.select("image_id")
    res["channel_probe_sec"] = timed(
        lambda: probe.mapInPandas(_ident, "image_id string")
    )
    res["channel_probe_rows_per_sec"] = round(n4 / res["channel_probe_sec"], 1)

    res["decode_stats_sec"] = timed(lambda: geotag.decode_stats(images))
    res["decode_rows_per_sec"] = round(n / res["decode_stats_sec"], 1)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(cpus * 4).cache()
    n_li = li.count()
    # 256x JVM-side replication (~150M rows at sf0.1): enough hash-agg work
    # that the measurement is compute-bound, not scheduling-bound
    li_rep = li.crossJoin(spark.range(256).withColumnRenamed("id", "rep_id"))
    res["lineitem_rows"] = n_li * 256
    res["lineitem_agg_sec"] = timed(
        lambda: li_rep.groupBy("l_returnflag", "l_linestatus", F.year("l_shipdate").alias("y"), "rep_id")
        .agg(F.sum("l_quantity").alias("sq"), F.avg("l_extendedprice").alias("ap"),
             F.count("*").alias("n"))
    )

    # --- native PIP at 10x polygons (3000 x 24 edges; round-2 verdict #8):
    # the one-row-dim fold is O(all polygons) per point, so 3000 polygons is
    # the regime where the cell-prefiltered dim (per-cell polygon subsets,
    # broadcast hash equi-join on the point's cell) must win outright
    import numpy as np

    rngp = np.random.default_rng(123)
    n_poly = 3000
    cla = rngp.uniform(-80, 80, n_poly)
    clo = rngp.uniform(-175, 175, n_poly)
    rad = rngp.uniform(0.3, 1.5, n_poly)
    ang = np.linspace(0, 2 * np.pi, 24, endpoint=False)
    polys = spark.createDataFrame(
        [(int(i), (cla[i] + rad[i] * np.sin(ang)).tolist(),
          (clo[i] + rad[i] * np.cos(ang)).tolist()) for i in range(n_poly)],
        "boundary_id long, ring_lat array<double>, ring_lon array<double>",
    )

    from wikibrain_spark.operators import spatial_join as _sj

    def _pts(n_pts: int):
        # cached + counted before timing, like the image/lineitem inputs:
        # the measurement must cover the PIP kernel, not point synthesis
        # (an on-the-fly range->repartition shuffle is bandwidth-bound and
        # was dominating the prefiltered timing)
        df = spark.range(n_pts).repartition(cpus * 4).select(
            F.concat(F.lit("p"), "id").alias("image_id"),
            (F.pmod(F.col("id") * 37, 160000) / 1000.0 - 80).alias("lat"),
            (F.pmod(F.col("id") * 91, 350000) / 1000.0 - 175).alias("lon"),
        ).cache()
        df.count()
        return df

    n_unpref, n_pref = 100_000, 20_000_000
    res["pip3000_points_unpref"] = n_unpref
    res["pip3000_points_pref"] = n_pref
    pts_unpref = _pts(n_unpref)
    pts_pref = _pts(n_pref)
    res["pip3000_native_sec"] = timed(
        lambda: _sj.broadcast_pip_join_native(pts_unpref, polys)
    )
    # same workload, prefiltered: the absolute-time comparison
    res["pip3000_prefilter_same_sec"] = timed(
        lambda: _sj.broadcast_pip_join_native(pts_unpref, polys, cell_prefilter_res=2)
    )
    # 200x the points, prefiltered: the scaling-efficiency row — at 2M points
    # the job finished in <2s and measured scheduling overhead, not compute
    res["pip3000_prefilter_sec"] = timed(
        lambda: _sj.broadcast_pip_join_native(pts_pref, polys, cell_prefilter_res=2)
    )
    res["pip3000_native_rows_per_sec"] = round(n_unpref / res["pip3000_native_sec"], 1)
    res["pip3000_prefilter_rows_per_sec"] = round(n_pref / res["pip3000_prefilter_sec"], 1)

    # copy probe: the identical one-hop broadcast equi-join (cell ->
    # clipped (cell, polygon) rows) with the PIP math removed (reads only
    # size(p.edges)). In local mode every thread probes ONE shared
    # hashed relation and copies the candidate struct through ONE socket's
    # memory system, so this term scales sub-linearly at any core count —
    # the broadcast-join analogue of the Arrow-channel probe.
    # prefiltered-minus-probe isolates the kernel compute the 0.8 gate is
    # about; on a real cluster each executor holds its own copy of the
    # broadcast and its own memory bus.
    from wikibrain_spark.geo import cells as _cells

    probe = (
        pts_pref.withColumn("cell", _cells.hexlite_cell_col(F.col("lat"), F.col("lon"), 2))
        .join(F.broadcast(_sj.clipped_cell_rows(polys, 2)), "cell")
        .select(F.size(F.col("p")["edges"]).alias("k"))
    )
    res["pip3000_copy_probe_sec"] = timed(lambda: probe)
    res["pip3000_kernel_sec"] = round(
        max(res["pip3000_prefilter_sec"] - res["pip3000_copy_probe_sec"], 0.001), 3
    )

    # distance-band range join (round-2 perf-weak, rebuilt round 3 as a
    # compiled zero-shuffle narrow pipeline): 20M probe points against 100
    # ring-exploded places at km=1000 — compute-bound (cell encode +
    # haversine verify per candidate), so it carries its own efficiency row
    from wikibrain_spark.operators import knn as _knn

    # 500 places -> ~15 exact haversine verifies per probe point, which
    # keeps the job compute-bound: at 100 places the per-point work was so
    # light that the row measured the local-mode shared-socket broadcast
    # probe (the copy-probe artifact), not the operator kernel
    places = spark.createDataFrame(
        [(int(i), float((i * 131) % 160 - 80), float((i * 173) % 350 - 175))
         for i in range(500)],
        "right_id long, lat double, lon double",
    )
    wd_left = pts_pref.select(F.col("image_id").alias("left_id"), "lat", "lon")
    res["wd_range_points"] = n_pref
    res["wd_range_sec"] = timed(
        lambda: _knn.within_distance_join(wd_left, places, km=1000.0)
    )
    res["wd_range_rows_per_sec"] = round(n_pref / res["wd_range_sec"], 1)

    # big-big salted SHUFFLE range join (round-3 'what's missing #2'): 20M
    # probe points x 2M ring-side points at km=10 — neither side
    # broadcast; the (cell, salt) shuffled-hash join is the cost being
    # measured, so this row carries the scaling story for the
    # fact x fact radius query. (A 200k ring side was fixed-term-bound:
    # exploding it took ~2s at ANY core count, so the row measured task
    # launch + the one-socket shuffle, not the operator.)
    wd_right_big = _pts(2_000_000).select(
        F.col("image_id").alias("right_id"), "lat", "lon"
    )
    res["wd_shuffle_right_points"] = 2_000_000
    res["wd_shuffle_sec"] = timed(
        lambda: _knn.within_distance_join_shuffle(
            wd_left, wd_right_big, km=10.0, hot_cell_threshold=100_000
        )
    )
    res["wd_shuffle_rows_per_sec"] = round(n_pref / res["wd_shuffle_sec"], 1)

    # shuffle-transport probe: the identical hash exchange of the 20M probe
    # side (cell encode + repartition on the join key) with the join and
    # all pair compute removed. In local mode every shuffle write+read
    # crosses ONE socket's memory system and page cache, so this term is
    # bandwidth-bound at any core count — the shuffle analogue of the
    # broadcast copy probe; wd_shuffle minus transport isolates the join
    # kernel. On a real cluster each executor shuffles over its own disks
    # and NICs.
    wd_res = _knn._range_res(10.0, None)
    transport = wd_left.select(
        "left_id",
        _cells.hexlite_cell_col(F.col("lat"), F.col("lon"), wd_res).alias("cell"),
    ).repartition(cpus * 4, "cell")
    res["wd_shuffle_transport_probe_sec"] = timed(lambda: transport)
    res["wd_shuffle_kernel_sec"] = round(
        max(res["wd_shuffle_sec"] - res["wd_shuffle_transport_probe_sec"], 0.001), 3
    )

    # HIGH-VERTEX clipped shuffle PIP (round-5 verdict #1+#2): 20M points
    # against 32 coastline polygons of 4000 vertices each (128k edges)
    # through the clip-to-cell shuffle strategy. The clip prepass
    # distributes per polygon (32 tasks >= cores at both levels), each
    # (cell, polygon) dim row carries only its LOCAL edge subset.
    from wikibrain_spark.sources.synthetic import _coast_ring

    rngc = np.random.default_rng(77)
    coast_rows = []
    c_lats: list[float] = []
    c_lons: list[float] = []
    for i in range(32):
        c_la = float(rngc.uniform(-60, 60))
        c_lo = float(rngc.uniform(-160, 160))
        c_lats.append(c_la)
        c_lons.append(c_lo)
        cl_la, cl_lo = _coast_ring(c_la, c_lo, 6.0, 4000, rngc)
        coast_rows.append((100 + i, [(cl_la.tolist(), cl_lo.tolist(), False)]))
    coast_df = spark.createDataFrame(
        coast_rows, f"boundary_id long, rings {_sj.RINGS_TYPE}"
    )

    def _pts_near(n_pts: int):
        # points concentrated in +/-8 deg boxes around the coastline
        # centers: the row must measure the join and its parity folds.
        # With globally-uniform points the covered-cells semi-filter drops
        # >90% before the shuffle and the whole join finishes in ~4 s of
        # prepass jobs at EITHER core count — a fixed-cost-bound row reads
        # as a scaling failure regardless of the operator (round-4 lesson:
        # size rows so compute dominates; re-learned here round 6).
        la_arr = F.array(*[F.lit(v) for v in c_lats])
        lo_arr = F.array(*[F.lit(v) for v in c_lons])
        k = (F.pmod(F.col("id"), F.lit(32)) + 1).cast("int")
        df = spark.range(n_pts).repartition(cpus * 4).select(
            F.concat(F.lit("c"), "id").alias("image_id"),
            (F.element_at(la_arr, k) + F.pmod(F.col("id") * 37, 16000) / 1000.0 - 8.0).alias("lat"),
            (F.element_at(lo_arr, k) + F.pmod(F.col("id") * 91, 16000) / 1000.0 - 8.0).alias("lon"),
        ).cache()
        df.count()
        return df

    res["coast_polys"] = 32
    res["coast_edges"] = 32 * 4000
    pts_coast = _pts_near(n_pref)
    res["coast_clip_points"] = n_pref
    res["coast_clip_sec"] = timed(
        lambda: _sj.shuffle_pip_join(pts_coast, coast_df)
    )
    res["coast_clip_rows_per_sec"] = round(n_pref / res["coast_clip_sec"], 1)

    # the same 20M points through the CLIPPED-DIM native broadcast fold
    # (round 6): O(vertices + cells) broadcast, per-point fold over LOCAL
    # edges, zero Python on the points side — the broadcast-path answer
    # to high-vertex boundary sets.
    res["coast_native_clip_sec"] = timed(
        lambda: _sj.broadcast_pip_join_native(
            pts_coast, coast_df, cell_prefilter_res=3
        )
    )
    res["coast_native_clip_rows_per_sec"] = round(
        n_pref / res["coast_native_clip_sec"], 1
    )

    # 600k-VERTEX MEGACOAST (round 7): one boundary snapshot an order of
    # magnitude past the coastline row (400k-vertex continent + 100k-vertex
    # hole + 100k-vertex dateline shelf) through both clipped strategies.
    # What scales here is the FOLD (20M concentrated points x local
    # clipped edges); the clip prepass itself is a once-per-snapshot term
    # that parallelizes only per polygon (2 rows), so it is measured
    # SEPARATELY (mega_prepass_probe_sec: the clipped-dim build alone) —
    # at production scale the prepass amortizes over every query against
    # the snapshot, while the fold is the per-query cost the cluster size
    # must actually buy down.
    from wikibrain_spark.sources.synthetic import generate_megacoast

    mega_pq = os.path.join(REPO, "data", "mega_scaling_boundaries.parquet")
    if not os.path.exists(mega_pq):
        generate_megacoast().to_parquet(mega_pq, index=False)
    mega_df = spark.read.parquet(mega_pq)
    res["mega_edges"] = 600_000

    n_mega = n_pref  # the 20M-point convention: per-point fold work is
    # ~10x the coastline row's (boundary cells carry ~190 local edges at
    # the vertex-heavy auto res), so at 20M the kernel term dominates the
    # by-construction-fixed transport at both levels
    mega_pts = (
        spark.range(n_mega)
        .repartition(cpus * 4)
        .select(
            F.concat(F.lit("g"), "id").alias("image_id"),
            F.when(
                F.pmod(F.col("id"), F.lit(3)) < 2,
                F.lit(20.0) + F.pmod(F.col("id") * 37, 60000) / 1000.0 - 30.0,
            ).otherwise(
                F.lit(-10.0) + F.pmod(F.col("id") * 37, 24000) / 1000.0 - 12.0
            ).alias("lat"),
            F.when(
                F.pmod(F.col("id"), F.lit(3)) < 2,
                F.lit(-40.0) + F.pmod(F.col("id") * 91, 60000) / 1000.0 - 30.0,
            ).otherwise(
                # shelf box spans the dateline: wrap [166, 190) to [-180, 180)
                F.when(
                    F.lit(178.0) + F.pmod(F.col("id") * 91, 24000) / 1000.0 - 12.0 >= 180.0,
                    F.lit(178.0) + F.pmod(F.col("id") * 91, 24000) / 1000.0 - 372.0,
                ).otherwise(
                    F.lit(178.0) + F.pmod(F.col("id") * 91, 24000) / 1000.0 - 12.0
                )
            ).alias("lon"),
        )
        .cache()
    )
    mega_pts.count()
    res["mega_points"] = n_mega
    mega_res_auto = _sj._auto_cover_res(mega_df)
    res["mega_prepass_probe_sec"] = timed(
        lambda: _sj.clipped_cell_dim(mega_df, mega_res_auto)
    )
    res["mega_clip_sec"] = timed(lambda: _sj.shuffle_pip_join(mega_pts, mega_df))
    res["mega_clip_rows_per_sec"] = round(n_mega / res["mega_clip_sec"], 1)

    res["mega_native_clip_sec"] = timed(
        lambda: _sj.broadcast_pip_join_native(
            mega_pts, mega_df, cell_prefilter_res="auto"
        )
    )
    res["mega_native_clip_rows_per_sec"] = round(
        n_mega / res["mega_native_clip_sec"], 1
    )
    mega_pts.unpersist()

    # streaming flagship ingest at volume (round-4 verdict #4): the
    # exactly-once foreachBatch ingest (stateful dedup -> native PIP ->
    # partitioned parquet + ledger commit) over the full bench image
    # corpus, WITH an injected mid-stream crash + resume in every run —
    # the scaling row measures the recovery path, not just the happy path.
    # min-of-2 with fresh checkpoint/out dirs per run (a warm checkpoint
    # would measure the no-op skip, not ingest throughput).
    import shutil
    import tempfile

    from wikibrain_spark import jobs as _jobs
    from wikibrain_spark.streaming.checkpoint import PartitionLedger as _Ledger

    # 64 source files / 32 per trigger (round-5 verdict #4): the old
    # 16-file 4-per-trigger layout capped every batch's SCAN at 4 tasks —
    # local[16] could never use its cores on the read stage — and paid ~6
    # trigger overheads (offset commit, state snapshot, ledger, read-back
    # count are all per-trigger and core-count-invariant). Two 32-file
    # batches keep stage parallelism >= cores at both levels and halve the
    # fixed-cost count, so the row measures ingest compute, not triggers.
    stream_src = os.path.join(REPO, "data", f"stream_src64_{n_images}")
    if not os.path.exists(os.path.join(stream_src, "_SUCCESS")):
        spark.read.parquet(paths["images"]).repartition(64).write.mode(
            "overwrite"
        ).parquet(stream_src)

    ingest_best = float("inf")
    exactly_once_ok = True
    for _run in range(2):
        work = tempfile.mkdtemp(prefix="ingest_scaling_")
        out_root = os.path.join(work, "out")
        ckpt = os.path.join(work, "ckpt")
        t0 = time.time()
        try:
            _jobs.streaming_flagship_ingest(
                spark, stream_src, boundaries, out_root, ckpt,
                max_files_per_trigger=32, fail_before_commit={1},
            )
            raise AssertionError("injected crash did not fire")
        except StreamingQueryException as e:
            # ONLY the injected mid-commit crash may pass: a real failure in
            # the crash path (OOM, schema error) must surface, not silently
            # degrade into a fresh full run that still looks exactly-once
            assert "injected failure" in str(e), f"unexpected streaming failure: {e}"
        _jobs.streaming_flagship_ingest(
            spark, stream_src, boundaries, out_root, ckpt, max_files_per_trigger=32
        )
        ingest_best = min(ingest_best, time.time() - t0)
        out_df = _jobs.read_flagship_output(spark, out_root)
        n_out = out_df.count()
        n_pairs = out_df.select("image_id", "boundary_id").distinct().count()
        ledger_total = sum(
            m["row_count"] for m in _Ledger(out_root).committed().values()
        )
        exactly_once_ok &= bool(n_out == n_pairs == ledger_total and n_out > 0)
        shutil.rmtree(work, ignore_errors=True)
    res["ingest_images"] = n
    res["ingest_sec"] = round(ingest_best, 3)
    res["ingest_rows_per_sec"] = round(n / ingest_best, 1)
    res["ingest_exactly_once_ok"] = exactly_once_ok

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
