"""SparkSession factory with scale-appropriate defaults.

Designed for spark-submit --py-files on a multi-executor cluster; in this
sandbox it runs local[N]. Every knob here matters at 100 TB:
  - AQE on: runtime re-planning, skew-join splitting, partition coalescing.
  - Arrow on + bounded batch size: image batches must fit executor memory.
  - shuffle partitions parameterized: sized to the data scale, not hardcoded.

It also holds expr_once, the per-JVM memo of the pure Column expressions
the native tiles plan is built from.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark import SparkContext
from pyspark.sql import SparkSession

T = TypeVar("T")

# expr_once's memo, the py4j gateway its Columns live in, and its lock
_EXPRS: dict = {}
_EXPRS_GATEWAY = None
_EXPRS_LOCK = threading.RLock()  # a build may ask for another expression


def expr_once(key: Hashable, build: Callable[[], T]) -> T:
    """build() the first time `key` is asked for in this JVM, the memoized
    value after that.

    Every Column expression in PySpark is a JVM object that Python builds
    one py4j call at a time, and a higher-order-function expression such
    as polygon_cover's costs hundreds of calls. The native tiles plan's
    expressions depend on nothing but their parameters (res, column
    names), and a Column is not tied to a session or a DataFrame, so each
    is built once per JVM and reused by every DataFrame after that. `key`
    names the expression and every parameter it depends on, a module
    constant that build() reads included (pass it to build() too, so a
    patched value cannot hit the entry built under the old one). The
    memo is dropped when SparkContext._gateway changes (a new JVM).

    The rule for what goes in: only expressions WITHOUT a top-level alias
    (or a value holding only such expressions). Alias at the call site, so
    each DataFrame gets its own output attribute (exprId); two frames
    built from one memoized expression can then sit in one plan, as
    shuffle_pip_join's two polygon_cover frames do. Aliases nested inside
    an expression (struct field names, lambda results) are fine."""
    global _EXPRS_GATEWAY
    with _EXPRS_LOCK:
        if SparkContext._gateway is not _EXPRS_GATEWAY:
            _EXPRS.clear()
            _EXPRS_GATEWAY = SparkContext._gateway
        if key not in _EXPRS:
            _EXPRS[key] = build()
        return _EXPRS[key]


def fan_out(df, min_partitions: int | None = None):
    """Round-robin repartition a DataFrame up to the cluster's default
    parallelism IFF it arrives in fewer partitions (round 8, guide §2.6
    idle-capacity). CPU-heavy per-row kernels (regex scrubs, shingle/
    minhash signatures, doc stats) inherit the scan's partitioning; a
    small snapshot lands in one or two parquet row groups, so the whole
    kernel runs serially while the rest of the cluster idles — and AQE
    cannot help because there is no exchange to re-plan. The guard makes
    this a NO-OP at scale: a table with at least as many splits as cores
    passes through untouched, so no production shuffle is introduced.

    A streaming frame passes through unchanged: it has no RDD to count
    partitions on, and each micro-batch is planned by the stream."""
    if df.isStreaming:
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def get_spark(
    app_name: str = "wikibrain_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) so the same entrypoint serves tests, bench, and spark-submit
    (where master comes from the cluster manager and must NOT be set here).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master:
        builder = builder.master(master)

    cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        # local mode: ~1 partition per core keeps task overhead low at test
        # scale; on a real cluster pass an explicit value sized to the input
        # (rule of thumb: total shuffle bytes / 128 MiB).
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cores))

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # let AQE rewrite sort-merge joins to shuffled-hash AT RUNTIME when
        # every post-shuffle partition is small (guide §3.1) — the decision
        # is made from MEASURED partition sizes, so it is scale-adaptive:
        # the iterative closure/cluster anti-joins skip two sorts per round
        # at snapshot scale while a 100 TB join keeps sort-merge's graceful
        # spill (partitions above the threshold are left alone)
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # image rows are fat (binary pixels): cap Arrow batch row count so a
        # decoded batch (rows * w * h * 3 bytes) stays well under worker memory
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(arrow_batch_rows),
        # deterministic timestamps across engines (oracle comparisons)
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
