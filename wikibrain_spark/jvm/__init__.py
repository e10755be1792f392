"""Compiled JVM kernels: the Java UDFs whose sources sit in this package.

The .java files compile on first use with the JDK's `javac --release 17`
against pyspark's own jars, into one jar cached in `_jars/` beside the
sources. The jar's name carries source_key(), a hash of the sources, so
an edited source builds a new jar and an unchanged one reuses it. The
build writes to a temporary file and renames it into place, so
concurrent processes never see a partial jar. Delete `_jars/` to force a
rebuild.

register(spark) makes the UDFs callable by name in a session
(F.call_function(PIP_FOLD, ...)):

  wb_pip_fold       (lat, lon, bbin, ebin) -> boolean       PipFold.java
  wb_pack_doubles   array<double> -> binary                 PackDoubles.java
  wb_le_double      (bytes, offset) -> double               LeDouble.java
  wb_clip_cells     (rings, res, step)                      ClipCells.java
                    -> array<struct<cell, bbin, ebin>>
  wb_unpack_edges   ebin -> array<struct<y0, x0, y1, x1, w>> UnpackEdges.java

Every .java class here is one of these UDFs (a tier-1 test checks that the
jar carries no class the list does not register).

Each SparkContext loads the jar once with ADD JAR, and each session
registers the UDFs once: register remembers the sessions it has served,
keyed on the jar and the UDF list, so a repeated call costs no py4j
round trip. No session setting is needed: a session built with a plain
SparkSession.builder works the same as one from session.get_spark.

There is no fallback: without javac, or when the classes do not load,
register raises.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import weakref
import zipfile

from pyspark.errors import AnalysisException
from pyspark.sql.types import BinaryType, BooleanType, DoubleType

SOURCE_DIR = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(SOURCE_DIR, "_jars")

PIP_FOLD = "wb_pip_fold"  # (lat, lon, bbin, ebin) -> boolean, see PipFold.java
PACK_DOUBLES = "wb_pack_doubles"  # array<double> -> little-endian binary
LE_DOUBLE = "wb_le_double"  # (binary, 1-based offset) -> little-endian double
CLIP_CELLS = "wb_clip_cells"  # (rings, res, step) -> one boundary's clipped cells
UNPACK_EDGES = "wb_unpack_edges"  # packed edge records -> edge structs
_UDFS = (
    (PIP_FOLD, "wikibrain_spark.jvm.PipFold", BooleanType()),
    (PACK_DOUBLES, "wikibrain_spark.jvm.PackDoubles", BinaryType()),
    (LE_DOUBLE, "wikibrain_spark.jvm.LeDouble", DoubleType()),
    (CLIP_CELLS, "wikibrain_spark.jvm.ClipCells",
     "array<struct<cell: bigint, bbin: binary, ebin: binary>>"),
    (UNPACK_EDGES, "wikibrain_spark.jvm.UnpackEdges",
     "array<struct<y0: double, x0: double, y1: double, x1: double, w: boolean>>"),
)
# session -> (jar path, _UDFS) it registered; weak, so a dropped session
# leaves the memo
_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _sources() -> list[str]:
    return sorted(
        os.path.join(SOURCE_DIR, n) for n in os.listdir(SOURCE_DIR) if n.endswith(".java")
    )


def source_key() -> str:
    """Content key of the Java sources (names and bytes)."""
    h = hashlib.sha256()
    for path in _sources():
        h.update(os.path.basename(path).encode() + b"\0")
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def jar_path() -> str:
    """The jar built from the current sources, compiled first if the
    cache does not hold it yet."""
    path = os.path.join(CACHE_DIR, f"wikibrain-jvm-{source_key()}.jar")
    if not os.path.exists(path):
        _build(path)
    return path


def _build(path: str) -> None:
    javac = shutil.which("javac")
    if javac is None:
        raise RuntimeError(
            "javac not found on PATH: the compiled JVM kernels need a JDK 17+ "
            f"javac to build {os.path.basename(path)} from {SOURCE_DIR}/*.java"
        )
    import pyspark

    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    os.makedirs(CACHE_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=CACHE_DIR) as tmp:
        classes = os.path.join(tmp, "classes")
        done = subprocess.run(
            [javac, "--release", "17", "-cp", classpath, "-d", classes, *_sources()],
            capture_output=True, text=True,
        )
        if done.returncode != 0:
            raise RuntimeError(f"javac failed to build {os.path.basename(path)}:\n{done.stderr}")
        staged = os.path.join(tmp, "staged.jar")
        with zipfile.ZipFile(staged, "w") as jar:
            for root, _, names in os.walk(classes):
                for n in sorted(names):
                    full = os.path.join(root, n)
                    jar.write(full, os.path.relpath(full, classes))
        os.replace(staged, path)


def register(spark) -> None:
    """Register the compiled UDFs in `spark`'s session.

    The jar is added once per SparkContext (ADD JAR ships it to the
    executors and adds it to the context's jar class loader). Registration
    loads the classes through the calling thread's context class loader,
    which is set to that jar class loader first, so it works from any
    thread, including a foreachBatch callback.

    A session registers once per jar and UDF list: a later call with the
    same ones returns at once."""
    path = jar_path()
    done = (path, _UDFS)
    if _REGISTERED.get(spark) == done:
        return
    if os.path.basename(path) not in spark.sparkContext._jsc.sc().listJars().mkString("\n"):
        spark.sql(f"ADD JAR '{path}'")
    loader = spark._jsparkSession.sharedState().jarClassLoader()
    spark._jvm.java.lang.Thread.currentThread().setContextClassLoader(loader)
    for name, cls, rtype in _UDFS:
        try:
            spark.udf.registerJavaFunction(name, cls, rtype)
        except AnalysisException as e:
            raise RuntimeError(f"cannot load {cls} from {path}: {e}") from e
    _REGISTERED[spark] = done
