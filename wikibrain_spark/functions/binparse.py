"""Binary header parsing: little-endian float64 from a binary column, in
the JVM.

The geotag hot path reads two f64 (lat, lon) at fixed offsets of the
payload header (codecs.HEADER_FMT). Each read is one call of the compiled
Java UDF jvm/LeDouble.java, which loads the 8 bytes as one little-endian
double: bit-exact for every value, NaN, infinities, subnormals and -0.0
included. A null payload, or one too short to hold the 8 bytes, reads as
null, so a truncated header never parses to a coordinate (and a null
coordinate matches no polygon in the native PIP join).

geotag_cols over a column NAME builds its two reads once per JVM
(session.expr_once) and aliases them per call.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from wikibrain_spark import codecs, jvm
from wikibrain_spark.session import expr_once


def le_double_col(data: Column, offset: int) -> Column:
    """Little-endian float64 at 1-based byte offset of a binary column;
    null when the value is null or shorter than offset + 7 bytes.

    Registers the compiled UDF in the active session, so build the
    returned column into a DataFrame of that session."""
    jvm.register(SparkSession.active())
    return F.call_function(jvm.LE_DOUBLE, data, F.lit(offset))


def geotag_cols(bytes_col: str | Column) -> tuple[Column, Column]:
    """(lat, lon) read from a column of WBIM payloads (codecs header).

    Registers the compiled UDF in the active session, like le_double_col.
    Given the column's name, the two reads are built once per JVM."""
    if isinstance(bytes_col, str):
        jvm.register(SparkSession.active())  # a memo hit never reaches le_double_col
        lat, lon = expr_once(("geotag_cols", bytes_col), lambda: _geotag_reads(F.col(bytes_col)))
    else:
        lat, lon = _geotag_reads(bytes_col)
    return lat.alias("lat"), lon.alias("lon")


def _geotag_reads(data: Column) -> tuple[Column, Column]:
    return (
        le_double_col(data, codecs.LAT_OFFSET + 1),
        le_double_col(data, codecs.LON_OFFSET + 1),
    )
