"""Binary header parsing: little-endian float64 from a binary column, in
the JVM.

The geotag hot path reads two f64 (lat, lon) at fixed offsets of the
payload header (codecs.HEADER_FMT). Each read is one call of the compiled
Java UDF jvm/LeDouble.java, which loads the 8 bytes as one little-endian
double: bit-exact for every value, NaN, infinities, subnormals and -0.0
included. A null payload, or one too short to hold the 8 bytes, reads as
null, so a truncated header never parses to a coordinate (and a null
coordinate matches no polygon in the native PIP join).
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from wikibrain_spark import codecs, jvm


def le_double_col(data: Column, offset: int) -> Column:
    """Little-endian float64 at 1-based byte offset of a binary column;
    null when the value is null or shorter than offset + 7 bytes.

    Registers the compiled UDF in the active session, so build the
    returned column into a DataFrame of that session."""
    jvm.register(SparkSession.active())
    return F.call_function(jvm.LE_DOUBLE, data, F.lit(offset))


def geotag_cols(bytes_col: Column) -> tuple[Column, Column]:
    """(lat, lon) read from a column of WBIM payloads (codecs header)."""
    return (
        le_double_col(bytes_col, codecs.LAT_OFFSET + 1).alias("lat"),
        le_double_col(bytes_col, codecs.LON_OFFSET + 1).alias("lon"),
    )
