package wikibrain_spark.jvm;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

import org.apache.spark.sql.api.java.UDF4;

/**
 * Even-odd point-in-polygon test over a polygon's packed geometry:
 * call(lat, lon, bbin, ebin) is true iff the point lies inside.
 *
 * <p>bbin packs the polygon's bounding boxes and ebin its edges, each as
 * consecutive little-endian doubles, five per record:
 * <ul>
 *   <li>box: [lat_min, lat_max, lon_min, lon_max, w]</li>
 *   <li>edge: [y0, y1, x0, x1, w]</li>
 * </ul>
 * w != 0 marks a record in the unwrapped (+360) frame of a
 * dateline-crossing ring, tested against lon360 (lon + 360 when lon &lt; 0)
 * instead of lon. A point outside every box is outside; otherwise it is
 * inside iff an odd number of edges cross the ray from it towards -lon.
 * The crossing test is the half-open rule of geo/pip.py points_in_ring,
 * with the same floating-point operation order:
 * (y0 &gt; lat) != (y1 &gt; lat), y1 != y0, and
 * q &lt; (x1 - x0) * (lat - y0) / (y1 - y0) + x0.
 *
 * <p>A null argument is outside: the fold answers false, so a row with a
 * null coordinate never matches.
 */
public final class PipFold implements UDF4<Double, Double, byte[], byte[], Boolean> {
  private static final VarHandle LE =
      MethodHandles.byteArrayViewVarHandle(double[].class, ByteOrder.LITTLE_ENDIAN);
  private static final int RECORD = 5 * Double.BYTES;

  private static double at(byte[] b, int off) {
    return (double) LE.get(b, off);
  }

  @Override
  public Boolean call(Double latArg, Double lonArg, byte[] bbin, byte[] ebin) {
    if (latArg == null || lonArg == null || bbin == null || ebin == null) {
      return false;
    }
    final double lat = latArg;
    final double lon = lonArg;
    final double lon360 = lon < 0 ? lon + 360.0 : lon;
    boolean inBox = false;
    for (int o = 0; o + RECORD <= bbin.length && !inBox; o += RECORD) {
      double q = at(bbin, o + 32) != 0.0 ? lon360 : lon;
      inBox = lat >= at(bbin, o) && lat <= at(bbin, o + 8)
          && q >= at(bbin, o + 16) && q <= at(bbin, o + 24);
    }
    if (!inBox) {
      return false;
    }
    boolean inside = false;
    for (int o = 0; o + RECORD <= ebin.length; o += RECORD) {
      double y0 = at(ebin, o);
      double y1 = at(ebin, o + 8);
      if ((y0 > lat) != (y1 > lat) && y1 != y0) {
        double x0 = at(ebin, o + 16);
        double x1 = at(ebin, o + 24);
        double q = at(ebin, o + 32) != 0.0 ? lon360 : lon;
        if (q < (x1 - x0) * (lat - y0) / (y1 - y0) + x0) {
          inside = !inside;
        }
      }
    }
    return inside;
  }
}
