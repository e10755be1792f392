package wikibrain_spark.jvm;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

import org.apache.spark.sql.api.java.UDF2;

/**
 * The little-endian float64 at a 1-based byte offset of a binary value:
 * call(bytes, offset) reads bytes[offset - 1 .. offset + 6] in one load,
 * bit-exact for every double (NaN, infinities, subnormals and -0.0
 * included).
 *
 * <p>A null value or offset, an offset below 1, or a value shorter than
 * offset + 7 bytes gives null, so a truncated payload never parses to a
 * coordinate.
 */
public final class LeDouble implements UDF2<byte[], Integer, Double> {
  private static final VarHandle LE =
      MethodHandles.byteArrayViewVarHandle(double[].class, ByteOrder.LITTLE_ENDIAN);

  @Override
  public Double call(byte[] bytes, Integer offset) {
    if (bytes == null || offset == null || offset < 1 || bytes.length - offset < 7) {
      return null;
    }
    return (double) LE.get(bytes, offset - 1);
  }
}
