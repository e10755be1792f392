package wikibrain_spark.jvm;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

import org.apache.spark.sql.api.java.UDF1;

import scala.collection.Iterator;
import scala.collection.Seq;

/**
 * array&lt;double&gt; to binary: the elements as consecutive little-endian
 * doubles (8 bytes each), the layout PipFold reads. A null array packs to
 * null and a null element to NaN.
 */
public final class PackDoubles implements UDF1<Seq<Object>, byte[]> {
  private static final VarHandle LE =
      MethodHandles.byteArrayViewVarHandle(double[].class, ByteOrder.LITTLE_ENDIAN);

  @Override
  public byte[] call(Seq<Object> xs) {
    if (xs == null) {
      return null;
    }
    byte[] out = new byte[xs.length() * Double.BYTES];
    Iterator<Object> it = xs.iterator();
    for (int o = 0; it.hasNext(); o += Double.BYTES) {
      Object x = it.next();
      LE.set(out, o, x == null ? Double.NaN : ((Number) x).doubleValue());
    }
    return out;
  }
}
