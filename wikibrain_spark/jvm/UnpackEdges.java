package wikibrain_spark.jvm;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;

/**
 * A packed edge list back to rows: call(ebin) reads ebin's five-double
 * records [y0, y1, x0, x1, w] (PipFold's edge layout) as
 * array&lt;struct&lt;y0, x0, y1, x1, w: boolean&gt;&gt;, w true iff the
 * record's w is nonzero. A trailing partial record is ignored; null gives
 * null.
 */
public final class UnpackEdges implements UDF1<byte[], Row[]> {
  private static final VarHandle LE =
      MethodHandles.byteArrayViewVarHandle(double[].class, ByteOrder.LITTLE_ENDIAN);
  private static final int RECORD = 5 * Double.BYTES;

  private static double at(byte[] b, int off) {
    return (double) LE.get(b, off);
  }

  @Override
  public Row[] call(byte[] ebin) {
    if (ebin == null) {
      return null;
    }
    Row[] out = new Row[ebin.length / RECORD];
    for (int i = 0, o = 0; i < out.length; i++, o += RECORD) {
      out[i] = RowFactory.create(at(ebin, o), at(ebin, o + 16), at(ebin, o + 8),
          at(ebin, o + 24), at(ebin, o + 32) != 0.0);
    }
    return out;
  }
}
