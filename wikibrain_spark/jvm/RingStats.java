package wikibrain_spark.jvm;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;

import scala.collection.Iterator;
import scala.collection.Seq;

/**
 * One polygon's cover statistics: call(rings) gives the struct
 * (sum_ab, sum_absum, n_outer, max_ab, max_sum, edges) the resolution
 * planner (spatial_join._cover_stats) totals on the driver. Over the
 * outer rings (is_hole false), a is the ring's latitude span and b its
 * longitude span in its own frame; sum_ab and sum_absum add a*b and a+b
 * from 0.0 in ring order, n_outer counts the outer rings, max_ab and
 * max_sum are the largest a*b and a+b (null without an outer ring). edges
 * counts the vertices of every ring, holes included.
 *
 * <p>The frame is pip.ring_wraps': a ring whose raw longitude span exceeds
 * 180 is measured in the unwrapped frame (negative longitudes +360) when
 * that frame's span is at most 180. Minima and maxima follow Spark's
 * array_min/array_max ordering (NaN largest, null elements skipped), so
 * the terms are the ones the Column expressions this replaces computed,
 * bit for bit.
 *
 * <p>A null rings gives null. A null ring adds nothing; an outer ring with
 * an empty or all-null ring_lat or ring_lon counts in n_outer and adds no
 * span terms; a null is_hole counts as neither outer nor hole.
 */
public final class RingStats implements UDF1<Seq<Row>, Row> {
  private static final double WRAP_SPAN_DEG = 180.0;

  @Override
  public Row call(Seq<Row> rings) {
    if (rings == null) {
      return null;
    }
    double sumAb = 0.0;
    double sumAbsum = 0.0;
    long nOuter = 0;
    Double maxAb = null;
    Double maxSum = null;
    long edges = 0;
    Iterator<Row> it = rings.iterator();
    while (it.hasNext()) {
      Row r = it.next();
      if (r == null) {
        continue;
      }
      Seq<Object> la = r.getAs("ring_lat");
      Seq<Object> lo = r.getAs("ring_lon");
      edges += la == null ? 0 : la.length();
      if (!Boolean.FALSE.equals(r.getAs("is_hole"))) {
        continue;
      }
      nOuter++;
      double[] lat = span(la, false);
      double[] raw = span(lo, false);
      if (lat == null || raw == null) {
        continue;
      }
      double a = lat[1] - lat[0];
      double b = raw[1] - raw[0];
      if (b > WRAP_SPAN_DEG) {
        double[] u = span(lo, true);
        if (u[1] - u[0] <= WRAP_SPAN_DEG) {
          b = u[1] - u[0];
        }
      }
      double ab = a * b;
      double absum = a + b;
      sumAb += ab;
      sumAbsum += absum;
      maxAb = maxAb == null || greater(ab, maxAb) ? ab : maxAb;
      maxSum = maxSum == null || greater(absum, maxSum) ? absum : maxSum;
    }
    return RowFactory.create(sumAb, sumAbsum, nOuter, maxAb, maxSum, edges);
  }

  /** Spark's double ordering: NaN above every number, -0.0 equal to 0.0. */
  private static boolean greater(double x, double y) {
    return x > y || (Double.isNaN(x) && !Double.isNaN(y));
  }

  /**
   * {min, max} of the non-null values (each +360 when negative if
   * unwrapped), or null when there are none.
   */
  private static double[] span(Seq<Object> xs, boolean unwrapped) {
    if (xs == null) {
      return null;
    }
    double[] out = null;
    Iterator<Object> it = xs.iterator();
    while (it.hasNext()) {
      Object o = it.next();
      if (o == null) {
        continue;
      }
      double x = ((Number) o).doubleValue();
      if (unwrapped && x < 0) {
        x += 360.0;
      }
      if (out == null) {
        out = new double[] {x, x};
      } else {
        out[0] = greater(out[0], x) ? x : out[0];
        out[1] = greater(x, out[1]) ? x : out[1];
      }
    }
    return out;
  }
}
