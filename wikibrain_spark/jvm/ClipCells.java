package wikibrain_spark.jvm;

import java.nio.ByteBuffer;
import java.nio.ByteOrder;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF3;

import scala.collection.Iterator;
import scala.collection.Seq;

/**
 * One boundary's geometry clipped to each grid cell it covers:
 * call(rings, res, step) gives one (cell, bbin, ebin) struct per covered
 * cell, in first-seen cell order. rings is the boundary's
 * array&lt;struct&lt;ring_lat, ring_lon, is_hole&gt;&gt; (roles do not
 * matter: parity composes per ring), res the hexlite resolution and step
 * its cell edge in degrees (cells.hexlite_step(res), passed in so every
 * window bound is computed from the very double the probe-side cell
 * formula uses).
 *
 * <p>This is geo/clip.py clipped_cell_cover followed by the per-cell
 * packing of spatial_join.clipped_cell_rows, with the same
 * floating-point operation order, so the bytes are identical:
 * <ul>
 *   <li>each ring is clipped to every margined latitude strip it touches,
 *   then each strip piece to every column window (the raw window, and for
 *   a dateline ring its +360 image) it touches, by Sutherland-Hodgman;</li>
 *   <li>ebin: every piece's closed edge list as five little-endian doubles
 *   [y0, y1, x0, x1, w] per edge, pieces in ring, then window order;</li>
 *   <li>bbin: one bbox [lat_min, lat_max, lon_min, lon_max, w] per probe
 *   frame over the cell's pieces, frames in first-seen order.</li>
 * </ul>
 * w = 1.0 marks a piece in the unwrapped (+360) frame, whose probes shift
 * +360 when negative (PipFold's rule).
 *
 * <p>Work is O(vertices + edge x band touches + cells): every edge is
 * bucketed into the bands (strips, then windows) its closed range meets,
 * and each band clips only its reduced ring, the endpoints of the edges
 * in its bucket in ring order. Each piece starts at the vertex the full
 * ring's clip would start it at (clip.py clip_bands has the argument).
 *
 * <p>A null argument gives null (no rows after explode); a null or empty
 * ring, or one whose lat and lon arrays differ in length, is skipped.
 */
public final class ClipCells implements UDF3<Seq<Row>, Integer, Double, Row[]> {
  /** Window margin as a fraction of the cell step: geo/clip.py MARGIN_FRAC. */
  static final double MARGIN_FRAC = 1e-6;
  private static final long HEXLITE_MODE = 1L;

  @Override
  public Row[] call(Seq<Row> rings, Integer res, Double step) {
    if (rings == null || res == null || step == null) {
      return null;
    }
    Cover cover = new Cover(res, step);
    Iterator<Row> it = rings.iterator();
    while (it.hasNext()) {
      Row r = it.next();
      if (r == null) {
        continue;
      }
      double[] la = doubles(r.getAs("ring_lat"));
      double[] lo = doubles(r.getAs("ring_lon"));
      if (la != null && lo != null && la.length > 0 && la.length == lo.length) {
        cover.ring(la, lo);
      }
    }
    return cover.rows();
  }

  private static double[] doubles(Seq<Object> xs) {
    if (xs == null) {
      return null;
    }
    double[] out = new double[xs.length()];
    Iterator<Object> it = xs.iterator();
    for (int i = 0; it.hasNext(); i++) {
      Object x = it.next();
      out[i] = x == null ? Double.NaN : ((Number) x).doubleValue();
    }
    return out;
  }

  /** The cells of one boundary, filled ring by ring. */
  private static final class Cover {
    final double step;
    final double m;
    final long nLat;
    final long nLon;
    final long hdr;
    final Map<Long, Cell> byId = new HashMap<>();
    final List<Cell> order = new ArrayList<>();

    Cover(int res, double step) {
      this.step = step;
      this.m = step * MARGIN_FRAC;
      this.nLat = (long) Math.ceil(180.0 / step);
      this.nLon = (long) Math.ceil(360.0 / step);
      this.hdr = (HEXLITE_MODE << 60) | ((long) res << 56);
    }

    Cell cell(long id) {
      Cell c = byId.get(id);
      if (c == null) {
        c = new Cell(id);
        byId.put(id, c);
        order.add(c);
      }
      return c;
    }

    Row[] rows() {
      Row[] out = new Row[order.size()];
      for (int i = 0; i < out.length; i++) {
        Cell c = order.get(i);
        out[i] = RowFactory.create(c.id, pack(c.box, c.nf * 5), pack(c.e, c.ne));
      }
      return out;
    }

    void ring(double[] la, double[] lo) {
      final int n = la.length;
      // pip.ring_wraps: wide raw, narrow in the unwrapped frame
      double[] u = new double[n];
      for (int i = 0; i < n; i++) {
        u[i] = lo[i] < 0.0 ? lo[i] + 360.0 : lo[i];
      }
      final boolean wraps = max(lo) - min(lo) > 180.0 && max(u) - min(u) <= 180.0;
      final double[] xs = wraps ? u : lo;
      final long i0 = Math.max(0L, (long) Math.floor((min(la) + 90.0) / step));
      long i1 = Math.min(nLat - 1, (long) Math.floor((max(la) + 90.0) / step));
      if (i0 > i1) {
        return;
      }
      // candidate raw columns through the probe-side cell formula, the two
      // branches of clip.py: A (probes keep their lon) below +180, B (probes
      // arrive at x - 360) at or above it
      double uLo = min(xs);
      double uHi = max(xs);
      long aLo = 0;
      long aHi = -1;
      long bLo = 0;
      long bHi = -1;
      if (uLo < 180.0) {
        aLo = Math.max(0L, (long) Math.floor((uLo + 180.0) / step));
        aHi = Math.min(nLon - 1,
            (long) Math.floor((Math.min(uHi, Math.nextDown(180.0)) + 180.0) / step));
      }
      if (uHi >= 180.0) {
        bLo = Math.max(0L, (long) Math.floor((Math.max(uLo, 180.0) - 180.0) / step));
        bHi = Math.min(nLon - 1, (long) Math.floor((uHi - 180.0) / step));
      }
      int cap = (int) (Math.max(0L, aHi - aLo + 1) + Math.max(0L, bHi - bLo + 1));
      if (cap == 0) {
        return;
      }
      // windows in emission order: column ascending, branch A before B
      final long[] wc = new long[cap];
      final boolean[] wflag = new boolean[cap];
      double[] wlo = new double[cap];
      double[] whi = new double[cap];
      int nw = 0;
      long c = aLo <= aHi ? aLo : bLo;
      if (aLo <= aHi && bLo <= bHi) {
        c = Math.min(aLo, bLo);
      }
      long end = Math.max(aLo <= aHi ? aHi : -1, bLo <= bHi ? bHi : -1);
      while (c <= end) {
        boolean inA = aLo <= c && c <= aHi;
        boolean inB = bLo <= c && c <= bHi;
        if (!inA && !inB) {
          c = c < aLo ? aLo : bLo;
          continue;
        }
        double xLo = (double) c * step - 180.0;
        if (inA) {
          wc[nw] = c;
          wflag[nw] = wraps;
          wlo[nw] = xLo - m;
          whi[nw++] = xLo + step + m;
        }
        if (inB) {
          wc[nw] = c;
          wflag[nw] = true;
          wlo[nw] = xLo + 360.0 - m;
          whi[nw++] = xLo + 360.0 + step + m;
        }
        c++;
      }
      // bands must ascend by lower bound: a stable sort, as np.argsort(kind="stable")
      Integer[] boxed = new Integer[nw];
      for (int k = 0; k < nw; k++) {
        boxed[k] = k;
      }
      final double[] lows = wlo;
      Arrays.sort(boxed, (p, q) -> lows[p] < lows[q] ? -1 : lows[p] > lows[q] ? 1 : 0);
      final int[] ord = new int[nw];
      final double[] sortedLo = new double[nw];
      final double[] sortedHi = new double[nw];
      for (int k = 0; k < nw; k++) {
        ord[k] = boxed[k];
        sortedLo[k] = wlo[ord[k]];
        sortedHi[k] = whi[ord[k]];
      }

      int nb = (int) (i1 - i0 + 1);
      double[] sLo = new double[nb];
      double[] sHi = new double[nb];
      for (int k = 0; k < nb; k++) {
        double y = (double) (i0 + k) * step - 90.0;
        sLo[k] = y - m;
        sHi[k] = y + step + m;
      }
      final List<Piece> pieces = new ArrayList<>();
      clipBands(la, xs, sLo, sHi, (band, sy, sx) -> {
        long row = hdr | ((i0 + band) << 28);
        pieces.clear();
        clipBands(sx, sy, sortedLo, sortedHi, (k, px, py) -> pieces.add(new Piece(ord[k], px, py)));
        pieces.sort((p, q) -> Integer.compare(p.w, q.w));
        for (Piece p : pieces) {
          cell(row | wc[p.w]).add(p.ys, p.xs, wflag[p.w]);
        }
      });
    }
  }

  /** A column piece: its window's emission index and its vertices. */
  private static final class Piece {
    final int w;
    final double[] xs;
    final double[] ys;

    Piece(int w, double[] xs, double[] ys) {
      this.w = w;
      this.xs = xs;
      this.ys = ys;
    }
  }

  /** One cell's packed edges and per-frame boxes. */
  private static final class Cell {
    final long id;
    double[] e = new double[64];
    int ne;
    final double[] box = new double[10];
    final boolean[] frame = new boolean[2];
    int nf;

    Cell(long id) {
      this.id = id;
    }

    void add(double[] ys, double[] xs, boolean w) {
      int len = ys.length;
      if (ne + 5 * len > e.length) {
        e = Arrays.copyOf(e, Math.max(2 * e.length, ne + 5 * len));
      }
      double wv = w ? 1.0 : 0.0;
      double yMin = ys[0];
      double yMax = ys[0];
      double xMin = xs[0];
      double xMax = xs[0];
      for (int j = 0; j < len; j++) {
        int jn = j + 1 == len ? 0 : j + 1;
        e[ne++] = ys[j];
        e[ne++] = ys[jn];
        e[ne++] = xs[j];
        e[ne++] = xs[jn];
        e[ne++] = wv;
        yMin = ys[j] < yMin ? ys[j] : yMin;
        yMax = ys[j] > yMax ? ys[j] : yMax;
        xMin = xs[j] < xMin ? xs[j] : xMin;
        xMax = xs[j] > xMax ? xs[j] : xMax;
      }
      int f = 0;
      while (f < nf && frame[f] != w) {
        f++;
      }
      int o = 5 * f;
      if (f == nf) {
        frame[nf++] = w;
        box[o] = yMin;
        box[o + 1] = yMax;
        box[o + 2] = xMin;
        box[o + 3] = xMax;
        box[o + 4] = wv;
      } else {
        box[o] = yMin < box[o] ? yMin : box[o];
        box[o + 1] = yMax > box[o + 1] ? yMax : box[o + 1];
        box[o + 2] = xMin < box[o + 2] ? xMin : box[o + 2];
        box[o + 3] = xMax > box[o + 3] ? xMax : box[o + 3];
      }
    }
  }

  /** Receives one band's clipped piece: clipped-axis and other-axis coordinates. */
  interface Sink {
    void piece(int band, double[] a, double[] b);
  }

  /**
   * Sutherland-Hodgman of one closed ring (a = coordinates on the clipped
   * axis, b = the other axis) against every band lo[k] &lt;= a &lt;= hi[k]
   * (lo ascending), emitting each band's non-empty piece in band order:
   * clip.py clip_bands.
   */
  static void clipBands(double[] a, double[] b, double[] lo, double[] hi, Sink sink) {
    final int n = a.length;
    final int nb = lo.length;
    if (n == 0 || nb == 0) {
      return;
    }
    double w = hi[0] - lo[0];
    for (int k = 1; k < nb; k++) {
      w = Math.max(w, hi[k] - lo[k]);
    }
    // (band, edge) touches, edge-major: every edge whose closed range
    // meets a band's closed range (clip.py _touching)
    int[] pb = new int[n + 16];
    int[] pe = new int[n + 16];
    int np = 0;
    int kMin = nb;
    int kMax = -1;
    for (int e = 0; e < n; e++) {
      double x0 = a[e];
      double x1 = a[e + 1 == n ? 0 : e + 1];
      double eLo = Math.min(x0, x1);
      double eHi = Math.max(x0, x1);
      for (int k = lowerBound(lo, eLo - 2.0 * w); k < nb && lo[k] <= eHi; k++) {
        if (eHi >= lo[k] && eLo <= hi[k]) {
          if (np == pb.length) {
            pb = Arrays.copyOf(pb, 2 * np);
            pe = Arrays.copyOf(pe, 2 * np);
          }
          pb[np] = k;
          pe[np++] = e;
          kMin = Math.min(kMin, k);
          kMax = Math.max(kMax, k);
        }
      }
    }
    if (np == 0) {
      return;
    }
    // bucket by band over the touched range only; edges stay ascending
    int span = kMax - kMin + 1;
    int[] start = new int[span + 1];
    for (int i = 0; i < np; i++) {
      start[pb[i] - kMin + 1]++;
    }
    for (int k = 0; k < span; k++) {
      start[k + 1] += start[k];
    }
    int[] fill = Arrays.copyOf(start, span);
    int[] edges = new int[np];
    for (int i = 0; i < np; i++) {
      edges[fill[pb[i] - kMin]++] = pe[i];
    }
    for (int kk = 0; kk < span; kk++) {
      int beg = start[kk];
      int end = start[kk + 1];
      if (beg == end) {
        continue;
      }
      // the reduced ring: endpoints of the band's edges, ascending, unique
      int[] idx = new int[2 * (end - beg) + 1];
      int len = 0;
      if (edges[end - 1] == n - 1 && edges[beg] != 0) {
        idx[len++] = 0;
      }
      for (int i = beg; i < end; i++) {
        int e = edges[i];
        if (len == 0 || idx[len - 1] != e) {
          idx[len++] = e;
        }
        if (e + 1 < n) {
          idx[len++] = e + 1;
        }
      }
      // a reduced edge's emissions are keyed by the full-ring edge that
      // ends at its end vertex, so rotating to the minimum key restores
      // the full clip's start vertex
      Poly s = new Poly(new double[len], new double[len], new long[len], len);
      for (int p = 0; p < len; p++) {
        s.a[p] = a[idx[p]];
        s.b[p] = b[idx[p]];
        int q = idx[p + 1 == len ? 0 : p + 1];
        s.keys[p] = q == 0 ? n - 1 : q - 1;
      }
      int k = kk + kMin;
      s = clipPlane(s, lo[k], true);
      if (s != null) {
        s = clipPlane(s, hi[k], false);
      }
      if (s != null) {
        int r = 0;
        for (int p = 1; p < s.len; p++) {
          if (s.keys[p] < s.keys[r]) {
            r = p;
          }
        }
        double[] ra = new double[s.len];
        double[] rb = new double[s.len];
        for (int p = 0; p < s.len; p++) {
          int src = r + p < s.len ? r + p : r + p - s.len;
          ra[p] = s.a[src];
          rb[p] = s.b[src];
        }
        sink.piece(k, ra, rb);
      }
    }
  }

  /** A closed vertex sequence and the sort key of each vertex's outgoing edge. */
  private static final class Poly {
    final double[] a;
    final double[] b;
    final long[] keys;
    final int len;

    Poly(double[] a, double[] b, long[] keys, int len) {
      this.a = a;
      this.b = b;
      this.keys = keys;
      this.len = len;
    }
  }

  /**
   * One Sutherland-Hodgman plane (a &gt;= bound when keepGe, else a &lt;=
   * bound): null when no vertex is inside, the ring itself when every
   * vertex is, else edge p emits its crossing (key 2 keys[p]) and then its
   * end vertex if inside (key 2 keys[p] + 1).
   */
  private static Poly clipPlane(Poly s, double bound, boolean keepGe) {
    final int len = s.len;
    boolean[] in = new boolean[len];
    int nIn = 0;
    for (int p = 0; p < len; p++) {
      in[p] = keepGe ? s.a[p] >= bound : s.a[p] <= bound;
      nIn += in[p] ? 1 : 0;
    }
    if (nIn == 0) {
      return null;
    }
    if (nIn == len) {
      for (int p = 0; p < len; p++) {
        s.keys[p] = 2 * s.keys[p] + 1;
      }
      return s;
    }
    double[] oa = new double[2 * len];
    double[] ob = new double[2 * len];
    long[] ok = new long[2 * len];
    int m = 0;
    for (int p = 0; p < len; p++) {
      int q = p + 1 == len ? 0 : p + 1;
      if (in[p] != in[q]) {
        double a0 = s.a[p];
        double a1 = s.a[q];
        double t = (bound - a0) / (a1 - a0);
        double b0 = s.b[p];
        oa[m] = a0 + t * (a1 - a0);
        ob[m] = b0 + t * (s.b[q] - b0);
        ok[m++] = 2 * s.keys[p];
      }
      if (in[q]) {
        oa[m] = s.a[q];
        ob[m] = s.b[q];
        ok[m++] = 2 * s.keys[p] + 1;
      }
    }
    return new Poly(oa, ob, ok, m);
  }

  /** First index k with xs[k] &gt;= x (np.searchsorted side="left"). */
  private static int lowerBound(double[] xs, double x) {
    int l = 0;
    int h = xs.length;
    while (l < h) {
      int mid = (l + h) >>> 1;
      if (xs[mid] < x) {
        l = mid + 1;
      } else {
        h = mid;
      }
    }
    return l;
  }

  private static double min(double[] xs) {
    double v = xs[0];
    for (double x : xs) {
      v = x < v ? x : v;
    }
    return v;
  }

  private static double max(double[] xs) {
    double v = xs[0];
    for (double x : xs) {
      v = x > v ? x : v;
    }
    return v;
  }

  private static byte[] pack(double[] xs, int len) {
    ByteBuffer out = ByteBuffer.allocate(len * Double.BYTES).order(ByteOrder.LITTLE_ENDIAN);
    out.asDoubleBuffer().put(xs, 0, len);
    return out.array();
  }
}
