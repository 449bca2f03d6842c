package graft.img

import graft.core.BBox

/** A labeled connected component: tight bbox + pixel count. */
case class Comp(bbox: BBox, area: Int)

/** Run-length 8-connectivity connected-component labeling with
  * union-find. The classical stand-in for cv2.findContours-based region
  * extraction (table_detection.py:120-126, :205-214) and the basis of
  * line/word segmentation in the recognition kernel (north_star:
  * "connected-component line/word segmentation").
  *
  * One pass over each row finds its ink runs `[x0, x1)`; a run's index in
  * raster order is its label. Each run is united with every run of the
  * previous row it 8-touches, and bbox and area are merged into the root
  * at each union, so each pixel is read once and no label plane exists.
  * The per-run scratch is pooled per thread (PlanePool) and grows with
  * the runs a plane has, not with its pixels.
  */
object ConnectedComponents {

  /** Ints per run in the run table: parent, then the bbox and area its
    * component has as far as the scan has united it. */
  private final val Stride = 6
  private final val Parent = 0
  private final val MinX = 1
  private final val MaxX = 2
  private final val MinY = 3
  private final val MaxY = 4
  private final val Area = 5

  /** Components in `(y1, x1, x2, y2)` order, ties in raster order of
    * their first pixel. */
  def label(src: Bin): IndexedSeq[Comp] = {
    val w = src.w; val h = src.h; val px = src.b
    var runs = PlanePool.intScratch("cc.runs", Stride)
    // x0, x1 of the previous row's runs and of this row's, at offsets
    // `prev` and `cur` (a row holds at most ceil(w/2) runs)
    val rowCap = 2 * ((w + 1) / 2)
    val rows = PlanePool.intScratch("cc.rows", 2 * rowCap)
    var prev = 0; var cur = rowCap
    var prevFirst = 0; var prevN = 0 // the previous row's first run, run count
    var n = 0

    @inline def find(x0: Int): Int = {
      var x = x0
      var p = runs(x * Stride)
      while (p != x) { // path halving
        val gp = runs(p * Stride)
        runs(x * Stride) = gp
        x = gp
        p = runs(x * Stride)
      }
      x
    }
    // union by the smaller root, so a component's root is its first run
    // and its MinY is the root's own row
    @inline def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val root = math.min(ra, rb)
        val r = root * Stride; val c = math.max(ra, rb) * Stride
        runs(c + Parent) = root
        if (runs(c + MinX) < runs(r + MinX)) runs(r + MinX) = runs(c + MinX)
        if (runs(c + MaxX) > runs(r + MaxX)) runs(r + MaxX) = runs(c + MaxX)
        if (runs(c + MaxY) > runs(r + MaxY)) runs(r + MaxY) = runs(c + MaxY)
        runs(r + Area) += runs(c + Area)
      }
    }

    var y = 0
    while (y < h) {
      val base = y * w
      val first = n
      var j = 0 // first previous-row run that can still touch this row's next run
      var x = 0
      while (x < w) {
        if (px(base + x)) {
          val x0 = x
          x += 1
          while (x < w && px(base + x)) x += 1
          if ((n + 1) * Stride > runs.length) {
            val grown = PlanePool.intScratch("cc.runs", 2 * runs.length)
            System.arraycopy(runs, 0, grown, 0, n * Stride)
            runs = grown
          }
          val o = n * Stride
          runs(o + Parent) = n
          runs(o + MinX) = x0; runs(o + MaxX) = x - 1
          runs(o + MinY) = y; runs(o + MaxY) = y
          runs(o + Area) = x - x0
          val k = n - first
          rows(cur + 2 * k) = x0; rows(cur + 2 * k + 1) = x
          // a previous run [p0, p1) 8-touches [x0, x) iff p0 <= x && p1 >= x0
          while (j < prevN && rows(prev + 2 * j + 1) < x0) j += 1
          var i = j
          while (i < prevN && rows(prev + 2 * i) <= x) {
            union(n, prevFirst + i)
            i += 1
          }
          n += 1
        }
        x += 1
      }
      val t = prev; prev = cur; cur = t
      prevFirst = first; prevN = n - first
      y += 1
    }

    var roots = 0
    var i = 0
    while (i < n) { if (runs(i * Stride) == i) roots += 1; i += 1 }
    val out = new Array[Comp](roots)
    roots = 0
    i = 0
    while (i < n) {
      val o = i * Stride
      if (runs(o + Parent) == i) {
        out(roots) = Comp(BBox(runs(o + MinX), runs(o + MinY),
          runs(o + MaxX) + 1, runs(o + MaxY) + 1), runs(o + Area))
        roots += 1
      }
      i += 1
    }
    // roots come in raster order, so y1 never decreases and the stable
    // TimSort runs near-linear
    java.util.Arrays.sort(out, ByBox)
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  private object ByBox extends java.util.Comparator[Comp] {
    def compare(a: Comp, b: Comp): Int = {
      val p = a.bbox; val q = b.bbox
      if (p.y1 != q.y1) Integer.compare(p.y1, q.y1)
      else if (p.x1 != q.x1) Integer.compare(p.x1, q.x1)
      else if (p.x2 != q.x2) Integer.compare(p.x2, q.x2)
      else Integer.compare(p.y2, q.y2)
    }
  }
}
