package graft.img

import graft.core.BBox
import scala.collection.mutable.ArrayBuffer

/** A labeled connected component: tight bbox + pixel count. */
case class Comp(bbox: BBox, area: Int)

/** Two-pass 8-connectivity connected-component labeling with union-find.
  * The classical stand-in for cv2.findContours-based region extraction
  * (table_detection.py:120-126, :205-214) and the basis of line/word
  * segmentation in the recognition kernel (north_star: "connected-component
  * line/word segmentation").
  *
  * The int label plane is pooled per thread (PlanePool) and written for
  * every pixel in raster order, so no pre-clear pass is needed.
  */
object ConnectedComponents {

  /** Upper bound on the labels a w×h plane can need, plus the unused
    * label 0. A pixel starts a new label only when none of its W, NW, N
    * and NE neighbours is ink, and those are all of its 8-neighbours that
    * precede it in raster order; so no two label-starting pixels are
    * 8-adjacent, and each 2×2 block holds at most one of them. */
  private def maxLabels(w: Int, h: Int): Int = ((w + 1) / 2) * ((h + 1) / 2) + 1

  def label(src: Bin): IndexedSeq[Comp] = {
    val w = src.w; val h = src.h
    val lab = PlanePool.ints("cc.label", w * h)
    var next = 1
    val parent = PlanePool.intScratch("cc.parent", maxLabels(w, h))

    @inline def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    @inline def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }

    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val idx = y * w + x
        if (src.b(idx)) {
          // neighbors already visited in raster order: W, NW, N, NE
          var m = 0
          @inline def consider(l: Int): Unit =
            if (l != 0) { if (m == 0) m = l else union(m, l) }
          if (x > 0) consider(lab(idx - 1))
          if (y > 0) {
            if (x > 0) consider(lab(idx - w - 1))
            consider(lab(idx - w))
            if (x < w - 1) consider(lab(idx - w + 1))
          }
          if (m == 0) {
            parent(next) = next
            m = next
            next += 1
          }
          lab(idx) = m
        } else lab(idx) = 0 // fused clear: every position written once
        x += 1
      }
      y += 1
    }

    // second pass: resolve roots, accumulate bbox + area per root
    val minX = PlanePool.intScratch("cc.minx", next)
    val minY = PlanePool.intScratch("cc.miny", next)
    val maxX = PlanePool.intScratch("cc.maxx", next)
    val maxY = PlanePool.intScratch("cc.maxy", next)
    val cnt = PlanePool.intScratch("cc.cnt", next)
    java.util.Arrays.fill(minX, 0, next, Int.MaxValue)
    java.util.Arrays.fill(minY, 0, next, Int.MaxValue)
    java.util.Arrays.fill(maxX, 0, next, -1)
    java.util.Arrays.fill(maxY, 0, next, -1)
    java.util.Arrays.fill(cnt, 0, next, 0)
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val l = lab(y * w + x)
        if (l != 0) {
          val r = find(l)
          if (x < minX(r)) minX(r) = x
          if (x > maxX(r)) maxX(r) = x
          if (y < minY(r)) minY(r) = y
          if (y > maxY(r)) maxY(r) = y
          cnt(r) += 1
        }
        x += 1
      }
      y += 1
    }
    val out = new ArrayBuffer[Comp]
    var i = 1
    while (i < next) {
      if (cnt(i) > 0)
        out += Comp(BBox(minX(i), minY(i), maxX(i) + 1, maxY(i) + 1), cnt(i))
      i += 1
    }
    // deterministic order: raster by (y1, x1, x2, y2)
    out.sortBy(c => (c.bbox.y1, c.bbox.x1, c.bbox.x2, c.bbox.y2)).toIndexedSeq
  }
}
