package graft.img

/** Small-angle deskew (north_star "deskew" stage; SURVEY §7.3
  * "Recognition"): scanned pages arrive with a small shear — the
  * small-angle model of page rotation (sin θ ≈ tan θ for |θ| <= ~2°),
  * which real deskewers exploit because a shear, unlike a rotation, is
  * exactly invertible on the pixel grid. Slopes are integers in units of
  * 1/256 (slope s ⟺ tan θ = s/256; ±9 ≈ ±2.0°).
  *
  * Estimation is the classical projection-profile sharpness search: for
  * each candidate slope remove the shear and score the row-ink histogram
  * by Σ count² — text rows snap into narrow bands exactly at the true
  * slope. Integer-only; ties prefer the smaller |slope| (an unskewed page
  * must come back 0, SURVEY §7.5 determinism).
  */
object Deskew {

  /** Search range in 1/256 slope units. */
  val MaxSlope = 9

  /** Vertical displacement of column x under slope s, centered so the
    * page midline is the rotation axis (keeps |dy| within the crop
    * margins). The renderer and the inverse below share this exact
    * integer formula — that is what makes deskew lossless. */
  @inline def shearDy(x: Int, w: Int, s: Int): Int =
    Math.floorDiv((x - w / 2) * s, 256)

  /** Estimated slope of `b` (the value to pass to [[unshear]]).
    *
    * Allocation-free (PlanePool scratch — the kernel runs on every page,
    * so its planes are reused rather than allocated and zeroed per page):
    * ink points are packed (y<<16|x)
    * in one pooled pass, each candidate scores through a pooled histogram
    * with a per-COLUMN displacement table, and the search is
    * coarse-to-fine (step 3, then ±2 around the coarse peak — the
    * projection score is unimodal within a 3-step neighbourhood because a
    * 1-slope error smears rows by ~1.2 px against a 12 px pitch). */
  def estimateSlope(b: Bin): Int = {
    val pts = PlanePool.intScratch("deskew.pts", b.b.length)
    var n = 0
    var y = 0
    while (y < b.h) {
      val base = y * b.w
      var x = 0
      while (x < b.w) {
        if (b.b(base + x)) { pts(n) = (y << 16) | x; n += 1 }
        x += 1
      }
      y += 1
    }
    if (n == 0) return 0
    val off = 2 * MaxSlope + 2
    val histLen = b.h + 2 * off
    // four interleaved histograms, hist(4 * row + j % 4): consecutive ink
    // points mostly share a row, and one counter per row would serialize
    // their increments
    val hist = PlanePool.ints("deskew.hist", 4 * histLen)
    val dyCol = PlanePool.ints("deskew.dy", b.w)
    def score(s: Int): Long = {
      var x = 0
      while (x < b.w) { dyCol(x) = shearDy(x, b.w, s); x += 1 }
      java.util.Arrays.fill(hist, 0)
      var j = 0
      while (j < n) {
        val p = pts(j)
        hist((((p >>> 16) - dyCol(p & 0xFFFF) + off) << 2) | (j & 3)) += 1
        j += 1
      }
      var sc = 0L
      var r = 0
      while (r < 4 * histLen) {
        val c = hist(r) + hist(r + 1) + hist(r + 2) + hist(r + 3)
        sc += c.toLong * c
        r += 4
      }
      sc
    }
    var best = 0
    var bestScore = -1L
    def consider(s: Int): Unit = {
      val sc = score(s)
      if (sc > bestScore ||
          (sc == bestScore && (math.abs(s) < math.abs(best) ||
            (math.abs(s) == math.abs(best) && s < best)))) {
        bestScore = sc
        best = s
      }
    }
    var s = -MaxSlope
    while (s <= MaxSlope) { consider(s); s += 3 }
    val center = best
    var d = -2
    while (d <= 2) {
      val cand = center + d
      if (cand >= -MaxSlope && cand <= MaxSlope &&
          java.lang.Math.floorMod(cand + MaxSlope, 3) != 0) consider(cand)
      d += 1
    }
    best
  }

  /** Remove shear of slope `s`: out(x, y) = b(x, y + dy(x)) — the exact
    * inverse of the forward shear S(x, y') = O(x, y' - dy(x)); rows
    * shifted out of range read as blank. */
  def applyUnshear(b: Bin, s: Int, out0: Array[Boolean] = null): Bin = {
    if (s == 0) return b
    val out = if (out0 != null) out0 else new Array[Boolean](b.b.length)
    // r6: row-major traversal with a pooled per-column dy table — the
    // old column-major walk wrote with stride w on every access. Reads
    // stay within ±MaxSlope rows of the output row, so the pass is
    // cache-linear; same formula, identical output.
    val dyCol = PlanePool.ints("deskew.applydy", b.w)
    var x = 0
    while (x < b.w) { dyCol(x) = shearDy(x, b.w, s); x += 1 }
    var y = 0
    while (y < b.h) {
      val base = y * b.w
      x = 0
      while (x < b.w) {
        val sy = y + dyCol(x)
        out(base + x) = sy >= 0 && sy < b.h && b.b(sy * b.w + x)
        x += 1
      }
      y += 1
    }
    new Bin(b.w, b.h, out)
  }

  /** Estimate + remove: the deskew stage. */
  def unshear(b: Bin, out0: Array[Boolean] = null): Bin =
    applyUnshear(b, estimateSlope(b), out0)
}
