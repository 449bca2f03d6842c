package graft.img

import graft.core.Crop

/** 8-bit grayscale plane; logical values 0..255 stored as signed bytes
  * (read via & 0xFF). Byte planes, not ints: the page kernel is
  * memory-bandwidth-bound, and 8-bit planes are what real scan codecs
  * produce anyway (SURVEY §2.2 T12 "pure Scala on Array[Byte] planes").
  * Hot-path methods accept an optional pre-allocated output plane
  * (PlanePool) so the kernel runs allocation-free per page.
  */
final class Gray(val w: Int, val h: Int, val px: Array[Byte]) {
  require(px.length == w * h, s"plane size ${px.length} != ${w}x$h")

  @inline def apply(x: Int, y: Int): Int = px(y * w + x) & 0xFF

  /** Rotate counter-clockwise by deg ∈ {0, 90, 180, 270}. */
  def rotateCCW(deg: Int, out0: Array[Byte] = null): Gray = deg match {
    case 0 => this
    case 90 =>
      val out = if (out0 != null) out0 else new Array[Byte](px.length)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out((w - 1 - x) * h + y) = px(y * w + x); x += 1 }
        y += 1
      }
      new Gray(h, w, out)
    case 180 =>
      val out = if (out0 != null) out0 else new Array[Byte](px.length)
      var i = 0
      while (i < px.length) { out(px.length - 1 - i) = px(i); i += 1 }
      new Gray(w, h, out)
    case 270 =>
      val out = if (out0 != null) out0 else new Array[Byte](px.length)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(x * h + (h - 1 - y)) = px(y * w + x); x += 1 }
        y += 1
      }
      new Gray(h, w, out)
    case d => throw new IllegalArgumentException(s"rotation $d")
  }

  /** Crop margins, bounds-validated (classes/pdf_parser.py:386-409). */
  def crop(c: Crop): Gray = {
    val nw = w - c.left - c.right
    val nh = h - c.top - c.bottom
    require(nw > 0 && nh > 0, s"crop $c exceeds image ${w}x$h")
    val out = new Array[Byte](nw * nh)
    var y = 0
    while (y < nh) {
      System.arraycopy(px, (y + c.top) * w + c.left, out, y * nw, nw)
      y += 1
    }
    new Gray(nw, nh, out)
  }

  /** Integer box-mean downsample by exact factor k — the deterministic
    * replacement for the reference's LANCZOS resize-to-height
    * (classes/pdf_parser.py:44-59; SURVEY §7.5 item 1: bit-exact resize).
    */
  def downsample(k: Int, out0: Array[Byte] = null): Gray = {
    require(w % k == 0 && h % k == 0, s"${w}x$h not divisible by $k")
    val nw = w / k
    val nh = h / k
    val out = if (out0 != null) out0 else new Array[Byte](nw * nh)
    if (k == 2) {
      // r6 fast path for the kernel's only hot factor (PageScale = 2):
      // two linear row reads per output row, shift instead of divide —
      // (a+b+c+d) >> 2 == (a+b+c+d) / 4 for non-negative sums, so the
      // output is bit-identical to the generic loop. The generic form's
      // 4-deep nesting + per-pixel division made this the single most
      // expensive recognize stage (round-6 profile: ~1.6 ms/page of a
      // ~3.5 ms recognize).
      var oy = 0
      while (oy < nh) {
        var i0 = (oy * 2) * w // top-left of the 2x2 block
        var o = oy * nw
        val oEnd = o + nw
        while (o < oEnd) {
          val s = (px(i0) & 0xFF) + (px(i0 + 1) & 0xFF) +
                  (px(i0 + w) & 0xFF) + (px(i0 + w + 1) & 0xFF)
          out(o) = (s >> 2).toByte
          i0 += 2
          o += 1
        }
        oy += 1
      }
      return new Gray(nw, nh, out)
    }
    val area = k * k
    var oy = 0
    while (oy < nh) {
      var ox = 0
      while (ox < nw) {
        var s = 0
        var dy = 0
        while (dy < k) {
          var dx = 0
          val base = (oy * k + dy) * w + ox * k
          while (dx < k) { s += px(base + dx) & 0xFF; dx += 1 }
          dy += 1
        }
        out(oy * nw + ox) = (s / area).toByte
        ox += 1
      }
      oy += 1
    }
    new Gray(nw, nh, out)
  }

  /** Resize to target height by integer factor (the reference scales every
    * page to a fixed height, pdf_parser.py:54). */
  def resizeToHeight(target: Int): Gray = {
    require(h % target == 0, s"height $h not an integer multiple of $target")
    downsample(h / target)
  }

  override def equals(o: Any): Boolean = o match {
    case g: Gray => g.w == w && g.h == h && java.util.Arrays.equals(g.px, px)
    case _ => false
  }
  override def hashCode: Int = (w, h, java.util.Arrays.hashCode(px)).hashCode
}

object Gray {
  def fill(w: Int, h: Int, v: Int): Gray = {
    val a = new Array[Byte](w * h)
    java.util.Arrays.fill(a, v.toByte)
    new Gray(w, h, a)
  }

  def fromInts(w: Int, h: Int, vs: Array[Int]): Gray =
    new Gray(w, h, vs.map(_.toByte))
}
