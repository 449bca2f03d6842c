package graft.img

/** Binary ink plane: b(y*w+x) == true means ink (foreground). Produced by
  * Otsu inverse-binarization (table_detection/table_detection.py:513 uses
  * THRESH_BINARY_INV + THRESH_OTSU: dark pixels become foreground).
  */
final class Bin(val w: Int, val h: Int, val b: Array[Boolean]) {
  require(b.length == w * h)

  @inline def apply(x: Int, y: Int): Boolean = b(y * w + x)

  def rotateCCW(deg: Int, out0: Array[Boolean] = null): Bin = deg match {
    case 0 => this
    case 90 =>
      val out = if (out0 != null) out0 else new Array[Boolean](b.length)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out((w - 1 - x) * h + y) = b(y * w + x); x += 1 }
        y += 1
      }
      new Bin(h, w, out)
    case 180 =>
      val out = if (out0 != null) out0 else new Array[Boolean](b.length)
      var i = 0
      while (i < b.length) { out(b.length - 1 - i) = b(i); i += 1 }
      new Bin(w, h, out)
    case 270 =>
      val out = if (out0 != null) out0 else new Array[Boolean](b.length)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(x * h + (h - 1 - y)) = b(y * w + x); x += 1 }
        y += 1
      }
      new Bin(h, w, out)
    case d => throw new IllegalArgumentException(s"rotation $d")
  }

  def crop(bb: graft.core.BBox, out0: Array[Boolean] = null): Bin = {
    val nw = bb.w
    val nh = bb.h
    val out = if (out0 != null) out0 else new Array[Boolean](nw * nh)
    var y = 0
    while (y < nh) {
      System.arraycopy(b, (y + bb.y1) * w + bb.x1, out, y * nw, nw)
      y += 1
    }
    new Bin(nw, nh, out)
  }

  def inkCount: Int = {
    var c = 0
    var i = 0
    while (i < b.length) { if (b(i)) c += 1; i += 1 }
    c
  }

  override def equals(o: Any): Boolean = o match {
    case g: Bin => g.w == w && g.h == h && java.util.Arrays.equals(g.b, b)
    case _ => false
  }
  override def hashCode: Int = (w, h, java.util.Arrays.hashCode(b)).hashCode
}

object Bin {
  def apply(w: Int, h: Int, rows: Seq[String], ink: Char = '#'): Bin = {
    require(rows.size == h && rows.forall(_.length == w))
    val a = new Array[Boolean](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { a(y * w + x) = rows(y).charAt(x) == ink; x += 1 }
      y += 1
    }
    new Bin(w, h, a)
  }
}
