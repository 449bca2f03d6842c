package graft.kernel

import graft.img.Bin

/** Deterministic 5x7 bitmap font — the recognition kernel's "model"
  * (replaces the reference's Surya RecognitionPredictor,
  * classes/ocr_processor.py:102-119, per the north_star's classical-kernel
  * mandate). Every glyph is a single 8-connected component (pinned by a
  * unit test) so connected-component segmentation yields one component per
  * glyph.
  */
object GlyphFont {
  val GlyphW = 5
  val GlyphH = 7
  val LetterGap = 1 // blank columns between glyphs of a word
  val WordGap = 4   // blank columns between words
  val Leading = 5   // blank rows between text lines
  val LinePitch: Int = GlyphH + Leading

  private def g(rows: String*): Bin = Bin(GlyphW, GlyphH, rows)

  val glyphs: Map[Char, Bin] = Map(
    'A' -> g(".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    'B' -> g("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    'C' -> g(".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    'D' -> g("####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."),
    'E' -> g("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    'F' -> g("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    'G' -> g(".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".####"),
    'H' -> g("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    'I' -> g(".###.", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."),
    'J' -> g("..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    'K' -> g("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    'L' -> g("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    'M' -> g("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    'N' -> g("#...#", "##..#", "##..#", "#.#.#", "#..##", "#..##", "#...#"),
    'O' -> g(".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    'P' -> g("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    'Q' -> g(".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    'R' -> g("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    'S' -> g(".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    'T' -> g("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    'U' -> g("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    'V' -> g("#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    'W' -> g("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    'X' -> g("#...#", "#...#", ".#.#.", "..#..", ".#.#.", "#...#", "#...#"),
    'Y' -> g("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    'Z' -> g("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    '0' -> g(".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    '1' -> g("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."),
    '2' -> g(".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    '3' -> g(".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."),
    '4' -> g("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    '5' -> g("#####", "#....", "####.", "....#", "....#", "#...#", ".###."),
    '6' -> g(".###.", "#....", "#....", "####.", "#...#", "#...#", ".###."),
    '7' -> g("#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."),
    '8' -> g(".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    '9' -> g(".###.", "#...#", "#...#", ".####", "....#", "....#", ".###."),
    // math glyphs (TextInlineMath fixture, the reference's 9th layout
    // label — ocr_processor.py:78-97). '+' is one component; '=' is the
    // one deliberate exception to the single-component font rule: two
    // stacked bars with an identical x-span, merged into one glyph cell
    // by the recognizer's x-overlap grouping (Recognize.groupGlyphs) —
    // both facts pinned in KernelSpec.
    '+' -> g(".....", "..#..", "..#..", "#####", "..#..", "..#..", "....."),
    '=' -> g(".....", ".....", "#####", ".....", "#####", ".....", "....."),
  )

  /** Alphabet the synthetic corpus draws from. */
  val alphabet: IndexedSeq[Char] = glyphs.keys.toIndexedSeq.sorted

  /** Tight-cropped template per char (drops blank border rows/cols so a
    * segmented component bbox can be compared directly). */
  val templates: Map[Char, Bin] = glyphs.map { case (c, b) => c -> tightCrop(b) }

  /** Pack a tight glyph (<= 56 ink bits) plus dims into one Long — an
    * allocation-free exact-match key for the hot classification path. */
  private def packKey(b: Bin): Long = {
    if (b.w * b.h > 56) return -1L // cannot pack; fallback path handles it
    var bits = 0L
    var i = 0
    while (i < b.b.length) { if (b.b(i)) bits |= (1L << i); i += 1 }
    (bits << 8) | (b.w.toLong << 4) | b.h.toLong
  }

  /** Reverse index: packed tight template → char, as sorted keys with
    * their chars in the same order, searched by [[byKey]]. Templates are
    * pairwise distinct (pinned by a unit test). */
  private val (keys, keyChars): (Array[Long], Array[Char]) = {
    val sorted = templates.toArray.map { case (c, b) => packKey(b) -> c }.sortBy(_._1)
    (sorted.map(_._1), sorted.map(_._2))
  }

  /** The char whose packed template is `k`, else char 0. */
  private def byKey(k: Long): Char = {
    val i = java.util.Arrays.binarySearch(keys, k)
    if (i >= 0) keyChars(i) else 0.toChar
  }

  /** A scanner speck 8-connected to a glyph merges into its component and
    * inflates the tight bbox by up to this many pixels per axis; the
    * speck-tolerant fallback accepts a template that matches some
    * template-sized subwindow EXACTLY with at most this much ink outside
    * the window. (The renderer's margin specks land adjacent to table-cell
    * digits — their leading-gap grid does not align with the cell grid —
    * and a one-pixel merge previously fell through to the ratio scorer,
    * which returns garbage on dimension mismatch: F9's noise filter only
    * drops ISOLATED specks.) */
  val MaxSpeckResidue = 2

  private val templateInk: Map[Char, Int] =
    templates.map { case (c, t) => c -> t.b.count(identity) }

  /** Exact-modulo-specks fallback: find a template equal to some subwindow
    * of the cell with <= MaxSpeckResidue ink pixels outside it; fewest
    * residual ink wins, then alphabet order. Confidence 0.9 — exact shape,
    * known noise. */
  private def speckTolerant(cell: Bin): Option[(Char, Double)] = {
    var totalInk = 0
    var i = 0
    while (i < cell.b.length) { if (cell.b(i)) totalInk += 1; i += 1 }
    var bestC = 0.toChar
    var bestResidue = MaxSpeckResidue + 1
    for (ch <- alphabet) {
      val t = templates(ch)
      val residue = totalInk - templateInk(ch)
      if (t.w <= cell.w && t.h <= cell.h &&
          cell.w - t.w <= MaxSpeckResidue && cell.h - t.h <= MaxSpeckResidue &&
          residue >= 0 && residue < bestResidue) {
        var dy = 0
        var found = false
        while (dy <= cell.h - t.h && !found) {
          var dx = 0
          while (dx <= cell.w - t.w && !found) {
            var ok = true
            var y = 0
            while (y < t.h && ok) {
              var x = 0
              while (x < t.w && ok) {
                if (cell(dx + x, dy + y) != t(x, y)) ok = false
                x += 1
              }
              y += 1
            }
            if (ok) found = true
            dx += 1
          }
          dy += 1
        }
        if (found) { bestC = ch; bestResidue = residue }
      }
    }
    if (bestC != 0.toChar) Some((bestC, 0.9)) else None
  }

  /** Exact classification of a tight-cropped glyph bitmap.
    * Returns (char, confidence=1.0) on exact match; else the
    * speck-tolerant exact fallback (0.9); otherwise the best template by
    * matching-pixel ratio with deterministic tie-break. */
  def classify(cell: Bin): (Char, Double) = {
    val k = packKey(cell)
    val hit = if (k == -1L) 0.toChar else byKey(k)
    if (hit != 0.toChar) (hit, 1.0)
    else speckTolerant(cell).getOrElse {
      var bestC = '?'
      var bestScore = -1.0
      for (ch <- alphabet) {
        val t = templates(ch)
        val score =
          if (t.w != cell.w || t.h != cell.h) 0.0
          else {
            var eq = 0
            var i = 0
            while (i < t.b.length) { if (t.b(i) == cell.b(i)) eq += 1; i += 1 }
            eq.toDouble / t.b.length
          }
        if (score > bestScore) { bestScore = score; bestC = ch }
      }
      (bestC, math.max(0.0, bestScore))
    }
  }

  /** Allocation-free classification of a tight glyph bbox directly on the
    * page plane: one packed-long template lookup per glyph, result packed
    * as (confE6 << 16 | char) so the hot loop allocates nothing. Falls back
    * to the generic template scorer for unpackable/unmatched cells. */
  def classifyAtPacked(plane: Bin, bb: graft.core.BBox): Long = {
    if (bb.w * bb.h <= 56 && bb.w < 16 && bb.h < 16) {
      var bits = 0L
      var i = 0
      var y = bb.y1
      while (y < bb.y2) {
        var x = bb.x1
        while (x < bb.x2) {
          if (plane(x, y)) bits |= (1L << i)
          i += 1
          x += 1
        }
        y += 1
      }
      val k = (bits << 8) | (bb.w.toLong << 4) | bb.h.toLong
      val hit = byKey(k)
      if (hit != 0.toChar) return (1000000L << 16) | hit.toLong
    }
    val (c, conf) = classify(tightCrop(plane.crop(bb)))
    ((conf * 1000000).toLong << 16) | c.toLong
  }

  def classifyAt(plane: Bin, bb: graft.core.BBox): (Char, Double) = {
    val p = classifyAtPacked(plane, bb)
    ((p & 0xFFFF).toChar, (p >>> 16).toDouble / 1e6)
  }

  def tightCrop(b: Bin): Bin = {
    var minX = b.w; var minY = b.h; var maxX = -1; var maxY = -1
    var y = 0
    while (y < b.h) {
      var x = 0
      while (x < b.w) {
        if (b(x, y)) {
          if (x < minX) minX = x
          if (x > maxX) maxX = x
          if (y < minY) minY = y
          if (y > maxY) maxY = y
        }
        x += 1
      }
      y += 1
    }
    if (maxX < 0) new Bin(0, 0, Array.empty)
    else b.crop(graft.core.BBox(minX, minY, maxX + 1, maxY + 1))
  }
}
