package graft.synth

import graft.core.Crop
import graft.functions.TextHashes
import graft.img.Gray
import graft.kernel.{CropConfig, GlyphFont}

/** Deterministic synthetic page renderer — the stand-in for the reference's
  * PyMuPDF 300-DPI rasterization (classes/pdf_parser.py:16-42) in a
  * zero-egress container (SURVEY §2.1 S4). Decoding a media_ref
  * re-renders the page from its seed; the recognition kernel then has to
  * genuinely OCR the bitmap (Otsu → orientation → crop → CC segmentation →
  * glyph classification) to recover the text.
  *
  * Pages are laid out in a 360x480 "logical" pixel space and rendered at
  * 2x (720x960) with seeded per-pixel noise; the kernel's
  * downsample(2) brings them back to logical scale
  * (mirrors the reference's resize-to-1500px step, pdf_parser.py:44-59).
  */
object PageRenderer {
  val LogicalW = 360
  val LogicalH = 480
  val Scale = 2

  val HeaderY = 8           // inside every crop top band (min top = 36)
  val FooterYFromBottom = 22 // inside every crop bottom band (min bottom = 26)
  val BodyXPad = 8
  val BodyYPad = 6

  private val Words: Vector[String] = Vector(
    "ARTICLE", "DECRET", "LOI", "ARRETE", "MINISTRE", "REPUBLIQUE",
    "ALGERIENNE", "JOURNAL", "OFFICIEL", "NATIONALE", "PRESIDENT", "CONSEIL",
    "PORTANT", "MODIFIANT", "RELATIF", "DISPOSITIONS", "CHAPITRE", "SECTION",
    "FINANCES", "BUDGET", "EXERCICE", "DINARS", "NUMERO", "ANNEE", "VU",
    "COMPLETANT", "EXECUTIF", "PREMIER", "GOUVERNEMENT", "SECRETAIRE",
    "GENERAL", "DIRECTION", "SERVICE", "PUBLIC", "CODE", "CIVIL", "PENAL",
    "COMMERCE", "TRAVAIL", "SANTE", "EDUCATION", "DEFENSE", "JUSTICE",
    "INTERIEUR", "TRANSPORT", "ENERGIE", "AGRICULTURE", "COMMUNE",
  )

  /** Seed for a page's content stream. */
  def pageSeed(docId: String, page: Int): Long =
    TextHashes.fnv64(docId) * 0x9E3779B97F4A7C15L + page.toLong * 0xD1B54A32D192ED03L

  /** One word: uppercase dictionary word or a 1-4 digit number. */
  private def word(rng: Rng): String =
    if (rng.nextInt(6) == 0) {
      val len = rng.between(1, 4)
      (0 until len).map(i => ('0' + (if (i == 0 && len > 1) rng.between(1, 9)
                                     else rng.nextInt(10))).toChar).mkString
    } else Words(rng.nextInt(Words.length))

  /** Pixel width of a rendered word (5 px per glyph + 1 px letter gap). */
  private def wordPx(wrd: String): Int = wrd.length * 6 - 1

  /** A ruled table planted on a page, in logical page coordinates; the
    * ground truth for the classical table detector (FIXTURES.md §3
    * `with_table`). Detection runs at the 2x stored scale, where the
    * reference's pixel constants are calibrated — hence the 2x GT
    * accessors. */
  final case class TableSpec(x: Int, y: Int, rows: Int, cols: Int,
                             cw: Int, ch: Int) {
    def w: Int = cols * cw + 2
    def h: Int = rows * ch + 2
    def bbox2x: graft.core.BBox =
      graft.core.BBox(2 * x, 2 * y, 2 * (x + w), 2 * (y + h))
    def cells2x: Vector[graft.core.BBox] =
      (for {
        i <- 0 until rows
        j <- 0 until cols
      } yield graft.core.BBox(
        2 * (x + j * cw), 2 * (y + i * ch),
        2 * (x + (j + 1) * cw + 2), 2 * (y + (i + 1) * ch + 2))).toVector
  }

  val GutterW = 14

  /** `Deux Colonnes soft` failure class (report_wrong.csv corpus): a
    * narrow 11 px gutter on ~1 in 4 two-column pages — still a real
    * gutter, but with zero slack above the kernel's line-split threshold
    * (Recognize.LineSplitGap = 10) and LayoutSegment.MinGutterWidth (8). */
  val SoftGutterW = 11

  def gutterWFor(docId: String, page: Int): Int = {
    val rng = new Rng(pageSeed(docId, page) ^ 0x50F7C01L)
    if (rng.nextInt(4) == 0) SoftGutterW else GutterW
  }

  /** `Layouts Imbriqués` failure class: an indented sub-block
    * (start line, length, indent px) on ~1 in 6 single-column non-table
    * pages. Reading order is unchanged (y-sorted); the indent must not
    * read as a column gutter (other lines cross the left band). */
  def nestedBlock(docId: String, page: Int): Option[(Int, Int, Int)] = {
    val layout = layoutFor(docId, page)
    if (layout.table.nonEmpty || layout.twoCol.nonEmpty ||
        layout.textLines < 8) None
    else {
      val rng = new Rng(pageSeed(docId, page) ^ 0x1B1B1B1BL)
      if (rng.nextInt(6) != 0) None
      else {
        val start = 2 + rng.nextInt(layout.textLines - 6)
        val len = rng.between(2, 3)
        Some((start, len, 20))
      }
    }
  }

  /** Page layout modes (FIXTURES.md §3 fixture classes):
    * single column (~65%), two columns with central gutter (~20%,
    * `Deux Colonnes`), ruled table below a short text block (~15%,
    * `with_table`). For two columns, col1/col2 line counts; golden text
    * order is column 1 top-to-bottom then column 2. */
  final case class PageLayout(textLines: Int, table: Option[TableSpec],
                              twoCol: Option[(Int, Int)])

  def layoutFor(docId: String, page: Int): PageLayout = {
    val crop = CropConfig.lookup(docId)
    val rng = new Rng(pageSeed(docId, page) ^ 0x7AB1E5L)
    val roll = rng.nextInt(100)
    if (roll < 15) {
      val nText = rng.between(6, 10)
      val rows = rng.between(3, 5)
      val cols = rng.between(3, 4)
      val innerW = LogicalW - crop.left - crop.right - 2 * BodyXPad
      val cw = rng.between(47, math.min(72, (innerW - 8) / cols))
      val ch = rng.between(34, 40)
      val x = crop.left + BodyXPad
      val y = crop.top + BodyYPad + nText * GlyphFont.LinePitch + 8
      PageLayout(nText, Some(TableSpec(x, y, rows, cols, cw, ch)), None)
    } else if (roll < 35) {
      PageLayout(0, None, Some((rng.between(22, 32), rng.between(22, 32))))
    } else PageLayout(rng.between(22, 32), None, None)
  }

  /** SectionHeader fixture (taxonomy class from the reference's label set,
    * classes/ocr_processor.py:78-97): ~1 in 5 single-column non-table
    * pages carry a SHORT line (<= 40% of body width) at this index with an
    * extra LinePitch of whitespace below it — the classical "short line +
    * wide gap" sectioning signal LayoutSegment labels `SectionHeader`. */
  def sectionHeaderLine(docId: String, page: Int): Option[Int] = {
    val layout = layoutFor(docId, page)
    // > 29 lines + the two extra header gaps would push the last line into
    // the bottom crop band (worst crop is top 42 / bottom 32)
    if (layout.table.nonEmpty || layout.twoCol.nonEmpty ||
        layout.textLines < 8 || layout.textLines > 29) None
    else {
      val rng = new Rng(pageSeed(docId, page) ^ 0x5EC7104EADL)
      if (rng.nextInt(5) != 0) None
      else Some(1 + rng.nextInt(layout.textLines - 4))
    }
  }

  /** Figure fixture (Picture + Caption taxonomy classes,
    * ocr_processor.py:78-97): ~1 in 6 eligible single-column pages carry
    * a solid figure block spanning line slots [f0, f0+3) and a SHORT
    * caption line at slot f0+3 (extra whitespace below it so the caption
    * segments as its own block). The figure draws no text: its line slots
    * are absent from the golden; the kernel's glyph-size gate excludes the
    * block from the text path and the full-page segmenter surfaces it as
    * a `Picture` region with the caption relabeled `Caption`. */
  val FigureLines = 3
  val FigureW = 140
  def figureSpec(docId: String, page: Int): Option[Int] = {
    val layout = layoutFor(docId, page)
    if (layout.table.nonEmpty || layout.twoCol.nonEmpty ||
        layout.textLines < 12 ||
        sectionHeaderLine(docId, page).isDefined ||
        nestedBlock(docId, page).isDefined) None
    else {
      val rng = new Rng(pageSeed(docId, page) ^ 0xF16A7E5L)
      if (rng.nextInt(6) != 0) None
      else Some(2 + rng.nextInt(layout.textLines - FigureLines - 5))
    }
  }

  /** TextInlineMath fixture (the 9th and last label of the reference's
    * taxonomy, ocr_processor.py:78-97): ~1 in 6 eligible single-column
    * pages replace the body line at this slot with a planted inline-math
    * expression ([[mathText]], digits + the '+'/'=' math glyphs). The
    * line adds no whitespace — it lives inside its text block, and the
    * block is labeled `TextInlineMath` (LayoutSegment math-glyph rule). */
  def mathLine(docId: String, page: Int): Option[Int] = {
    val layout = layoutFor(docId, page)
    if (layout.table.nonEmpty || layout.twoCol.nonEmpty ||
        layout.textLines < 8 ||
        sectionHeaderLine(docId, page).isDefined ||
        nestedBlock(docId, page).isDefined ||
        figureSpec(docId, page).isDefined) None
    else {
      val rng = new Rng(pageSeed(docId, page) ^ 0x3A7411E5L)
      if (rng.nextInt(6) != 0) None
      else Some(1 + rng.nextInt(layout.textLines - 2))
    }
  }

  /** Planted inline-math line: `A + B = A+B` (seed-pure, golden-exact). */
  def mathText(docId: String, page: Int): String = {
    val rng = new Rng(pageSeed(docId, page) ^ 0x3A7437EC7L)
    val a = rng.between(2, 98)
    val b = rng.between(2, 98)
    s"$a + $b = ${a + b}"
  }

  /** y of body line `i` on a single-column page — the one place the
    * fixture whitespace (section-header gaps above/below; the gap below a
    * figure caption) is accounted for; shared by the text drawer, the
    * hrule placer and the speck placer so fixtures never collide. */
  def lineY(docId: String, page: Int, i: Int): Int = {
    val crop = CropConfig.lookup(docId)
    val sh = sectionHeaderLine(docId, page) match {
      case Some(h) if i > h => 2 * GlyphFont.LinePitch
      case Some(h) if i == h => GlyphFont.LinePitch
      case _ => 0
    }
    val fig = figureSpec(docId, page) match {
      case Some(f0) if i > f0 + FigureLines => GlyphFont.LinePitch
      case _ => 0
    }
    crop.top + BodyYPad + i * GlyphFont.LinePitch + sh + fig
  }

  /** Leading-gap indices carrying a full-width separator rule
    * (`Ligne Horizontale` fixture class): ~1 in 6 single-column non-table
    * pages. The text path must gate these out via the graphics filter. */
  def hruleLines(docId: String, page: Int): Vector[Int] = {
    val layout = layoutFor(docId, page)
    if (layout.table.nonEmpty || layout.twoCol.nonEmpty ||
        figureSpec(docId, page).nonEmpty) return Vector.empty
    val hr = new Rng(pageSeed(docId, page) ^ 0x408117E5L)
    if (hr.nextInt(6) != 0 || layout.textLines <= 4) Vector.empty
    else Vector.fill(hr.between(1, 2))(1 + hr.nextInt(layout.textLines - 2))
      .distinct
  }

  private def genLine(rng: Rng, maxW: Int): String = {
    val sb = new StringBuilder
    var px = 0
    var continue = true
    while (continue) {
      val wrd = word(rng)
      val need = (if (px == 0) 0 else GlyphFont.WordGap) + wordPx(wrd)
      if (px + need <= maxW) {
        if (px > 0) sb.append(' ')
        sb.append(wrd)
        px += need
      } else continue = false
    }
    sb.toString
  }

  /** Planted value of table cell (row i, col j) — ground truth for the
    * table OCR path (A7, TATR notebook apply_ocr analog). */
  def cellValue(docId: String, page: Int, i: Int, j: Int): Int = {
    val h = TextHashes.fnv64(s"$docId/$page/$i/$j") ^ 0xCE11CE11L
    1 + java.lang.Math.floorMod(h, 999L).toInt
  }

  /** Single-column body content as (slot, indent, text) triples — slot
    * indexes into [[lineY]]; figure slots are ABSENT (the figure draws no
    * text and contributes nothing to the golden). */
  def bodySlots(docId: String, page: Int): Vector[(Int, Int, String)] = {
    val crop = CropConfig.lookup(docId)
    val rng = new Rng(pageSeed(docId, page))
    val layout = layoutFor(docId, page)
    val innerW = LogicalW - crop.left - crop.right - 2 * BodyXPad
    val nested = nestedBlock(docId, page)
    val hdr = sectionHeaderLine(docId, page)
    val fig = figureSpec(docId, page)
    val mth = mathLine(docId, page)
    (0 until layout.textLines).flatMap { i =>
      if (fig.exists(f0 => i >= f0 && i < f0 + FigureLines)) None
      else if (mth.contains(i)) Some((i, 0, mathText(docId, page)))
      else {
        val indent = nested match {
          case Some((s0, len, ind)) if i >= s0 && i < s0 + len => ind
          case _ => 0
        }
        // section-header fixture: short line (<= 40% body width);
        // figure caption: short line (<= 50%) right below the figure
        val maxW =
          if (hdr.contains(i)) (innerW * 2) / 5
          else if (fig.contains(i - FigureLines)) innerW / 2
          else innerW - indent
        Some((i, indent, genLine(rng, maxW)))
      }
    }.toVector
  }

  /** The body lines of a page — this is the golden text for a media span.
    * Two-column pages return column 1's lines then column 2's (reading
    * order). Table pages append the cell digits in (y, x) reading order —
    * the reference's main text pass OCRs the whole page including table
    * areas (pdf_parser.py:125-157); tables get their own structured pass. */
  def bodyLines(docId: String, page: Int): Vector[String] = {
    val crop = CropConfig.lookup(docId)
    val rng = new Rng(pageSeed(docId, page))
    val layout = layoutFor(docId, page)
    val innerW = LogicalW - crop.left - crop.right - 2 * BodyXPad
    layout.twoCol match {
      case Some((n1, n2)) =>
        val colW = (innerW - gutterWFor(docId, page)) / 2
        Vector.fill(n1 + n2)(genLine(rng, colW))
      case None =>
        val textLines = bodySlots(docId, page).map(_._3)
        val cellLines = layout.table.toVector.flatMap { t =>
          for {
            i <- 0 until t.rows
            j <- 0 until t.cols
          } yield cellValue(docId, page, i, j).toString
        }
        textLines ++ cellLines
    }
  }

  /** Golden recognized text for a media page (lines joined by \n). */
  def bodyText(docId: String, page: Int): String =
    bodyLines(docId, page).mkString("\n")

  /** Small-skew fixture (north_star deskew stage): integer shear slope in
    * 1/256 units (±5..±9 ≈ ±1.1°..±2.0°) on ~1 in 7 upright non-table
    * pages — the "slightly crooked scan" class common in the reference's
    * corpus. The shear is centered on the page midline and applied at the
    * stored 2x scale with even displacements, so the kernel's downsample →
    * binarize → estimate → inverse-shear chain is bit-exact
    * (graft.img.Deskew shares the displacement formula). */
  def skewSlope(docId: String, page: Int): Int = {
    if (storedRotation(docId, page) != 0) return 0
    if (layoutFor(docId, page).table.nonEmpty) return 0
    val rng = new Rng(pageSeed(docId, page) ^ 0x5435AB1E5L)
    if (rng.nextInt(7) != 0) 0
    else {
      val mag = rng.between(graft.img.Deskew.MaxSlope - 4,
                            graft.img.Deskew.MaxSlope)
      if (rng.nextInt(2) == 0) mag else -mag
    }
  }

  /** Stored rotation of a page: 0 (80%), 90 or 270 (10% each). The kernel
    * must detect and undo it. 180 never occurs in the corpus — the
    * reference leaves 180 unrotated by design (pdf_parser.py:425-433);
    * that quirk is pinned by a unit test instead. */
  def storedRotation(docId: String, page: Int): Int = {
    val rng = new Rng(pageSeed(docId, page) ^ 0x5DEECE66DL)
    rng.nextInt(10) match {
      case 8 => 90
      case 9 => 270
      case _ => 0
    }
  }

  /** Draw a line of text into the logical ink mask at (x0, y0). */
  private def drawLine(mask: Array[Boolean], text: String, x0: Int, y0: Int): Unit = {
    var x = x0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (c == ' ') x += GlyphFont.WordGap - GlyphFont.LetterGap
      else {
        val gl = GlyphFont.glyphs(c)
        var gy = 0
        while (gy < GlyphFont.GlyphH) {
          var gx = 0
          while (gx < GlyphFont.GlyphW) {
            if (gl(gx, gy)) mask((y0 + gy) * LogicalW + x + gx) = true
            gx += 1
          }
          gy += 1
        }
        x += GlyphFont.GlyphW + GlyphFont.LetterGap
      }
      i += 1
    }
  }

  /** Logical-scale boolean ink mask of a page — the drawing layer of
    * [[render]], factored out so generator-owned golden checks (x4/x8
    * media self-verification) can count expected ink pixels from the SAME
    * mask the renderer rasterizes, without touching the rendered bitmap.
    * Pooled per-thread plane: valid until the next inkMask()/render() on
    * this thread (render's own pixel planes use different pool keys, so
    * calling this after decode() does not clobber a still-held Gray). */
  def inkMask(docId: String, page: Int): Array[Boolean] = {
    val crop: Crop = CropConfig.lookup(docId)
    val mask = graft.img.PlanePool.bools("render.mask", LogicalW * LogicalH)
    java.util.Arrays.fill(mask, false)
    // header & footer live strictly inside the crop bands (removed before
    // recognition, like the reference's margin crop joradp_parse.py:143-149)
    drawLine(mask, s"$docId PAGE ${page.toString}", crop.left + BodyXPad, HeaderY)
    drawLine(mask, s"PAGE ${page.toString}", crop.left + BodyXPad,
             LogicalH - FooterYFromBottom)
    val lines = bodyLines(docId, page)
    val layout = layoutFor(docId, page)
    val x0 = crop.left + BodyXPad
    layout.twoCol match {
      case Some((n1, _)) =>
        val g = gutterWFor(docId, page)
        val innerW = LogicalW - crop.left - crop.right - 2 * BodyXPad
        val colW = (innerW - g) / 2
        for ((ln, i) <- lines.zipWithIndex) {
          val col = if (i < n1) 0 else 1
          val yy = crop.top + BodyYPad +
                   (if (col == 0) i else i - n1) * GlyphFont.LinePitch
          drawLine(mask, ln, x0 + col * (colW + g), yy)
        }
      case None =>
        // bodyLines appends cell-digit golden lines on table pages; only
        // the text slots are drawn here (cells drawn in the table loop,
        // figure slots carry the solid Picture block instead of text)
        for ((slot, indent, ln) <- bodySlots(docId, page))
          drawLine(mask, ln, x0 + indent, lineY(docId, page, slot))
        for (f0 <- figureSpec(docId, page)) {
          val fy1 = lineY(docId, page, f0)
          val fy2 = lineY(docId, page, f0 + FigureLines - 1) + GlyphFont.GlyphH
          val fx1 = x0 + 30
          var fy = fy1
          while (fy < fy2) {
            var fx = fx1
            while (fx < fx1 + FigureW) { mask(fy * LogicalW + fx) = true; fx += 1 }
            fy += 1
          }
        }
        // horizontal-rule fixture (`Ligne Horizontale` failure class,
        // FIXTURES.md §3): full-width separator rules in leading gaps on
        // ~1 in 6 non-table single-column pages; the text path must gate
        // them out (graphics filter), goldens unchanged
        for (li <- hruleLines(docId, page)) {
          val ry = lineY(docId, page, li) - 3
          val x1 = crop.left + BodyXPad
          val x2 = LogicalW - crop.right - BodyXPad
          var x = x1
          while (x < x2) { mask(ry * LogicalW + x) = true; x += 1 }
        }
    }
    // ruled table fixture (2 px rule lines; text recognition filters these
    // out by glyph-size gating, table detection picks them up at 2x)
    for (t <- layout.table) {
      var i = 0
      while (i <= t.rows) { // horizontal rules
        val ry = t.y + i * t.ch
        var xx = t.x
        while (xx < t.x + t.w) {
          mask(ry * LogicalW + xx) = true
          mask((ry + 1) * LogicalW + xx) = true
          xx += 1
        }
        i += 1
      }
      var j = 0
      while (j <= t.cols) { // vertical rules
        val rx = t.x + j * t.cw
        var yy = t.y
        while (yy < t.y + t.h) {
          mask(yy * LogicalW + rx) = true
          mask(yy * LogicalW + rx + 1) = true
          yy += 1
        }
        j += 1
      }
      // cell contents: planted digit values (table OCR ground truth)
      for (i <- 0 until t.rows; jj <- 0 until t.cols)
        drawLine(mask, cellValue(docId, page, i, jj).toString,
                 t.x + jj * t.cw + 6, t.y + i * t.ch + 6)
    }
    // margin specks in leading rows: become 1-px components the kernel's
    // noise filter must drop (F9, table_detection.py:205-214 analog)
    val speckRng = new Rng(pageSeed(docId, page) ^ 0xBADC0DEL)
    val nSpecks = speckRng.between(4, 12)
    val speckRows = layout.twoCol match {
      case Some((n1, n2)) => math.min(n1, n2)
      case None => lines.length
    }
    var s = 0
    while (s < nSpecks) {
      val li = speckRng.nextInt(speckRows)
      val sy = crop.top + BodyYPad + li * GlyphFont.LinePitch +
               GlyphFont.GlyphH + 1 + speckRng.nextInt(GlyphFont.Leading - 3)
      val sx = crop.left + BodyXPad + speckRng.nextInt(
        LogicalW - crop.left - crop.right - 2 * BodyXPad)
      mask(sy * LogicalW + sx) = true
      s += 1
    }
    mask
  }

  /** Render the stored (possibly rotated) 2x noisy grayscale page.
    * Uses pooled per-thread planes: the result is valid until the next
    * render() on the same thread (real decoders reuse frame buffers the
    * same way). */
  def render(docId: String, page: Int): Gray = {
    val mask = inkMask(docId, page)
    // upscale 2x with seeded noise: ink in [18,49], background in [215,246]
    // (one PRNG draw yields 8 noise bytes — the render loop is the hot path)
    val noise = new Rng(pageSeed(docId, page) ^ 0x0F0F0F0FL)
    val w2 = LogicalW * Scale
    val h2 = LogicalH * Scale
    val px = graft.img.PlanePool.bytes("render.px", w2 * h2)
    if (Scale == 2 && w2 % 8 == 0) {
      // r6 fast path, BIT-IDENTICAL output: one pixel consumes one noise
      // byte LSB-first exactly as the generic loop below, but the loop
      // draws the long once per 8 pixels, reads each logical mask cell
      // once per 2 stored px, and replaces the /Scale divisions with
      // shifts (row length divisible by 8 keeps draw boundaries exactly
      // where the carried nbits/nleft stream put them).
      var yy = 0
      while (yy < h2) {
        val outBase = yy * w2
        val rowBase = (yy >> 1) * LogicalW
        var xx = 0
        while (xx < w2) {
          val nb = noise.nextLong()
          val m = rowBase + (xx >> 1)
          val o = outBase + xx
          val b0 = if (mask(m)) 18 else 215
          val b1 = if (mask(m + 1)) 18 else 215
          val b2 = if (mask(m + 2)) 18 else 215
          val b3 = if (mask(m + 3)) 18 else 215
          px(o)     = (b0 + (nb & 0x1FL).toInt).toByte
          px(o + 1) = (b0 + ((nb >>> 8) & 0x1FL).toInt).toByte
          px(o + 2) = (b1 + ((nb >>> 16) & 0x1FL).toInt).toByte
          px(o + 3) = (b1 + ((nb >>> 24) & 0x1FL).toInt).toByte
          px(o + 4) = (b2 + ((nb >>> 32) & 0x1FL).toInt).toByte
          px(o + 5) = (b2 + ((nb >>> 40) & 0x1FL).toInt).toByte
          px(o + 6) = (b3 + ((nb >>> 48) & 0x1FL).toInt).toByte
          px(o + 7) = (b3 + ((nb >>> 56) & 0x1FL).toInt).toByte
          xx += 8
        }
        yy += 1
      }
    } else {
      var nbits = 0L
      var nleft = 0
      var yy = 0
      while (yy < h2) {
        var xx = 0
        val rowBase = (yy / Scale) * LogicalW
        while (xx < w2) {
          if (nleft == 0) { nbits = noise.nextLong(); nleft = 8 }
          val n = (nbits & 0x1FL).toInt // [0, 32)
          nbits >>>= 8
          nleft -= 1
          val ink = mask(rowBase + (xx / Scale))
          px(yy * w2 + xx) = (if (ink) 18 + n else 215 + n).toByte
          xx += 1
        }
        yy += 1
      }
    }
    // small-skew fixture: forward shear S(x, y) = O(x, y - dy(x)) at 2x,
    // even displacements (2x the logical-column displacement) so the
    // kernel's box-mean downsample commutes with the shear exactly
    val slope = skewSlope(docId, page)
    val base =
      if (slope == 0) new Gray(w2, h2, px)
      else {
        val out = graft.img.PlanePool.bytes("render.shear", w2 * h2)
        // row-major with a per-column dy table (r6): same formula as the
        // old column-major walk, cache-linear writes
        val dyCol = graft.img.PlanePool.ints("render.sheardy", w2)
        var x = 0
        while (x < w2) {
          dyCol(x) = 2 * graft.img.Deskew.shearDy(x / Scale, LogicalW, slope)
          x += 1
        }
        var y = 0
        while (y < h2) {
          val base = y * w2
          x = 0
          while (x < w2) {
            val sy = y - dyCol(x)
            out(base + x) =
              if (sy >= 0 && sy < h2) px(sy * w2 + x) else 230.toByte
            x += 1
          }
          y += 1
        }
        new Gray(w2, h2, out)
      }
    base.rotateCCW(storedRotation(docId, page),
      graft.img.PlanePool.bytes("render.rot", w2 * h2))
  }

  /** Generator-owned golden for the media self-checks (x4/x8): the STORED
    * frame dimensions of a page, derived from rotation METADATA only —
    * never from the rendered bitmap the operator under test decodes. */
  def expectedStoredDims(docId: String, page: Int): (Int, Int) = {
    val (w2, h2) = (LogicalW * Scale, LogicalH * Scale)
    if (storedRotation(docId, page) % 180 == 0) (w2, h2) else (h2, w2)
  }

  /** Generator-owned golden for the media self-checks (x4/x8): the EXACT
    * ink-pixel count of the stored 2x page, from the drawing mask + shear
    * survival only. Why this equals what an Otsu-thresholded count over
    * the rendered bitmap sees: ink noise lands in [18,49] and background
    * in [215,246], so any threshold between the modes classifies exactly;
    * each logical mask pixel becomes a pure 2x2 stored block (upscale),
    * the shear's even displacement moves both block rows together and
    * clips whole blocks (w2/h2 even, dy2 even — no partial block can
    * straddle the frame edge), and rotation permutes pixels without loss.
    * The same purity argument makes the logical count after the kernel's
    * 2x box-mean downsample exactly this / 4 (x8). */
  def expectedInkPx2x(docId: String, page: Int): Long = {
    val mask = inkMask(docId, page)
    val slope = skewSlope(docId, page)
    val h2 = LogicalH * Scale
    var count = 0L
    var y = 0
    while (y < LogicalH) {
      var x = 0
      while (x < LogicalW) {
        if (mask(y * LogicalW + x)) {
          if (slope == 0) count += 4
          else {
            // stored rows 2y,2y+1 shifted by the even dy2 survive or clip
            // together: 2y+dy2 is even, h2 even, so it can never land on
            // -1 or h2-1
            val dy2 = 2 * graft.img.Deskew.shearDy(x, LogicalW, slope)
            val sy = 2 * y + dy2
            if (sy >= 0 && sy < h2) count += 4
          }
        }
        x += 1
      }
      y += 1
    }
    count
  }

  /** media_ref scheme for the synthetic store. */
  def mediaRef(docId: String, page: Int): String = s"synth://$docId/$page"

  /** Decode a media_ref back to its stored bitmap — the kernel's
    * "fetch + image codec" step (SURVEY §2.1 S4). */
  def decode(ref: String): Gray = ref match {
    case s if s.startsWith("synth://") =>
      val rest = s.stripPrefix("synth://")
      val slash = rest.lastIndexOf('/')
      render(rest.substring(0, slash), rest.substring(slash + 1).toInt)
    case other => throw new IllegalArgumentException(s"unknown media_ref $other")
  }
}
