package graft.kernel

import graft.core.{BBox, Crop, TextLine}
import graft.img.{Bin, Comp, ConnectedComponents, Gray, Otsu}
import scala.collection.mutable.ArrayBuffer

/** The Spark-native recognition kernel (north_star): Otsu binarization →
  * orientation detection + deskew → margin crop → connected-component
  * line/word segmentation → glyph classification. Replaces the reference's
  * Surya RecognitionPredictor + tesseract OSD
  * (classes/ocr_processor.py:102-119, :268-295) with a deterministic
  * classical pipeline. All integer arithmetic — bit-stable across JVMs and
  * partition counts (SURVEY §7.5).
  */
object Recognize {

  /** Minimum component size: anything smaller is scanner noise and dropped
    * (F9 — small-contour filtering, table_detection.py:205-214). */
  val MinCompArea = 3
  /** Blank-column gap at or above which two glyph groups are separate words
    * (renderer word gap is 4 logical px; worst intra-word tight gap is 3). */
  val WordGapMin = 4
  /** Gap at or above which a y-cluster splits into separate text lines —
    * the column gutter (>= 12 px after glyph padding) vs the widest word
    * gap (<= 6 px). Gives per-column line boxes like the reference's
    * recognizer emits. */
  val LineSplitGap = 10
  /** Row gap above which components belong to different text lines
    * (line leading is 5 logical px). */
  val LineGap = 4

  /** confHist: fixed 10-bucket glyph-confidence histogram
    * ([0.0,0.1) .. [0.9,1.0]) — accumulated inline, never a boxed
    * per-glyph collection. `text` is the layout-ordered page text
    * (columns in reading order via LayoutSegment + MatchMaking). */
  final case class PageResult(lines: Vector[TextLine], confHist: Array[Long],
                              text: String) {
    def glyphCount: Long = confHist.sum
  }

  /** Shared decode preamble (T1/T11/T4/T5 + deskew): stored 2x grayscale →
    * binarized, deskewed, upright logical plane. Small-angle deskew runs
    * BEFORE orientation scoring on portrait pages (the shear lives in the
    * page frame and degrades glyph-template hits) and AFTER the 90/270
    * rotation on landscape pages. One implementation for both the span
    * path (recognizeStored) and full-page layout (segmentPageFull) — the
    * deskew-ordering policy and pool choreography must never diverge. */
  private def uprightBin(stored: Gray): Bin = {
    import graft.img.PlanePool
    val n = stored.px.length / (PageScale * PageScale)
    val logical = stored.downsample(PageScale,
      PlanePool.bytes("k.ds", n)) // resize-to-height analog (T1)
    val bin = Otsu.binarizeInv(logical, PlanePool.bools("k.bin", n)) // T11
    val pre =
      if (bin.w < bin.h) graft.img.Deskew.unshear(bin, PlanePool.bools("k.deskew", n))
      else bin
    val angle = detectOrientation(pre)           // T4 (classical OSD)
    val upright0 = rotate(pre, angle, PlanePool.bools("k.upright", n)) // T5
    if (bin.w < bin.h) upright0
    else graft.img.Deskew.unshear(upright0, PlanePool.bools("k.deskew", n))
  }

  /** Orientation-correct a stored 2x gray page (the selective table pass
    * works on gray planes whose work-list boxes live in the UPRIGHT
    * frame): detect the angle on the binarized logical plane, rotate the
    * gray plane by it. Keeps the reference's 180 no-op quirk. */
  def uprightGray(stored: Gray): Gray = {
    import graft.img.PlanePool
    val n = stored.px.length / (PageScale * PageScale)
    val logical = stored.downsample(PageScale, PlanePool.bytes("k.ug.ds", n))
    val bin = Otsu.binarizeInv(logical, PlanePool.bools("k.ug.bin", n))
    appliedRotation(detectOrientation(bin)) match {
      case 0 => stored
      case a =>
        stored.rotateCCW(a, PlanePool.bytes("k.ug.rot", stored.px.length))
    }
  }

  /** Full media-span path: stored (possibly rotated) 2x grayscale in,
    * recognized text out. */
  def recognizeStored(stored: Gray, crop: Crop): PageResult = {
    import graft.img.PlanePool
    val upright = uprightBin(stored)
    val body = upright.crop(
      BBox(crop.left, crop.top,
           upright.w - crop.right, upright.h - crop.bottom),
      PlanePool.bools("k.body",
        (upright.w - crop.left - crop.right) *
        (upright.h - crop.top - crop.bottom)))
    val pr = segmentAndClassify(body)
    // T7 layout segmentation + J2/J3 matching: columns in reading order,
    // lines (y,x)-sorted within each block, unmatched "rest" appended
    // (pdf_parser.py:147-154 per-page flow)
    val layouts = LayoutSegment.segment(pr.lines, body.w, body.h)
    val mm = MatchMaking.matchTextsToLayouts(layouts, pr.lines, margin = 10)
    val ordered =
      mm.matched.sortBy(_.position).flatMap(_.texts) ++ mm.rest
    pr.copy(text = ordered.map(_.text).mkString("\n"))
  }

  /** Render scale of the synthetic corpus (pages arrive at 2x). */
  val PageScale = 2

  /** A `Caption` is a thin (single-line) block starting within this many
    * px below a Picture's bottom edge. */
  val CaptionGapMax = 16

  /** Full-page layout inference (T7 with the complete reference taxonomy,
    * ocr_processor.py:78-97): like recognizeStored but WITHOUT the margin
    * crop, so the header/footer bands stay visible and are labeled
    * `PageHeader`/`PageFooter` via the crop-config y-bands (the
    * reference's crop table is exactly the statement of where those bands
    * live, joradp_parse.py:13-82). Returns (labeled boxes in upright page
    * coordinates in reading order: PageHeader, body blocks, PageFooter;
    * all recognized lines). */
  def segmentPageFull(stored: Gray, crop: Crop): (Vector[graft.core.LayoutBox], Vector[TextLine]) = {
    import graft.core.LayoutBox
    val upright = uprightBin(stored)
    val pr = segmentAndClassify(upright)
    val footerStart = upright.h - crop.bottom
    val (header, rest0) = pr.lines.partition(_.bbox.y2 <= crop.top)
    val (footer, body) = rest0.partition(_.bbox.y1 >= footerStart)
    val bodyBlocks = LayoutSegment.segment(body, upright.w, upright.h)
    // Picture regions: large SOLID components (fill >= 1/2 of their box —
    // a ruled table grid is hollow and a separator rule is thin, so
    // neither qualifies); the text path already gated these out via the
    // glyph-size filter
    val pictures = graft.img.ConnectedComponents.label(upright)
      .filter(c => c.bbox.w >= 30 && c.bbox.h >= 15 &&
                   c.area.toLong * 2 >= c.bbox.area)
      .map(_.bbox).sortBy(b => (b.y1, b.x1)).toVector
    // caption relabel: a thin block starting right under a picture
    val relabeled = bodyBlocks.map { b =>
      val isCaption = b.bbox.h <= GlyphFont.GlyphH + 3 &&
        pictures.exists(p => b.bbox.y1 >= p.y2 &&
                             b.bbox.y1 - p.y2 <= CaptionGapMax &&
                             b.bbox.x1 <= p.x2 && b.bbox.x2 >= p.x1)
      if (isCaption)
        b.copy(label = "Caption", confidence = 0.9,
               topK = Map("Caption" -> 0.9, "Text" -> 0.1))
      else b
    }
    // pictures only occur on single-column fixture pages whose body
    // blocks are already y-ordered, so a (y, x) merge preserves reading
    // order; with no pictures the column-aware block order is kept as-is
    val bodyAll: Vector[LayoutBox] =
      if (pictures.isEmpty) relabeled
      else (relabeled ++ pictures.map(p =>
              LayoutBox(p, "Picture", 0, 1.0, Map("Picture" -> 1.0))))
             .sortBy(b => (b.bbox.y1, b.bbox.x1))
    def band(ls: Seq[TextLine], label: String, pos: Int): LayoutBox =
      LayoutBox(ls.map(_.bbox).reduce(_.union(_)), label, pos, 1.0,
                Map(label -> 1.0))
    val out = Vector.newBuilder[LayoutBox]
    var pos = 0
    if (header.nonEmpty) { out += band(header, "PageHeader", pos); pos += 1 }
    for (b <- bodyAll) { out += b.copy(position = pos); pos += 1 }
    if (footer.nonEmpty) { out += band(footer, "PageFooter", pos); pos += 1 }
    (out.result(), pr.lines)
  }

  /** Rotate by 0/90/270 only; a 180 request warns and returns the input
    * unrotated (see [[appliedRotation]]). */
  def rotate(b: Bin, deg: Int, out: Array[Boolean] = null): Bin =
    b.rotateCCW(appliedRotation(deg), out)

  /** The rotation actually applied for a requested angle: 0/90/270 as
    * asked, while a 180 request warns and applies none — the reference's
    * intentional quirk (pdf_parser.py:413-435, observed live on F2024007:
    * "Wrong rotation asked for 180"). Any other angle is rejected. */
  private def appliedRotation(deg: Int): Int = deg match {
    case 0 | 90 | 270 => deg
    case 180 =>
      System.err.println(s" Wrong rotation asked for 180")
      0
    case d => throw new IllegalArgumentException(s"rotation $d")
  }

  /** Exact-hit RATIO at or above which the first candidate orientation is
    * accepted without scoring the alternative. A ratio, not a count:
    * upside-down dense text still exact-matches its 180-symmetric glyphs
    * (H I N O S X Z 0 8), but only a minority fraction; a correctly
    * oriented page matches ~all glyphs. */
  val OrientEarlyAcceptRatio = 0.85
  val OrientMinGlyphs = 10
  /** Rows of the candidate-oriented page scored for orientation. */
  val OrientStrip = 120

  /** Orientation detection — classical stand-in for tesseract OSD
    * (ocr_processor.py:268-295). Aspect ratio narrows candidates (synthetic
    * pages are portrait), then the candidate whose first text lines yield
    * the most exact glyph-template hits wins. May return 180, which
    * rotate() deliberately ignores. */
  def detectOrientation(bin: Bin): Int = {
    val candidates = if (bin.w < bin.h) Seq(0, 180) else Seq(90, 270)
    var best = candidates.head
    var bestScore = -1.0
    var i = 0
    var earlyAccepted = false
    while (i < candidates.length && !earlyAccepted) {
      val c = candidates(i)
      val cand =
        if (c == 0) bin
        else bin.rotateCCW(c,
          graft.img.PlanePool.bools("k.orient", bin.b.length))
      val (hits, total) = glyphHitScore(cand)
      val score = if (total == 0) 0.0 else hits.toDouble / total
      if (score > bestScore) { bestScore = score; best = c }
      if (total >= OrientMinGlyphs && score >= OrientEarlyAcceptRatio)
        earlyAccepted = true
      i += 1
    }
    best
  }

  /** (exact template hits, glyphs seen) over the first two segmented lines
    * of the top strip (cheap: never labels the full page). */
  private def glyphHitScore(b: Bin): (Int, Int) = {
    val stripH = math.min(b.h, OrientStrip)
    val strip = b.crop(BBox(0, 0, b.w, stripH),
      graft.img.PlanePool.bools("k.orientstrip", b.w * stripH))
    val comps = filteredComps(strip)
    val lines = Clustering.cluster(comps, LineGap)(_.bbox.y1).take(2)
    var hits = 0
    var total = 0
    for (line <- lines; comp <- line.sortBy(_.bbox.x1)) {
      total += 1
      if (GlyphFont.classifyAt(strip, comp.bbox)._2 == 1.0) hits += 1
    }
    (hits, total)
  }

  /** Components larger than any glyph cell are graphics (table rules,
    * separators) — excluded from the TEXT path, exactly as the reference
    * routes Table regions away from text OCR via layout labels. */
  val MaxGlyphW: Int = GlyphFont.GlyphW + 3
  val MaxGlyphH: Int = GlyphFont.GlyphH + 2

  private def filteredComps(b: Bin): IndexedSeq[Comp] =
    ConnectedComponents.label(b).filter(c =>
      c.area >= MinCompArea &&
      c.bbox.w <= MaxGlyphW && c.bbox.h <= MaxGlyphH)

  /** The text path's components: [[filteredComps]], except that a
    * glyph-height component too wide for one glyph is split
    * ([[splitBridged]]) instead of dropped. */
  private def glyphComps(b: Bin): IndexedSeq[Comp] =
    ConnectedComponents.label(b).flatMap { c =>
      if (c.area < MinCompArea || c.bbox.h > MaxGlyphH) Nil
      else if (c.bbox.w <= MaxGlyphW) c :: Nil
      else splitBridged(b, c)
    }

  /** A 1-px margin speck in the 1-px letter gap bridges two glyphs into
    * one component (two digits become one 11-px-wide blob). Cut it at the
    * interior column holding at most one ink pixel nearest its middle,
    * provided both sides are glyph-sized; anything else (rules, rules
    * touching glyphs) stays graphics and is dropped. */
  private def splitBridged(b: Bin, c: Comp): Seq[Comp] = {
    val bb = c.bbox
    // a side is never taller than its component, so a thin one (a rule or
    // an underline) has no glyph-sized side: skip the O(w²·h) search
    if (bb.h < GlyphFont.GlyphH - 2) return Nil
    def ink(x: Int): Int = (bb.y1 until bb.y2).count(y => b(x, y))
    // tight box and ink count of one side, if glyph-sized
    def side(x1: Int, x2: Int): Option[Comp] = {
      var minX = x2; var maxX = -1; var minY = bb.y2; var maxY = -1; var n = 0
      for (y <- bb.y1 until bb.y2; x <- x1 until x2 if b(x, y)) {
        minX = math.min(minX, x); maxX = math.max(maxX, x)
        minY = math.min(minY, y); maxY = math.max(maxY, y); n += 1
      }
      val sb = BBox(minX, minY, maxX + 1, maxY + 1)
      if (n >= MinCompArea && sb.w <= MaxGlyphW && sb.h >= GlyphFont.GlyphH - 2)
        Some(Comp(sb, n))
      else None
    }
    (bb.x1 + 1 until bb.x2 - 1).filter(ink(_) <= 1)
      .sortBy(x => math.abs(2 * x + 1 - bb.x1 - bb.x2))
      .iterator
      .map(x => (side(bb.x1, x), side(x + 1, bb.x2)))
      .collectFirst { case (Some(l), Some(r)) => Seq(l, r) }
      .getOrElse(Nil)
  }

  /** CC line/word segmentation + glyph classification over a cropped,
    * upright binary body. */
  def segmentAndClassify(body: Bin): PageResult = {
    val comps = glyphComps(body)
    val lineClusters = Clustering.cluster(comps, LineGap)(_.bbox.y1)
    val lines = new ArrayBuffer[TextLine]
    val hist = new Array[Long](10)
    for (cluster <- lineClusters) {
      val glyphs = groupGlyphs(cluster.sortBy(c => (c.bbox.x1, c.bbox.y1)))
      var sb = new StringBuilder
      var lineConfSumE6 = 0L
      var n = 0
      var prev: BBox = null
      var lineBox: BBox = null
      def flush(): Unit = {
        if (n > 0)
          lines += TextLine(lineBox, sb.toString, lineConfSumE6.toDouble / n / 1e6)
        sb = new StringBuilder
        lineConfSumE6 = 0L
        n = 0
        lineBox = null
      }
      for (gb <- glyphs) {
        if (prev != null && gb.x1 - prev.x2 >= LineSplitGap) flush()
        else if (prev != null && gb.x1 - prev.x2 >= WordGapMin) sb.append(' ')
        val packed = GlyphFont.classifyAtPacked(body, gb)
        sb.append((packed & 0xFFFF).toChar)
        val confE6 = packed >>> 16
        hist(math.min(9L, confE6 / 100000L).toInt) += 1
        lineConfSumE6 += confE6
        n += 1
        prev = gb
        lineBox = if (lineBox == null) gb else lineBox.union(gb)
      }
      flush()
    }
    // reading-order sort (O1, image_builder.py:239-243): by (y, x)
    val sorted = lines.sortBy(l => (l.bbox.y1, l.bbox.x1)).toVector
    PageResult(sorted, hist, sorted.map(_.text).mkString("\n"))
  }

  /** Merge x-overlapping/touching components into glyph cells; every gap of
    * >= 1 blank column separates glyphs (renderer letter gap = 1). */
  private def groupGlyphs(sorted: Seq[Comp]): Vector[BBox] = {
    val out = Vector.newBuilder[BBox]
    var cur: BBox = null
    for (c <- sorted) {
      if (cur == null) cur = c.bbox
      else if (c.bbox.x1 <= cur.x2 - 1) cur = cur.union(c.bbox) // overlap/touch
      else { out += cur; cur = c.bbox }
    }
    if (cur != null) out += cur
    out.result()
  }
}
