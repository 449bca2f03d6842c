package graft.core

/** One interleaved span of a document (the BASELINE input_hint shape).
  * kind ∈ {text, media}; `offset` is the 0-based position in the doc and is
  * the total order the pipeline must preserve (reference keeps page order by
  * construction: classes/pdf_parser.py:121-123, result index :154).
  */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** One document = one row of the input table (reference: one PDF,
  * id regex ^F\d{7}$ — test_tables.py:63, classes/joradp_importer.py:22-25).
  */
case class Doc(doc_id: String, spans: Seq[Span])

/** Axis-aligned box, inclusive-exclusive: pixels x in [x1,x2), y in [y1,y2).
  * Mirrors the reference's [x1,y1,x2,y2] convention
  * (classes/ocr_processor.py:297-308).
  */
case class BBox(x1: Int, y1: Int, x2: Int, y2: Int) {
  def w: Int = x2 - x1
  def h: Int = y2 - y1
  def area: Long = math.max(0, w).toLong * math.max(0, h).toLong
  def cx: Int = (x1 + x2) / 2
  def cy: Int = (y1 + y2) / 2

  /** Full containment of `o` in this (the J2 predicate,
    * classes/image_builder.py:228-231). */
  def contains(o: BBox): Boolean =
    x1 <= o.x1 && y1 <= o.y1 && x2 >= o.x2 && y2 >= o.y2

  def intersect(o: BBox): BBox =
    BBox(math.max(x1, o.x1), math.max(y1, o.y1),
         math.min(x2, o.x2), math.min(y2, o.y2))

  def intersectionArea(o: BBox): Long = {
    val i = intersect(o)
    if (i.w <= 0 || i.h <= 0) 0L else i.area
  }

  /** Intersection-over-union (test_tables.py:113-125). */
  def iou(o: BBox): Double = {
    val inter = intersectionArea(o)
    val union = area + o.area - inter
    if (union <= 0) 0.0 else inter.toDouble / union.toDouble
  }

  def union(o: BBox): BBox =
    BBox(math.min(x1, o.x1), math.min(y1, o.y1),
         math.max(x2, o.x2), math.max(y2, o.y2))
}

/** A recognized text line (reference TextLine: ocr_processor.py:104-114). */
case class TextLine(bbox: BBox, text: String, confidence: Double)

/** A layout region (reference LayoutBox: ocr_processor.py:78-97). `label`
  * uses the reference's taxonomy (SectionHeader, Text, PageHeader,
  * PageFooter, Table, ListItem, ...); `topK` is the label→score map the
  * reference attaches to every region (live sample
  * results/surya/capture/results.json `top_k`). */
case class LayoutBox(bbox: BBox, label: String, position: Int,
                     confidence: Double,
                     topK: Map[String, Double] = Map.empty)

/** Crop margins in pixels (classes/pdf_parser.py:61-80). */
case class Crop(top: Int, left: Int, right: Int, bottom: Int)
