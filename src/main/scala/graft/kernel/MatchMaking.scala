package graft.kernel

import graft.core.{BBox, LayoutBox, TextLine}

/** The core extraction join — exact port of
  * classes/image_builder.py:199-274 (J2 containment join + J3 anti-join +
  * O1 reading-order sort, SURVEY §2.4):
  *  - each layout bbox is expanded by `margin` (NOT clamped, :217-222);
  *  - a text line matches a layout if fully contained (:228-231);
  *  - a text line may match multiple layouts; the matched-index set only
  *    drives the unmatched "rest" (:212, :237, :257);
  *  - texts within a layout in reading order (:239-243), layouts emitted
  *    only if non-empty (:246);
  *  - rest = texts matched by no layout, in reading order (:255-269).
  *
  * One deviation: reading order is rows by y, then x within a row, where a
  * row is a run of lines whose `y1` lie within [[RowBand]] px of each
  * other. The reference sorts by exact (y, x) and repairs the resulting
  * y-jitter afterwards with its banded re-order pass
  * (textheight-median.py:204-222, band = 0.3 x mean line height, ~2 px
  * for this font; ported as `pipeline.BandReorder`). Banding here keeps
  * a cell box lifted 1 px by a touching speck from jumping ahead of its
  * left-hand neighbour in a table row.
  */
object MatchMaking {

  final case class Matched(layoutBBox: BBox, label: String, position: Int,
                           texts: Vector[TextLine],
                           topK: Map[String, Double] = Map.empty)
  final case class Result(matched: Vector[Matched], rest: Vector[TextLine])

  def matchTextsToLayouts(layouts: Seq[LayoutBox], texts: Seq[TextLine],
                          margin: Int = 10): Result = {
    val matchedIdx = scala.collection.mutable.Set[Int]()
    val matched = Vector.newBuilder[Matched]
    for (layout <- layouts) {
      val lb = BBox(layout.bbox.x1 - margin, layout.bbox.y1 - margin,
                    layout.bbox.x2 + margin, layout.bbox.y2 + margin)
      val inLayout = Vector.newBuilder[TextLine]
      for ((t, i) <- texts.zipWithIndex) {
        if (lb.x1 <= t.bbox.x1 && lb.y1 <= t.bbox.y1 &&
            lb.x2 >= t.bbox.x2 && lb.y2 >= t.bbox.y2) {
          inLayout += t
          matchedIdx += i
        }
      }
      val sorted = readingOrder(inLayout.result())
      if (sorted.nonEmpty)
        matched += Matched(lb, layout.label, layout.position, sorted,
                           layout.topK)
    }
    val rest = readingOrder(texts.zipWithIndex
      .collect { case (t, i) if !matchedIdx(i) => t })
    Result(matched.result(), rest)
  }

  /** Max `y1` step between consecutive lines of one row. */
  val RowBand = 2

  private def readingOrder(ts: Seq[TextLine]): Vector[TextLine] =
    Clustering.cluster(ts, RowBand)(_.bbox.y1)
      .flatMap(_.sortBy(t => (t.bbox.x1, t.bbox.y1)))
}
