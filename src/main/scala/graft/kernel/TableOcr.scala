package graft.kernel

import graft.core.BBox
import graft.img.{Bin, Gray, Otsu, PlanePool}

/** Table OCR — the structured-table pass: recognize the text inside each
  * detected cell and assemble the row grid (the reference's apply_ocr,
  * TATR notebook cell 49; A7 in SURVEY §2.5: rows grouped, columns sorted,
  * `max_num_columns` across rows, shorter rows padded with ""). Cell boxes
  * arrive in the 2x stored coordinate space (where detection runs);
  * recognition happens on the logical plane.
  */
object TableOcr {

  /** Gap (logical px) above which two cells are in different rows. */
  val RowGap = 6

  /** Recognize the text of one detected cell (2x coords) on the binarized
    * logical page. The 1px hole expansion captured rule-line slivers; the
    * glyph-size graphics gate in segmentAndClassify drops them. */
  private def cellTextOn(bin: Bin, cell2x: BBox): String = {
    val b = BBox(
      math.max(0, cell2x.x1 / 2), math.max(0, cell2x.y1 / 2),
      math.min(bin.w, (cell2x.x2 + 1) / 2), math.min(bin.h, (cell2x.y2 + 1) / 2))
    if (b.w <= 0 || b.h <= 0) return ""
    Recognize.segmentAndClassify(bin.crop(b)).text.replace('\n', ' ')
  }

  /** Full structured pass: detected cells → row-grouped, column-sorted,
    * ""-padded grid of recognized texts (apply_ocr semantics). */
  def extractGrid(stored: Gray, cells2x: Seq[BBox]): Vector[Vector[String]] = {
    val n = stored.px.length / (Recognize.PageScale * Recognize.PageScale)
    val logical = stored.downsample(Recognize.PageScale,
      PlanePool.bytes("tocr.ds", n))
    val bin = Otsu.binarizeInv(logical, PlanePool.bools("tocr.bin", n))
    // recognize first, then drop empty artifact cells: the reference's
    // border-line injection (detect_table_cells :540-543) leaves thin
    // sliver cells between injected and real border rules
    val texts = cells2x.map(c => c -> cellTextOn(bin, c)).filter(_._2.nonEmpty)
    val rows = Clustering.cluster(texts, RowGap * 2)(_._1.y1) // 2x space
    val grid = rows.map(row => row.sortBy(_._1.x1).map(_._2).toVector)
    padRows(grid)
  }

  /** max_num_columns + right-pad shorter rows with "" (A7). */
  def padRows(grid: Vector[Vector[String]]): Vector[Vector[String]] = {
    if (grid.isEmpty) return grid
    val maxCols = grid.map(_.size).max
    grid.map(r => r ++ Vector.fill(maxCols - r.size)(""))
  }
}
