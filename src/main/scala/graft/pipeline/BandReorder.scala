package graft.pipeline

import graft.core.Doc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A6 as a *pipeline op* — the reference's page-level banded re-order
  * correction pass (textheight-median.py:204-222): read the extraction
  * results, compute the mean region height per page (the file name says
  * median; the code computes MEAN — kept), band key
  * `round(y / tol) * tol` with `tol = 0.3 * mean_height`, re-sort the
  * page's regions by (band, x) and rewrite. Fixes reading order on wide
  * blocks whose y-coordinates jitter within a visual line.
  *
  * Everything is integer arithmetic (floor-mean, integer rounding), so
  * the pass is bit-stable across engines and partitionings. Shuffle
  * shape: one partial-aggregated groupBy + one window, both keyed
  * (doc_id, page) — no skew (pages hold tens of regions).
  */
object BandReorder {

  /** Per-page matched-region table for a corpus snapshot — the region
    * rows the reference's correction passes read back from its result
    * JSONs (bbox_layout + text per matched region,
    * image_builder.py:246-253). Logical-page coordinates. */
  def regions(spark: SparkSession, input: Dataset[Doc],
              cfg: ExtractJob.Config = ExtractJob.Config()): DataFrame = {
    import spark.implicits._
    val store = cfg.store
    ExtractJob.mediaPages(spark, input).as[(String, Int, String)].mapPartitions { it =>
      it.flatMap { case (docId, pn, ref) =>
        val crop = graft.kernel.CropConfig.lookup(docId)
        val (layouts, lines) = graft.kernel.Recognize.segmentPageFull(
          store.decode(ref), crop)
        val mm = graft.kernel.MatchMaking.matchTextsToLayouts(layouts, lines)
        mm.matched.map { m =>
          (docId, pn, m.position, m.label,
           m.layoutBBox.x1, m.layoutBBox.y1, m.layoutBBox.x2, m.layoutBBox.y2,
           m.texts.map(_.text).mkString("\n"))
        }
      }
    }.toDF("doc_id", "page", "position", "label",
           "x1", "y1", "x2", "y2", "text")
  }

  /** The correction pass: recompute `position` as the (band, x) rank.
    * Input must have columns (doc_id, page, position, x1, y1, y2); all
    * other columns pass through. */
  def reorder(regionsDf: DataFrame): DataFrame = {
    val stats = regionsDf.groupBy(col("doc_id"), col("page"))
      .agg(floor(avg(col("y2") - col("y1"))).cast("long").as("avg_h"))
    val w = Window.partitionBy(col("doc_id"), col("page"))
      .orderBy(col("band"), col("x1"), col("y1"), col("position"))
    regionsDf
      .join(stats, Seq("doc_id", "page"))
      .withColumn("tol", greatest(lit(1L), expr("(avg_h * 3) div 10")))
      // round(y/tol)*tol in integer form (textheight-median.py:210)
      .withColumn("band", expr("((y1 + tol div 2) div tol) * tol"))
      .withColumn("position", row_number().over(w) - 1)
      .drop("avg_h", "tol", "band")
  }
}
