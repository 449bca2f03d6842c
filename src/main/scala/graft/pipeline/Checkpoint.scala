package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Lineage table (north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics"). Layout:
  *
  *   <ckptDir>/lineage/run=<runId>/  (snapshot_id, part_id, doc_count, span_count,
  *                                    media_span_count, text_span_count,
  *                                    conf_histogram: array<long>[10], completed_at)
  *
  * There is no separate record of done docs: a doc is done for snapshot S
  * when it sits in a committed (`_SUCCESS`) output dir `run=<S>_<nonce>`,
  * and resume is a left-anti join of the input on those dirs' doc_id
  * column (ExtractJob.run) — strictly better than the reference's
  * max-filename watermark (joradp_parse.py:101-114), which can skip
  * unprocessed smaller names.
  *
  * Lineage is written per run into a `run=<runId>` subdirectory with
  * Overwrite semantics, which makes [[append]] IDEMPOTENT per run: a
  * crash inside it leaves a state that a re-append for the same runId
  * repairs exactly. The lineage subdir's `_SUCCESS` marker is the run's
  * commit point ([[isRecorded]]); ExtractJob's startup reconcile
  * re-appends any committed output run the marker is missing for.
  */
object Checkpoint {

  private def exists(spark: SparkSession, pathStr: String): Boolean = {
    val p = new Path(pathStr)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Done-doc total for the snapshot, summed from the LINEAGE table — the
    * per-partition metadata rows, 3-4 orders of magnitude smaller than the
    * one-row-per-doc output (which at 100 TB must never be scanned for a
    * log line). It cannot go stale: [[append]]'s per-run Overwrite keeps
    * re-appended (reconciled) runs counted exactly once. The read is given
    * its schema (no inference job) and each task sums its own rows, so the
    * total takes one job and no shuffle. */
  def doneTotal(spark: SparkSession, ckptDir: String, snapshotId: String): Long = {
    import spark.implicits._
    val p = s"$ckptDir/lineage"
    if (!exists(spark, p)) 0L
    else
      spark.read.schema("snapshot_id STRING, doc_count BIGINT").parquet(p)
        .filter(col("snapshot_id") === snapshotId)
        .select(col("doc_count")).as[Long]
        .mapPartitions(it => Iterator(it.sum)).collect().sum
  }

  /** True iff [[append]] for this run committed: its lineage `_SUCCESS`
    * marker exists. */
  def isRecorded(spark: SparkSession, ckptDir: String, runId: String): Boolean =
    exists(spark, s"$ckptDir/lineage/run=$runId/_SUCCESS")

  /** Record a run's written OutRows as lineage, idempotently: the table
    * gets a `run=<runId>` subdirectory written with Overwrite, so calling
    * this again for the same run (the crash-recovery path) repairs rather
    * than duplicates. The scan is column-pruned: only the small metadata
    * columns are read, never the span payloads. Returns the docs completed
    * this run — observed on the lineage write itself, so callers need no
    * extra count job over the run's files. */
  def append(spark: SparkSession, ckptDir: String, snapshotId: String,
             runId: String, written: DataFrame): Long = {
    val ts = System.currentTimeMillis()
    val obs = new org.apache.spark.sql.Observation()
    written.groupBy(col("part_id"))
      .agg(
        count(lit(1)).as("doc_count"),
        sum(col("span_count")).as("span_count"),
        sum(col("media_span_count")).as("media_span_count"),
        sum(col("text_span_count")).as("text_span_count"),
        aggregate(
          collect_list(col("conf_hist")),
          array_repeat(lit(0L), 10),
          (acc, x) => zip_with(acc, x, (a, b) => a + b)
        ).as("conf_histogram"))
      .select(
        lit(snapshotId).as("snapshot_id"),
        col("part_id"),
        col("doc_count"), col("span_count"),
        col("media_span_count"), col("text_span_count"),
        col("conf_histogram"),
        lit(ts).as("completed_at"))
      // observed above the aggregation: below it, AQE drops the metrics
      // of an empty run once it replaces the empty shuffle stage
      .observe(obs, coalesce(sum(col("doc_count")), lit(0L)).as("docs"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$ckptDir/lineage/run=$runId")
    obs.get("docs").asInstanceOf[Long]
  }

  def lineage(spark: SparkSession, ckptDir: String): DataFrame =
    spark.read.parquet(s"$ckptDir/lineage")
}
