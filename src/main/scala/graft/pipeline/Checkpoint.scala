package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

/** Lineage counts of one output partition — or of one doc, as it is added.
  * The field names are the lineage table's columns. */
final case class PartStats(
    part_id: Int,
    doc_count: Long,
    span_count: Long,
    media_span_count: Long,
    text_span_count: Long,
    conf_histogram: Seq[Long]) {
  def +(o: PartStats): PartStats =
    PartStats(part_id, doc_count + o.doc_count, span_count + o.span_count,
      media_span_count + o.media_span_count, text_span_count + o.text_span_count,
      conf_histogram.lazyZip(o.conf_histogram).map(_ + _))
}

/** part_id → summed [[PartStats]]. Added to only in a job's result stage
  * (the output write's reassembly, or the repair scan's `foreach`), where
  * Spark applies each partition's update once even if a task is retried;
  * a shuffle-map stage would apply a recomputed task's update twice. */
final class LineageStats extends AccumulatorV2[PartStats, Map[Int, PartStats]] {
  private var parts = Map.empty[Int, PartStats]
  def isZero: Boolean = parts.isEmpty
  def copy(): LineageStats = { val c = new LineageStats; c.parts = parts; c }
  def reset(): Unit = parts = Map.empty
  def add(s: PartStats): Unit =
    parts = parts.updated(s.part_id, parts.get(s.part_id).fold(s)(_ + s))
  def merge(o: AccumulatorV2[PartStats, Map[Int, PartStats]]): Unit =
    o.value.valuesIterator.foreach(add)
  def value: Map[Int, PartStats] = parts
  def docs: Long = parts.valuesIterator.map(_.doc_count).sum
}

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
  * A run's rows come from a [[LineageStats]] accumulator filled by the
  * output write itself; the driver writes them as one parquet file with
  * [[write]], which replaces the run's subdirectory, so a re-write for the
  * same runId repairs a crash inside it exactly. The subdir's `_SUCCESS`
  * marker is the run's commit point ([[isRecorded]]); ExtractJob's startup
  * reconcile rebuilds the rows of any committed output run the marker is
  * missing for from a scan of its files ([[append]]).
  */
object Checkpoint {

  private def exists(spark: SparkSession, pathStr: String): Boolean = {
    val p = new Path(pathStr)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Done-doc total for the snapshot, summed from the LINEAGE table — the
    * per-partition metadata rows, 3-4 orders of magnitude smaller than the
    * one-row-per-doc output. It cannot go stale: [[write]] replaces a
    * re-written (reconciled) run's rows, so each run is counted once. The
    * read is given its schema (no inference job) and each task sums its
    * own rows, so the total takes one job and no shuffle. */
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

  /** True iff [[write]] for this run committed: its lineage `_SUCCESS`
    * marker exists. */
  def isRecorded(spark: SparkSession, ckptDir: String, runId: String): Boolean =
    exists(spark, s"$ckptDir/lineage/run=$runId/_SUCCESS")

  /** The lineage file's parquet schema — the one Spark's writer gave the
    * table before the driver wrote it, so old and new runs read as one. */
  private val FileSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required binary snapshot_id (STRING);
      |  optional int32 part_id;
      |  required int64 doc_count;
      |  optional int64 span_count;
      |  optional int64 media_span_count;
      |  optional int64 text_span_count;
      |  optional group conf_histogram (LIST) {
      |    repeated group list { required int64 element; }
      |  }
      |  required int64 completed_at;
      |}""".stripMargin)

  /** Record a run's lineage: the driver writes `parts` as one parquet
    * file under a hidden name (no reader lists it), renames it into
    * place, then creates `_SUCCESS` — the commit point. Any earlier
    * attempt's subdirectory for the run is removed first, so calling this
    * again for the same run repairs rather than duplicates. */
  def write(spark: SparkSession, ckptDir: String, snapshotId: String,
            runId: String, parts: Iterable[PartStats]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(s"$ckptDir/lineage/run=$runId")
    val fs = dir.getFileSystem(conf)
    fs.delete(dir, true)
    val hidden = new Path(dir, ".part-00000.parquet")
    val ts = System.currentTimeMillis()
    val rows = new SimpleGroupFactory(FileSchema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(hidden, conf))
      .withConf(conf).withType(FileSchema).build()
    try parts.toSeq.sortBy(_.part_id).foreach { s =>
      val g = rows.newGroup()
        .append("snapshot_id", snapshotId).append("part_id", s.part_id)
        .append("doc_count", s.doc_count).append("span_count", s.span_count)
        .append("media_span_count", s.media_span_count)
        .append("text_span_count", s.text_span_count)
      val hist = g.addGroup("conf_histogram")
      s.conf_histogram.foreach(h => hist.addGroup("list").append("element", h))
      w.write(g.append("completed_at", ts))
    } finally w.close()
    if (!fs.rename(hidden, new Path(dir, "part-00000.parquet")))
      throw new java.io.IOException(s"could not rename $hidden into place")
    fs.create(new Path(dir, "_SUCCESS")).close()
  }

  /** The repair path: rebuild a committed output run's lineage from a
    * column-pruned scan of its files — only the per-doc metadata columns,
    * never the span payloads — and [[write]] it. The scan feeds the same
    * [[LineageStats]] as the output write, in a `foreach` (a result stage),
    * so each task aggregates its own rows and there is no shuffle. Returns
    * the run's doc count. */
  def append(spark: SparkSession, ckptDir: String, snapshotId: String,
             runId: String, written: DataFrame): Long = {
    import spark.implicits._
    val stats = new LineageStats
    spark.sparkContext.register(stats)
    written.select(col("part_id"), lit(1L).as("doc_count"), col("span_count"),
        col("media_span_count"), col("text_span_count"),
        col("conf_hist").as("conf_histogram"))
      .as[PartStats].foreach((s: PartStats) => stats.add(s))
    write(spark, ckptDir, snapshotId, runId, stats.value.values)
    stats.docs
  }

  def lineage(spark: SparkSession, ckptDir: String): DataFrame =
    spark.read.parquet(s"$ckptDir/lineage")
}
