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
    * re-appended (reconciled) runs counted exactly once. */
  def doneTotal(spark: SparkSession, ckptDir: String, snapshotId: String): Long = {
    val p = s"$ckptDir/lineage"
    if (!exists(spark, p)) 0L
    else
      spark.read.parquet(p)
        .filter(col("snapshot_id") === snapshotId)
        .agg(coalesce(sum(col("doc_count")), lit(0L))).head().getLong(0)
  }

  /** True iff [[append]] for this run committed (its lineage `_SUCCESS`
    * marker exists). A run whose subdirectory was absorbed by [[compact]] is still
    * recorded: its id lives in a consolidated dir's manifest. */
  def isRecorded(spark: SparkSession, ckptDir: String, runId: String): Boolean =
    isRecorded(spark, ckptDir, runId, compactedRunIds(spark, ckptDir))

  /** Set-reusing overload (r6, round-5 ADVICE): a caller checking MANY
    * run dirs (ExtractJob.reconcile) computes [[compactedRunIds]] once —
    * the per-call form re-listed the lineage root and re-read every
    * manifest on each miss, O(runs) reads of O(runs)-line manifests per
    * reconcile. */
  def isRecorded(spark: SparkSession, ckptDir: String, runId: String,
                 compacted: Set[String]): Boolean =
    exists(spark, s"$ckptDir/lineage/run=$runId/_SUCCESS") ||
    compacted.contains(runId)

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

  // ---------------------------------------------------------------- compaction

  /** Consolidated-run id prefix. Deliberately NOT of the
    * `<16-hex-snapId>_<nonce>` shape ExtractJob mints for job runs, so a
    * consolidated dir can never be mistaken for (or collide with) one. */
  private val CompactedPrefix = "compact_"
  /** Manifest file inside a consolidated LINEAGE dir: one absorbed runId
    * per line. Underscore-prefixed, so parquet partition discovery skips
    * it. Its existence is the compaction's COMMIT POINT (mirror of
    * [[append]]'s `_SUCCESS` marker): before it, a crash rolls the
    * consolidated dir back; after it, a crash finishes by deleting the
    * absorbed source dirs ([[repairCompaction]]). */
  private val ManifestName = "_manifest.txt"

  /** Run ids absorbed into consolidated dirs — the union of every
    * committed manifest. Cost: one listing of the lineage table root plus
    * one text read per consolidated dir. The consolidated FILE count is
    * bounded by the compaction threshold, but each compaction folds prior
    * manifests into its own, so manifest line count (and read bytes)
    * grows one line per historical run — a few KB at hundreds of runs,
    * not O(threshold) (r6 doc fix, round-5 ADVICE). Callers doing
    * per-run-dir membership checks should call this ONCE and reuse the
    * set (see [[isRecorded]]'s set overload). */
  def compactedRunIds(spark: SparkSession, ckptDir: String): Set[String] = {
    val root = new Path(s"$ckptDir/lineage")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root).iterator
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"run=$CompactedPrefix"))
      .flatMap(s => readManifest(fs, s.getPath))
      .toSet
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           lineageRunDir: Path): Seq[String] = {
    val mf = new Path(lineageRunDir, ManifestName)
    if (!fs.exists(mf)) Seq.empty
    else {
      val in = fs.open(mf)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toVector
      finally in.close()
    }
  }

  /** Compact the lineage table: when the number of its `run=` subdirs
    * exceeds `maxRunDirs`, rewrite them into ONE consolidated
    * `run=compact_<nonce>` dir and delete the absorbed sources, so the
    * lineage listing ([[isRecorded]], [[compactedRunIds]], [[doneTotal]])
    * stays bounded over hundreds of incremental runs instead of growing
    * one subdir per run. Row contents are unchanged (every row carries
    * snapshot_id, so mixed-snapshot consolidation is lossless);
    * [[doneTotal]]/[[lineage]] read the same data after as before.
    *
    * Contract: the checkpoint dir must live on a file system whose rename
    * is atomic (local FS, HDFS). The manifest commit below is a rename;
    * on an object store (S3A: copy + delete) a crash mid-rename can leave
    * a partial manifest that reads as committed.
    *
    * Crash safety, same single-writer contract as [[ExtractJob.run]]:
    *  1. the consolidated lineage dir is written first, then the manifest
    *     (the commit point) into it, then the sources are deleted;
    *  2. [[repairCompaction]] runs first on every call: a consolidated
    *     dir without a committed manifest is rolled back (sources are
    *     intact), a committed manifest whose sources still exist has the
    *     deletes finished. Between a mid-delete crash and the next
    *     repair, lineage rows can transiently duplicate; callers compact
    *     (and therefore repair) before [[doneTotal]] is next consulted.
    *
    * A consolidated dir that absorbs an OLDER consolidated dir folds the
    * old manifest into its own, so [[isRecorded]] keeps answering true
    * for every historical run id ever absorbed. Returns true iff a
    * compaction ran. */
  def compact(spark: SparkSession, ckptDir: String, maxRunDirs: Int): Boolean = {
    require(maxRunDirs >= 1, s"maxRunDirs must be >= 1, got $maxRunDirs")
    val lineageRoot = new Path(s"$ckptDir/lineage")
    val fs = lineageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    repairCompaction(spark, ckptDir)
    if (!fs.exists(lineageRoot)) return false
    val sources = fs.listStatus(lineageRoot).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run="))
      .map(_.getPath.getName.stripPrefix("run="))
    if (sources.size <= maxRunDirs) return false

    // manifest = absorbed dir names ∪ their own manifests (see scaladoc)
    val absorbed = sources ++ sources
      .filter(_.startsWith(CompactedPrefix))
      .flatMap(id => readManifest(fs, new Path(lineageRoot, s"run=$id")))
    val id = s"$CompactedPrefix${System.nanoTime()}"

    // 1. consolidated lineage: a few rows per run, so one file (partition
    // column `run` from discovery is dropped — the consolidated dir
    // carries its own run= value)
    spark.read.parquet(s"$ckptDir/lineage").drop("run")
      .coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$ckptDir/lineage/run=$id")
    // 2. commit point: the manifest — written to a temp name and RENAMED
    // into place: fs.create() makes the final name visible before its
    // contents are written, so a crash between create and close would
    // leave an empty manifest that repairCompaction treats as committed
    // and the unlisted sources' rows would duplicate forever.
    val mfFinal = new Path(s"$ckptDir/lineage/run=$id/$ManifestName")
    val mfTmp = new Path(s"$ckptDir/lineage/run=$id/$ManifestName.tmp")
    val out = fs.create(mfTmp, true)
    try out.write((absorbed.distinct.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(mfTmp, mfFinal),
      s"compaction commit failed: rename $mfTmp -> $mfFinal")
    // 3. delete absorbed sources
    for (src <- sources) fs.delete(new Path(lineageRoot, s"run=$src"), true)
    true
  }

  /** Finish or roll back an interrupted [[compact]] (idempotent; see its
    * crash-safety scaladoc). */
  def repairCompaction(spark: SparkSession, ckptDir: String): Unit = {
    val lineageRoot = new Path(s"$ckptDir/lineage")
    val fs = lineageRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(lineageRoot)) return
    for (s <- fs.listStatus(lineageRoot)
         if s.getPath.getName.startsWith(s"run=$CompactedPrefix")) {
      val dir = s.getPath
      val committed = fs.exists(new Path(dir, ManifestName)) &&
                      fs.exists(new Path(dir, "_SUCCESS"))
      if (committed)
        // finish: absorbed sources must be gone
        for (src <- readManifest(fs, dir))
          fs.delete(new Path(lineageRoot, s"run=$src"), true)
      else
        // roll back: sources are intact, the half-written dir goes
        fs.delete(dir, true)
    }
  }
}
