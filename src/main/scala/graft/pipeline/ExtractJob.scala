package graft.pipeline

import graft.core.{Doc, Span}
import graft.kernel.{CropConfig, ExtractKernel, KernelStats, MediaStore, SyntheticStore}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Output row: extracted doc + per-doc kernel metadata that the lineage
  * aggregation consumes (columns pruned away by public readers). */
case class OutRow(
    doc_id: String,
    spans: Seq[Span],
    part_id: Int,
    span_count: Long,
    media_span_count: Long,
    text_span_count: Long,
    conf_hist: Seq[Long])

/** One unit of kernel work: a whole doc, or one non-cover span of a doc
  * with at least `skewSpanThreshold` spans. */
case class WorkUnit(doc_id: String, spans: Seq[Span], whole: Boolean)
/** A unit's extracted spans plus the kernel stats OutRow sums per doc. */
case class UnitOut(doc_id: String, spans: Seq[Span], media_cnt: Long,
                   text_cnt: Long, conf_hist: Seq[Long])

/** The production extraction run — the Spark lifecycle equivalent of
  * joradp_parse.py (SURVEY §3.1):
  *
  *   snapshot scan → anti-join on the snapshot's committed output →
  *   work units → round-robin exchange → kernel → groupByKey(doc_id)
  *   reassembly → write output, then lineage (the commit point).
  *
  * One scan feeds both skew routes (SURVEY §4). A doc with fewer than
  * cfg.skewSpanThreshold spans is one whole unit; a larger doc, which
  * would stall its task, becomes one unit per non-cover span. The units
  * are spread round-robin over `n` kernel tasks of even size, and the
  * reassembly restores each doc's interleaving by `offset`
  * (property-tested). Both exchanges move span text and media refs,
  * never pixels: on perfbench `extract_full` (seed 1, 4 cores) all of an
  * op's shuffles wrote in 0.03 s, against 1.13 s of task CPU.
  */
object ExtractJob {

  final case class Config(
      /** Kernel tasks: the work units are spread over
        * max(buckets, the input scan's split count) partitions, so a
        * large snapshot keeps split-sized tasks. */
      buckets: Int = 32,
      skewSpanThreshold: Int = 64,
      store: MediaStore = SyntheticStore,
      /** Compact the lineage table when its `run=` subdir count exceeds
        * this (0 = disabled). A long-lived incremental table accretes one
        * lineage subdir per run; past the threshold
        * [[Checkpoint.compact]] rewrites them into one consolidated dir
        * so the lineage listing stays bounded over hundreds of runs.
        * Once enabled for a table, keep it enabled: the compaction's
        * crash repair runs on the same flag. */
      compactRunDirsOver: Int = 0)

  /** Schema of the output run dirs, so that reading them infers nothing. */
  private[pipeline] val OutSchema = Encoders.product[OutRow].schema

  /** Split count of the first file scan in `ds`'s plan — the scan its rows
    * stream from, since joins keep it on the left — read from the planned
    * scan's file listing without running a job; 0 when there is none. */
  private def scanSplits(ds: Dataset[_]): Int =
    ds.queryExecution.sparkPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }.getOrElse(0)

  /** Pure transformation: input docs → extracted OutRows, one per doc.
    * `part_id` is the partition where the doc's row was assembled. */
  def extract(spark: SparkSession, input: Dataset[Doc], cfg: Config): Dataset[OutRow] = {
    import spark.implicits._
    val store = cfg.store
    val threshold = cfg.skewSpanThreshold
    val units = input.flatMap { doc =>
      val split =
        if (doc.spans.size < threshold) Nil
        else {
          val ordered = doc.spans.sortBy(_.offset)
          val coverIdx = ordered.indexWhere(_.kind == "media")
          ordered.zipWithIndex.collect {
            case (s, i) if i != coverIdx => WorkUnit(doc.doc_id, Seq(s), whole = false)
          }
        }
      // a doc with no non-cover span stays whole, so every doc gets its row
      if (split.isEmpty) Seq(WorkUnit(doc.doc_id, doc.spans, whole = true)) else split
    }
    units.repartition(math.max(cfg.buckets, scanSplits(input)))
      .map { u =>
        val st = new KernelStats
        val spans =
          if (u.whole) ExtractKernel.extractDoc(Doc(u.doc_id, u.spans), store, st).spans
          else Seq(ExtractKernel.extractSpan(u.spans.head,
            CropConfig.lookup(u.doc_id), store, st))
        UnitOut(u.doc_id, spans, st.mediaSpanCount, st.textSpanCount,
                st.confHist.toSeq)
      }
      .groupByKey(_.doc_id)
      .mapGroups { (docId, it) =>
        val us = it.toVector
        val spans = us.flatMap(_.spans).sortBy(_.offset) // restore interleaving
        val hist = new Array[Long](10)
        for (u <- us; i <- 0 until 10) hist(i) += u.conf_hist(i)
        OutRow(docId, spans, TaskContext.getPartitionId(), spans.length.toLong,
               us.map(_.media_cnt).sum, us.map(_.text_cnt).sum, hist.toSeq)
      }
  }

  final case class RunSummary(snapshotId: String, docsProcessed: Long,
                              docsThisRun: Long)

  /** Full job: read the pinned snapshot, drop the docs already done for
    * it, extract, write output, then lineage. A doc is done when it sits
    * in a committed output run dir of this snapshot ([[reconcile]] returns
    * them), so resume is a left-anti join on those dirs' doc_id column —
    * superseding the reference's max-filename watermark
    * (joradp_parse.py:101-114 — SURVEY §2.1 S7). With no committed run of
    * the snapshot there is no join at all. Each run writes to its own
    * `run=<id>` subdirectory, so its lineage is derived from a
    * column-pruned scan of exactly this run's files — never a
    * read-modify-write of a directory a concurrent scan is planned over.
    * Calling run() again after a kill processes only unfinished docs. */
  def run(spark: SparkSession, inputPath: String, outPath: String,
          ckptDir: String, cfg: Config = Config(),
          worklist: Option[DataFrame] = None): RunSummary = {
    import spark.implicits._
    val (inputDf, snapId) = SnapshotTable.read(spark, inputPath)
    val input = inputDf.as[Doc]

    // reconcile first: it reclaims a crashed run's uncommitted dir,
    // re-appends the lineage of a committed but unrecorded one, and
    // returns this snapshot's committed dirs — the docs already done
    val doneRuns = reconcile(spark, outPath, ckptDir, snapId)
    // optional lineage compaction (after reconcile, which may have
    // re-appended a crashed run's lineage)
    if (cfg.compactRunDirsOver > 0)
      Checkpoint.compact(spark, ckptDir, cfg.compactRunDirsOver)

    // optional selective work-list (F2/J5: the reference's CSV-driven
    // reprocessing, joradp_correct_add_missing_bboxes.py:179-192) — a
    // semi-join so only listed docs are (re)processed
    val scoped = worklist match {
      case Some(wl) => input.join(wl.select("doc_id"), Seq("doc_id"), "left_semi").as[Doc]
      case None => input
    }
    val todo =
      if (doneRuns.isEmpty) scoped
      else scoped.join(spark.read.schema("doc_id STRING").parquet(doneRuns: _*),
                       Seq("doc_id"), "left_anti").as[Doc]

    val runId = s"${snapId}_${System.nanoTime()}"
    extract(spark, todo, cfg)
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$outPath/run=$runId")
    // docsThisRun is observed on the lineage write — no extra count job
    // over the run's files (every scan of them at 100 TB is a real job)
    val thisRun = Checkpoint.append(spark, ckptDir, snapId, runId,
      spark.read.schema(OutSchema).parquet(s"$outPath/run=$runId"))
    val doneTotal = Checkpoint.doneTotal(spark, ckptDir, snapId)
    if (thisRun == 0L && doneTotal > 0L) {
      // no-op resume: everything was already done, so this run's output
      // and lineage subdirs are empty shells. Reap them immediately — a
      // scheduler re-submitting a finished snapshot daily would
      // otherwise grow one empty run= dir per invocation, and every
      // later reconcile/readOutput pays listing + partition discovery
      // over the pile (the single-writer contract makes this delete
      // safe: no concurrent scan is planned over a dir this run minted).
      // Guarded on doneTotal > 0 so a genuinely EMPTY snapshot keeps its
      // one empty-but-schema-bearing run dir and readOutput stays
      // readable.
      import org.apache.hadoop.fs.Path
      val fs = new Path(outPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(s"$outPath/run=$runId"), true)
      fs.delete(new Path(s"$ckptDir/lineage/run=$runId"), true)
    }
    // summary total from the per-partition LINEAGE table (tiny, bounded)
    // — never a scan of the one-row-per-doc output, which at 100 TB is a
    // real job run purely for a log line
    RunSummary(snapId, doneTotal, thisRun)
  }

  /** A run id this pipeline itself minted: `<snapId>_<nanoTime nonce>`
    * (see [[run]]), where snapId is ALWAYS the 16-lowercase-hex content
    * hash [[SnapshotTable.commit]] emits. Reconcile must only ever touch
    * ITS OWN run dirs — a foreign `run=` directory (manual backup,
    * another tool) is not a crashed run and deleting it would destroy
    * data reconcile does not own. The loose shape `.+_digits` would claim
    * names like `backup_2024`; pinning the snapId half to exactly 16 hex
    * chars makes an accidental match practically impossible. */
  private val OwnRunId = "^([0-9a-f]{16})_([0-9]+)$".r

  /** Repair the output↔lineage gap left by a crashed prior run, and
    * return the committed output run dirs of snapshot `snapId` — the
    * record of which docs are done. Two repair cases, keyed off the run
    * dir's Spark `_SUCCESS` marker and its lineage record:
    *
    *   - output dir WITHOUT `_SUCCESS`: the write job never committed;
    *     the dir (plus any partial lineage subdir from the same run) is
    *     deleted and its docs re-extract normally;
    *   - output dir WITH `_SUCCESS` but not recorded ([[Checkpoint
    *     .isRecorded]]): the run died between output commit and lineage
    *     append — re-run the (idempotent, per-run Overwrite) append from
    *     the committed files. Its docs are done either way: the dir is
    *     returned with the others.
    *
    * The runId encodes its snapshot (`<snapId>_<nonce>`), so recovery
    * attributes re-appended rows to the snapshot that produced them, and
    * a committed run of another snapshot never marks docs done for this
    * one. Cost: one directory listing per run() plus, only on an actual
    * crashed run, a column-pruned scan of that run's files.
    *
    * SINGLE-WRITER contract: like any Spark job committing to one output
    * path, at most one `run()` may execute against a given
    * (outPath, ckptDir) at a time — reconcile cannot distinguish a
    * crashed run's uncommitted dir from a concurrent run's in-flight one
    * (neither has `_SUCCESS` yet), so a second concurrent writer would
    * have its partial output reclaimed. Serialize runs per output table
    * (the driver loop and the streaming wrapper both do). */
  private def reconcile(spark: SparkSession, outPath: String,
                        ckptDir: String, snapId: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(outPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val runDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("run="))
    // one manifest sweep for the whole reconcile: the per-dir isRecorded
    // would re-list the lineage root and re-read every consolidated
    // manifest on each compacted-run miss
    val compacted = Checkpoint.compactedRunIds(spark, ckptDir)
    runDirs.flatMap { dir =>
      dir.getPath.getName.stripPrefix("run=") match {
        case runId @ OwnRunId(runSnap, _) =>
          if (!fs.exists(new Path(dir.getPath, "_SUCCESS"))) {
            fs.delete(dir.getPath, true)
            fs.delete(new Path(s"$ckptDir/lineage/run=$runId"), true)
            None
          } else {
            if (!Checkpoint.isRecorded(spark, ckptDir, runId, compacted))
              Checkpoint.append(spark, ckptDir, runSnap, runId,
                spark.read.schema(OutSchema).parquet(dir.getPath.toString))
            if (runSnap == snapId) Some(dir.getPath.toString) else None
          }
        case foreign =>
          // not ours: warn and leave it alone — it still pollutes the
          // output glob, but silently deleting unowned data (or
          // refusing to ever run again, as a hard require would) is
          // strictly worse. The warning names the dir so an operator
          // can move it out.
          System.err.println(
            s"[extract] reconcile: skipping foreign run dir " +
            s"'run=$foreign' in $outPath (not a <16-hex-snapId>_<nonce> " +
            "id this pipeline mints); move it out of the output table")
          None
      }
    }
  }

  /** Public view of the output table: just (doc_id, spans). */
  def readOutput(spark: SparkSession, outPath: String): Dataset[Doc] = {
    import spark.implicits._
    spark.read.parquet(outPath).select("doc_id", "spans").as[Doc]
  }

  /** S6 analog — the reference's result sink is one JSON per document
    * under its year directory (`result_json/<year>/F….json`,
    * joradp_parse.py:156-157; year = id chars 1..4,
    * joradp_correct_add_table_data.py:244). Export the extraction output
    * as year-partitioned JSON-lines: partition pruning on year replaces
    * the reference's per-year directory walk. Returns docs exported. */
  def exportJson(spark: SparkSession, outPath: String, jsonDir: String): Long = {
    import org.apache.spark.sql.functions.{count, lit, struct, substring, to_json}
    // the docs-exported count rides the write job as an observed metric —
    // never a re-read of the directory just written (at 100 TB that
    // second scan is a real job run purely for a return value)
    val obs = new org.apache.spark.sql.Observation()
    val df = spark.read.parquet(outPath)
      .select(substring(col("doc_id"), 2, 4).as("year"),
              to_json(struct(col("doc_id"), col("spans"))).as("value"))
      .observe(obs, count(lit(1)).as("docs"))
    df.write.mode(SaveMode.Overwrite).partitionBy("year").text(jsonDir)
    obs.get("docs").asInstanceOf[Long]
  }

  /** Warn-and-drop accounting for the selective passes: every selective
    * result emits >= 1 row per matched (doc, page), so work-list rows
    * absent from the result are exactly the ones the inner join dropped
    * (out-of-range page index, unknown doc — the reference warns and skips
    * these, pdf_parser.py:205-209). Lazy anti-join — call [[logUnmatched]]
    * on the MATERIALIZED result (e.g. the written parquet, as the Main
    * subcommands do) so the accounting never re-runs the corpus scan. */
  def unmatchedWorklist(result: DataFrame, worklist: DataFrame): DataFrame =
    worklist.select(col("doc_id"), col("page_number").cast("int"))
      .join(result.select(col("doc_id"), col("page_number")),
            Seq("doc_id", "page_number"), "left_anti")

  /** Log dropped work-list rows to stderr (first 20 shown); returns the
    * EXACT dropped count. A 1-based-page-number work-list announces
    * itself here instead of quietly halving. */
  def logUnmatched(result: DataFrame, worklist: DataFrame,
                   pass: String): Long = {
    val dropped = unmatchedWorklist(result, worklist)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = dropped.count()
    if (n > 0) {
      val shown = dropped.limit(20).collect()
        .map(r => s"(${r.get(0)},${r.get(1)})").mkString(", ")
      val more = if (n > 20) ", ..." else ""
      System.err.println(
        s"[graft] $pass: $n work-list rows matched no page and were " +
        s"dropped: $shown$more — page_number is the 0-based media-span " +
        "ordinal (cover = 0); a 1-based work-list shifts every page")
    }
    dropped.unpersist()
    n
  }

  /** One row per media span of each doc: (doc_id, page_number,
    * media_ref), page_number being the media-span ordinal in offset order
    * (cover = 0) — the page index both selective passes join on. */
  private def mediaPages(spark: SparkSession, input: Dataset[Doc]): DataFrame = {
    import spark.implicits._
    input.flatMap { doc =>
      doc.spans.filter(_.kind == "media").sortBy(_.offset).zipWithIndex
        .map { case (s, pn) => (doc.doc_id, pn, s.media_ref) }
    }.toDF("doc_id", "page_number", "media_ref")
  }

  /** Selective page re-OCR — the Spark equivalent of
    * joradp_correct_add_missing_bboxes.py (SURVEY §3.3 sibling): a
    * work-list of (doc_id, page_number) rows from the failure-report CSV
    * selects exactly the pages to re-recognize
    * (parse_images_to_text_structure_selective_heavy,
    * pdf_parser.py:320-384). Page numbers are media-span ordinals
    * (cover = 0); out-of-range indices simply don't join and are dropped,
    * the reference's warn-and-drop (pdf_parser.py:205-209). Emits one row
    * per re-OCR'd page with the recognized text and its glyph count. */
  def reOcrSelective(spark: SparkSession, input: Dataset[Doc],
      worklist: DataFrame, cfg: Config = Config()): DataFrame = {
    import spark.implicits._
    val store = cfg.store
    val wl = worklist.select(col("doc_id"), col("page_number").cast("int"))
    val res = mediaPages(spark, input).join(broadcast(wl), Seq("doc_id", "page_number"))
      .as[(String, Int, String)]
      .mapPartitions { it =>
        it.map { case (docId, pn, ref) =>
          val crop = graft.kernel.CropConfig.lookup(docId)
          val pr = graft.kernel.Recognize.recognizeStored(store.decode(ref), crop)
          (docId, pn, ref, pr.text, pr.glyphCount)
        }
      }.toDF("doc_id", "page_number", "media_ref", "text", "glyph_count")
    res
  }

  /** Selective table-structure pass — the Spark lifecycle equivalent of
    * joradp_correct_add_table_data.py (SURVEY §3.3): one work-list row per
    * (doc, page) with either `full_page = true` (the table bbox is the
    * whole page — pdf_parser.py:301-304 fallback) or an explicit
    * `table_boxes` JSON list (the reference parses the stringified CSV
    * column with ast.literal_eval at :107 — `from_json` here). Boxes are
    * in stored (2x) pixel coordinates. Emits one row per table with its
    * detected cell count and the recognized, ""-padded text grid (A7).
    *
    * Page numbers are the media-span ordinal within the doc in offset
    * order (cover = 0), matching the reference's PDF page indices. The
    * work-list is broadcast (it is always small next to the corpus); the
    * decode + cell detection runs data-parallel over the matched pages. */
  def tableDataSelective(spark: SparkSession, input: Dataset[Doc],
      worklist: DataFrame, cfg: Config = Config()): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val store = cfg.store
    // optional `rotated` work-list column: the reference's `table rotated`
    // label routes through the J7 rotated-crop token remap (TATR cell 27)
    val rotatedCol =
      if (worklist.columns.contains("rotated"))
        coalesce(col("rotated").cast("boolean"), lit(false))
      else lit(false)
    val wl = worklist.select(
      col("doc_id"),
      col("page_number").cast("int"),
      // a null/empty full_page CSV cell must reach the XOR validation
      // below as an identified work-list row, not die inside the tuple
      // encoder's primitive-Boolean null check with Spark's opaque error
      coalesce(col("full_page").cast("boolean"), lit(false)).as("full_page"),
      from_json(col("table_boxes"),
        ArrayType(ArrayType(IntegerType))).as("boxes"),
      rotatedCol.as("rotated"))
    val res = mediaPages(spark, input).join(broadcast(wl), Seq("doc_id", "page_number"))
      .as[(String, Int, String, Boolean, Seq[Seq[Int]], Boolean)]
      .mapPartitions { it =>
        it.flatMap { case (docId, pn, ref, fullPage, boxesRaw, rotated) =>
          val boxes = Option(boxesRaw).getOrElse(Seq.empty)
          // CSV sync invariant: exactly one of full_page / table_boxes
          // (joradp_correct_add_table_data.py:113-114)
          require(fullPage ^ boxes.nonEmpty,
            s"work-list row ($docId, $pn) must set exactly one of " +
            "full_page / table_boxes")
          // work-list boxes live in the UPRIGHT stored frame (the
          // reference runs the same preprocessing prefix — rotation
          // correction included — before structure recognition, §3.3);
          // orientation-correct the gray page so boxes, detected cells
          // and crop-frame tokens all share that frame
          val img = graft.kernel.Recognize.uprightGray(store.decode(ref))
          val crop = graft.kernel.CropConfig.lookup(docId)
          // page OCR tokens for the J7 crop remap, scaled to the stored
          // (2x) frame the work-list boxes live in
          val sc = graft.kernel.Recognize.PageScale
          val tokens2x = graft.kernel.Recognize
            .segmentPageFull(img, crop)._2
            .map(t => t.copy(bbox = graft.core.BBox(
              sc * t.bbox.x1, sc * t.bbox.y1, sc * t.bbox.x2, sc * t.bbox.y2)))
          val tboxes =
            if (fullPage) Seq(graft.core.BBox(0, 0, img.w, img.h))
            else boxes.map(b => graft.core.BBox(b(0), b(1), b(2), b(3)))
          tboxes.zipWithIndex.map { case (bb, ti) =>
            val cells = graft.kernel.TableDetect.detectTableCells(img, bb)
            val grid = graft.kernel.TableOcr.extractGrid(img, cells)
            val (_, toks) = graft.kernel.TokenCrop.tokensToCrop(
              tokens2x, bb, img.w, img.h, rotated)
            val tokStr = toks.map(t =>
              s"${t.bbox.x1},${t.bbox.y1},${t.bbox.x2},${t.bbox.y2}:${t.text}")
              .mkString("|")
            (docId, pn, ti, bb.x1, bb.y1, bb.x2, bb.y2, cells.size, grid,
             toks.size, tokStr)
          }
        }
      }.toDF("doc_id", "page_number", "table_idx",
             "x1", "y1", "x2", "y2", "n_cells", "grid",
             "n_tokens", "tokens")
    res
  }
}
