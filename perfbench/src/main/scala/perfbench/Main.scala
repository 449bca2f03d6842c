package perfbench

import graft.core.{Doc, Span}
import graft.pipeline.{Checkpoint, ExtractJob, SnapshotTable}
import graft.synth.CorpusGen
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  *   perfbench.Main --workload <extract_full|extract_resume> --seed <n>
  *     --seconds <s> --trace <0|1> --cores <n> --work <dir> --result <file>
  *
  * Untraced runs report the end-to-end metrics; traced runs (listeners
  * attached to every other op, plus a direct-call kernel pass) report the
  * per-layer metrics. The result object goes to `--result`; the trace
  * spans go next to it. */
object Main {

  /** Workload shape. `todo(i)` says whether doc i of the window is left
    * for the timed op; the rest is checkpointed by an untimed set-up run.
    * `warmOps` is the least number of warm ops an untraced run times. */
  final case class Shape(docs: Int, todo: Int => Boolean, warmOps: Int)

  val HeavyEvery = 50
  /** Doc ids are unique up to this generator index (CorpusGen.docIdFor). */
  val IdCapacity = 560000
  val SnapshotBuckets = 64   // as `Main gen` writes snapshots
  val SetupReps = 3
  /** A traced run times at least this many ops: the cold one, a warm-up
    * op, then traced and untraced ops in turn. */
  val MinTracedOps = 6
  /** The live heap is the peak after this many ops, whatever the run's
    * length. */
  val HeapOps = 3

  /** Doc counts are multiples of HeavyEvery, so every window holds the
    * same number of heavy docs whatever the seed. */
  val shapes: Map[String, Shape] = Map(
    // three warm ops: the first of them often still runs partly
    // interpreted kernel code, and the median of three leaves it out
    "extract_full" -> Shape(100, _ => true, warmOps = 3),
    // every 5th doc, at a phase that holds no heavy doc
    "extract_resume" -> Shape(150, i => i % 5 == 2, warmOps = 2))

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, cores: Int, work: Path, result: Path)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("cores").toInt, Paths.get(need("work")),
      Paths.get(need("result")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val shape = shapes.getOrElse(args.workload,
      sys.error(s"unknown workload ${args.workload}; known: ${shapes.keys.mkString(", ")}"))
    Files.createDirectories(args.work)
    val result = new Run(args, shape).run()
    Files.writeString(args.result, result)
  }

  /** Build the session exactly as `graft.Main extract` does, at
    * local[cores], with scratch space inside the work directory. */
  def session(args: Args): SparkSession = {
    val s = SparkSession.builder().appName("graft-extract")
      .master(s"local[${args.cores}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Outcome of checking one op's written docs against their goldens. */
final case class Verdict(attempted: Long, failed: Long, structural: Long,
                         spans: Long, failedIds: Seq[String])

final class Run(args: Main.Args, shape: Main.Shape) {
  import Main._

  private val work = args.work
  private val snapDir = work.resolve("snapshot")
  private val outDir = work.resolve("out")
  private val ckptDir = work.resolve("ckpt")
  private val pristine = work.resolve("pristine")
  private val log = System.err

  private val windows = IdCapacity / shape.docs
  private val base = (math.floorMod(args.seed, windows.toLong) * shape.docs).toInt
  private def heavy(g: Int) = g % HeavyEvery == HeavyEvery - 1

  def run(): String = {
    val (spark, sessionS) = Stats.time(session(args))
    try measure(spark, sessionS) finally spark.stop()
  }

  /** Inputs are generated from the window the seed picks; the program
    * only ever sees the written snapshot. */
  private def inputDS(spark: SparkSession): Dataset[Doc] = {
    import spark.implicits._
    val b = base
    val he = HeavyEvery
    spark.range(shape.docs).mapPartitions(_.map { i =>
      val g = b + i.toInt
      CorpusGen.genDoc(g, heavy = g % he == he - 1)._1
    })
  }

  private def measure(spark: SparkSession, sessionS: Double): String = {
    import spark.implicits._
    val cfg = ExtractJob.Config(buckets = 4 * spark.sparkContext.defaultParallelism)
    val pairs = Vector.tabulate(shape.docs) { i =>
      val g = base + i
      (i, CorpusGen.genDoc(g, heavy = heavy(g)))
    }
    val todoDocs = pairs.collect { case (i, (in, _)) if shape.todo(i) => in }
    val todoIds = todoDocs.map(_.doc_id).toSet
    val goldens: Map[String, Seq[Span]] =
      pairs.collect { case (_, (_, g)) if todoIds(g.doc_id) => g.doc_id -> g.spans }.toMap
    val resume = todoIds.size < shape.docs

    // ---- set-up: snapshot writes (median of several), then the
    // checkpointed pre-state for a resume workload
    val writeS = (1 to SetupReps).map { _ =>
      Stats.deleteTree(snapDir)
      Stats.time(SnapshotTable.write(inputDS(spark).toDF(), snapDir.toString,
        buckets = SnapshotBuckets))._2
    }
    val snapId = SnapshotTable.currentSnapshotId(snapDir.toString)
    val snapBytes = Stats.filesUnder(snapDir)
      .collect { case (p, n) if p.endsWith(".parquet") => n }.sum.toDouble
    val preS =
      if (!resume) 0.0
      else Stats.time {
        val wl = pairs.collect { case (_, (in, _)) if !todoIds(in.doc_id) => in.doc_id }
          .toDF("doc_id")
        ExtractJob.run(spark, snapDir.toString, outDir.toString, ckptDir.toString,
          cfg, Some(wl))
      }._2
    val alreadyDone =
      if (resume) Checkpoint.doneTotal(spark, ckptDir.toString, snapId) else 0L
    if (resume) {
      Stats.copyTree(outDir, pristine.resolve("out"))
      Stats.copyTree(ckptDir, pristine.resolve("ckpt"))
    }
    val setupS = sessionS + Stats.median(writeS) + preS
    log.println(f"[perfbench] ${args.workload} seed=${args.seed} window=$base+${shape.docs} " +
      f"todo=${todoIds.size} setup=$setupS%.3f s (session $sessionS%.3f, " +
      f"snapshot ${writeS.map(w => f"$w%.3f").mkString("/")}, pre-state $preS%.3f)")

    val before: Map[String, Long] =
      Stats.filesUnder(pristine.resolve("out")).map { case (k, v) => s"out/$k" -> v } ++
      Stats.filesUnder(pristine.resolve("ckpt")).map { case (k, v) => s"ckpt/$k" -> v }

    def restore(): Unit = {
      Stats.deleteTree(outDir)
      Stats.deleteTree(ckptDir)
      if (resume) {
        Stats.copyTree(pristine.resolve("out"), outDir)
        Stats.copyTree(pristine.resolve("ckpt"), ckptDir)
      }
    }

    def written(): Map[String, Long] = {
      val now = Stats.filesUnder(outDir).map { case (k, v) => s"out/$k" -> v } ++
        Stats.filesUnder(ckptDir).map { case (k, v) => s"ckpt/$k" -> v }
      now.filter { case (k, _) => !before.contains(k) }
    }

    def verify(newFiles: Map[String, Long]): Verdict = {
      val runDirs = newFiles.keys.filter(_.startsWith("out/run="))
        .map(k => k.split('/')(1)).toSet
      val got: Seq[Doc] =
        if (runDirs.isEmpty) Nil
        else spark.read.parquet(runDirs.toSeq.map(d => outDir.resolve(d).toString): _*)
          .select("doc_id", "spans").as[Doc].collect().toSeq
      val byId = got.groupBy(_.doc_id)
      var failed = 0L
      var structural = 0L
      val ids = ArrayBuffer[String]()
      for ((id, gold) <- goldens.toSeq.sortBy(_._1)) {
        byId.get(id) match {
          case Some(Seq(doc)) if doc.spans == gold =>
          case Some(Seq(doc)) =>
            failed += 1; ids += id
            val shape = (s: Seq[Span]) => s.map(x => (x.kind, x.media_ref, x.offset))
            if (shape(doc.spans) != shape(gold)) structural += 1
          case _ =>
            failed += 1; structural += 1; ids += id
        }
      }
      structural += byId.keySet.count(!goldens.contains(_))
      Verdict(goldens.size, failed, structural, got.map(_.spans.size.toLong).sum,
        ids.toSeq)
    }

    // heap in use after a full GC; the second GC follows the cleanup of
    // Spark objects that the first one made unreachable
    def liveHeapMb(): Double = {
      System.gc()
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }

    // ---- the timed loop
    val tracer = if (args.trace) Some(new Tracer) else None
    var nextSpan = 0L
    val newId = () => { nextSpan += 1; nextSpan }
    val spans = ArrayBuffer[TraceSpan]()
    val tracedLayer = ArrayBuffer[Map[String, Double]]()
    val tracedOps = ArrayBuffer[Double]()
    val plainOps = ArrayBuffer[Double]()
    var attempted = 0L
    var failed = 0L
    var broken = false
    val failedIds = scala.collection.mutable.LinkedHashSet[String]()
    var heap = 0.0
    var firstOpS = 0.0
    val wa = ArrayBuffer[Double]()
    var spansOut = 0L
    var docsOut = 0L
    var counts = Map.empty[String, Double]

    val loopStart = System.nanoTime()
    var op = 0
    val minOps = if (args.trace) MinTracedOps else 1 + shape.warmOps
    while (op < minOps || Stats.secondsSince(loopStart) < args.seconds) {
      restore()
      // traced runs attach the listeners to every other op from op 2 on
      val traced = tracer.isDefined && op >= 2 && op % 2 == 0
      if (traced) {
        spark.sparkContext.addSparkListener(tracer.get)
        spark.listenerManager.register(tracer.get)
      }
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val outcome =
        try Right(ExtractJob.run(spark, snapDir.toString, outDir.toString,
          ckptDir.toString, cfg))
        catch { case e: Exception => Left(e) }
      val wallS = Stats.secondsSince(t0)
      val t1ms = System.currentTimeMillis()
      if (traced) {
        org.apache.spark.sql.PerfbenchAccess.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer.get)
        spark.listenerManager.unregister(tracer.get)
        val (m, s) = Attribution.analyse(tracer.get.take(), op, t0ms, t1ms, wallS,
          args.cores, outDir.toAbsolutePath.toString, newId)
        tracedLayer += m
        spans ++= s
      }
      outcome match {
        case Left(e) =>
          log.println(s"[perfbench] op $op failed: $e")
          attempted += goldens.size
          failed += goldens.size
          failedIds ++= goldens.keys
          broken = true
        case Right(sum) =>
          val files = written()
          val v = verify(files)
          attempted += v.attempted
          failed += v.failed
          failedIds ++= v.failedIds
          if (v.structural > 0 || sum.docsThisRun != goldens.size) broken = true
          val bytes = files.values.sum.toDouble
          wa += bytes / snapBytes
          spansOut = v.spans
          docsOut = sum.docsThisRun
          counts = Map(
            "pipeline.docs_in" -> shape.docs.toDouble,
            "pipeline.docs_extracted" -> sum.docsThisRun.toDouble,
            "pipeline.docs_already_done" -> alreadyDone.toDouble,
            "pipeline.exploded_docs" -> todoDocs.count(_.spans.size >= cfg.skewSpanThreshold).toDouble,
            "pipeline.bytes_written" -> bytes,
            "pipeline.files_written" -> files.size.toDouble)
      }
      if (op == 0) firstOpS = wallS
      else if (traced) tracedOps += wallS
      else if (!args.trace || op >= 3) plainOps += wallS
      // the peak over a fixed number of ops: Spark keeps state per query
      // run, so a run that fits in more ops would otherwise read higher
      val live = liveHeapMb()
      if (op < HeapOps) heap = math.max(heap, live)
      log.println(f"[perfbench] op $op ${if (traced) "traced " else ""}wall $wallS%.3f s, " +
        f"live heap $live%.1f MB")
      op += 1
    }
    if (failedIds.nonEmpty)
      log.println(s"[perfbench] ${failedIds.size} of ${goldens.size} docs differ from " +
        s"their goldens: ${failedIds.mkString(" ")}")

    val opS = Stats.median(plainOps.toSeq)
    val metrics: Map[String, Double] =
      if (!args.trace) Map(
        "setup_s" -> setupS,
        "first_op_s" -> firstOpS,
        "op_s" -> opS,
        "docs_per_s" -> docsOut / opS,
        "spans_per_s" -> spansOut / opS,
        "live_heap_mb" -> heap,
        "write_amplification" -> Stats.median(wa.toSeq))
      else {
        val layer = tracedLayer.flatMap(_.keys).distinct.map { k =>
          k -> Stats.median(tracedLayer.map(_.getOrElse(k, 0.0)).toSeq)
        }.toMap
        val (kernel, stages) = KernelPass.run(todoDocs, args.cores)
        val recognize = kernel("kernel.recognize_s")
        val pipelineResidual = tracedLayer.zip(tracedOps).map { case (m, w) =>
          math.abs(m("pipeline.unattributed_s")) / w
        }.max
        layer ++ counts ++ kernel ++ Map(
          "trace.op_s" -> Stats.median(tracedOps.toSeq),
          "trace.overhead_s" -> (Stats.median(tracedOps.toSeq) - opS),
          "check.pipeline_residual_frac" -> pipelineResidual,
          "check.kernel_residual_frac" ->
            math.abs(stages.map(_._2).sum - recognize) / recognize,
          "check.docs_balance" -> (counts("pipeline.docs_in") -
            counts("pipeline.docs_extracted") - counts("pipeline.docs_already_done")))
      }
    if (args.trace) {
      val f = args.result.resolveSibling(args.result.getFileName.toString
        .stripSuffix(".json") + ".spans.jsonl")
      Files.writeString(f, spans.map(_.json).mkString("", "\n", "\n"))
    }
    val info = Map[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "window" -> base,
      "docs" -> shape.docs, "todo" -> goldens.size, "ops" -> op,
      "op_walls_s" -> plainOps.toSeq, "traced_op_walls_s" -> tracedOps.toSeq,
      "failed_share" -> failed.toDouble / math.max(1L, attempted),
      "failed_docs" -> failedIds.toSeq,
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "cores" -> args.cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    Json.obj(Seq("correct" -> !broken, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics, "info" -> info))
  }
}
