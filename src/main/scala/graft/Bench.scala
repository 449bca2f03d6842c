package graft

import graft.pipeline.SnapshotTable
import graft.synth.CorpusGen
import org.apache.spark.sql.SparkSession

/** Benchmark main: the one measurement entry point outside `perfbench/`.
  *
  * Modes:
  *  - no arguments: scaling (phase 1), then the query phase (phase 2);
  *  - `queries [repeats] [name ...]`: the query phase only, each query
  *    `repeats` times (default 1), reporting the per-query minimum;
  *  - `plans <outDir> <suffix> [name ...]`: writes each query's formatted
  *    physical plan to `<outDir>/<name>_<suffix>.txt`.
  *  - `kernel [docs] [reps]`: the page kernel alone ([[kernel]]), no
  *    Spark.
  * Query names are `SparkEntry.queries` keys; none given means all.
  * Env: `SPARK_GRAFT_SF_DIR` (query tables), `SPARK_GRAFT_CPUS` (query
  * session cores and the scaling levels; default: the host's cores),
  * `SPARK_GRAFT_BENCH_DOCS`, `SPARK_GRAFT_BENCH_DEADLINE_SEC`,
  * `SPARK_GRAFT_BENCH_SKIP_QUERIES=1`.
  *
  *  1. Scaling (the N→4N criterion): the extraction pipeline on one fixed
  *     synthetic corpus at local[N] and local[4N], with (N, 4N) derived
  *     from the core count ([[levels]]: (1, 4) on 4 cores, (4, 16) on 16).
  *     Each level runs in its own CPU-pinned child JVM ([[BenchLevel]]).
  *     Measurements come in PAIRS, one N-core and one 4N-core run
  *     back-to-back, the order alternating pair to pair. The SAMPLING
  *     PLAN IS FIXED and never consults the verdict: pairs are measured
  *     until [[MaxPairs]] or until the next pair no longer fits the time
  *     budget ([[nextPairFits]]), so the sample count cannot depend on
  *     the outcome (no optional stopping). The gate is evaluated once,
  *     after sampling ([[evalGate]]): pooled min-wall efficiency
  *     T_N / (4 * T_4N) >= [[GateTarget]], and no more than
  *     [[PlausibleEffCap]].
  *
  *  2. The SparkEntry queries at local[cpus] on `SPARK_GRAFT_SF_DIR`,
  *     each forced through a full materialization (noop sink — count()
  *     would let Catalyst prune the work) under a job group with a hard
  *     cancel timer. A query that throws is reported `failed:true`, with
  *     no time.
  *
  * Survivability contract (a killed run must still leave an artifact):
  *  - the scaling JSON line is printed BEFORE the query phase starts, and
  *    the final line repeats it plus per-query timings — the LAST
  *    parseable line is authoritative;
  *  - every JSON line is mirrored to sidecar files
  *    (/tmp/graft_bench.json and ./BENCH_SIDECAR_LAST.json; promoting a
  *    run to the committed BENCH_SIDECAR.json is a manual copy);
  *  - a watchdog halts the JVM with EXIT CODE 3 at the deadline, after
  *    re-emitting the last line with `truncated:true`; a query skipped
  *    because the deadline is near also marks the run truncated.
  */
object Bench {

  /** The currently running pinned child, so the deadline watchdog can
    * kill it before halting. */
  @volatile private var liveChild: Process = null

  /** Cores of the tool mains' local sessions: `SPARK_GRAFT_CPUS`, else
    * the host's core count. */
  def hostCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The tool mains' local session: `local[cores]` with as many shuffle
    * partitions, UTC timestamps, no UI and AQE on. */
  private[graft] def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-$cores")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run [[BenchLevel]] in a child JVM pinned to `cores` cores, with this
    * JVM's flags, and return its timed wall. The child inherits the heap,
    * whose default (build.sbt: half of MemTotal, clamped to 2..8g) leaves
    * room for parent and child together. */
  private def pinnedLevel(cores: Int, corpusPath: String): Double = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val inherited = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
    val pin =
      if (new java.io.File("/usr/bin/taskset").exists())
        Seq("taskset", "-c", s"0-${cores - 1}")
      else Seq.empty
    val cmd = pin ++ Seq(javaBin) ++ inherited ++ Seq(
      s"-XX:ActiveProcessorCount=$cores",
      "-cp", System.getProperty("java.class.path"),
      "graft.BenchLevel", cores.toString, corpusPath)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    liveChild = p
    val out =
      try {
        val o = scala.io.Source.fromInputStream(p.getInputStream).getLines().toVector
        p.waitFor()
        o
      } finally liveChild = null
    val marker = s"LEVEL $cores "
    out.find(_.startsWith(marker)) match {
      case Some(line) => line.stripPrefix(marker).trim.toDouble
      case None => throw new RuntimeException(
        s"level $cores child failed:\n" + out.takeRight(30).mkString("\n"))
    }
  }

  private def f4(d: Double): String = "%.4f".format(d)

  /** Max measurement pairs. The plan runs this many unless the budget
    * cuts it short — never fewer because the gate already passes, never
    * more because it fails. */
  val MaxPairs = 5
  /** Efficiency gate target (BASELINE.md). */
  val GateTarget = 0.8
  /** Interference can only slow a level, so a hit on the N-core half
    * fakes HIGH efficiency. Nothing here scales super-linearly: a pooled
    * ratio above this cap means even the best N-core run was
    * contaminated, and the run is recorded as a fail. */
  val PlausibleEffCap = 1.15

  /** Scaling levels (N, 4N) for a host with `cores` cores: N = cores / 4
    * (at least 1), so the 4N level uses the whole host. */
  def levels(cores: Int): (Int, Int) = {
    val n = math.max(1, cores / 4)
    (n, 4 * n)
  }

  /** Job layout shared by both levels, so that only the number of task
    * waves differs between them, as on a real N→4N cluster running the
    * same job on the same input splits. */
  val CorpusBuckets = 256
  /** Scan splits (spark.sql.files.minPartitionNum). */
  val ScanMinSplits = 256
  /** Shuffle partitions (the doc_id reassembly after the kernel). */
  val ShufflePartitions = 128
  /** Untimed runs before the timed one, the same at both levels: unequal
    * warm-up would bias the ratio. */
  val WarmRuns = 2

  /** One N-core and one 4N-core pipeline wall, measured back-to-back. */
  final case class PairAttempt(nSec: Double, n4Sec: Double) {
    def eff: Double = nSec / (4.0 * n4Sec)
  }

  /** Pooled gate over the complete sample: MIN wall per level across
    * every pair (the sustainable rate), T_N / (4 * T_4N). */
  final case class GateResult(eff: Double) {
    def passed: Boolean = eff >= GateTarget && eff <= PlausibleEffCap
  }
  def evalGate(pairs: Seq[PairAttempt]): GateResult =
    GateResult(pairs.map(_.nSec).min / (4.0 * pairs.map(_.n4Sec).min))

  /** The fixed plan's only data-dependence: wall clock. One more pair is
    * measured iff the predicted cost — the midpoint of the cheapest and
    * costliest observed pair, x1.1 — fits the budget. Never depends on a
    * measured efficiency. */
  def nextPairFits(done: Int, elapsedSec: Double, pairWallsSec: Seq[Double],
                   budgetSec: Double): Boolean = {
    val predicted = (pairWallsSec.min + pairWallsSec.max) / 2.0 * 1.1
    done < MaxPairs && elapsedSec + predicted < budgetSec
  }

  /** Last emitted artifact line — the watchdog re-emits it with
    * `truncated` flipped true before halting. */
  @volatile private var lastJson: String = null

  private def emitJson(json: String): Unit = {
    lastJson = json
    println(json)
    System.out.flush()
    for (p <- Seq("/tmp/graft_bench.json", "BENCH_SIDECAR_LAST.json")) {
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case _: Throwable => () } // sidecars are best-effort
    }
  }

  /** The watchdog's (and skip-path's) honest marker: the artifact itself
    * must say it is incomplete, not just the exit code. */
  private[graft] def markTruncated(json: String): String =
    json.replace("\"truncated\":false", "\"truncated\":true")

  private type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame
  /** Hard per-query cap: the query's job group is cancelled after this. */
  private val QueryCapSec = 75

  /** The named queries (all when none are named) in name order; an
    * unknown name fails before any Spark session starts. */
  private def selected(names: Seq[String]): Seq[(String, Query)] = {
    val all = SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries ${unknown.mkString(", ")}; known: " +
      all.keys.toSeq.sorted.mkString(", "))
    all.toSeq.sortBy(_._1).filter { case (n, _) => names.isEmpty || names.contains(n) }
  }

  /** The query loop of phase 2 and the `queries` mode: an untimed warm-up
    * run of the first query, then each query `repeats` times through the noop sink. A
    * query is left out while `skip()` holds; one that throws on any
    * repeat (or is cancelled at the cap) reports `None`. */
  private def runQueries(spark: SparkSession, sfDir: String,
                         queries: Seq[(String, Query)], repeats: Int,
                         skip: () => Boolean): Seq[(String, Option[Double])] = {
    val sc = spark.sparkContext
    // untimed session warm-up with the first query itself, so its timed
    // run stops absorbing the session's and its own first-run
    // JIT/classload cost
    for ((name, fn) <- queries.headOption)
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup ($name) failed: ${e.getMessage}")
      }
    val timer = new java.util.Timer("bench-query-cap", true)
    def once(name: String, fn: Query): Option[Double] = {
      sc.setJobGroup(name, name, interruptOnCancel = true)
      val cancel = new java.util.TimerTask {
        def run(): Unit = {
          System.err.println(s"[bench] $name cancelled at ${QueryCapSec}s")
          sc.cancelJobGroup(name)
        }
      }
      timer.schedule(cancel, QueryCapSec * 1000L)
      val q0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        Some((System.nanoTime() - q0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      } finally {
        cancel.cancel()
        sc.clearJobGroup()
      }
    }
    val results = queries.flatMap { case (name, fn) =>
      if (skip()) {
        System.err.println(s"[bench] $name skipped: deadline near")
        None
      } else {
        val times = (1 to repeats).map(_ => once(name, fn))
        val best = if (times.forall(_.isDefined)) Some(times.flatten.min) else None
        System.err.println(f"[bench] $name%-22s " + best.fold("FAILED")(t =>
          f"min $t%7.3f s  " + times.flatten.map(t => f"$t%.3f").mkString("[", ", ", "]")))
        Some(name -> best)
      }
    }
    timer.cancel()
    results
  }

  private def queriesJson(sfDir: String,
                          results: Seq[(String, Option[Double])]): String = {
    val qs = results.map {
      case (k, Some(v)) => s""""$k":${f4(v)}"""
      case (k, None) => s""""$k":{"failed":true}"""
    }.mkString("{", ",", "}")
    s""""queries":$qs,"sf":"$sfDir","total_query_sec":${f4(results.flatMap(_._2).sum)}"""
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = hostCpus
    args.toList match {
      case "queries" :: rest =>
        val (repeats, names) = rest match {
          case r :: ns if r.forall(_.isDigit) => (r.toInt, ns)
          case ns => (1, ns)
        }
        require(repeats >= 1, "repeats must be at least 1")
        val queries = selected(names)
        val spark = session(cpus)
        try {
          val results = runQueries(spark, sfDir, queries, repeats, () => false)
          println(s"""{"metric":"query phase (min of $repeats)",${queriesJson(sfDir, results)}}""")
        } finally spark.stop()
      case "plans" :: outDir :: suffix :: names =>
        val queries = selected(names)
        val spark = session(cpus)
        try plans(spark, sfDir, outDir, suffix, queries)
        finally spark.stop()
      case "kernel" :: rest if rest.size <= 2 =>
        val docs = rest.headOption.fold(100)(_.toInt)
        val reps = rest.lift(1).fold(5)(_.toInt)
        require(docs >= 1 && reps >= 1, "docs and reps must be at least 1")
        println(kernel(docs, reps))
      case Nil => scalingAndQueries(sfDir, cpus, elapsed)
      case _ =>
        System.err.println("usage: Bench | Bench queries [repeats] [name ...] | " +
          "Bench plans <outDir> <suffix> [name ...] | Bench kernel [docs] [reps]")
        sys.exit(2)
    }
  }

  /** Per-page cost of the page kernel: `Recognize.recognizeStored` on
    * this thread over the content pages of docs `0 until docs`
    * (`CorpusGen.genDoc`, cover page dropped by
    * `ExtractKernel.contentSpans`), every page decoded once up front. The
    * pages are recognized `reps` times; the JSON line reports the fastest
    * pass as ms per page, and a digest of every page's text and
    * confidence histogram from the last pass, which changes with any
    * change in the kernel's output. */
  def kernel(docs: Int, reps: Int): String = {
    import graft.functions.TextHashes
    import graft.kernel.{CropConfig, ExtractKernel, Recognize, SyntheticStore}
    val pages = (0 until docs).flatMap { i =>
      val doc = CorpusGen.genDoc(i)._1
      val crop = CropConfig.lookup(doc.doc_id)
      ExtractKernel.contentSpans(doc).filter(_.kind == "media")
        .map(s => (SyntheticStore.decode(s.media_ref), crop))
    }
    var bestNs = Long.MaxValue
    var digest = 0L
    for (_ <- 1 to reps) {
      digest = 0L
      val t0 = System.nanoTime()
      for ((stored, crop) <- pages) {
        val r = Recognize.recognizeStored(stored, crop)
        digest = TextHashes.mix(digest ^
          TextHashes.fnv64(r.text + "\u0000" + r.confHist.mkString(",")))
      }
      bestNs = math.min(bestNs, System.nanoTime() - t0)
    }
    val msPerPage = bestNs / 1e6 / pages.size
    f"""{"metric":"kernel ms/page (min of $reps, one thread)","docs":$docs,"pages":${pages.size},"ms_per_page":$msPerPage%.4f,"digest":"${java.lang.Long.toHexString(digest)}"}"""
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
                    suffix: String, queries: Seq[(String, Query)]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for ((name, fn) <- queries) {
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val out = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
        java.nio.file.Files.write(out,
          plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        System.err.println(s"[bench] wrote $out")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name plan failed: ${e.getMessage}")
      }
    }
  }

  /** Phase 1 then phase 2; `elapsed` is seconds since the JVM's main
    * started, which the deadline counts from. */
  private def scalingAndQueries(sfDir: String, cpus: Int,
                                elapsed: => Double): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "4800").toInt
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE_SEC", "1800").toInt
    val (scaleN, scale4N) = levels(cpus)
    // cache key carries generator version AND physical layout
    val corpusPath =
      s"/tmp/graft_bench_corpus_${nDocs}_v${CorpusGen.GenVersion}_b$CorpusBuckets"

    @volatile var finished = false
    val watchdog = new Thread(() => {
      val slept =
        try { Thread.sleep(deadlineSec * 1000L); true }
        catch { case _: InterruptedException => false }
      if (slept && !finished) {
        System.err.println(
          s"[bench] watchdog: deadline ${deadlineSec}s hit, halting with " +
          "rc 3 (artifact re-emitted with truncated:true)")
        val child = liveChild
        if (child != null) child.destroyForcibly() // no orphaned pinned JVM
        val lj = lastJson
        if (lj != null) emitJson(markTruncated(lj))
        // NONZERO: a truncated bench must not read as a clean rc=0 run
        Runtime.getRuntime.halt(3)
      }
    })
    watchdog.setDaemon(true)
    watchdog.start()

    // ---- phase 1: scaling, local[N] vs local[4N] on identical input
    val prep = session(cpus)
    if (!java.nio.file.Files.exists(
          java.nio.file.Paths.get(s"$corpusPath/_snapshots"))) {
      SnapshotTable.write(
        CorpusGen.inputDS(prep, nDocs, heavyEvery = 50).toDF(), corpusPath,
        buckets = CorpusBuckets)
    }
    // span count for throughput: distributed agg, not a driver loop
    val totalSpans = {
      import org.apache.spark.sql.functions.{col, size, sum}
      SnapshotTable.read(prep, corpusPath)._1
        .select(sum(size(col("spans")) - 1)).head().getLong(0) // cover dropped
    }
    prep.stop()

    def level(cores: Int): Double = {
      val t = pinnedLevel(cores, corpusPath)
      System.err.println(f"[bench] level $cores $t%.2fs | t=$elapsed%.0fs")
      t
    }
    var pairWalls = Vector.empty[Double]
    def measurePair(idx: Int): PairAttempt = {
      val p0 = elapsed
      // alternate level order: neither level systematically gets the
      // earlier slot of its window
      val pair =
        if (idx % 2 == 0) { val n = level(scaleN); PairAttempt(n, level(scale4N)) }
        else { val n4 = level(scale4N); PairAttempt(level(scaleN), n4) }
      pairWalls :+= elapsed - p0
      System.err.println(f"[bench] pair ${idx + 1} eff ${pair.eff}%.3f | " +
        f"wall ${pairWalls.last}%.0fs | t=$elapsed%.0fs")
      pair
    }

    // FIXED sampling plan; the query phase keeps a 300 s reserve
    val budgetSec = (deadlineSec - 300.0).max(deadlineSec * 0.4)
    var pairs = Vector(measurePair(0))
    while (nextPairFits(pairs.size, elapsed, pairWalls, budgetSec))
      pairs :+= measurePair(pairs.size)

    val gate = evalGate(pairs)
    val tN = pairs.map(_.nSec).min
    val t4N = pairs.map(_.n4Sec).min
    System.err.println(
      f"[bench] POOLED eff ${gate.eff}%.3f over ${pairs.size} pairs | " +
      f"gate ${if (gate.passed) "PASSED" else "FAILED"} | t=$elapsed%.0fs")

    def renderJson(queries: Seq[(String, Option[Double])]): String =
      s"""{"metric":"end-to-end extraction throughput (docs/sec at local[$scale4N]; scaling efficiency local[$scaleN]->local[$scale4N] = T_N/(4*T_4N))","value":${f4(nDocs / t4N)},"unit":"docs/sec",${queriesJson(sfDir, queries)},"truncated":false,"scaling":{"host_cores":$cpus,"corpus_docs":$nDocs,"corpus_spans":$totalSpans,"scale_n_cores":$scaleN,"scale_4n_cores":$scale4N,"n_docs_per_sec":${f4(nDocs / tN)},"n_spans_per_sec":${f4(totalSpans / tN)},"n4_docs_per_sec":${f4(nDocs / t4N)},"n4_spans_per_sec":${f4(totalSpans / t4N)},"efficiency_n_to_4n":${f4(gate.eff)},"pairs":${pairs.size},"pair_effs":${pairs.map(p => f4(p.eff)).mkString("[", ",", "]")},"gate_passed":${gate.passed},"gate_rule":"pooled min-wall T_N/(4*T_4N) >= $GateTarget and <= $PlausibleEffCap; fixed sampling (no optional stopping)"}}"""

    // the scaling artifact is safe on stdout + sidecars from here on
    emitJson(renderJson(Seq.empty))

    // ---- phase 2: the queries at local[cpus]
    val skipQueries = sys.env.get("SPARK_GRAFT_BENCH_SKIP_QUERIES").contains("1")
    val queries =
      if (skipQueries) Seq.empty
      else {
        val spark = session(cpus)
        try runQueries(spark, sfDir, selected(Nil), 1,
          () => elapsed > deadlineSec - QueryCapSec - 30)
        finally spark.stop()
      }
    // deadline-near skips make the run INCOMPLETE (an explicit
    // SKIP_QUERIES run is not: the caller asked for scaling only)
    val deadlineSkipped = !skipQueries && queries.size < SparkEntry.queries.size
    val finalJson = renderJson(queries)
    emitJson(if (deadlineSkipped) markTruncated(finalJson) else finalJson)
    finished = true
    watchdog.interrupt()
    if (deadlineSkipped) sys.exit(3) // incomplete must not read as clean
  }
}
