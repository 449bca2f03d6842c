package graft.tools

/** Drives the driver contract exactly as the harness does: SparkEntry.entry
  * smoke (rows > 0), one sampled query, and failure-path probes. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session(graft.Bench.hostCpus)
    spark.sparkContext.setLogLevel("ERROR")

    // t1 smoke: flagship entry
    val entry = graft.SparkEntry.entry(spark)
    val n = entry.count()
    println(s"SMOKE entry rows=$n")
    entry.show(6, truncate = 60)

    // one oracled query on sf0.001
    val q = graft.SparkEntry.queries("q1_pricing")(spark, "/root/testdata/sf0.001")
    q.show(3)

    // probe: extraction against a directory with no committed snapshot
    try {
      graft.pipeline.ExtractJob.run(spark, "/tmp/does-not-exist-snap",
        "/tmp/smoke-out", "/tmp/smoke-ck")
      println("PROBE uncommitted-snapshot: NO ERROR (unexpected)")
    } catch {
      case e: IllegalArgumentException =>
        println(s"PROBE uncommitted-snapshot: clean error -> ${e.getMessage}")
    }

    // probe: doc id outside every crop-config interval fails loudly (J1)
    try {
      graft.kernel.ExtractKernel.extractDoc(
        graft.core.Doc("F2099001", Seq(graft.core.Span("text", "<p>x</p>", "", 0))))
      println("PROBE crop-config-miss: NO ERROR (unexpected)")
    } catch {
      case e: IllegalArgumentException =>
        println(s"PROBE crop-config-miss: clean error -> ${e.getMessage}")
    }

    // probe: unknown span kind fails loudly
    try {
      graft.kernel.ExtractKernel.extractDoc(
        graft.core.Doc("F1985001", Seq(
          graft.core.Span("media", "", "synth://F1985001/0", 0),
          graft.core.Span("video", "", "synth://F1985001/1", 1))))
      println("PROBE unknown-kind: NO ERROR (unexpected)")
    } catch {
      case e: IllegalArgumentException =>
        println(s"PROBE unknown-kind: clean error -> ${e.getMessage}")
    }

    spark.stop()
  }
}
