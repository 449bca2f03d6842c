package graft

import graft.pipeline.{ExtractJob, SnapshotTable}
import org.apache.spark.sql.SparkSession

/** One scaling-level measurement in an isolated JVM (spawned by Bench,
  * CPU-pinned via taskset): runs the extraction pipeline on the given
  * corpus at local[cores], [[Bench.WarmRuns]] times untimed and then once
  * timed, and prints `LEVEL <cores> <seconds>`. A dedicated pinned JVM per level is the
  * honest proxy for an N-core cluster: GC/JIT threads and the scheduler
  * see exactly N cores, and no heap/JIT state leaks between levels.
  *
  * Usage: BenchLevel <cores> <corpusPath>
  */
object BenchLevel {
  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val corpusPath = args(1)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-bench-level-$cores")
      // the same job layout at both levels (Bench.CorpusBuckets)
      .config("spark.sql.shuffle.partitions", Bench.ShufflePartitions)
      .config("spark.sql.files.minPartitionNum", Bench.ScanMinSplits)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // fixed-shape plan with pre-balanced buckets: AQE's shuffle
      // materialization barriers only add latency here
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def once(): Double = {
      val (df, _) = SnapshotTable.read(spark, corpusPath)
      // the kernel runs in as many tasks as the scan has splits
      // (Bench.ScanMinSplits), at both levels
      val out = ExtractJob.extract(spark, df.as[graft.core.Doc],
        ExtractJob.Config(skewSpanThreshold = 32))
      val t0 = System.nanoTime()
      out.write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to Bench.WarmRuns).foreach(_ => once()) // JIT/codegen, discarded
    val t = once()
    spark.stop()
    println(s"LEVEL $cores $t")
  }
}
