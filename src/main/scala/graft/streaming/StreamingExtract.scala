package graft.streaming

import graft.core.Doc
import graft.pipeline.ExtractJob
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.Trigger

/** Incremental extraction as Structured Streaming (SURVEY §2.9) — the
  * idiomatic Spark form of the reference's incremental per-year run loop
  * with filename-watermark resume (joradp_parse.py:160-167 loop,
  * :101-114 watermark): a file-source stream over the corpus table picks
  * up exactly the files not seen by previous runs (the streaming
  * checkpoint's file log is the resume state — stronger than the
  * reference's max-filename watermark, which can skip unprocessed
  * lexicographically-smaller docs), and `Trigger.AvailableNow` catches up
  * on the backlog and stops, so the job runs as a restartable batch. The
  * extraction job's transformation runs unchanged inside foreachBatch.
  */
object StreamingExtract {

  /** Idempotent per-batch sink: each micro-batch owns the `batch=<id>`
    * partition directory and OVERWRITES it. If a run dies after the write
    * commits but before the streaming checkpoint records the batch, the
    * next AvailableNow run replays the batch into the same directory and
    * the output is unchanged — append mode would duplicate every doc of
    * the replayed batch (exactly the reference's double-processing window
    * when its max-filename watermark lags a crash). */
  def writeBatch(spark: SparkSession, batch: DataFrame, outPath: String,
                 batchId: Long, cfg: ExtractJob.Config): Long = {
    import spark.implicits._
    // the docs count rides the output write as an observed metric, on the
    // write side of the reassembly exchange: below an exchange, AQE drops
    // the metrics of an empty run
    val obs = new Observation()
    ExtractJob.extract(spark, batch.as[Doc], cfg)
      .observe(obs, count(lit(1)).as("docs"))
      .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
    obs.get("docs").asInstanceOf[Long]
  }

  /** Process all corpus files not yet seen by this checkpoint; write
    * extracted docs to outPath (batch-partitioned, replay-idempotent).
    * Returns input docs processed this run. */
  def runAvailableNow(spark: SparkSession, inputPath: String,
                      outPath: String, ckptDir: String,
                      cfg: ExtractJob.Config = ExtractJob.Config()): Long = {
    val processed = new java.util.concurrent.atomic.AtomicLong(0)
    val stream = spark.readStream
      .schema(Encoders.product[Doc].schema)
      .option("pathGlobFilter", "*.parquet") // data files only, not _snapshots
      .parquet(inputPath)
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processed.addAndGet(writeBatch(spark, batch, outPath, batchId, cfg))
        ()
      }
      .start()
    q.awaitTermination()
    processed.get()
  }
}
