package graft.pipeline

import graft.core.Doc
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, xxhash64}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot emulation over Parquet (no Iceberg jars ship in
  * this image — SURVEY §7.4): a table directory plus
  * `_snapshots/<id>.json` manifests and a `_snapshots/CURRENT` pointer.
  * The snapshot id is a digest of the rows written, not of the file list,
  * so the same docs written again (new part-file names, another bucket
  * count or row order) keep their id and a resume against the rewrite
  * finds them done. The id flows into every lineage row (north_rule:
  * "input snapshot id"). Writes are bucketed by doc_id via
  * repartition(buckets, hash) — the bucket spec `bucket(doc_id, N)`.
  */
object SnapshotTable {

  /** Write `df` as the table's new snapshot and commit it; returns its id.
    * The id is `count(1)` and `bit_xor(xxhash64(row))` folded into 16 hex
    * chars: both ride the write job as observed metrics, so no second
    * scan, and xor ignores row order and bucket count. Doc ids are unique,
    * so no two rows cancel. The observation sits on the write side of the
    * exchange, where AQE keeps it even for an empty input. */
  def write(df: DataFrame, path: String, buckets: Int,
            bucketCol: String = "doc_id"): String = {
    val obs = new Observation()
    df.repartition(buckets, col(bucketCol))
      .observe(obs, count(lit(1)).as("rows"),
               bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)).as("digest"))
      .write.mode("overwrite").parquet(path)
    val rows = obs.get("rows")
    val digest = Option(obs.get("digest")).getOrElse(0L) // null: no rows
    commit(path, f"${graft.functions.TextHashes.fnv64(s"$rows:$digest")}%016x")
  }

  /** Record the data files on disk in manifest `id` and point CURRENT at it. */
  private def commit(path: String, id: String): String = {
    val dir = Paths.get(path)
    val files = listDataFiles(dir)
    val snapDir = dir.resolve("_snapshots")
    Files.createDirectories(snapDir)
    val manifest =
      s"""{"snapshot_id": "$id", "files": [${
        files.map(p => "\"" + dir.relativize(p) + "\"").mkString(", ")
      }]}"""
    Files.writeString(snapDir.resolve(s"$id.json"), manifest)
    Files.writeString(snapDir.resolve("CURRENT"), id)
    id
  }

  def currentSnapshotId(path: String): String = {
    val cur = Paths.get(path, "_snapshots", "CURRENT")
    require(Files.exists(cur), s"no snapshot committed at $path")
    Files.readString(cur).trim
  }

  /** Read pinned to the current snapshot, with the `Doc` schema given so
    * that the read infers nothing. */
  def read(spark: SparkSession, path: String): (DataFrame, String) = {
    val id = currentSnapshotId(path)
    (spark.read.schema(Encoders.product[Doc].schema).parquet(path), id)
  }

  private def listDataFiles(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq
}
