package graft.pipeline

import graft.core.Doc
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Iceberg-style snapshot emulation over Parquet (no Iceberg jars ship in
  * this image — SURVEY §7.4): a table directory plus
  * `_snapshots/<id>.json` manifests and a `_snapshots/CURRENT` pointer.
  * The snapshot id is a content hash of the committed file list, flows into
  * every lineage row (north_rule: "input snapshot id"), and pins what a
  * resume run re-reads. Writes are bucketed by doc_id via
  * repartition(buckets, hash) — the bucket spec `bucket(doc_id, N)`.
  */
object SnapshotTable {

  def write(df: DataFrame, path: String, buckets: Int,
            bucketCol: String = "doc_id"): String = {
    df.repartition(buckets, col(bucketCol))
      .write.mode("overwrite").parquet(path)
    commit(path)
  }

  /** Hash the data files on disk into a snapshot manifest; returns id. */
  def commit(path: String): String = {
    val dir = Paths.get(path)
    val files = listDataFiles(dir)
    val desc = files.map { p =>
      s"${dir.relativize(p)}:${Files.size(p)}"
    }.sorted.mkString("\n")
    val id = f"${graft.synth.Rng.fnv64(desc)}%016x"
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
