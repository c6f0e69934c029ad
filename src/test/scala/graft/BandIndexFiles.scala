package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directory-level views of a standing band index
  * ([[graft.ops.TextDedupIndex]], [[graft.multimodal.VideoFrameIndex]])
  * for the specs that pin its layout. */
object BandIndexFiles {

  /** `band=` directory name → the `.parquet` files directly in it. */
  def parquetByBand(dir: String): Map[String, Seq[java.io.File]] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("band="))
      .map(d => d.getName -> d.listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")))
      .toMap

  /** Every directory nested inside a `band=` directory. */
  def nestedDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("band="))
      .flatMap(d => d.listFiles().toSeq.filter(_.isDirectory)
        .map(c => s"${d.getName}/${c.getName}"))

  /** The `bkey` column of one parquet file, in file order. */
  def bkeys(spark: SparkSession, file: java.io.File): Seq[Long] =
    spark.read.parquet(file.toString).select("bkey")
      .collect().map(_.getLong(0)).toSeq

  /** Relative path → bytes (empty for a directory) of every entry
    * under `dir`: equal snapshots mean the tree was left untouched. */
  def snapshot(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map { p =>
      root.relativize(p).toString ->
        (if (java.nio.file.Files.isDirectory(p)) Seq.empty[Byte]
         else java.nio.file.Files.readAllBytes(p).toSeq)
    }.toMap
    finally walk.close()
  }

  /** Write band rows (with `band` and `bkey`) in the old two-level
    * layout, `partitionBy(band, bgroup)` with `bgroup = bkey mod 64`,
    * as indexes built before the band-only layout have it. */
  def writeOldLayout(bandRows: DataFrame, path: String): Unit =
    bandRows.withColumn("bgroup", pmod(col("bkey"), lit(64)))
      .write.partitionBy("band", "bgroup").mode("overwrite").parquet(path)
}
