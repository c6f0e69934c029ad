package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Diagnostic main for the streaming bench arms (VERDICT r14 item 5):
  * runs x21's stream-stream interval join under named config variants
  * and prints each micro-batch's `StreamingQueryProgress.durationMs`
  * breakdown plus the state-operator commit metrics, so "checkpoint
  * I/O" vs "join-state churn" is measured instead of guessed.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain
  * graft.tools.StreamProfile [variant ...]; no args = all variants.
  * Findings land in PERFORMANCE.md ("x21 profile"); this main stays so
  * the numbers are reproducible when the streaming defaults change.
  */
object StreamProfile {

  final case class Variant(name: String, confs: Map[String, String])

  val variants: Seq[Variant] = Seq(
    Variant("baseline_p32", Map.empty),
    Variant("parts8", Map("spark.sql.shuffle.partitions" -> "8")),
    Variant("parts4", Map("spark.sql.shuffle.partitions" -> "4")),
    Variant("nodata_off", Map(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")),
    Variant("parts8_nodata_off", Map(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")),
    Variant("rocksdb", Map(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val wanted =
      if (args.isEmpty) variants.map(_.name).toSet else args.toSet
    val spark = graft.GraftSession.builder("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (v <- variants if wanted(v.name)) {
      // session confs are sticky: set this variant's, reset after
      graft.GraftSession.withConfs(spark, v.confs) {
        // one warm + two timed, matching the bench's median-of-iters
        val times = (0 until 3).map(_ => runOnce(spark, sfDir, v.name))
        println(s"== ${v.name} wall(s): ${times.map(t => f"$t%.2f").mkString(", ")}")
      }
    }
    spark.stop()
  }

  private def runOnce(spark: SparkSession, sfDir: String,
      tag: String): Double = {
    val stream = graft.streaming.EventStreams.eventsFileStream(spark, sfDir)
    val cands = stream.filter(col("event_type").isin("click", "view"))
    val convs = stream.filter(col("event_type") === "purchase")
    val joined: DataFrame =
      graft.streaming.EventStreams.intervalJoin(cands, convs)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-profile-ckpt")
    val t0 = System.nanoTime()
    val q = joined.writeStream
      .format("noop")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.awaitTermination()
    finally { if (q.isActive) q.stop() }
    val wall = (System.nanoTime() - t0) / 1e9
    q.recentProgress.foreach { p =>
      val dm = p.durationMs
      val state = p.stateOperators.map(s =>
        s"rows=${s.numRowsTotal} upd=${s.allUpdatesTimeMs}ms rm=${s.allRemovalsTimeMs}ms commit=${s.commitTimeMs}ms mem=${s.memoryUsedBytes}")
        .mkString(" | ")
      println(s"[$tag] batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=${new java.util.TreeMap[String, java.lang.Long](dm)} state: $state")
    }
    // checkpoint size = the I/O the run paid
    val ckptBytes = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(ckpt)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally walk.close()
    }
    val ckptFiles = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(ckpt)
      try walk.iterator().asScala
        .count(java.nio.file.Files.isRegularFile(_))
      finally walk.close()
    }
    println(f"[$tag] wall=${wall}%.2fs ckpt_files=$ckptFiles ckpt_bytes=$ckptBytes")
    // cleanup outside the timed region is fine here (not a bench)
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(ckpt)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    wall
  }
}
