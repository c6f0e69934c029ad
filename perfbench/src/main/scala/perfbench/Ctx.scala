package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed library call. `traced` says whether the listener was
  * attached while it ran; codegen and GC are process-wide deltas, which
  * is exact here because one client thread makes every call. */
final case class CallRec(call: String, group: String, iter: Int,
    wall: Double, traced: Boolean, codegenMs: Double, gcMs: Long)

/** The measuring process's state: session, tracer, and every call it
  * timed. Each timed call runs under its own job group `call#n`. */
final class Ctx(val spark: SparkSession, val cores: Int, val work: Path,
    val tracer: Option[JobTrace]) {
  val calls = ArrayBuffer.empty[CallRec]
  var iter = 0
  private var seq = 0
  private var tracing = false

  /** Attach or detach the listener for the next calls (the traced run
    * alternates so it can report its own overhead). */
  def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on && !tracing) spark.sparkContext.addSparkListener(t)
    if (!on && tracing) {
      Trace.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(t)
    }
    tracing = on
  }
  def timed[T](call: String)(f: => T): T = {
    seq += 1
    val group = s"$call#$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, call, interruptOnCancel = false)
    val cg0 = Ctx.codegenNs; val gc0 = Ctx.gcMs
    val t0 = System.nanoTime()
    try f finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      calls += CallRec(call, group, iter, wall, tracing,
        (Ctx.codegenNs - cg0) / 1e6, Ctx.gcMs - gc0)
    }
  }

  def path(rel: String): String = work.resolve(rel).toString
}

object Ctx {
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime +
      org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** VmHWM of this process, MB (Linux); 0 where /proc is absent. */
  def peakRssMb: Double = {
    val p = java.nio.file.Paths.get("/proc/self/status")
    if (!Files.exists(p)) 0.0
    else Files.readAllLines(p).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Order-independent content hash: lines sorted, SHA-256. */
  def hashLines(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  /** [[hashLines]] over a frame's rows rendered as text. */
  def hashFrame(df: DataFrame): String =
    hashLines(df.collect().toSeq.map(_.mkString("\u0001")))

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.delete)
    }

  /** Copy a directory tree as hard links: the nightly index appends and
    * compactions never modify an existing file, so every night can
    * start from the pristine standing state at almost no cost. */
  def linkTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    }

  def countFiles(dir: Path, suffix: String): Int =
    Files.walk(dir).iterator().asScala
      .count(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(suffix))
}
