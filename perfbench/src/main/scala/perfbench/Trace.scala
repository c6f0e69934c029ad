package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

final case class AccumNode(exec: Long, node: String, simple: String,
    metric: String)

/** One Spark stage's numbers, as seen by [[JobTrace]]. `ops` are the
  * (nodeName, simpleString) of every SQL operator whose metrics the
  * stage's tasks updated — the handle that names the library stage a
  * Spark stage ran, from outside the library. */
final class StageRow(val group: String, val stageId: Int) {
  var wallMs = 0L
  val taskMs = ArrayBuffer.empty[Long]
  var shuffleWrite, spillDisk, inputBytes, outputBytes = 0L
  val accums = scala.collection.mutable.Map.empty[Long, Long]
  def runMs: Long = taskMs.sum
}

/** Listener rows keyed by job group: the benchmark sets one group per
  * timed library call (`call#n`), so every job, stage and task a call
  * causes — broadcasts and subqueries included, which inherit the
  * group — lands in that call's rows and in no other. Spans and counts
  * stay in memory; [[Trace]] reads them after draining the bus. */
final class JobTrace extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  val stages = new ConcurrentHashMap[(String, Int), StageRow]()
  /** SQL metric accumulator id → the operator that owns it. */
  val accumNode = new ConcurrentHashMap[Long, AccumNode]()
  val driverAccums = new ConcurrentHashMap[Long, Long]()
  private val blockMem = new ConcurrentHashMap[String, Long]()
  @volatile private var memNow = 0L
  @volatile var memPeak = 0L

  private def row(g: String, s: Int) =
    stages.computeIfAbsent((g, s), _ => new StageRow(g, s))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("<none>")
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execGroup.put(x.toLong, g))
    e.stageInfos.foreach(si => stageGroup.put(si.stageId, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "<none>")
    val m = e.taskMetrics
    val r = row(g, e.stageId)
    r.synchronized {
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spillDisk += m.diskBytesSpilled
        r.inputBytes += m.inputMetrics.bytesRead
        r.outputBytes += m.outputMetrics.bytesWritten
      }
      e.taskInfo.accumulables.foreach { a =>
        a.update.foreach {
          case v: Long => r.accums(a.id) = r.accums.getOrElse(a.id, 0L) + v
          case _ =>
        }
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val g = stageGroup.getOrDefault(si.stageId, "<none>")
    for (a <- si.submissionTime; b <- si.completionTime)
      row(g, si.stageId).wallMs = b - a
  }

  private def register(exec: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach(mi => accumNode.put(mi.accumulatorId,
      AccumNode(exec, p.nodeName, p.simpleString, mi.name)))
    p.children.foreach(register(exec, _))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => register(s.executionId, s.sparkPlanInfo)
    case a: SparkListenerSQLAdaptiveExecutionUpdate =>
      register(a.executionId, a.sparkPlanInfo)
    case d: SparkListenerDriverAccumUpdates =>
      d.accumUpdates.foreach { case (id, v) =>
        driverAccums.merge(id, v, (x: Long, y: Long) => x + y)
      }
    case _ =>
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = info.blockId.name
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      val before = Option(blockMem.put(key, now)).getOrElse(0L)
      memNow += now - before
      if (memNow > memPeak) memPeak = memNow
    }
  }

  def rows(group: String): Seq[StageRow] =
    stages.values.asScala.filter(_.group == group).toSeq.sortBy(_.stageId)

  /** The group of a SQL execution, for driver-side metrics. */
  def groupOfExecution(exec: Long): Option[String] = Option(execGroup.get(exec))
}

/** Per-call aggregate of a group's stages. */
final case class CallStats(wall: Double, tasks: Int, runMs: Long,
    maxTaskMs: Long, medianTaskMs: Double, shuffleBytes: Long,
    spillBytes: Long, inputBytes: Long, outputBytes: Long) {
  def coreBusy(cores: Int): Double =
    if (wall <= 0) 0.0 else runMs / 1000.0 / (wall * cores)
  def taskSkew: Double =
    if (medianTaskMs <= 0) 1.0 else maxTaskMs / medianTaskMs
}

object Trace {
  private val MB = 1024.0 * 1024.0
  def mb(b: Long): Double = b / MB

  /** Block until every posted event reached the listeners. */
  def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  /** Skew is taken in the call's heaviest stage (most task time), where
    * a straggler costs the most; mixing tasks of different stages would
    * compare unlike work. */
  def stats(rows: Seq[StageRow], wall: Double): CallStats = {
    val heavy = if (rows.isEmpty) None else Some(rows.maxBy(_.runMs))
    val ht = heavy.map(_.taskMs.toSeq).getOrElse(Nil)
    CallStats(wall,
      tasks = rows.map(_.taskMs.size).sum,
      runMs = rows.map(_.runMs).sum,
      maxTaskMs = if (ht.isEmpty) 0L else ht.max,
      medianTaskMs = Stats.median(ht.map(_.toDouble)),
      shuffleBytes = rows.map(_.shuffleWrite).sum,
      spillBytes = rows.map(_.spillDisk).sum,
      inputBytes = rows.map(_.inputBytes).sum,
      outputBytes = rows.map(_.outputBytes).sum)
  }

  /** The operators (node name, simpleString) a stage's tasks ran. */
  def ops(t: JobTrace, r: StageRow): Seq[(String, String)] =
    r.accums.keys.toSeq.flatMap(id => Option(t.accumNode.get(id)))
      .map(a => (a.node, a.simple)).distinct

  /** Sum of a named SQL metric over the operators matching `node`, for
    * one group's stages plus its driver-side updates (e.g. a scan's
    * "number of files read"). */
  def sqlMetric(t: JobTrace, group: String, node: AccumNode => Boolean,
      metric: String): Long = {
    def owner(id: Long) = Option(t.accumNode.get(id))
      .filter(a => node(a) && a.metric == metric)
    val taskSide = t.rows(group).flatMap(_.accums.toSeq).collect {
      case (id, v) if owner(id).isDefined => v
    }.sum
    val driverSide = t.driverAccums.asScala.collect {
      case (id, v) if owner(id).exists(a =>
        t.groupOfExecution(a.exec).contains(group)) => v
    }.sum
    taskSide + driverSide
  }
}
