package perfbench

import scala.collection.mutable

/** Per-layer numbers of a traced run, from the job-group listener rows
  * and the executed plans' SQL metrics. Medians are over the traced
  * warm jobs (the cold job when a call ran only once). */
object Layers {

  /** Curation stages in pipeline order, each with an operator signature
    * from the library's plans. A Spark stage is named after the LAST
    * library stage whose operators its tasks ran: map-side stages are
    * pipelined, so a Spark stage that runs scrub and then the dedup
    * partial aggregate counts as dedup. A stage with no signature is
    * `read` when it scans the input files (the entry scan and re-split),
    * `report` when it only scans cached stages (the drop report's
    * aggregates), else `other`. */
  val curateStages: Seq[(String, scala.util.matching.Regex)] = Seq(
    "quality" -> "__uniq".r,
    "repetition" -> raw"__dup2#\d+ <= 0\.2".r,
    "boilerplate" -> "segment".r,
    "scrub" -> raw"collect_set\(p|\bdrop#|\bstart#".r,
    "dedup" -> raw"__h#|__first".r,
    "shards" -> "shuffle_key|cum_before|__total".r,
    "report" -> "n_tokens_total".r)

  /** X26Profile's attribution of the same funnel (OPTIMIZATION_r19 §11,
    * sf1, 32 cores, steady seconds), set beside this split. */
  val r19Split: Seq[(String, Double)] = Seq("quality" -> 1.03,
    "repetition" -> 0.13, "boilerplate" -> 1.17, "scrub" -> 1.34,
    "dedup" -> 0.74, "shards" -> 0.29)

  def libraryStage(t: JobTrace, r: StageRow): String = {
    val text = Trace.ops(t, r).map { case (n, s) => n + " " + s }.mkString("\n")
    curateStages.filter(_._2.findFirstIn(text).isDefined).lastOption
      .map(_._1).getOrElse {
        if (text.contains("Scan parquet") || text.contains("Scan csv")) "read"
        else if (text.contains("InMemoryTableScan")) "report"
        else "other"
      }
  }

  private def isJoin(a: AccumNode) =
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").exists(a.node.startsWith)

  /** Per library stage of one curation call: task seconds, core_busy
    * over the wall of its Spark stages, and the Spark stage ids of the
    * last invocation; medians over the invocations in `recs`. */
  def split(t: JobTrace, recs: Seq[CallRec], cores: Int): Map[String, Any] = {
    val per = recs.map { r =>
      t.rows(r.group).filter(_.taskMs.nonEmpty).groupBy(libraryStage(t, _))
        .map { case (lib, rows) =>
        val taskS = rows.map(_.runMs).sum / 1000.0
        val wallS = rows.map(_.wallMs).sum / 1000.0
        lib -> (taskS, if (wallS > 0) taskS / (wallS * cores) else 0.0,
          rows.map(_.stageId).mkString(","))
      }
    }
    per.flatMap(_.keys).distinct.map { lib =>
      val xs = per.flatMap(_.get(lib))
      lib -> Map("task_s" -> Stats.median(xs.map(_._1)),
        "core_busy" -> Stats.median(xs.map(_._2)),
        "spark_stages_last_job" -> xs.last._3)
    }.toMap
  }

  def apply(ctx: Ctx, t: JobTrace, w: Workload,
      jobs: Seq[(Int, Double, Boolean)]): Map[String, Any] = {
    Trace.drain(ctx.spark.sparkContext)
    val cores = ctx.cores
    val traced = ctx.calls.filter(c => c.traced && c.iter >= 0).toSeq
    def recsOf(call: String) = {
      val warm = traced.filter(c => c.call == call && c.iter > 0)
      if (warm.nonEmpty) warm else traced.filter(_.call == call)
    }
    def med(xs: Seq[Double]) = Stats.median(xs)

    val perCall = mutable.LinkedHashMap.empty[String, Any]
    def measures(recs: Seq[CallRec]): Map[String, Double] = {
      val st = recs.map(r => Trace.stats(t.rows(r.group), r.wall))
      Map(
        "wall_s" -> med(recs.map(_.wall)),
        "tasks" -> med(st.map(_.tasks.toDouble)),
        "core_busy" -> med(st.map(_.coreBusy(cores))),
        "task_skew" -> med(st.map(_.taskSkew)),
        "shuffle_mb" -> med(st.map(s => Trace.mb(s.shuffleBytes))),
        "spill_mb" -> med(st.map(s => Trace.mb(s.spillBytes))),
        "scan_mb" -> med(st.map(s => Trace.mb(s.inputBytes))),
        "write_mb" -> med(st.map(s => Trace.mb(s.outputBytes))))
    }
    traced.map(_.call).distinct.foreach { call =>
      perCall(call) = measures(recsOf(call)).filter(_._2 != 0.0)
    }

    // ratios
    val ratios = mutable.LinkedHashMap.empty[String, Double]
    if (w.csvBytes > 0) {
      val recs = recsOf(w.mainCall)
      ratios(s"${w.mainCall}.scan_amplification") = med(recs.map(r =>
        t.rows(r.group).map(_.inputBytes).sum.toDouble / w.csvBytes))
    }
    w.probes.foreach { case (call, (dir, verified, files)) =>
      val recs = recsOf(call)
      ratios(s"$call.files_read_frac") = med(recs.map(r =>
        Trace.sqlMetric(t, r.group, a => a.simple.contains(dir),
          "number of files read").toDouble / files.max(1)))
      ratios(s"$call.candidate_yield") = med(recs.map { r =>
        val joinRows = t.rows(r.group).flatMap(_.accums.toSeq).collect {
          case (id, v) if Option(t.accumNode.get(id)).exists(a =>
            isJoin(a) && a.metric == "number of output rows") => (id, v)
        }.groupBy(_._1).values.map(_.map(_._2).sum)
        val cand = if (joinRows.isEmpty) 0L else joinRows.max
        if (cand == 0) 0.0 else verified.toDouble / cand
      })
    }

    // library-stage split of the curation calls
    val stageSplit = Seq("etl.curate", "etl.curateIncremental")
      .filter(c => traced.exists(_.call == c))
      .map(call => call -> split(t, recsOf(call), cores)).toMap

    val warmTraced = jobs.filter(j => j._1 > 0 && j._3)
    val warmPlain = jobs.filter(j => j._1 > 0 && !j._3)
    val jobStats = warmTraced.map { case (i, wall, _) =>
      val recs = traced.filter(_.iter == i)
      (Trace.stats(recs.flatMap(r => t.rows(r.group)), wall),
        recs.map(_.gcMs).sum / 1000.0)
    }
    val main = measures(recsOf(w.mainCall))
    val generic = mutable.LinkedHashMap[String, Double](
      "etl.wall_s" -> main("wall_s"),
      "etl.tasks" -> main("tasks"),
      "etl.core_busy" -> main("core_busy"),
      "etl.task_skew" -> main("task_skew"),
      "etl.shuffle_mb" -> main("shuffle_mb"),
      "etl.scan_mb" -> main("scan_mb"),
      "etl.write_mb" -> main("write_mb"),
      "job.tasks" -> med(jobStats.map(_._1.tasks.toDouble)),
      "job.core_busy" -> med(jobStats.map(_._1.coreBusy(cores))),
      "job.shuffle_mb" -> med(jobStats.map(s => Trace.mb(s._1.shuffleBytes))),
      "job.spill_mb" -> med(jobStats.map(s => Trace.mb(s._1.spillBytes))),
      "spark.codegen_ms" -> traced.filter(_.iter == 0).map(_.codegenMs).sum,
      "spark.gc_s" -> med(jobStats.map(_._2)),
      "spark.storage_mb_peak" -> Trace.mb(t.memPeak),
      "trace.overhead_s" -> (med(warmTraced.map(_._2)) - med(warmPlain.map(_._2))))

    Map("per_layer" -> generic, "calls" -> perCall, "ratios" -> ratios,
      "stage_split" -> stageSplit,
      "r19_x26profile_split_s" -> r19Split.toMap,
      "traced_job_s" -> med(warmTraced.map(_._2)),
      "untraced_job_s" -> med(warmPlain.map(_._2)))
  }
}
