package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.GraftSession

/** Order statistics the benchmark reports. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** The highest whole percentile with at least 10 samples beyond it,
    * by nearest rank: (percentile, value, n). None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double, Int)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = (100L * (n - 10) / n).toInt
      val rank = math.ceil(p / 100.0 * n).toInt.max(1)
      Some((p, xs.sorted.apply(rank - 1), n))
    }
  }
}

/** The benchmark process. One invocation runs one workload and writes
  * a JSON result file:
  *
  *   --workload etl_catalog|curate_batch|nightly --seed N --seconds S
  *   --trace 0|1 --work DIR --result FILE
  *
  * It generates the inputs, starts the session, builds the standing
  * state (`Workload.setupReps` times), reads it, runs one cold job and
  * then warm jobs for S seconds (at least one) in a closed loop. With --trace 1
  * the job-group listener is attached on alternate warm jobs, so the
  * tracing overhead is measured in the same process. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val sz = Gen.Sizes()

    Files.createDirectories(work)
    val w = Workloads(workload, seed, sz)
    w.generate(work.resolve("input"))

    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, cores, work,
      if (trace) Some(new JobTrace) else None)
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("workload") = workload
    out("session_s") = sessionS
    out("spark_version") = spark.version
    out("jdk") = System.getProperty("java.version")
    out("inputs") = w.inputs.map { case (k, (r, b, f)) =>
      k -> Map("rows" -> r, "bytes" -> b, "files" -> f)
    }
    out("pool_mb") = spark.sparkContext.getExecutorMemoryStatus.values
      .map(_._1).sum / 1048576.0

    ctx.setTracing(trace)
    val builds = (1 to w.setupReps).map { rep =>
      ctx.iter = -rep
      val before = ctx.calls.size
      w.buildStanding(ctx)
      ctx.calls.drop(before).map(_.wall).sum
    }
    out("standing_build_s") = builds
    out("setup_calls") = ctx.calls.groupBy(_.call).map { case (c, rs) =>
      c -> Stats.median(rs.map(_.wall).toSeq)
    }
    out("setup_s") = sessionS + Stats.median(builds)
    ctx.setTracing(false)
    for (t <- ctx.tracer; curate = ctx.calls.filter(_.call == "etl.curate").toSeq
         if curate.nonEmpty)
      out("setup_stage_split") = Map("etl.curate" -> Layers.split(t, curate, cores))

    w.openStanding(ctx)
    val jobWalls = mutable.ArrayBuffer.empty[(Int, Double, Boolean)]
    def job(i: Int, traced: Boolean): Unit = {
      ctx.iter = i
      ctx.setTracing(traced)
      val before = ctx.calls.size
      w.iteration(ctx)
      jobWalls += ((i, ctx.calls.drop(before).map(_.wall).sum, traced))
      // each job starts cold-cached: Normalize caches its source and never
      // releases it, so the next endToEnd would reuse this job's cache
      spark.catalog.clearCache()
    }
    job(0, trace)
    // warm jobs while the next one should end within --seconds, going by
    // the last one; a traced run needs a traced and an untraced job
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val minJobs = if (trace) 3 else 2
    var i = 1
    var last = 0.0
    while (i < minJobs || elapsed + last <= seconds) {
      val t = elapsed
      job(i, trace && i % 2 == 1)
      last = elapsed - t
      i += 1
    }
    ctx.setTracing(false)
    val extra = w.extraAttempts(ctx)
    val (fails, hashes) = w.check(ctx)
    // the median job, call by call: each call's median over the untraced
    // warm jobs, times its calls per job (a search median then rests on
    // every search of the run, not on two or three job sums)
    val warmCalls = ctx.calls.filter(c => c.iter > 0 && !c.traced).toSeq
    val nWarm = warmCalls.map(_.iter).distinct.size
    val jobMed = warmCalls.groupBy(_.call).values.map { rs =>
      Stats.median(rs.map(_.wall)) * rs.size / nWarm
    }.sum
    out("cold_s") = jobWalls.head._2
    out("job_s") = jobMed
    out("jobs") = jobWalls.map(j => Map("iter" -> j._1, "wall_s" -> j._2,
      "traced" -> j._3))
    out("rows_per_s") = w.mainRows / jobMed
    out("main_rows") = w.mainRows
    out("calls") = ctx.calls.filter(_.iter >= 0).groupBy(_.call).map {
      case (c, rs) =>
        val warmWalls = rs.filter(_.iter > 0).map(_.wall).toSeq
        c -> Map("n" -> warmWalls.size, "median_s" -> Stats.median(warmWalls),
          "tail" -> Stats.tail(warmWalls).map { case (p, v, n) =>
            Map("percentile" -> p, "value_s" -> v, "n" -> n) },
          "cold_s" -> rs.filter(_.iter == 0).map(_.wall).sum)
    }
    // operations = timed library calls, plus the untimed extra attempts
    out("attempted") = ctx.calls.count(_.iter >= 0) + extra.size
    out("extra_attempts") = extra.map { case (n, e) =>
      Map("name" -> n, "error" -> e) }
    out("checks_failed") = fails
    out("hashes") = hashes
    ctx.tracer.foreach(t => out("layers") = Layers(ctx, t, w, jobWalls.toSeq))
    out("peak_rss_mb") = Ctx.peakRssMb
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(opt("result")), out)
    spark.stop()
  }
}
