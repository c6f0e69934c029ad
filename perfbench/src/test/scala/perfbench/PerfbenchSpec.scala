package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite {

  private val small = Gen.Sizes(catalogRows = 400, corpusDocs = 600,
    standingDocs = 400, standingVectors = 500, batchVectors = 60,
    standingVideos = 20, framesPerVideo = 5, batchVideos = 6)

  private def tmp(name: String): Path = {
    val base = Paths.get("target", "test-tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, name)
  }

  private def generateAll(dir: Path, seed: Long): Seq[(String, Array[Byte])] = {
    Gen.catalog(dir.resolve("catalog"), seed, small)
    Gen.catalog(dir.resolve("catalog_dirty"), seed, small, dirtyShare = 0.1)
    Gen.corpus(dir.resolve("corpus"), seed, small.corpusDocs)
    Gen.nightly(dir.resolve("nightly"), seed, small)
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p)).sortBy(_._1)
  }

  test("the generator is byte-identical for a seed and differs across seeds") {
    val a = generateAll(tmp("a"), 7)
    val b = generateAll(tmp("b"), 7)
    val c = generateAll(tmp("c"), 8)
    assert(a.map(_._1) == b.map(_._1))
    a.zip(b).foreach { case ((n, x), (_, y)) =>
      assert(java.util.Arrays.equals(x, y), s"$n differs for the same seed")
    }
    assert(a.map(_._1) == c.map(_._1))
    a.zip(c).foreach { case ((n, x), (_, y)) =>
      assert(!java.util.Arrays.equals(x, y), s"$n is the same for another seed")
    }
  }

  test("the generator plants what it reports") {
    val dir = tmp("plan")
    val cat = Gen.catalog(dir.resolve("catalog"), 3, small)
    assert(cat.dupRows == 20 && cat.uniqueRows == 380 && cat.files == 24)
    val dirty = Gen.catalog(dir.resolve("dirty"), 3, small, dirtyShare = 0.1)
    assert(dirty.dirtyPrices > 0)
    val corpus = Gen.corpus(dir.resolve("corpus"), 3, small.corpusDocs)
    Seq(corpus.lowQuality, corpus.repetitive, corpus.boilerplated,
      corpus.evalCopied, corpus.dupPairs).foreach(xs => assert(xs.nonEmpty))
    val night = Gen.nightly(dir.resolve("nightly"), 3, small)
    Seq(night.sliceExactDups, night.textNearDups, night.vectorNearDups,
      night.videoNearDups).foreach(xs => assert(xs.nonEmpty))
  }

  test("tail: highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs).contains((90, 90.0, 100)))
    assert(Stats.tail((1 to 50).map(_.toDouble)).contains((80, 40.0, 50)))
    // 11 samples: the 9th percentile is the lowest sample, 10 lie beyond
    assert(Stats.tail((1 to 11).map(_.toDouble)).contains((9, 1.0, 11)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    for (n <- 11 to 400) {
      val s = (1 to n).map(_.toDouble)
      val Some((p, v, m)) = Stats.tail(s)
      assert(m == n)
      assert(s.count(_ > v) >= 10, s"n=$n p=$p")
      // one percentile higher leaves fewer than 10 beyond
      val rank = math.ceil((p + 1) / 100.0 * n).toInt
      assert(p == 99 || n - rank < 10, s"n=$n p=$p is not the highest")
    }
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("listener rows are keyed by job group") {
    val spark = SparkSession.builder().master("local[2]").appName("spec")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    try {
      val t = new JobTrace
      val sc = spark.sparkContext
      sc.addSparkListener(t)
      // two calls at once, each under its own group on its own thread
      val other = new Thread(() => {
        sc.setJobGroup("b#2", "b")
        sc.parallelize(1 to 100, 3).map(_ * 2).count()
        // a broadcast join: the broadcast build runs on another thread
        val small = spark.range(0, 10, 1, 1).withColumnRenamed("id", "k")
        spark.range(0, 1000, 1, 4).withColumn("k", col("id") % 10)
          .join(broadcast(small), "k").count()
      })
      other.start()
      sc.setJobGroup("a#1", "a")
      sc.parallelize(1 to 100, 5).map(_ + 1).count()
      sc.parallelize(1 to 100, 5).map(_ + 1).count()
      other.join()
      sc.clearJobGroup()
      sc.parallelize(1 to 10, 2).count()
      Trace.drain(sc)
      def tasks(g: String) = t.rows(g).map(_.taskMs.size).sum
      assert(tasks("a#1") == 10)
      assert(tasks("<none>") == 2)
      // b: 3 + the broadcast build's 1 + the join's 4 scan tasks + 1
      // count: the broadcast job, started on another thread, is b's too
      assert(tasks("b#2") == 9)
      // and so are its SQL metrics: both ranges' rows
      assert(Trace.sqlMetric(t, "b#2", _.node == "Range", "number of output rows") == 1010)
      assert(Trace.sqlMetric(t, "a#1", _.node == "Range", "number of output rows") == 0)
      val stagesOf = Seq("a#1", "b#2", "<none>").map(g => t.rows(g).map(_.stageId).toSet)
      assert(stagesOf.map(_.size).sum == stagesOf.reduce(_ ++ _).size)
      assert(t.stages.size == stagesOf.map(_.size).sum)
      sc.removeSparkListener(t)
    } finally spark.stop()
  }
}
