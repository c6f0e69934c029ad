package graft.io

import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkSpec}

/** Co-located join via bucketing: same key, same bucket count → the
  * join plans with NO Exchange on either side (each task reads the
  * matching bucket files directly). The negative control shows the
  * same join over plain parquet DOES shuffle.
  *
  * Plan-shape assertions need three confs pinned for the duration:
  * AQE off (its executedPlan string appends an `== Initial Plan ==`
  * dump, so "no Exchange below the join" would match the copy),
  * auto-broadcast off (at spec scale both tables fit the threshold and
  * a broadcast join hides whether bucketing removed the shuffle), and
  * autoBucketedScan off (the planner silently falls back to a
  * non-bucketed scan — "Bucketed: false (disabled by query planner)" —
  * for plans where it sees no join/agg benefit, which defeats the
  * bucket-pruning assertion).
  */
class BucketingSpec extends SparkSpec {

  private def withPlanConfs[A](body: => A): A =
    GraftSession.withConfs(spark, Map(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false"))(body)

  private lazy val ready: Unit = {
    import spark.implicits._
    // the catalog is in-memory per session but the warehouse dir
    // persists on disk — drop both so re-runs start clean
    for (t <- Seq("b_orders", "b_items")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val orders = (0L until 5000L)
      .map(i => (i, s"cust_${i % 97}", (i * 13 % 1000).toDouble))
      .toDF("order_id", "cust", "amount")
    val items = (0L until 20000L)
      .map(i => (i / 4, s"sku_${i % 313}", (i % 7 + 1).toInt))
      .toDF("order_id", "sku", "qty")
    Bucketing.writeBucketed(orders, "b_orders", "order_id", 8)
    Bucketing.writeBucketed(items, "b_items", "order_id", 8)
  }

  test("same-bucket join is shuffle-free on both sides") {
    withPlanConfs {
      ready
      val joined = Bucketing.bucketedJoin(spark, "b_orders", "b_items",
        "order_id")
        .groupBy("cust").agg(sum(col("amount") * col("qty")).as("rev"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      // the JOIN itself must see bucketed children: the only exchange
      // allowed in the plan is the one ABOVE the join for the groupBy
      val joinSection = p.substring(p.indexOf("Join"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        "bucketed join still shuffled its inputs: " + p)
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        "scan does not report bucketed read: " + p)
    }
  }

  test("negative control: the plain-parquet join shuffles") {
    withPlanConfs {
      ready
      val plain = spark.table("b_orders").repartition(5)
        .join(spark.table("b_items").repartition(5), "order_id")
      plain.collect()
      val p = plain.queryExecution.executedPlan.toString
      assert(p.contains("Exchange hashpartitioning"),
        "expected the unbucketed layout to shuffle: " + p)
    }
  }

  test("bucket pruning: equality filter reads one bucket") {
    withPlanConfs {
      ready
      val one = spark.table("b_orders").filter(col("order_id") === 42L)
      assert(one.count() == 1)
      val p = one.queryExecution.executedPlan.toString
      val sel = """SelectedBucketsCount: (\d+) out of 8""".r
        .findFirstMatchIn(p)
      assert(sel.exists(_.group(1).toInt == 1),
        "equality on the bucket key did not prune to one bucket: " + p)
    }
  }
}
