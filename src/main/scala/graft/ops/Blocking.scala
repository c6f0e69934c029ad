package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bucket-size guards for blocking-based candidate generation (LSH band
  * buckets, SimHash blocks — SURVEY.md north-star dedup family).
  *
  * Within-bucket pair output is quadratic in bucket size: one degenerate
  * key (all-empty docs, a boilerplate header shared by millions of pages)
  * turns a candidates join into an effective cross join at 100 TB — AQE
  * fixes shuffle skew but not join OUTPUT size. Production blockers
  * therefore cap bucket membership; buckets over the cap are dropped from
  * candidate generation and surfaced in a report (never silently).
  *
  * The count-filter is one extra aggregation on the same key the
  * candidates join shuffles on (no new shuffle shape). The hot-key set
  * is usually tiny (at most total/cap buckets exceed the cap) but that
  * bound is NOT broadcast-safe in the adversarial case (10^12 rows /
  * cap 1000 still allows 10^9 hot keys), so the anti-join carries no
  * broadcast hint — Spark/AQE picks broadcast when the measured size
  * permits and falls back to a shuffle join when it doesn't.
  */
object Blocking {

  /** Split `blocks` by bucket population: rows in buckets with more than
    * `maxBucket` members are removed; the second frame reports each
    * dropped bucket and its size (the caller logs/monitors it).
    *
    * The anti-join uses null-safe equality (`<=>`): a degenerate NULL
    * bucket key (e.g. all-empty documents — exactly the case the cap
    * exists for) must be dropped like any other hot bucket, not slip
    * through because `===` never matches NULL. Without this, the report
    * would list the NULL bucket while its rows stayed in `kept`. */
  def capBuckets(blocks: DataFrame, bucketCols: Seq[String], maxBucket: Int)
      : (DataFrame, DataFrame) = {
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    val keys = bucketCols.map(col)
    val hot = blocks.groupBy(keys: _*)
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)
    val hotKeys = hot.select(bucketCols.map(c => col(c).as(s"hot_$c")): _*)
    val cond = bucketCols.map(c => col(c) <=> col(s"hot_$c")).reduce(_ && _)
    val kept = blocks.join(hotKeys, cond, "left_anti")
    (kept, hot)
  }

  /** [[capBuckets]] over PRE-COLLAPSED block rows: `blocks` carries one
    * row per distinct member with `weightCol` = how many underlying
    * rows it stands for, and a bucket is dropped when its SUMMED weight
    * exceeds `maxBucket`. Because [[capBuckets]] drops whole buckets
    * (never a row subset), capping collapsed rows by summed weight is
    * row-for-row equivalent to capping the expanded rows — same kept
    * buckets, and the dropped report carries the same
    * (bucketCols..., bucket_size) with bucket_size = the EXPANDED row
    * count. This is the r18 optimization seam for quadratic-in-bucket
    * candidate joins (video frame hashes repeat heavily across frames:
    * join distinct hashes, weight the rollup) — see
    * [[graft.multimodal.Multimodal.videoPairsFromFrameHashes]]. */
  def capBucketsWeighted(blocks: DataFrame, bucketCols: Seq[String],
      maxBucket: Int, weightCol: String): (DataFrame, DataFrame) = {
    require(maxBucket > 1, s"maxBucket must be > 1, got $maxBucket")
    val keys = bucketCols.map(col)
    // One-pass form (r19, guide §2.4 "remove shuffles outright"): the
    // anti-join form evaluated `blocks` TWICE — once as the hot-bucket
    // aggregate's input and once as the anti-join probe side — and for
    // [[graft.multimodal.VideoFrameIndex.probePairs]] that meant the
    // index was SCANNED twice per probe (executed
    // plan r18: two `Scan parquet` nodes over the index, no reuse). A
    // window sum on the bucket key annotates each collapsed row with
    // its bucket's total weight in ONE pass; the window's
    // exchange+sort runs over the already-collapsed rows (weighted
    // inputs are distinct-member rows by contract — tiny next to the
    // expansion), and a NULL bucket key forms one window partition
    // exactly as it formed one group before. Same kept buckets, same
    // (bucketCols..., bucket_size) report rows.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)
    val sized = blocks.withColumn("__bucket_size",
      sum(col(weightCol)).over(w))
    // null-safe like the anti-join was: an all-NULL-weight bucket has a
    // NULL sum, was never "hot" (NULL > max is not true), and must stay
    // kept — a bare <= filter (or its negation, both NULL on NULL)
    // would silently drop it
    val kept = sized.filter(col("__bucket_size") <= maxBucket ||
        col("__bucket_size").isNull)
      .drop("__bucket_size")
    val hot = sized.filter(col("__bucket_size") > maxBucket)
      .select(keys :+ col("__bucket_size").as("bucket_size"): _*)
      .distinct()
    (kept, hot)
  }

  /** Candidate pairs (a_id < b_id, distinct) from a blocks frame of
    * (idCol, bucketCols...), with the bucket cap applied first. Returns
    * the pairs and the dropped-bucket report. */
  def candidatePairs(blocks: DataFrame, idCol: String,
      bucketCols: Seq[String], maxBucket: Int,
      carryCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val (kept, hot) = capBuckets(blocks, bucketCols, maxBucket)
    def side(prefix: String, id: String) =
      kept.select((bucketCols.map(c => col(c).as(s"$prefix$c")) :+
        col(idCol).as(id)) ++
        carryCols.map(c => col(c).as(s"$prefix$c")): _*)
    val l = side("l_", "a_id")
    val r = side("r_", "b_id")
    // null-safe on the bucket key to match capBuckets/groupBy semantics:
    // a NULL key is one (cappable) bucket, not an unmatched void
    val cond = bucketCols.map(c => col(s"l_$c") <=> col(s"r_$c"))
      .reduce(_ && _) && col("a_id") < col("b_id")
    val pairs = l.join(r, cond)
    (pairs, hot)
  }
}
