package graft.io

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode,
  SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout utilities for the 100 TB posture — the concerns that
  * dominate real lake maintenance and that no single query shows:
  *
  *  - **Partition pruning**: facts written `partitionBy(<date>)` let a
  *    time-bounded query read only its days — the scan carries
  *    `PartitionFilters` instead of touching the whole corpus
  *    (LayoutSpec asserts the executed plan does exactly that).
  *  - **Small-file compaction**: streaming/incremental ingest leaves
  *    thousands of KB-sized files per partition; each parquet file
  *    costs a task + footer read, so scan parallelism degenerates into
  *    scheduler overhead. Compaction rewrites to a bounded file count
  *    with rows co-sorted for locality.
  */
object Layout {

  /** Write `df` day-partitioned on `tsCol` (a `p_day=YYYY-MM-DD`
    * directory per day). The partition column is derived, so the
    * original timestamp column survives intact. */
  def writeDayPartitioned(df: DataFrame, tsCol: String, path: String,
      mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("p_day", date_format(col(tsCol), "yyyy-MM-dd"))
      .write.partitionBy("p_day").mode(mode).parquet(path)

  /** Read a day-partitioned table back; day-range filters on `p_day`
    * prune at the driver before any file is opened. */
  def readDayPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact a directory in place-adjacent fashion: read, re-sort for
    * locality, rewrite with at most `maxRecordsPerFile` rows per file
    * into `outPath`. `sortCols` should lead with the columns queries
    * filter/join on most (range-partitioned + sorted data keeps
    * min/max row-group stats tight, so predicate pushdown skips whole
    * row groups).
    *
    * The output file count is bounded from BOTH sides: `targetFiles`
    * (or, when 0, input-bytes / `targetFileBytes`, so a small
    * fragmented directory compacts to a handful of files instead of
    * `spark.sql.shuffle.partitions` shards) sets the range-partition
    * count, and `maxRecordsPerFile` caps rows per file. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
      sortCols: Seq[String], maxRecordsPerFile: Long = 1000000L,
      targetFiles: Int = 0, targetFileBytes: Long = 128L << 20): Unit = {
    val df = spark.read.parquet(inPath)
    val nFiles =
      if (targetFiles > 0) targetFiles
      else {
        // globStatus, not getContentSummary: the latter throws on glob
        // input paths (which spark.read.parquet accepts) and counts
        // non-data files like _SUCCESS; sum matched data files instead
        val p = new org.apache.hadoop.fs.Path(inPath)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def dataBytes(st: org.apache.hadoop.fs.FileStatus): Long =
          // hidden names are skipped BEFORE the directory branch: a
          // half-written _temporary tree (or .hive-staging) must not
          // inflate the sizing any more than a _SUCCESS file does
          if (st.getPath.getName.startsWith("_") ||
              st.getPath.getName.startsWith(".")) 0L
          else if (st.isDirectory)
            fs.listStatus(st.getPath).map(dataBytes).sum
          else st.getLen
        val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
        val bytes = matched.map(dataBytes).sum
        math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
          .min(Int.MaxValue).toInt
      }
    val sorted =
      if (sortCols.isEmpty) df.repartition(nFiles)
      else df.repartitionByRange(nFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    sorted.write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Hash-cluster `df` on `partCols` for a `partitionBy` write with an
    * EXPLICIT shuffle-partition count — the shared clustering step of
    * every partitioned index write/admit/compact.
    *
    * Why explicit (r18, guide §2.6 idle capacity): a bare
    * `repartition(cols)` is subject to AQE partition coalescing, and
    * on a small exchange AQE collapses it to ONE task — which then
    * creates every partition directory's file SEQUENTIALLY. The IVF
    * cell layouts ([[graft.ops.VectorDedupIndex]],
    * [[graft.vector.VectorSearch]]) write one directory per cell, tens
    * of directories per write, and would pay that serial file creation;
    * with the count pinned the files are created by as many tasks as
    * the deployment's own shuffle knob allows. Each partition value
    * still hashes to exactly ONE task, so the one-file-per-directory
    * invariant is unchanged, as is the hot-partition skew caveat.
    * `spark.sql.shuffle.partitions` is the deployment's scale setting
    * (cores locally, thousands on a cluster), not a bench constant —
    * the same code spreads a 100 TB append across the cluster's
    * width. */
  def clusterForPartitionedWrite(df: DataFrame,
      partCols: Seq[String]): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, partCols.map(col): _*)
  }

  /** A `partitionBy(partCols)` writer over `df` hash-clustered on
    * `partCols` ([[clusterForPartitionedWrite]]: one file per partition
    * directory per write) and sorted by `partCols ++ sortCols` inside
    * each task. The partition columns lead the sort so the writer's own
    * required ordering is already met and it adds no sort of its own
    * that would discard the `sortCols` order within each file. */
  def clusteredWriter(df: DataFrame, partCols: Seq[String],
      sortCols: Seq[String] = Nil): DataFrameWriter[Row] =
    clusterForPartitionedWrite(df, partCols)
      .sortWithinPartitions((partCols ++ sortCols).map(col): _*)
      .write.partitionBy(partCols: _*)

  /** [[compact]] for a `partitionBy(partCols)` layout, PRESERVING the
    * layout — the maintenance half of nightly index appends
    * ([[graft.ops.VectorDedupIndex.admitBatch]] /
    * [[graft.ops.TextDedupIndex.admitBatch]] leave one file per
    * partition value per night; a year of appends is 365 footer reads
    * per directory). `rows` is the index as read (or a projection of
    * it, to retire a column). Hash-clustering ON the partition columns
    * puts each partition value in exactly one task, so the rewrite
    * emits exactly one file per partition directory
    * (`maxRecordsPerFile` splits only a genuinely oversized one).
    * `sortCols` co-sorts rows within each file for tight row-group
    * stats.
    *
    * Writes to `outPath` — never in place (Spark cannot safely
    * overwrite its own input); the caller swaps directories after
    * validating. Skew caveat: a single very hot partition value is
    * rewritten by one task — acceptable for maintenance, and the
    * occupancy skew that causes it is itself the re-fit signal (see
    * VectorDedupIndex's drift contract). */
  def compactPartitioned(rows: DataFrame, outPath: String,
      partCols: Seq[String], sortCols: Seq[String] = Nil,
      maxRecordsPerFile: Long = 1000000L): Unit =
    clusteredWriter(rows, partCols, sortCols)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Overwrite).parquet(outPath)

  /** Fails before an append to a band index ([[graft.ops.TextDedupIndex]],
    * [[graft.multimodal.VideoFrameIndex]]) that still has the old
    * two-level layout, a directory per (band, band-key group): `band=`
    * files written beside group directories make every later read fail
    * partition discovery. The migration is the index's `compactIndex`,
    * which reads either layout and writes the `band=`-only one. */
  def requireBandLayout(spark: SparkSession, indexPath: String,
      compactCall: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subdirs(q: org.apache.hadoop.fs.Path, prefix: String) =
      fs.listStatus(q).filter(st =>
        st.isDirectory && st.getPath.getName.startsWith(prefix))
    val nested = fs.exists(p) && subdirs(p, "band=")
      .exists(d => subdirs(d.getPath, "bgroup=").nonEmpty)
    require(!nested, s"index at $indexPath has the old band=*/bgroup=* " +
      "layout; appending to it would break every later read. Migrate it " +
      s"with $compactCall(spark, $indexPath, outPath) and swap the " +
      "directories first.")
  }
}
