package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextOps.{md5Long60, md5Long60Jvm, shingles, tokens}

/** Persisted MinHash-LSH index for INCREMENTAL text dedup — the
  * production nightly-ingest flow: dedup a small new batch against a
  * 100 TB corpus without rescanning the corpus.
  *
  * Layout contract: band rows are written `partitionBy(band)`, one
  * directory per band, rows sorted by the 60-bit band key `bkey`
  * inside each band's file(s) — the sorted keys are what a per-file
  * key-range summary would prune on. A directory per bkey (one per
  * bucket: millions of tiny files) or per bkey group would multiply
  * the listing and small-file costs of every read and write while
  * skipping almost no files for a batch of any size. The probe
  * equi-joins the index rows to the batch's band rows on the exact
  * (band, bkey). Candidates then verify downstream (Jaccard on shingle
  * sets — same as the batch path d04).
  */
object TextDedupIndex {

  /** LSH band rows (doc_id, band, bkey) for a document set: distinct
    * 3-shingles → K salted minima in ONE groupBy (the d02 recipe,
    * salts pre-folded driver-side) → bands of `rowsPerBand` adjacent
    * minima hashed to one 60-bit key. */
  def bandRows(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(k % rowsPerBand == 0, "k must be a multiple of rowsPerBand")
    val sh = docs
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(shingles(tokens(col(textCol)), 3))).as("sh"))
      .select(col("doc_id"), md5Long60(col("sh")).as("shh"))
    val minCols = (0 until k).map(i =>
      min(col("shh").bitwiseXOR(lit(md5Long60Jvm(i.toString))))
        .as(s"mh$i"))
    val sig = sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
    val nBands = k / rowsPerBand
    sig.select(col("doc_id"),
        explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band"),
            md5Long60(concat_ws(":",
              (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*))
              .as("bkey"))
        }: _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.bkey").as("bkey"))
  }

  /** Cluster on `band`, sort by `bkey`, `partitionBy(band)`: at most
    * one new file per band directory per write. */
  private def bandWriter(rows: DataFrame) =
    graft.io.Layout.clusteredWriter(rows, Seq("band"), Seq("bkey"))

  /** Build + persist the corpus index. One corpus scan; the band
    * clustering is the only shuffle. */
  def writeIndex(docs: DataFrame, path: String, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, rowsPerBand: Int = 2): Unit =
    bandWriter(bandRows(docs, idCol, textCol, k, rowsPerBand))
      .mode("overwrite").parquet(path)

  /** Append an accepted batch's band rows into the persisted index —
    * the vector twin is [[VectorDedupIndex.admitBatch]], same nightly
    * contract (VERDICT r13 item 3): probe → dedup → admit survivors,
    * so tomorrow's batch dedups against tonight's. Hashing is
    * deterministic and row-local, so admitted rows are
    * indistinguishable from build-time rows (spec pins N admit cycles
    * ≡ one full rebuild). Leaves at most ONE new file per band
    * directory per admit; run [[compactIndex]] on the cadence that
    * keeps files-per-directory bounded. Fails before writing on an
    * index in the old two-level layout
    * ([[graft.io.Layout.requireBandLayout]]; [[compactIndex]] migrates
    * it). */
  def admitBatch(docs: DataFrame, indexPath: String,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, rowsPerBand: Int = 2): Unit = {
    graft.io.Layout.requireBandLayout(docs.sparkSession, indexPath,
      "TextDedupIndex.compactIndex")
    bandWriter(bandRows(docs, idCol, textCol, k, rowsPerBand))
      .mode("append").parquet(indexPath)
  }

  /** Rewrite the index with one bkey-sorted file per band directory —
    * the small-file maintenance pass for nightly [[admitBatch]]
    * appends. Reads either layout (the old two-level one too) and
    * writes the `partitionBy(band)` one. Writes to `outPath` (never in
    * place); swap after validating. */
  def compactIndex(spark: SparkSession, indexPath: String,
      outPath: String): Unit =
    graft.io.Layout.compactPartitioned(
      spark.read.parquet(indexPath).select("doc_id", "band", "bkey"),
      outPath, Seq("band"), sortCols = Seq("bkey"))

  /** Candidate (corpus_id, new_id) pairs for a new batch against the
    * persisted index: the index rows equi-joined to the batch's band
    * rows on the exact (band, bkey). An empty batch (or one whose docs
    * are all shorter than a shingle) yields no pairs. */
  def probeCandidates(spark: SparkSession, indexPath: String,
      newDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8, rowsPerBand: Int = 2)
      : DataFrame =
    spark.read.parquet(indexPath)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bkey"))
      .join(bandRows(newDocs, idCol, textCol, k, rowsPerBand)
        .select(col("doc_id").as("new_id"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("corpus_id") =!= col("new_id"))
      .select("corpus_id", "new_id")
      .distinct()
}
