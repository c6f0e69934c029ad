package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.embed.{EmbeddingPipeline, HashingEmbedder}
import graft.etl.{CorpusCuration, Pipeline, ProductDoc}
import graft.multimodal.VideoFrameIndex
import graft.ops.{TextDedupIndex, VectorDedupIndex}

/** A workload: inputs made from the seed, an optional standing state
  * built in set-up, and one job iteration that the closed loop repeats.
  * `check` returns failed output checks (empty = all passed) and the
  * output hashes compared against the committed values. */
trait Workload {
  def name: String
  /** The workload's `etl` call: its per-layer measures are the ones
    * BENCHMARK.json lists. */
  def mainCall: String
  /** Input record: name → (rows, bytes, files). */
  def inputs: Map[String, (Long, Long, Int)]
  /** Rows the job's main operation consumes (for rows_per_s). */
  def mainRows: Long
  def generate(dir: Path): Unit
  /** Build the standing state; returns nothing — set-up calls are timed
    * through the context. */
  def buildStanding(ctx: Ctx): Unit = ()
  /** How many times set-up builds the standing state (median reported). */
  def setupReps: Int = 3
  def openStanding(ctx: Ctx): Unit = ()
  def iteration(ctx: Ctx): Unit
  def check(ctx: Ctx): (Seq[String], Map[String, String])
  /** Extra attempts (counted in failed_share, never timed): name → error
    * or None when the attempt succeeded. */
  def extraAttempts(ctx: Ctx): Seq[(String, Option[String])] = Nil
  /** Index probes of the last job: call → (index directory name,
    * verified pairs returned, index files on disk). */
  def probes: Map[String, (String, Long, Int)] = Map.empty
  /** Bytes of the CSV input the main call scans. */
  def csvBytes: Long = 0L
}

object Workloads {
  def apply(name: String, seed: Long, sz: Gen.Sizes): Workload = name match {
    case "etl_catalog" => new EtlCatalog(seed, sz)
    case "curate_batch" => new CurateBatch(seed, sz)
    case "nightly" => new Nightly(seed, sz)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def readDocsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(docSchema).option("header", true).csv(path)
}

// ------------------------------------------------------------ etl_catalog

final class EtlCatalog(seed: Long, sz: Gen.Sizes) extends Workload {
  val name = "etl_catalog"
  val mainCall = "etl.endToEnd"
  private var plan: Gen.CatalogPlan = _
  private var dirtyPlan: Gen.CatalogPlan = _
  private var in: Path = _
  private val K = 5
  private val embedder = HashingEmbedder(64)
  private val now = lit("2026-01-01 00:00:00").cast("timestamp")
  private var planted: Seq[(String, String)] = Nil // (product_code, doc text)
  private val hits = mutable.Map.empty[String, Seq[(String, Double)]]

  def generate(dir: Path): Unit = {
    in = dir
    plan = Gen.catalog(dir.resolve("catalog"), seed, sz)
    dirtyPlan = Gen.catalog(dir.resolve("catalog_dirty"), seed, sz,
      dirtyShare = 0.1)
  }
  def inputs = Map(
    "catalog" -> (plan.rows.toLong, plan.bytes, plan.files),
    "catalog_dirty" -> (dirtyPlan.rows.toLong, dirtyPlan.bytes, dirtyPlan.files))
  def mainRows: Long = plan.rows
  override def csvBytes: Long = plan.bytes

  private def runEtl(ctx: Ctx, glob: String, out: String): Unit = {
    val (o, results) = Pipeline.endToEnd(ctx.spark, glob, seed, now)
    val bad = results.filterNot(_.status == "success")
    require(bad.isEmpty, s"stages failed: $bad")
    o.categories.write.mode("overwrite").parquet(s"$out/categories")
    o.products.write.mode("overwrite").parquet(s"$out/products")
    o.images.write.mode("overwrite").parquet(s"$out/product_images")
  }

  private def productDocs(spark: SparkSession, out: String) = {
    import spark.implicits._
    val cats = spark.read.parquet(s"$out/categories")
      .select("category_id", "category_name", "category_description")
    spark.read.parquet(s"$out/products").join(cats, Seq("category_id"))
      .withColumn("product_currency", lit(""))
      .as[ProductDoc]
  }

  private def queries: Seq[String] =
    Gen.searchKeywords(seed, sz.searchQueries - planted.size) ++ planted.map(_._2)

  def iteration(ctx: Ctx): Unit = {
    val out = ctx.path("etl_out")
    val spark = ctx.spark
    ctx.timed("etl.endToEnd") {
      runEtl(ctx, in.resolve("catalog").toString + "/*_products.csv", out)
    }
    spark.catalog.clearCache()
    ctx.timed("embed.embedDocuments") {
      val docs = EmbeddingPipeline.buildDocuments(productDocs(spark, out))
      EmbeddingPipeline.embedDocuments(docs, embedder)
        .write.mode("overwrite").parquet(s"$out/store")
    }
    if (planted.isEmpty) {
      // planted queries: the exact document text of products picked by
      // seed; each must come back as its own top hit
      val codes = spark.read.parquet(s"$out/products").select("product_code")
        .collect().map(_.getString(0)).sorted
      val r = new scala.util.Random(seed)
      val pick = Seq.fill(sz.searchQueries / 2)(codes(r.nextInt(codes.length))).distinct
      planted = EmbeddingPipeline.buildDocuments(productDocs(spark, out))
        .filter(col("product_code").isin(pick: _*))
        .select("product_code", "text").collect()
        .map(x => x.getString(0) -> x.getString(1)).toSeq.sortBy(_._1)
    }
    val store = spark.read.parquet(s"$out/store")
    val catalog = spark.read.parquet(s"$out/products")
      .select("product_code", "product_name", "product_unit_price")
    queries.zipWithIndex.foreach { case (q, i) =>
      val got = ctx.timed("embed.search") {
        EmbeddingPipeline.search(store, catalog, q, embedder, K)
          .select("product_code", "score").collect()
      }
      hits(s"q$i") = got.map(x => x.getString(0) -> x.getDouble(1))
        .toSeq.sortBy(h => (-h._2, h._1))
    }
  }

  override def extraAttempts(ctx: Ctx): Seq[(String, Option[String])] = {
    val glob = in.resolve("catalog_dirty").toString + "/*_products.csv"
    val err = try {
      runEtl(ctx, glob, ctx.path("etl_dirty_out")); None
    } catch {
      case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName)
          .linesIterator.take(1).mkString.take(200))
    } finally ctx.spark.catalog.clearCache()
    Seq("etl.endToEnd[dirty prices]" -> err)
  }

  def check(ctx: Ctx): (Seq[String], Map[String, String]) = {
    val spark = ctx.spark
    val out = ctx.path("etl_out")
    val fails = mutable.ArrayBuffer.empty[String]
    val products = spark.read.parquet(s"$out/products")
    val cats = spark.read.parquet(s"$out/categories")
    val images = spark.read.parquet(s"$out/product_images")
    val n = products.count()
    if (n != plan.uniqueRows)
      fails += s"products: $n rows, expected ${plan.uniqueRows} after dropping ${plan.dupRows} planted duplicates"
    val keys = products.select("product_name").distinct().count()
    if (keys != n) fails += s"products: ${n - keys} duplicate names survived"
    val known = (graft.etl.Categorizer.mapping.map(_._1) :+ "Others").toSet
    val catNames = cats.collect().map(_.getAs[String]("category_name"))
    if (!catNames.forall(known)) fails += "categories outside the standard vocabulary"
    if (!catNames.contains("Others")) fails += "no stray category fell through to Others"
    if (images.count() < n) fails += "fewer image rows than products"
    planted.zipWithIndex.foreach { case ((code, _), j) =>
      val i = sz.searchQueries - planted.size + j
      hits.get(s"q$i") match {
        case Some((top, score) +: _) if top == code && score > 0.999 =>
        case other => fails += s"search q$i: planted product $code not the top hit ($other)"
      }
    }
    // >= K: product codes are not unique across categories that share
    // a two-letter prefix, and the join-back keeps every match
    if (hits.size != sz.searchQueries || hits.values.exists(_.size < K))
      fails += s"search: expected $K hits for each of ${sz.searchQueries} queries"
    val hashes = Map(
      "categories" -> Ctx.hashFrame(cats),
      "products" -> Ctx.hashFrame(products),
      "product_images" -> Ctx.hashFrame(images),
      "search_hits" -> Ctx.hashLines(hits.toSeq.map { case (q, hs) =>
        q + ":" + hs.map(h => f"${h._1}@${h._2}%.6f").mkString(",")
      }))
    (fails.toSeq, hashes)
  }
}

// ----------------------------------------------------------- curate_batch

final class CurateBatch(seed: Long, sz: Gen.Sizes) extends Workload {
  val name = "curate_batch"
  val mainCall = "etl.curate"
  private var plan: Gen.CorpusPlan = _
  private var in: Path = _
  private var report: Seq[(Long, String, Long, Long)] = Nil

  def generate(dir: Path): Unit = {
    in = dir.resolve("corpus")
    plan = Gen.corpus(in, seed, sz.corpusDocs)
  }
  def inputs = Map("corpus" -> (plan.docs.toLong, plan.bytes, 2))
  def mainRows: Long = plan.docs

  /** The standing state is the corpus as the lake holds it: parquet. */
  override def buildStanding(ctx: Ctx): Unit = ctx.timed("io.landCorpus") {
    Workloads.readDocsCsv(ctx.spark, in.resolve("docs.csv").toString)
      .write.mode("overwrite").parquet(ctx.path("lake/docs"))
    Workloads.readDocsCsv(ctx.spark, in.resolve("eval.csv").toString)
      .write.mode("overwrite").parquet(ctx.path("lake/eval"))
  }

  def iteration(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.timed("etl.curate") {
      val r = CorpusCuration.curate(spark.read.parquet(ctx.path("lake/docs")),
        "doc_id", "text", Some(spark.read.parquet(ctx.path("lake/eval"))))
      r.corpus.write.mode("overwrite").parquet(ctx.path("curated"))
      report = r.report.collect().map(x => (x.getLong(0), x.getString(1),
        x.getLong(2), x.getLong(3))).toSeq.sortBy(_._1)
      r
    }
    res.release()
  }

  def check(ctx: Ctx): (Seq[String], Map[String, String]) = {
    val corpus = ctx.spark.read.parquet(ctx.path("curated"))
    val fails = Curation.checkCorpus(corpus, plan, report.map(_._3))
    (fails, Map("corpus" -> Ctx.hashFrame(corpus),
      "report" -> Ctx.hashLines(report.map(_.toString))))
  }
}

/** Recovery checks shared by the batch and the nightly curation. */
object Curation {
  def checkCorpus(corpus: DataFrame, plan: Gen.CorpusPlan,
      reportDocs: Seq[Long]): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val rows = corpus.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val low = plan.lowQuality.count(rows.contains)
    if (low > 0) fails += s"$low planted low-quality docs survived"
    val rep = plan.repetitive.count(rows.contains)
    if (rep > 0) fails += s"$rep planted repetitive docs survived"
    val boil = rows.values.count(_.contains("tieude"))
    if (boil > 0) fails += s"$boil docs still carry boilerplate segments"
    val leaked = plan.evalCopied.count { case (id, span) =>
      rows.get(id).exists(_.contains(span))
    }
    if (leaked > 0) fails += s"$leaked copied eval spans were not scrubbed"
    val dupKept = plan.dupPairs.count { case (_, dup) => rows.contains(dup) }
    val origLost = plan.dupPairs.count { case (orig, _) => !rows.contains(orig) }
    if (dupKept > 0 || origLost > 0)
      fails += s"exact dedup: $dupKept duplicates kept, $origLost first copies lost"
    if (reportDocs.nonEmpty) {
      if (reportDocs.head != plan.docs)
        fails += s"report input ${reportDocs.head} != ${plan.docs} docs"
      if (reportDocs.zip(reportDocs.tail).exists { case (a, b) => b > a })
        fails += "report: a stage grew the corpus"
      if (reportDocs.last != rows.size)
        fails += s"report output ${reportDocs.last} != corpus ${rows.size}"
    }
    fails.toSeq
  }
}

// ---------------------------------------------------------------- nightly

final class Nightly(seed: Long, sz: Gen.Sizes) extends Workload {
  val name = "nightly"
  val mainCall = "etl.curateIncremental"
  private var plan: Gen.NightlyPlan = _
  private var in: Path = _
  private val tau = 0.95
  private var idx: CorpusCuration.Indexes = _
  private var centroids: Seq[(Long, Seq[Double])] = Nil
  // last night's outputs, for the checks
  private var textPairs: Set[(Long, Long)] = Set.empty
  private var vecPairs: Seq[(Long, Long, Double)] = Nil
  private var vidPairs: Seq[(String, String, Double)] = Nil

  def generate(dir: Path): Unit = { in = dir.resolve("nightly"); plan = Gen.nightly(in, seed, sz) }
  def inputs = Map(
    "standing_docs" -> (plan.standing.docs.toLong, plan.standing.bytes, 2),
    "slice_docs" -> (plan.slice.docs.toLong,
      Files.size(in.resolve("slice/docs.csv")), 1),
    "vectors" -> (plan.vectors.toLong, Files.size(in.resolve("vectors.csv")), 1),
    "batch_vectors" -> (plan.batchVectors.toLong,
      Files.size(in.resolve("batch_vectors.csv")), 1),
    "frames" -> (plan.frames.toLong, Files.size(in.resolve("frames.csv")), 1),
    "batch_frames" -> (plan.batchFrames.toLong,
      Files.size(in.resolve("batch_frames.csv")), 1))
  def mainRows: Long = plan.slice.docs + plan.batchVectors + plan.batchFrames

  private def readVectors(spark: SparkSession, file: String): DataFrame = {
    val d = sz.vectorDim
    val schema = StructType(StructField("id", LongType) +:
      (0 until d).map(k => StructField(s"x$k", DoubleType)))
    spark.read.schema(schema).option("header", true).csv(file)
      .select(col("id"), array((0 until d).map(k => col(s"x$k")): _*).as("vec"))
  }
  private val frameSchema = StructType(Seq(StructField("video", StringType),
    StructField("frame_idx", IntegerType), StructField("phash", LongType)))
  private def readFrames(spark: SparkSession, file: String): DataFrame =
    spark.read.schema(frameSchema).option("header", true).csv(file)

  private def st(ctx: Ctx, rel: String) = ctx.path(s"standing/$rel")

  /** One build: it costs ~22 s cold on 4 cores, and a run has to fit the
    * benchmark's time budget. */
  override def setupReps: Int = 1

  override def buildStanding(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.timed("io.landStanding") {
      Workloads.readDocsCsv(spark, in.resolve("standing/docs.csv").toString)
        .write.mode("overwrite").parquet(st(ctx, "docs"))
      Workloads.readDocsCsv(spark, in.resolve("standing/eval.csv").toString)
        .write.mode("overwrite").parquet(st(ctx, "eval"))
      readVectors(spark, in.resolve("vectors.csv").toString)
        .write.mode("overwrite").parquet(st(ctx, "vectors"))
      readFrames(spark, in.resolve("frames.csv").toString)
        .write.mode("overwrite").parquet(st(ctx, "frames"))
    }
    val docs = spark.read.parquet(st(ctx, "docs"))
    val ev = spark.read.parquet(st(ctx, "eval"))
    ctx.timed("etl.curate") {
      val r = CorpusCuration.curate(docs, "doc_id", "text", Some(ev))
      r.corpus.write.mode("overwrite").parquet(st(ctx, "curated"))
      r.release()
    }
    val curated = spark.read.parquet(st(ctx, "curated"))
    ctx.timed("etl.fitIndexes") {
      val ix = CorpusCuration.fitIndexes(docs, curated, "doc_id", "text", Some(ev))
      ix.boilerplate.write.mode("overwrite").parquet(st(ctx, "idx/boilerplate"))
      ix.evalDict.get.write.mode("overwrite").parquet(st(ctx, "idx/eval_dict"))
      ix.seenHashes.write.mode("overwrite").parquet(st(ctx, "idx/seen"))
    }
    ctx.timed("ops.TextDedupIndex.writeIndex") {
      TextDedupIndex.writeIndex(curated, st(ctx, "idx_text"))
    }
    val vectors = spark.read.parquet(st(ctx, "vectors"))
    val cents = ctx.timed("ops.VectorDedupIndex.seedCentroids") {
      VectorDedupIndex.seedCentroids(vectors, "id", "vec", sz.vectorCells)
    }
    Files.write(ctx.work.resolve("standing/centroids.txt"), cents.map { case (id, v) =>
      (id.toString +: v.map(java.lang.Double.toString)).mkString(",")
    }.mkString("\n").getBytes(StandardCharsets.UTF_8))
    ctx.timed("ops.VectorDedupIndex.writeIndex") {
      VectorDedupIndex.writeIndex(vectors, "id", "vec", cents, st(ctx, "idx_vec"))
    }
    ctx.timed("multimodal.VideoFrameIndex.writeIndex") {
      VideoFrameIndex.writeIndex(spark.read.parquet(st(ctx, "frames")),
        st(ctx, "idx_vid"))
    }
  }

  override def openStanding(ctx: Ctx): Unit = {
    val spark = ctx.spark
    idx = CorpusCuration.Indexes(
      boilerplate = spark.read.parquet(st(ctx, "idx/boilerplate")),
      evalDict = Some(spark.read.parquet(st(ctx, "idx/eval_dict"))),
      dsir = None,
      seenHashes = spark.read.parquet(st(ctx, "idx/seen")))
    centroids = new String(Files.readAllBytes(
      ctx.work.resolve("standing/centroids.txt")), StandardCharsets.UTF_8)
      .split("\n").toSeq.map { l =>
        val f = l.split(","); (f(0).toLong, f.tail.map(_.toDouble).toSeq)
      }
  }

  private val probeRec = mutable.Map.empty[String, (String, Long, Int)]
  override def probes: Map[String, (String, Long, Int)] = probeRec.toMap

  def iteration(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val night = ctx.work.resolve("night")
    Ctx.deleteTree(night)
    Seq("idx_text", "idx_vec", "idx_vid").foreach(d =>
      Ctx.linkTree(ctx.work.resolve(s"standing/$d"), night.resolve(d)))
    def n(rel: String) = night.resolve(rel).toString
    def probe(call: String, dir: String, pairs: Int): Unit =
      probeRec(call) = (dir, pairs.toLong, Ctx.countFiles(night.resolve(dir), ".parquet"))

    ctx.timed("etl.curateIncremental") {
      val slice = Workloads.readDocsCsv(spark, in.resolve("slice/docs.csv").toString)
      val r = CorpusCuration.curateIncremental(slice, idx, "doc_id", "text")
      r.curated.write.parquet(n("curated"))
      r.updated.seenHashes.write.parquet(n("seen"))
    }
    val curated = spark.read.parquet(n("curated"))

    val tp = ctx.timed("ops.TextDedupIndex.probeCandidates") {
      TextDedupIndex.probeCandidates(spark, n("idx_text"), curated)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    textPairs = tp
    probe("ops.TextDedupIndex.probeCandidates", "idx_text", tp.size)
    val flaggedDocs = tp.map(_._2).toSeq
    ctx.timed("ops.TextDedupIndex.admitBatch") {
      TextDedupIndex.admitBatch(
        curated.filter(!col("doc_id").isin(flaggedDocs: _*)), n("idx_text"))
    }
    ctx.timed("ops.TextDedupIndex.compactIndex") {
      TextDedupIndex.compactIndex(spark, n("idx_text"), n("idx_text_c"))
    }

    val batchVecs = readVectors(spark, in.resolve("batch_vectors.csv").toString)
    val vp = ctx.timed("ops.VectorDedupIndex.probePairs") {
      VectorDedupIndex.probePairs(spark, n("idx_vec"), centroids, batchVecs,
        "id", "vec", tau).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    }
    vecPairs = vp
    probe("ops.VectorDedupIndex.probePairs", "idx_vec", vp.size)
    val flaggedVecs = vp.map(_._2).distinct
    ctx.timed("ops.VectorDedupIndex.admitBatch") {
      VectorDedupIndex.admitBatch(batchVecs.filter(!col("id").isin(flaggedVecs: _*)),
        centroids, n("idx_vec"), "id", "vec")
    }
    ctx.timed("ops.VectorDedupIndex.compactIndex") {
      VectorDedupIndex.compactIndex(spark, n("idx_vec"), n("idx_vec_c"))
    }

    val frames = readFrames(spark, in.resolve("batch_frames.csv").toString)
    val vdp = ctx.timed("multimodal.VideoFrameIndex.probePairs") {
      val (pairs, dropped) = VideoFrameIndex.probePairs(spark, n("idx_vid"), frames)
      dropped.collect()
      pairs.select("corpus_video", "new_video", "new_frac").collect()
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq
    }
    vidPairs = vdp
    probe("multimodal.VideoFrameIndex.probePairs", "idx_vid", vdp.size)
    val dupVideos = vdp.filter(_._3 >= 0.5).map(_._2).distinct
    ctx.timed("multimodal.VideoFrameIndex.admitBatch") {
      VideoFrameIndex.admitBatch(frames.filter(!col("video").isin(dupVideos: _*)),
        n("idx_vid"))
    }
    ctx.timed("multimodal.VideoFrameIndex.compactIndex") {
      VideoFrameIndex.compactIndex(spark, n("idx_vid"), n("idx_vid_c"))
    }
  }

  def check(ctx: Ctx): (Seq[String], Map[String, String]) = {
    val spark = ctx.spark
    val fails = mutable.ArrayBuffer.empty[String]
    def n(rel: String) = ctx.work.resolve("night").resolve(rel).toString
    val curated = spark.read.parquet(n("curated"))
    val ids = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    val exactKept = plan.sliceExactDups.count(ids)
    if (exactKept > 0) fails += s"curateIncremental: $exactKept exact copies of standing docs kept"
    fails ++= Curation.checkCorpus(curated, plan.slice, Nil)
    val missText = plan.textNearDups.filterNot(textPairs)
    if (missText.nonEmpty) fails += s"text probe missed ${missText.size} planted near-duplicates"
    val vset = vecPairs.map(p => p._1 -> p._2).toSet
    val missVec = plan.vectorNearDups.filterNot(vset)
    if (missVec.nonEmpty) fails += s"vector probe missed ${missVec.size} planted near-duplicates"
    val vidSet = vidPairs.filter(_._3 >= 0.5).map(p => p._1 -> p._2).toSet
    val missVid = plan.videoNearDups.filterNot(vidSet)
    if (missVid.nonEmpty) fails += s"video probe missed ${missVid.size} planted near-duplicates"
    // admit adds exactly tonight's accepted items (4 band rows per text
    // doc with a 3-shingle, 4 per video frame, 1 per vector) and
    // compaction keeps every row
    val flaggedDocs = textPairs.map(_._2)
    val textAdmits = curated.filter(col("n_tokens") >= 3)
      .filter(!col("doc_id").isin(flaggedDocs.toSeq: _*)).count() * 4
    val vecAdmits = (plan.batchVectors - vecPairs.map(_._2).distinct.size).toLong
    val vidAdmits = (sz.batchVideos -
      vidPairs.filter(_._3 >= 0.5).map(_._2).distinct.size).toLong *
      sz.framesPerVideo * 4
    def rows(p: String) = spark.read.parquet(p).count()
    val counts = Seq(
      ("text", rows(st(ctx, "idx_text")), rows(n("idx_text_c")), textAdmits),
      ("vector", rows(st(ctx, "idx_vec")), rows(n("idx_vec_c")), vecAdmits),
      ("video", rows(st(ctx, "idx_vid")), rows(n("idx_vid_c")), vidAdmits))
    counts.foreach { case (k, before, after, add) =>
      if (after != before + add)
        fails += s"$k index: $after rows after admit + compaction, expected $before + $add"
    }
    val hashes = Map(
      "curated_slice" -> Ctx.hashFrame(curated),
      "seen_hashes" -> Ctx.hashFrame(spark.read.parquet(n("seen"))),
      "text_pairs" -> Ctx.hashLines(textPairs.toSeq.map(_.toString)),
      "vector_pairs" -> Ctx.hashLines(vecPairs.map(p => f"${p._1},${p._2},${p._3}%.9f")),
      "video_pairs" -> Ctx.hashLines(vidPairs.map(p => f"${p._1},${p._2},${p._3}%.6f")),
      "compacted_rows" -> counts.map(c => s"${c._1}=${c._3}").mkString(","))
    (fails.toSeq, hashes)
  }
}
