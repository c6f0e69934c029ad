package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable.ArrayBuffer

/** Seed-driven input generators. Everything is written as plain text
  * files with java.io (no Spark), so the same seed gives byte-identical
  * files on any host, and the library only ever sees the files. Each
  * generator also returns what it planted, which the output checks
  * use to prove recovery. */
object Gen {

  /** Input sizes. One size per workload; see perfbench/README.md. */
  final case class Sizes(
      catalogRows: Int = 1000,
      catalogFiles: Int = 24,
      searchQueries: Int = 8,
      corpusDocs: Int = 8000,
      standingDocs: Int = 4000,
      sliceShare: Double = 0.03,
      standingVectors: Int = 20000,
      vectorDim: Int = 16,
      vectorCells: Int = 32,
      batchVectors: Int = 600,
      standingVideos: Int = 400,
      framesPerVideo: Int = 50,
      batchVideos: Int = 30)

  private def rng(seed: Long, salt: Long) =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  private def writer(p: Path): BufferedWriter = {
    Files.createDirectories(p.getParent)
    new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(p), StandardCharsets.UTF_8), 1 << 16)
  }

  private def withWriter(p: Path)(f: BufferedWriter => Unit): Unit = {
    val w = writer(p)
    try f(w) finally w.close()
  }

  // ------------------------------------------------------------ catalog

  /** What the catalogue generator planted. `uniqueRows` = rows left
    * after (name, url) keep-first dedup; `dupRows` exact copies. */
  final case class CatalogPlan(rows: Int, dupRows: Int, uniqueRows: Int,
      files: Int, bytes: Long, dirtyPrices: Int)

  private val productWords = Seq(
    "Bánh kem dâu", "Bánh mì bơ tỏi", "Bánh bông lan trứng muối",
    "Trà sữa trân châu", "Cà phê sữa đá", "Bánh quy bơ", "Bingsu xoài",
    "Bánh flan caramen", "Bánh su kem", "Bánh croissant", "Trà đào cam sả",
    "Sữa chua dẻo", "Bánh mousse chanh dây", "Bánh donut socola",
    "Bánh trung thu thập cẩm", "Set bánh quà tặng", "Đá xay cookie",
    "Bánh tart trứng", "Bánh sandwich gà", "Chocolate nóng")
  private val brands = Seq("Bakery A", "Tous B", "Highland C", "Breadtalk D",
    "Givral E", "Savouré F")
  private val rawCats: Seq[String] =
    graft.etl.Categorizer.mapping.flatMap(_._2)
  private val strayCats = Seq("khác", "quà tặng", "phụ kiện", "mới về",
    "combo ưu đãi")

  private def csvField(s: String): String =
    "\"" + s.replace("\"", "\"\"") + "\""

  /** 24 per-category CSVs of uneven size in the reference's staged
    * shape: quoted multiline descriptions, pipe-joined image lists,
    * category strings from the Categorizer vocabulary plus strays that
    * fall through, 5% planted exact (name, url) duplicate rows, and
    * digit-string prices. `dirtyShare` of the prices are written the
    * way vendors format them ("50.000đ") instead. */
  def catalog(dir: Path, seed: Long, sz: Sizes,
      dirtyShare: Double = 0.0): CatalogPlan = {
    val r = rng(seed, 1)
    val nFiles = sz.catalogFiles
    // uneven file sizes: weights 1..~12 drawn per seed
    val weights = Array.fill(nFiles)(1.0 + 11.0 * r.nextDouble() *
      r.nextDouble())
    val nDup = (sz.catalogRows * 0.05).toInt
    val nUnique = sz.catalogRows - nDup
    val wsum = weights.sum
    val perFile = weights.map(w => (w / wsum * nUnique).toInt)
    perFile(0) += nUnique - perFile.sum
    val header = "product_name,product_brand,original_category," +
      "product_url,product_image_url,product_image_name," +
      "product_description,product_unit_price,product_stock_quantity"
    val rows = Array.fill(nFiles)(ArrayBuffer.empty[String])
    var serial = 0
    var dirty = 0
    for (f <- 0 until nFiles; _ <- 0 until perFile(f)) {
      serial += 1
      val word = productWords(r.nextInt(productWords.size))
      val name = f"$word $serial%05d"
      val brand = brands(r.nextInt(brands.size))
      val cat =
        if (r.nextDouble() < 0.85) rawCats(r.nextInt(rawCats.size))
        else strayCats(r.nextInt(strayCats.size))
      val url = s"https://shop${r.nextInt(6)}.vn/p/$serial"
      val nImg = 1 + r.nextInt(3)
      val imgs = (1 to nImg).map(i => s"https://cdn.vn/$serial/$i.jpg")
      val imgNames =
        if (nImg > 1 && r.nextBoolean()) (1 to nImg).map(i => s"ảnh $i")
        else Seq(if (r.nextBoolean()) "mặt trước" else "")
      val desc = s"$word thơm ngon, làm mới mỗi ngày.\n" +
        s"Thành phần: bột, trứng, \"bơ\" loại ${r.nextInt(9) + 1}.\n" +
        s"Bảo quản ${r.nextInt(5) + 1} ngày."
      val base = (20 + r.nextInt(200)) * 1000
      val price =
        if (r.nextDouble() < 0.08) "0"
        else if (r.nextDouble() < dirtyShare) {
          dirty += 1
          f"${base / 1000}%d.000đ"
        } else base.toString
      val stock = r.nextInt(300)
      rows(f) += Seq(csvField(name), csvField(brand), csvField(cat),
        csvField(url), csvField(imgs.mkString("|")),
        csvField(imgNames.mkString("|")), csvField(desc), csvField(price),
        stock.toString).mkString(",")
    }
    // exact duplicates: copies of earlier rows, appended to a later or
    // the same file, so keep-first (file order) keeps the original
    for (_ <- 0 until nDup) {
      val src = r.nextInt(nFiles)
      val srcRows = rows(src)
      val row = srcRows(r.nextInt(srcRows.size))
      val dst = src + r.nextInt(nFiles - src)
      rows(dst) += row
    }
    var bytes = 0L
    for (f <- 0 until nFiles) {
      val p = dir.resolve(f"cat_$f%02d_products.csv")
      withWriter(p) { w =>
        w.write(header); w.write("\n")
        rows(f).foreach { l => w.write(l); w.write("\n") }
      }
      bytes += Files.size(p)
    }
    CatalogPlan(sz.catalogRows, nDup, nUnique, nFiles, bytes, dirty)
  }

  /** Search queries: keyword queries drawn by seed. */
  def searchKeywords(seed: Long, n: Int): Seq[String] = {
    val r = rng(seed, 2)
    Seq.fill(n)(productWords(r.nextInt(productWords.size)).toLowerCase(Locale.ROOT))
  }

  // ------------------------------------------------------------- corpus

  private val syllables = Seq("ba", "be", "bo", "ca", "co", "cu", "da", "de",
    "do", "ga", "go", "ha", "he", "ho", "ka", "ke", "la", "le", "lo", "ma",
    "me", "mo", "na", "ne", "no", "pa", "pe", "ra", "re", "ro", "sa", "se",
    "so", "ta", "te", "to", "va", "ve", "xa", "xe")
  /** 3,000 distinct two/three-syllable words; drawn uniformly so no
    * natural token pair is frequent enough to look like boilerplate. */
  private val vocab: IndexedSeq[String] = {
    val two = for (a <- syllables; b <- syllables) yield a + b
    val three = for (a <- syllables.take(12); b <- syllables;
      c <- syllables.take(3)) yield a + b + c
    (two ++ three).distinct.take(3000).toIndexedSeq
  }

  /** An even-length body, so appended blocks stay segment-aligned. */
  private def body(r: SplittableRandom, minTok: Int, maxTok: Int)
      : IndexedSeq[String] = {
    val n = (minTok + r.nextInt(maxTok - minTok + 1)) & ~1
    IndexedSeq.fill(n)(vocab(r.nextInt(vocab.size)))
  }

  /** 18 shared boilerplate segments (2 tokens each, the curation's
    * segment size), grouped into 6 three-segment blocks: fewer than
    * the curation's top-20 dictionary, so every one is stripped. */
  private val boilerBlocks: IndexedSeq[IndexedSeq[String]] =
    (0 until 6).map(b => (0 until 6).map(i => s"tieude${b}x$i"))

  /** What the corpus generator planted (ids). */
  final case class CorpusPlan(
      docs: Int, evalDocs: Int, bytes: Long,
      lowQuality: Seq[Long], repetitive: Seq[Long],
      boilerplated: Seq[Long], evalCopied: Seq[(Long, String)],
      dupPairs: Seq[(Long, Long)], boilerSegments: Seq[String])

  /** A curation corpus of `n` docs (ids from `firstId`) plus an eval
    * set of n/23 docs. Planted shares: 4% low-quality, 4% repetitive,
    * 30% carrying a shared boilerplate block, 3% with a copied eval
    * span, 3% exact duplicates of another doc once boilerplate is
    * stripped. Files: docs.csv (doc_id,text), eval.csv (doc_id,text). */
  def corpus(dir: Path, seed: Long, n: Int, firstId: Long = 0L,
      withEval: Boolean = true): CorpusPlan = {
    val r = rng(seed, 3 + firstId)
    val nEval = math.max(1, n / 23)
    val evalDocs = IndexedSeq.fill(nEval)(body(r, 40, 80))
    val low, rep, boil = ArrayBuffer.empty[Long]
    val evalCopied = ArrayBuffer.empty[(Long, String)]
    val dups = ArrayBuffer.empty[(Long, Long)]
    val texts = new Array[String](n)
    val plainBodies = ArrayBuffer.empty[(Long, IndexedSeq[String])]
    for (i <- 0 until n) {
      val id = firstId + i
      val u = r.nextDouble()
      val toks: IndexedSeq[String] =
        if (u < 0.04) {
          low += id
          if (r.nextBoolean()) body(r, 2, 3) // too short
          else IndexedSeq.fill(20)(vocab(r.nextInt(4))) // low uniqueness
        } else if (u < 0.08) {
          rep += id
          val phrase = IndexedSeq.fill(10)(vocab(r.nextInt(vocab.size)))
          phrase ++ phrase ++ phrase.take(4)
        } else if (u < 0.11 && withEval) {
          val b = body(r, 30, 60)
          val ev = evalDocs(r.nextInt(nEval))
          val at = r.nextInt(ev.size - 8)
          val span = ev.slice(at, at + 8)
          evalCopied += id -> span.mkString(" ")
          b.take(10) ++ span ++ b.drop(10)
        } else if (u < 0.14 && plainBodies.nonEmpty) {
          // same body as an earlier doc, different boilerplate block:
          // identical after the strip, so exact dedup keeps the earlier
          val (orig, ob) = plainBodies(r.nextInt(plainBodies.size))
          dups += orig -> id
          boil += id
          boilerBlocks(r.nextInt(boilerBlocks.size)) ++ ob
        } else {
          val b = body(r, 40, 120)
          if (u < 0.44) {
            boil += id
            boilerBlocks(r.nextInt(boilerBlocks.size)) ++ b
          } else {
            plainBodies += id -> b
            b
          }
        }
      texts(i) = toks.mkString(" ")
    }
    withWriter(dir.resolve("docs.csv")) { w =>
      w.write("doc_id,text\n")
      var i = 0
      while (i < n) {
        w.write((firstId + i).toString); w.write(","); w.write(texts(i))
        w.write("\n"); i += 1
      }
    }
    if (withEval) withWriter(dir.resolve("eval.csv")) { w =>
      w.write("doc_id,text\n")
      evalDocs.zipWithIndex.foreach { case (t, i) =>
        w.write(s"$i,${t.mkString(" ")}\n")
      }
    }
    val bytes = Files.size(dir.resolve("docs.csv")) +
      (if (withEval) Files.size(dir.resolve("eval.csv")) else 0L)
    CorpusPlan(n, if (withEval) nEval else 0, bytes, low.toSeq, rep.toSeq,
      boil.toSeq, evalCopied.toSeq, dups.toSeq,
      boilerBlocks.flatMap(_.grouped(2).map(_.mkString(" "))))
  }

  /** Read back a generated docs.csv (id → text) for slice planting. */
  def readDocs(p: Path): IndexedSeq[(Long, String)] = {
    val it = Files.readAllLines(p, StandardCharsets.UTF_8)
    (1 until it.size).map { i =>
      val l = it.get(i); val c = l.indexOf(',')
      (l.substring(0, c).toLong, l.substring(c + 1))
    }
  }

  // ------------------------------------------------------------ nightly

  final case class NightlyPlan(
      standing: CorpusPlan, slice: CorpusPlan,
      sliceExactDups: Seq[Long], textNearDups: Seq[(Long, Long)],
      vectorNearDups: Seq[(Long, Long)], videoNearDups: Seq[(String, String)],
      vectors: Int, batchVectors: Int, frames: Int, batchFrames: Int,
      bytes: Long)

  private def fmt(d: Double) = String.format(Locale.ROOT, "%.6f", d)

  /** Standing state inputs plus tonight's items:
    *  - standing/docs.csv, eval.csv: the standing corpus;
    *  - slice/docs.csv: tonight's slice (~3% of the corpus) with
    *    planted exact copies and near-duplicates (two tokens appended)
    *    of standing docs;
    *  - vectors.csv / batch_vectors.csv (id, x0..x{d-1}): clustered
    *    vectors; the batch plants near-duplicates of standing vectors,
    *    moved 1% toward their own seed centroid so they stay in its
    *    cell (the first `vectorCells` ids are distinct and are the
    *    index's seed centroids);
    *  - frames.csv / batch_frames.csv (video, frame_idx, phash): the
    *    batch plants copies of standing videos with at most 3 flipped
    *    bits per frame hash (guaranteed found with 4 bands). */
  def nightly(dir: Path, seed: Long, sz: Sizes): NightlyPlan = {
    val standing = corpus(dir.resolve("standing"), seed, sz.standingDocs)
    val nSlice = math.max(10, (sz.standingDocs * sz.sliceShare).toInt)
    val sliceDir = dir.resolve("slice")
    val slice = corpus(sliceDir, seed + 7, nSlice,
      firstId = 10000000L, withEval = false)
    // plant copies and near-dups of plain standing docs into the slice
    val r = rng(seed, 5)
    val std = readDocs(dir.resolve("standing").resolve("docs.csv"))
    val plain = {
      val skip = (standing.lowQuality ++ standing.repetitive ++
        standing.boilerplated ++ standing.evalCopied.map(_._1) ++
        standing.dupPairs.map(_._2)).toSet
      std.filterNot { case (id, _) => skip(id) }
    }
    val sliceDocs = readDocs(sliceDir.resolve("docs.csv")).toBuffer
    val exact, nearIds = ArrayBuffer.empty[Long]
    val near = ArrayBuffer.empty[(Long, Long)]
    val nPlant = math.max(4, nSlice / 20)
    // long docs only: two appended tokens keep 3-shingle Jaccard
    // >= 0.975, so a 4-band probe misses one with p < 1e-5
    val long = plain.filter(_._2.count(_ == ' ') >= 79)
    val picked = new scala.util.Random(r.nextLong())
      .shuffle(long.indices.toList).take(2 * nPlant)
    var nextId = 10000000L + nSlice
    picked.zipWithIndex.foreach { case (pi, j) =>
      val (sid, text) = long(pi)
      if (j % 2 == 0) {
        exact += nextId; sliceDocs += nextId -> text
      } else {
        near += sid -> nextId
        sliceDocs += nextId -> (text + " " +
          vocab(r.nextInt(vocab.size)) + " " + vocab(r.nextInt(vocab.size)))
      }
      nextId += 1
    }
    withWriter(sliceDir.resolve("docs.csv")) { w =>
      w.write("doc_id,text\n")
      sliceDocs.foreach { case (id, t) => w.write(s"$id,$t\n") }
    }

    // vectors: clustered around 64 random unit centers
    val d = sz.vectorDim
    val centers = Array.fill(64) {
      val c = Array.fill(d)(r.nextGaussian())
      val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    def draw(): Array[Double] = {
      val c = centers(r.nextInt(centers.length))
      Array.tabulate(d)(k => c(k) + 0.3 * r.nextGaussian())
    }
    val vecs = Array.fill(sz.standingVectors)(draw())
    val seeds = vecs.take(sz.vectorCells)
    def dist2(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var k = 0
      while (k < d) { val x = a(k) - b(k); s += x * x; k += 1 }
      s
    }
    def vecLine(w: BufferedWriter, id: Long, v: Array[Double]): Unit = {
      w.write(id.toString)
      v.foreach { x => w.write(","); w.write(fmt(x)) }
      w.write("\n")
    }
    val vheader = ("id" +: (0 until d).map(k => s"x$k")).mkString(",") + "\n"
    withWriter(dir.resolve("vectors.csv")) { w =>
      w.write(vheader)
      vecs.zipWithIndex.foreach { case (v, i) => vecLine(w, i.toLong, v) }
    }
    val vnear = ArrayBuffer.empty[(Long, Long)]
    val nVPlant = sz.batchVectors / 10
    withWriter(dir.resolve("batch_vectors.csv")) { w =>
      w.write(vheader)
      for (i <- 0 until sz.batchVectors) {
        val id = 5000000L + i
        if (i < nVPlant) {
          // a standing vector (not a centroid itself) moved toward its
          // own nearest seed centroid, read back at the written digits
          val sid = sz.vectorCells + r.nextInt(vecs.length - sz.vectorCells)
          val v = vecs(sid).map(x => fmt(x).toDouble)
          val c = seeds.map(_.map(x => fmt(x).toDouble))
            .minBy(s => dist2(v, s))
          vnear += sid.toLong -> id
          vecLine(w, id, Array.tabulate(d)(k => v(k) + 0.01 * (c(k) - v(k))))
        } else vecLine(w, id, draw())
      }
    }

    // video frame hashes
    val fpv = sz.framesPerVideo
    val videoHashes = Array.fill(sz.standingVideos)(Array.fill(fpv)(r.nextLong()))
    withWriter(dir.resolve("frames.csv")) { w =>
      w.write("video,frame_idx,phash\n")
      videoHashes.zipWithIndex.foreach { case (hs, v) =>
        hs.zipWithIndex.foreach { case (h, f) => w.write(f"v$v%05d,$f,$h\n") }
      }
    }
    val vidNear = ArrayBuffer.empty[(String, String)]
    withWriter(dir.resolve("batch_frames.csv")) { w =>
      w.write("video,frame_idx,phash\n")
      for (b <- 0 until sz.batchVideos) {
        val name = f"n$b%04d"
        val hs =
          if (b % 3 == 0) {
            val src = r.nextInt(sz.standingVideos)
            vidNear += f"v$src%05d" -> name
            videoHashes(src).map { h =>
              var x = h
              for (_ <- 0 until r.nextInt(4)) x ^= 1L << r.nextInt(64)
              x
            }
          } else Array.fill(fpv)(r.nextLong())
        hs.zipWithIndex.foreach { case (h, f) => w.write(s"$name,$f,$h\n") }
      }
    }
    val bytes = Seq("vectors.csv", "batch_vectors.csv", "frames.csv",
      "batch_frames.csv").map(f => Files.size(dir.resolve(f))).sum +
      standing.bytes + Files.size(sliceDir.resolve("docs.csv"))
    NightlyPlan(standing, slice.copy(docs = sliceDocs.size), exact.toSeq,
      near.toSeq, vnear.toSeq, vidNear.toSeq, sz.standingVectors,
      sz.batchVectors, sz.standingVideos * fpv, sz.batchVideos * fpv, bytes)
  }
}
