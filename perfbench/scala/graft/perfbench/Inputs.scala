package graft.perfbench

import graft.fixtures.{Corpus, PageHtml}
import graft.sources.Warc
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import java.util.zip.Inflater
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Seeded input generator and stager. Everything the engine reads is made
  * here from the seed alone: the same seed and shape give byte-identical
  * staged files (no wall clock, no unseeded randomness, stable file names).
  *
  * A staged directory holds what a workload needs:
  *   documents.parquet/  (doc_id, text, lang) — the table `Corpus` and
  *                       `Dedup` read
  *   pages/              the Common-Crawl-shaped page table built by
  *                       `Corpus.pagesAmplified` (planted error mix by
  *                       doc_id, hot host h0)
  *   warc/               gzip WARC chunks written by `Warc.write`
  *   probe-docs/         a capped documents table for the dedup layer probe
  */
object Inputs {

  /** The word list of the engine's `documents` fixture (single-space text). */
  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group hash index join key " +
    "line merge order part query row scan slow small sort spark stream table the value vector window").split(' ')

  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")

  /** Rows of the capped documents table the traced dedup probe reads. */
  val ProbeDocs = 4000

  /** Input shape of one workload. `chunks` = WARC chunk files (0 = none). */
  final case class Shape(name: String, docs: Int, repeatText: Int, chunks: Int,
                         dedup: Boolean = false)

  /** Planted near-duplicate structure of a dedup corpus. */
  final case class Truth(pairs: Set[(Long, Long)], comp: Map[Long, Long], clusterSizes: Seq[Int])

  final case class Staged(dir: Path, shape: Shape, ids: Seq[Long], truth: Option[Truth],
                          textBytes: Long) {
    def docsDir: String = dir.toString
    def pagesDir: String = dir.resolve("pages").toString
    def warcDir: String = dir.resolve("warc").toString
    def probeDocsDir: String = dir.resolve("probe-docs").toString
    def numDocs: Int = ids.size
  }

  /** Cache-safe key: a staged tree is only valid for this exact seed, shape
    * and page template version.
    */
  def key(shape: Shape, seed: Long): String =
    s"v${PageHtml.CorpusVersion}-${shape.name}-d${shape.docs}-r${shape.repeatText}-c${shape.chunks}-s$seed"

  /** Fresh ids per seed; a multiple of 20 keeps the planted 5/5/5 % error
    * routing (`Corpus.htmlFor`, doc_id mod 20) exact.
    */
  def idBase(seed: Long): Long = Math.floorMod(seed, 1000L) * 1000000L

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** Fixture-shaped documents: 8..95 words from [[Vocab]], single-spaced. */
  def documents(seed: Long, n: Int): Seq[(Long, String, String)] = {
    val r = rng(seed, 1)
    val base = idBase(seed)
    (0 until n).map { i =>
      val words = 8 + r.nextInt(88)
      val text = Array.fill(words)(Vocab(r.nextInt(Vocab.length))).mkString(" ")
      (base + i, text, Langs(r.nextInt(Langs.length)))
    }
  }

  private def word(r: SplittableRandom): String =
    Array.fill(4 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString

  /** Dedup corpus: `unique` random-vocabulary documents, `clusters`
    * near-duplicate clusters with Zipf sizes (size_k = max(2, maxCluster/k)),
    * and one hot cluster of `hot` identical boilerplate copies — every
    * member of it falls into the same 16 LSH band buckets, the O(m²)
    * skewed-key case. Near-dup members differ from their cluster base by
    * one replaced word out of 100, so every within-cluster pair has
    * shingle Jaccard >= 0.9 and every cross-cluster pair is far below 0.8.
    */
  def dedupDocuments(seed: Long, unique: Int, clusters: Int, maxCluster: Int,
                     hot: Int): (Seq[(Long, String, String)], Truth) = {
    val r = rng(seed, 2)
    val vocab = Array.fill(4000)(word(r))
    def text(n: Int): Array[String] = Array.fill(n)(vocab(r.nextInt(vocab.length)))
    val groups = ArrayBuffer.empty[Seq[String]]
    (0 until unique).foreach(_ => groups += Seq(text(100).mkString(" ")))
    (1 to clusters).foreach { k =>
      val size = math.max(2, maxCluster / k)
      val base = text(100)
      val positions = new scala.util.Random(r.nextLong()).shuffle((0 until 100).toList).take(size - 1)
      groups += (base.mkString(" ") +: positions.map { p =>
        val m = base.clone()
        var w = vocab(r.nextInt(vocab.length))
        while (w == base(p)) w = vocab(r.nextInt(vocab.length))
        m(p) = w
        m.mkString(" ")
      })
    }
    val boiler = text(30).mkString(" ")
    groups += Seq.fill(hot)(boiler)
    // scatter cluster members over the id space (Fisher-Yates on slots)
    val slots = groups.zipWithIndex.flatMap { case (g, gi) => g.map(t => (t, gi)) }.toArray
    var i = slots.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
      i -= 1
    }
    val base = idBase(seed)
    val docs = slots.indices.map(k => (base + k, slots(k)._1, "en"))
    val byGroup = slots.indices.groupBy(k => slots(k)._2).values
      .map(_.map(base + _).sorted).filter(_.size > 1).toSeq
    val pairs = byGroup.flatMap(ids => ids.combinations(2).map(p => (p(0), p(1)))).toSet
    val comp = byGroup.flatMap(ids => ids.map(_ -> ids.head)).toMap
    (docs, Truth(pairs, comp, byGroup.map(_.size).sorted.reverse))
  }

  /** Write `df` as parquet with stable file names (no job uuid, no .crc),
    * so equal rows give byte-equal trees.
    */
  def writeStable(df: DataFrame, dir: String): Unit = {
    df.write.mode("overwrite").parquet(dir)
    val files = Files.list(Paths.get(dir))
    try files.iterator().asScala.toList.foreach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(".")) Files.delete(p)
      else if (n.startsWith("part-")) {
        val part = n.split('-')(1)
        Files.move(p, p.resolveSibling(s"part-$part.snappy.parquet"))
      }
    } finally files.close()
  }

  /** Stage `shape` for `seed` under `dir`. `full` also stages the inputs
    * only the traced layer probes read (pages and WARC for every shape,
    * a capped documents table for the dedup probe).
    */
  def stage(spark: SparkSession, shape: Shape, seed: Long, dir: Path, full: Boolean): Staged = {
    import spark.implicits._
    Files.createDirectories(dir)
    val (rows, truth) =
      if (shape.dedup) {
        val (d, t) = dedupDocuments(seed, shape.docs, clusters = 40, maxCluster = 24, hot = 48)
        (d, Some(t))
      } else (documents(seed, shape.docs), None)
    val docsDf = spark.createDataset(spark.sparkContext.parallelize(rows, 8))
      .toDF("doc_id", "text", "lang")
    writeStable(docsDf, dir.resolve("documents.parquet").toString)
    val st = Staged(dir, shape, rows.map(_._1), truth,
      rows.map(_._2.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum)
    val wantPages = !shape.dedup || full
    if (wantPages) {
      writeStable(Corpus.pagesAmplified(spark, st.docsDir, 1, shape.repeatText), st.pagesDir)
    }
    val chunks = if (shape.chunks > 0) shape.chunks else if (full) 12 else 0
    if (chunks > 0) writeWarc(spark, st.pagesDir, st.warcDir, chunks)
    if (full) {
      val d = spark.read.parquet(s"${st.docsDir}/documents.parquet")
      writeStable(d.orderBy(col("doc_id")).limit(ProbeDocs).select("doc_id", "text", "lang"),
        s"${st.probeDocsDir}/documents.parquet")
    }
    st
  }

  /** `chunks` gzip WARC files with equal record counts (±1): one
    * `Warc.write(numFiles = 1)` call, whose single url-sorted file is then
    * cut at gzip member boundaries (the writer emits one member per
    * record). A `Warc.write(numFiles = n)` call would fill fewer than n
    * files: its `repartition(n, pmod(xxhash64(url), n))` hashes the
    * already-reduced key again, so n = 12 leaves 7 of the 12 files empty.
    */
  def writeWarc(spark: SparkSession, pagesDir: String, warcDir: String, chunks: Int): Unit = {
    val tmp = Paths.get(warcDir, "_single")
    Warc.write(spark, spark.read.parquet(pagesDir).select("url", "warc_ts", "html", "lang"), tmp.toString,
      numFiles = 1)
    val bytes = Files.readAllBytes(tmp.resolve("part-00000.warc.gz"))
    deleteTree(tmp)
    val starts = memberStarts(bytes)
    val members = starts.size - 1
    (0 until chunks).foreach { k =>
      val (from, until) = (starts(k * members / chunks), starts((k + 1) * members / chunks))
      Files.write(Paths.get(warcDir, f"part-$k%05d.warc.gz"), java.util.Arrays.copyOfRange(bytes, from, until))
    }
    Files.createFile(Paths.get(warcDir, "_SUCCESS"))
  }

  /** Offsets at which the gzip members of `bytes` start, followed by
    * `bytes.length`. Members must have the plain 10-byte header (no
    * optional fields), as `Warc.write` writes them.
    */
  def memberStarts(bytes: Array[Byte]): IndexedSeq[Int] = {
    val starts = ArrayBuffer(0)
    val inf = new Inflater(true)
    val sink = new Array[Byte](1 << 16)
    try {
      var off = 0
      while (off < bytes.length) {
        require(bytes.length - off > 18 && bytes(off) == 0x1f.toByte && bytes(off + 1) == 0x8b.toByte &&
          bytes(off + 3) == 0, s"no plain gzip member at byte $off")
        inf.reset()
        inf.setInput(bytes, off + 10, bytes.length - off - 10)
        while (!inf.finished())
          if (inf.inflate(sink) == 0 && (inf.needsInput() || inf.needsDictionary()))
            throw new IllegalArgumentException(s"truncated gzip member at byte $off")
        off = bytes.length - inf.getRemaining + 8 // skip the CRC32 and ISIZE trailer
        starts += off
      }
    } finally inf.end()
    starts.toIndexedSeq
  }

  /** Every regular file under `dir` with its bytes, keyed by relative path. */
  def tree(dir: Path): Map[String, Array[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p)).toMap
    finally s.close()
  }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}
