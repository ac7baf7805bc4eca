package graft.perfbench

import graft.perfbench.Inputs.{Shape, Staged}
import graft.pipeline.{ExtractJob, Lineage, StreamingLineage}
import graft.queries.Dedup
import graft.util.CacheScope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPInputStream
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One closed-loop operation's outcome. `samplesMs` are the latencies it
  * contributes to `op_p50_ms` (the job, each epoch, the dedup pass);
  * `units` counts its jobs, epochs or queries for attempted/failed.
  */
final case class OpResult(docs: Long, bytes: Long, wallNs: Long, samplesMs: Seq[Double],
                          units: Int, failures: Seq[String])

/** A benchmark workload: its input shape, its timed operation (run
  * against a fresh output directory each time) and the untimed full
  * output check of the last operation.
  */
trait Workload {
  def shape: Shape
  def op(spark: SparkSession, st: Staged, out: Path): OpResult

  /** Operations run before timing, each into its own fresh `out`, so
    * that JIT compilation and Spark's code generation settle first.
    */
  def warmUpOps: Int = 1

  def warmUp(spark: SparkSession, st: Staged, out: Path): OpResult = op(spark, st, out)

  def fullCheck(spark: SparkSession, st: Staged, out: Path): Seq[String]
}

object Workloads {

  /** Partition count of the job's content-addressed pid space. */
  val NumPids = 16

  val all: Map[String, Workload] = Map(
    "batch-small-pages" -> new Batch(Shape("batch-small-pages", docs = 40000, repeatText = 1, chunks = 0)),
    "stream-warc" -> new Stream(Shape("stream-warc", docs = 5000, repeatText = 1, chunks = 20)),
    "dedup-hot-cluster" -> new DedupHot(Shape("dedup-hot-cluster", docs = 3000, repeatText = 1, chunks = 0,
      dedup = true)))

  /** Planted error reasons by `Corpus.htmlFor` routing (doc_id mod 20). */
  def plantedReason(id: Long): Option[String] = Math.floorMod(id, 20L) match {
    case 13 => Some("validation")
    case 19 => Some("payload")
    case 3  => Some("unexpected")
    case _  => None
  }

  /** Rows of `written` (url, extracted_text, error) whose result differs
    * from the source page: planted errors carry their reason, garbage
    * pages (doc_id mod 20 = 7) extract to "", every other page returns its
    * source text exactly. `pages` lists the pages that must be present.
    */
  def textMismatches(written: DataFrame, pages: DataFrame): Long = {
    val m = pmod(col("doc_id"), lit(20L))
    val expectedErr = when(m === 13, "validation").when(m === 19, "payload").when(m === 3, "unexpected")
    val expectedText = when(m === 7, lit("")).otherwise(col("text"))
    written.select(col("url"), col("extracted_text"), col("error"), lit(true).as("w"))
      .join(pages.select(col("url"), col("doc_id"), col("text"), lit(true).as("p")), Seq("url"), "full_outer")
      .where(col("w").isNull || col("p").isNull ||
        (expectedErr.isNotNull && !(col("error") <=> expectedErr)) ||
        (expectedErr.isNull && !(col("error").isNull && (col("extracted_text") <=> expectedText))))
      .count()
  }

  final class Batch(val shape: Shape) extends Workload {
    def op(spark: SparkSession, st: Staged, out: Path): OpResult = {
      val t0 = System.nanoTime()
      val rep = Trace.span("pipeline.ExtractJob.run") {
        ExtractJob.run(spark, spark.read.parquet(st.pagesDir), ExtractJob.JobConfig(out.toString, NumPids))
      }
      val wall = System.nanoTime() - t0
      val planted = st.ids.groupBy(plantedReason).map { case (k, v) => k -> v.size.toLong }
      val got = Map(Some("validation") -> rep.failedValidation, Some("payload") -> rep.failedPayload,
        Some("unexpected") -> rep.failedUnexpected, None -> rep.docsOk)
      val failures = Seq(
        if (rep.pidsProcessed != NumPids) Some(s"no-op or partial run: ${rep.pidsProcessed} pids") else None,
        if (got.exists { case (k, v) => planted.getOrElse(k, 0L) != v }) Some(s"error counts $got vs $planted")
        else None).flatten
      OpResult(rep.docsTotal, rep.bytesIn, wall, Seq(wall / 1e6), 1, failures)
    }

    def fullCheck(spark: SparkSession, st: Staged, out: Path): Seq[String] = {
      val written = ExtractJob.docs(spark, out.toString)
      val pages = spark.read.parquet(st.pagesDir)
      val text = textMismatches(written, pages)
      val manifest = Lineage.readManifestFull(out.toString)
      val rec = ExtractJob.digestRecord(col("url"), col("extracted_text"), col("error"))
      val mine = written.groupBy(col("pid")).agg(count(lit(1)).as("rows"),
        sum(pmod(conv(substring(md5(rec), 1, 15), 16, 10).cast("long"), lit(1000000007L))).as("dig"))
      val digests = mine
        .join(Lineage.table(spark, out.toString).select(col("partition_id").as("pid"),
          col("rows").as("lrows"), col("digest")), Seq("pid"), "full_outer")
        .where(!(coalesce(col("rows"), lit(0L)) === coalesce(col("lrows"), lit(-1L))) ||
          !(coalesce(col("dig"), lit(0L)).cast("string") <=> col("digest")))
        .count()
      Seq(
        if (text != 0) Some(s"$text docs differ from their source page") else None,
        if (manifest.pids != (0 until NumPids).toSet) Some(s"manifest pids ${manifest.pids}") else None,
        if (digests != 0) Some(s"$digests lineage digests do not match the written parquet") else None).flatten
    }
  }

  final class Stream(val shape: Shape) extends Workload {
    def op(spark: SparkSession, st: Staged, out: Path): OpResult = drain(spark, st.warcDir, shape.chunks, out)

    /** A drain of the first four chunks only: every epoch runs the same
      * code, so a full drain would only lengthen set-up. After a two-chunk
      * drain the first epochs of the timed drain still ran about 20 % slower
      * than its last ones.
      */
    override def warmUp(spark: SparkSession, st: Staged, out: Path): OpResult = {
      val dir = st.dir.resolve("warm-warc")
      Files.createDirectories(dir)
      (0 until WarmUpChunks).foreach { k =>
        val f = f"part-$k%05d.warc.gz"
        Files.copy(Path.of(st.warcDir, f), dir.resolve(f))
      }
      drain(spark, dir.toString, WarmUpChunks, out)
    }

    private val WarmUpChunks = 4

    def fullCheck(spark: SparkSession, st: Staged, out: Path): Seq[String] = {
      val chunkUrls = warcUrls(Path.of(st.warcDir))
      val byEpoch = StreamingLineage.docs(spark, out.resolve("table").toString).select("url", "epoch")
        .collect().groupBy(_.getLong(1)).map { case (e, rs) => e -> rs.map(_.getString(0)).toSeq }
      val epochs = Lineage.readManifestFull(out.resolve("table").toString).epochs
      val written = StreamingLineage.docs(spark, out.resolve("table").toString)
      val pages = spark.read.parquet(st.pagesDir).where(col("html").isNotNull)
      val text = textMismatches(written, pages)
      Seq(
        if (epochs != (0L until chunkUrls.size).toSet) Some(s"committed epochs $epochs for ${chunkUrls.size} chunks")
        else None,
        if (byEpoch.values.exists(u => u.size != u.distinct.size) ||
          byEpoch.values.map(_.toSet).toSet != chunkUrls.values.toSet)
          Some("epoch contents do not match the WARC chunks one to one") else None,
        if (text != 0) Some(s"$text docs differ from their WARC record's page") else None).flatten
    }
  }

  /** Target urls of every record, per WARC chunk file, read with the JDK's
    * gzip reader (independent of the engine's WARC parser).
    */
  def warcUrls(dir: Path): Map[String, Set[String]] = {
    def urls(p: Path): Set[String] = {
      val r = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(Files.newInputStream(p), 1 << 16), StandardCharsets.ISO_8859_1))
      try Iterator.continually(r.readLine()).takeWhile(_ != null)
        .collect { case l if l.startsWith("WARC-Target-URI: ") => l.stripPrefix("WARC-Target-URI: ").trim }
        .toSet
      finally r.close()
    }
    val files = Files.list(dir)
    try files.iterator().asScala.filter(_.getFileName.toString.endsWith(".warc.gz"))
      .map(p => p.getFileName.toString -> urls(p)).toMap
    finally files.close()
  }

  /** One AvailableNow drain of `warcDir`, one chunk per epoch, into a fresh
    * table and checkpoint under `out`. Samples are the wall ms between
    * successive epoch commits.
    */
  def drain(spark: SparkSession, warcDir: String, chunks: Int, out: Path): OpResult = {
    val table = out.resolve("table").toString
    val stamps = ArrayBuffer.empty[Long]
    var committed = 0
    val t0 = System.nanoTime()
    Trace.span("stream.StreamingLineage.run") {
      // one span per epoch, from the previous commit to this one, so that the
      // epoch's Spark stages nest under it
      Trace.enter("stream.epoch")
      try StreamingLineage.run(spark, warcDir, table, out.resolve("checkpoint").toString, NumPids,
        maxFilesPerTrigger = Some(1), onEpoch = (_, c) => stamps.synchronized {
          stamps += System.nanoTime()
          if (c) committed += 1
          Trace.exit()
          Trace.enter("stream.epoch")
        })
      finally Trace.exit()
    }
    val wall = System.nanoTime() - t0
    val lineage = spark.read.option("mergeSchema", "true").parquet(s"$table/_lineage/data")
      .agg(sum("rows"), sum("bytes")).head()
    val epochs = Lineage.readManifestFull(table).epochs
    val failures = Seq(
      if (committed != chunks) Some(s"$committed epochs committed for $chunks chunks") else None,
      if (epochs != (0L until chunks).toSet) Some(s"manifest epochs $epochs") else None).flatten
    val samples = stamps.toSeq.sliding(2).collect { case Seq(a, b) => (b - a) / 1e6 }.toSeq
    OpResult(lineage.getLong(0), lineage.getLong(1), wall, samples, math.max(committed, 1), failures)
  }

  final class DedupHot(val shape: Shape) extends Workload {
    def op(spark: SparkSession, st: Staged, out: Path): OpResult = {
      val truth = st.truth.get
      CacheScope.releaseAll()
      val t0 = System.nanoTime()
      val pairs = Trace.span("queries.d_minhash_lsh")(Dedup.defs("d_minhash_lsh")(spark, st.docsDir).collect())
      val comps = Trace.span("queries.d_components")(Dedup.defs("d_components")(spark, st.docsDir).collect())
      val t2 = System.nanoTime()
      CacheScope.releaseAll()
      val gotPairs = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
      val badComp = comps.count(r => truth.comp.getOrElse(r.getLong(0), r.getLong(0)) != r.getLong(1))
      val failures = Seq(
        if (gotPairs != truth.pairs)
          Some(s"pairs: ${(gotPairs -- truth.pairs).size} extra, ${(truth.pairs -- gotPairs).size} missing")
        else None,
        if (comps.length != st.numDocs || badComp != 0)
          Some(s"components: ${comps.length} rows, $badComp wrong labels") else None).flatten
      OpResult(st.numDocs.toLong, st.textBytes, t2 - t0, Seq((t2 - t0) / 1e6), 2, failures)
    }

    /** After one warm-up pass the first timed pass still ran about 25 %
      * slower than the third (JIT of the label-propagation loop).
      */
    override def warmUpOps: Int = 2

    // every run's pair and component sets are checked in `op` itself
    def fullCheck(spark: SparkSession, st: Staged, out: Path): Seq[String] = Nil
  }
}
