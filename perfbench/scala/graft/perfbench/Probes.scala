package graft.perfbench

import graft.extract.{Blocks, Classifier, Extractor, Spans}
import graft.html.Tokenizer
import graft.perfbench.Inputs.Staged
import graft.perfbench.Stats.Metric
import graft.pipeline.{ExtractJob, Lineage}
import graft.queries.Dedup
import graft.sources.Warc
import graft.util.CacheScope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.util.control.NonFatal

/** Per-layer probes of the traced run. Each drives one engine layer from
  * outside, over the workload's own staged inputs, and returns its
  * metrics. Every probe runs on every workload, so each per-layer metric
  * exists for each workload; the layer → workload pairing that matters is
  * documented in the benchmark notes.
  */
object Probes {

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def medianTime(reps: Int)(body: => Unit): Double = {
    body // warm
    Stats.median((1 to reps).map { _ => val t0 = System.nanoTime(); body; secs(t0) })
  }

  // ---------------------------------------------------------------- extract

  /** Html bytes in the kernel probe's sample. */
  val ExtractSampleBytes: Long = 6L << 20

  /** Single-thread pass over a fixed sample of the workload's pages: the
    * first pages by doc_id up to [[ExtractSampleBytes]] of html.
    */
  def extract(spark: SparkSession, st: Staged): Seq[Metric] = {
    val rows = spark.read.parquet(st.pagesDir).select("doc_id", "url", "html", "lang")
      .orderBy("doc_id").limit(20000).collect()
    var acc = 0L
    val sample = rows.takeWhile { r =>
      val keep = acc < ExtractSampleBytes
      if (!r.isNullAt(2)) acc += r.getAs[Array[Byte]](2).length
      keep
    }.map(r => (r.getString(1), r.getAs[Array[Byte]](2), r.getString(3)))
    val htmls = sample.collect { case (_, h, _) if h != null => h }
    val kb = htmls.map(_.length.toLong).sum / 1024.0
    val decoded = sample.collect { case (_, h, l) if h != null => Tokenizer.decode(h).map(_ -> l) }.flatten
    Trace.span("extract.sample") {
      val decodeS = medianTime(5)(htmls.foreach(Tokenizer.decode))
      val blocksS = medianTime(5)(decoded.foreach(d => Blocks.fromHtml(d._1)))
      val blocks = decoded.map(d => Blocks.fromHtml(d._1))
      val langs = decoded.map(_._2)
      val classifyS = medianTime(5)(blocks.indices.foreach(i => Classifier.extractText(blocks(i), langs(i))))
      val spansS = medianTime(5)(htmls.foreach { h =>
        try Spans.extract(h) catch { case NonFatal(_) => Nil } // planted payload and NUL errors
      })
      val fullS = medianTime(5)(sample.foreach { case (u, h, l) => Extractor.extract(u, h, l) })
      val kept = blocks.indices.map(i => Classifier.classify(blocks(i), langs(i)).count(identity)).sum
      val all = blocks.map(_.size).sum
      val reasons = sample.toSeq.flatMap { case (u, h, l) => Extractor.extract(u, h, l).left.toOption }
        .groupBy(_.reason).map { case (k, v) => k -> v.size.toDouble }
      Seq(
        Metric("extract.decode_ns_per_kb", decodeS * 1e9 / kb, "ns/KB"),
        Metric("extract.blocks_ns_per_kb", blocksS * 1e9 / kb, "ns/KB"),
        Metric("extract.classify_ns_per_kb", classifyS * 1e9 / kb, "ns/KB"),
        Metric("extract.spans_ns_per_kb", spansS * 1e9 / kb, "ns/KB"),
        Metric("extract.docs_per_s_1core", sample.length / fullS, "1/s"),
        Metric("extract.blocks_per_doc", all.toDouble / math.max(blocks.length, 1), "count"),
        Metric("extract.kept_block_ratio", kept.toDouble / math.max(all, 1), "ratio"),
        Metric("extract.sample_docs", sample.length.toDouble, "count")) ++
        Seq("validation", "payload", "unexpected").map(r =>
          Metric(s"extract.errors.$r", reasons.getOrElse(r, 0.0), "count"))
    }
  }

  // -------------------------------------------------------------- functions

  /** scan → extract_content → aggregate over the staged page table, no write. */
  def functions(spark: SparkSession, st: Staged, cores: Int, docsPerS1Core: Double): Seq[Metric] = {
    var docs = 0L
    val s = Trace.span("functions.extract_content") {
      medianTime(3) {
        docs = spark.read.parquet(st.pagesDir)
          .select(call_function("extract_content", col("url"), col("html"), col("lang")).as("r"))
          .agg(count(lit(1)), sum(length(col("r.extracted_text")))).head().getLong(0)
      }
    }
    val dps = docs / s
    Seq(Metric("functions.extract_docs_per_s", dps, "1/s"),
      Metric("functions.parallel_eff", dps / (cores * docsPerS1Core), "ratio"))
  }

  // --------------------------------------------------------------- pipeline

  /** One `ExtractJob.run` into a fresh directory, split into phases by the
    * SQL executions it issues: the partitioned docs write, the lineage
    * aggregate, and everything from the aggregate's end to the return
    * (lineage snapshot write and manifest rename) as the commit. The
    * rest of the wall time is driver work between them (the driver gap).
    */
  def pipeline(spark: SparkSession, st: Staged, out: Path, probe: SparkProbe, cores: Int): Seq[Metric] = {
    probe.reset()
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val rep = Trace.span("pipeline.ExtractJob.run") {
      ExtractJob.run(spark, spark.read.parquet(st.pagesDir), ExtractJob.JobConfig(out.toString, Workloads.NumPids))
    }
    val wall = secs(t0)
    val t1ms = t0ms + math.round(wall * 1e3)
    probe.awaitQuiet()
    val w = probe.snapshot
    val roots = w.sql.filter(r => r.root == r.id)
    val write = roots.find(r => r.plan.contains("InsertIntoHadoopFsRelationCommand") &&
      !r.plan.contains("_lineage"))
    val agg = write.flatMap(wr => roots.find(r => r.startMs >= wr.endMs &&
      !r.plan.contains("InsertIntoHadoopFsRelationCommand")))
    val writeS = write.map(r => (r.endMs - r.startMs) / 1e3).getOrElse(0.0)
    val aggS = agg.map(r => (r.endMs - r.startMs) / 1e3).getOrElse(0.0)
    val commitS = agg.map(r => (t1ms - r.endMs) / 1e3).getOrElse(0.0)
    val in = math.max(rep.bytesIn, 1L).toDouble
    Seq(
      Metric("pipeline.wall_s", wall, "s"),
      Metric("pipeline.extract_write_s", writeS, "s"),
      Metric("pipeline.lineage_agg_s", aggS, "s"),
      Metric("pipeline.commit_s", commitS, "s"),
      Metric("pipeline.driver_gap_s", wall - writeS - aggS - commitS, "s"),
      Metric("pipeline.executor_cpu_s", w.cpuSec, "s"),
      Metric("pipeline.busy_ratio", w.runSec / (wall * cores), "ratio"),
      Metric("pipeline.gc_share", w.gcSec / math.max(w.runSec, 1e-9), "ratio"),
      Metric("pipeline.shuffle_bytes_per_input_byte", w.shuffleBytes / in, "ratio"),
      Metric("pipeline.output_bytes_per_input_byte", w.outputBytes / in, "ratio"),
      Metric("pipeline.spill_bytes", w.spillBytes.toDouble, "bytes"),
      Metric("pipeline.task_skew", w.skewOf(_.map(_.output).sum), "ratio"),
      Metric("pipeline.jobs", w.jobs.toDouble, "count"),
      Metric("pipeline.tasks", w.tasks.size.toDouble, "count"))
  }

  // ---------------------------------------------------------------- sources

  def sources(spark: SparkSession, st: Staged): Seq[Metric] = {
    var docs = 0L
    var bytes = 0L
    val full = Trace.span("sources.Warc.read") {
      medianTime(3) {
        val r = Warc.read(spark, st.warcDir).agg(count(lit(1)), sum(length(col("html")))).head()
        docs = r.getLong(0)
        bytes = r.getLong(1)
      }
    }
    val pruned = Trace.span("sources.Warc.read_url") {
      medianTime(3)(Warc.read(spark, st.warcDir, Seq("url")).agg(count(lit(1))).head())
    }
    Seq(Metric("sources.warc_read_docs_per_s", docs / full, "1/s"),
      Metric("sources.warc_read_mb_per_s", bytes / 1e6 / full, "MB/s"),
      Metric("sources.warc_pruned_ratio", pruned / full, "ratio"))
  }

  // -------------------------------------------------------------- streaming

  /** One drain of the staged WARC chunks. `moreEpochsMs` are epoch
    * intervals of earlier drains of the same run, pooled into the p50 and
    * the tail.
    */
  def stream(spark: SparkSession, st: Staged, out: Path, probe: StreamProbe,
             moreEpochsMs: Seq[Double]): Seq[Metric] = {
    val chunks = Workloads.warcUrls(Path.of(st.warcDir)).size
    probe.reset()
    val r = Workloads.drain(spark, st.warcDir, chunks, out)
    val prog = probe.epochs(chunks)
    // Spark reports these splits in whole ms, so their median often repeats
    // exactly from run to run; the mean over epochs keeps the resolution
    def mean(k: String): Double = prog.map(_._1.getOrElse(k, 0L).toDouble).sum / math.max(prog.size, 1)
    val trig = prog.map(_._1.getOrElse("triggerExecution", 0L).toDouble).sum
    val add = prog.map(_._1.getOrElse("addBatch", 0L).toDouble).sum
    val table = out.resolve("table").toString
    val manifest = Path.of(table, "_lineage", "manifest.json")
    val readMs = Trace.span("lineage.readManifestFull") {
      medianTime(20)(Lineage.readManifestFull(table)) * 1e3
    }
    val epochMs = r.samplesMs ++ moreEpochsMs
    val (tailPct, tailMs) = Stats.tail(epochMs).getOrElse(100 -> epochMs.max)
    Seq(
      Metric("stream.epochs", prog.size.toDouble, "count"),
      Metric("stream.rows_per_epoch", Stats.median(prog.map(_._2.toDouble)), "count"),
      Metric("stream.epoch_p50_ms", Stats.median(epochMs), "ms"),
      Metric("stream.epoch_samples", epochMs.size.toDouble, "count"),
      Metric("stream.epoch_tail_ms", tailMs, "ms"),
      Metric("stream.epoch_tail_pct", tailPct.toDouble, "percentile"),
      Metric("stream.add_batch_ms_mean", mean("addBatch"), "ms"),
      Metric("stream.query_planning_ms_mean", mean("queryPlanning"), "ms"),
      Metric("stream.latest_offset_ms_mean", mean("latestOffset"), "ms"),
      Metric("stream.wal_commit_ms_mean", mean("walCommit"), "ms"),
      Metric("stream.overhead_share", (trig - add) / math.max(trig, 1.0), "ratio"),
      Metric("lineage.manifest_bytes", Files.size(manifest).toDouble, "bytes"),
      Metric("lineage.read_manifest_ms", readMs, "ms"))
  }

  // ---------------------------------------------------------------- queries

  /** Physical operators of an executed plan, looking through adaptive
    * wrappers, query stages, reused exchanges and cached relations.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case w: WholeStageCodegenExec => nodes(w.child)
    case i: InputAdapter => nodes(i.child)
    case other => other.children.flatMap(nodes)
  })

  private def joinKeys(p: SparkPlan): Option[Set[String]] = p match {
    case j: SortMergeJoinExec => Some(j.leftKeys.flatMap(_.references.map(_.name)).toSet)
    case j: ShuffledHashJoinExec => Some(j.leftKeys.flatMap(_.references.map(_.name)).toSet)
    case j: BroadcastHashJoinExec => Some(j.leftKeys.flatMap(_.references.map(_.name)).toSet)
    case _ => None
  }

  def queries(spark: SparkSession, dir: String, probe: SparkProbe): Seq[Metric] = {
    CacheScope.releaseAll()
    probe.reset()
    // d_components runs its label propagation while the DataFrame is built,
    // so each query is timed from the `Dedup.defs` call
    val t0 = System.nanoTime()
    val lsh: DataFrame = Dedup.defs("d_minhash_lsh")(spark, dir)
    val pairs = Trace.span("queries.d_minhash_lsh")(lsh.collect().length)
    val lshS = secs(t0)
    probe.awaitQuiet()
    val lshWindow = probe.snapshot
    val plan = nodes(lsh.queryExecution.executedPlan)
    val exchanges = plan.count(_.isInstanceOf[ShuffleExchangeLike])
    val bandRows = plan.filter(p => joinKeys(p).contains(Set("band", "bh")))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    CacheScope.releaseAll()
    probe.reset()
    val t1 = System.nanoTime()
    val comp = Trace.span("queries.d_components") {
      val df = Dedup.defs("d_components")(spark, dir)
      df.collect()
      df
    }
    val compS = secs(t1)
    probe.awaitQuiet()
    val compWindow = probe.snapshot
    CacheScope.releaseAll()
    val planning = Seq(lsh, comp).map(_.queryExecution.tracker.phases.values.map(_.durationMs).sum).sum
    val both = SparkProbe.Window(lshWindow.tasks ++ compWindow.tasks, 0, Nil)
    Seq(
      Metric("queries.minhash_lsh_s", lshS, "s"),
      Metric("queries.components_s", compS, "s"),
      Metric("queries.planning_ms", planning.toDouble, "ms"),
      Metric("queries.exchanges", exchanges.toDouble, "count"),
      Metric("queries.band_join_rows", bandRows.toDouble, "count"),
      Metric("queries.verified_pairs", pairs.toDouble, "count"),
      Metric("queries.candidate_precision", pairs / math.max(bandRows.toDouble, 1.0), "ratio"),
      Metric("queries.shuffle_bytes", both.shuffleBytes.toDouble, "bytes"),
      Metric("queries.task_skew", both.skewOf(_.map(_.runMs).sum), "ratio"),
      Metric("queries.components_jobs", compWindow.jobs.toDouble, "count"))
  }
}
