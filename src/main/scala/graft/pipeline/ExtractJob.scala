package graft.pipeline

import graft.functions.{ExtractKernel, GraftFunctions}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** The production extraction pipeline (SURVEY.md §3.1 Spark-side trace):
  *
  *   scan (partition-pruned, column-pruned)
  *     → content-addressed pid = xxhash64(url) mod N   [deterministic →
  *       resume at partition granularity is content-addressed, not
  *       input-split-addressed]
  *     → resume filter (anti-filter on committed pids)
  *     → extract_content native expression                [narrow, fused]
  *     → rebalance(pid)   [the ONLY shuffle; AQE sizes the write tasks;
  *       carries extracted text, not raw html — extraction runs map-side,
  *       upstream of the exchange, so shuffle bytes ≈ output size]
  *     → observe(PidStats)   [per-pid rows, bytes, md5-60bit digest and
  *       error counts, aggregated in the write's result stage by the same
  *       pass that writes the rows]
  *     → single write partitionBy(pid), dynamic partition overwrite
  *       [idempotent per pid → per-key exactly-once, strictly stronger
  *       than the reference's at-most-once delivery
  *       (/root/reference/src/kafka_consumer.py:111-121,70)]
  *     → lineage rows from the observed stats + atomic manifest commit.
  *
  * Error rows (validation/payload/unexpected) are DATA, not exceptions:
  * they live in the same table with a `reason` in the `error` column, so
  * one pass produces both sinks (no double execution of the extraction).
  */
object ExtractJob {

  final case class JobConfig(
      outputDir: String,
      numPids: Int = 64,
      /** test hook: process only these pids (simulates a killed run) */
      limitPids: Option[Set[Int]] = None,
      /** steal a stale writer lock left by a crashed run (idempotent-safe) */
      takeover: Boolean = false)

  /** Content-addressed partition id — stable across runs and input
    * layouts; null-url rows (validation errors) go to pid 0.
    */
  def pidCol(nPids: Int): Column =
    coalesce(pmod(xxhash64(col("url")), lit(nPids.toLong)), lit(0L)).cast("int")

  val docsSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("in_bytes", LongType),
    StructField("extracted_text", StringType),
    StructField("spans", ArrayType(ExtractKernel.spanType, containsNull = false)),
    StructField("error", StringType),
    StructField("pid", IntegerType)))

  def docs(spark: SparkSession, outputDir: String): DataFrame =
    spark.read.schema(docsSchema).parquet(s"$outputDir/docs")

  /** Unambiguous digest record encoding: every field is either `n`
    * (NULL) or `v<charlen>:<value>` — length-prefixed, so no separator
    * or sentinel can collide with data and distinct field triples always
    * serialize distinctly (a plain `a:b:c` join is ambiguous when values
    * contain the separator, and a `~` null sentinel is a legal value).
    * NULL handled explicitly: null-url rows are a supported input class
    * (validation errors route to pid 0) — encoded, never dropped, so an
    * all-null pid group cannot turn the digest sum NULL. The same
    * formula is plain SQL in any engine (audit recipe in
    * .claude/skills/verify/SKILL.md).
    */
  def encField(c: Column): Column =
    when(c.isNull, lit("n"))
      .otherwise(concat(lit("v"), length(c).cast("string"), lit(":"), c))

  def digestRecord(url: Column, text: Column, error: Column): Column =
    concat(encField(url), encField(text), encField(error))

  def errors(spark: SparkSession, outputDir: String): DataFrame =
    docs(spark, outputDir).where(col("error").isNotNull).select(col("url"), col("error").as("reason"), col("pid"))

  /** The extraction projection shared by the batch job and the streaming
    * lineage sink: (url, in_bytes, extracted_text, spans, error, pid)
    * from a page frame that already carries `pid`. Narrow and
    * codegen-resident — runs upstream of the single pid shuffle.
    */
  private[pipeline] def extractColumns(withPid: DataFrame): DataFrame =
    withPid
      .select(
        col("url"),
        coalesce(length(col("html")).cast("long"), lit(0L)).as("in_bytes"),
        call_function("extract_content", col("url"), col("html"), col("lang")).as("r"),
        col("pid"))
      .select(col("url"), col("in_bytes"),
        col("r.extracted_text").as("extracted_text"),
        col("r.spans").as("spans"),
        col("r.error").as("error"),
        col("pid"))

  /** One row's lineage digest term: md5-60bit of its [[digestRecord]],
    * mod 1e9+7; a pid's digest is the sum of its rows' terms. md5, not
    * xxhash64: any external system — DuckDB, Trino, a Python auditor —
    * can recompute the per-partition digest from the written parquet
    * alone and verify lineage integrity without running this engine
    * (same construction as x_lineage / DigestAggregator).
    */
  def digestTerm(url: Column, text: Column, error: Column): Column =
    pmod(conv(substring(md5(digestRecord(url, text, error)), 1, 15), 16, 10).cast("long"),
      lit(1000000007L))

  /** Write an extracted frame (with `pid` in `[0, numPids)`) to `path`,
    * `partitionBy(partitionCols)` with write-scoped dynamic overwrite,
    * and return the per-pid [[PidStats]] of exactly the written rows.
    *
    * `rebalance(pid)` is the one shuffle; AQE sizes its partitions (a
    * fixed `repartition(numPids, pid)` re-hashes the already-reduced pid
    * and leaves some write tasks empty). The observation sits ABOVE the
    * exchange, in the result stage: Spark applies a result task's
    * accumulator updates once per partition, so a retried task cannot
    * double-count.
    */
  private[pipeline] def writeObserved(extracted: DataFrame, numPids: Int, path: String,
                                      partitionCols: String*): IndexedSeq[PidStats.Counts] = {
    val obs = Observation()
    val stats = udaf(PidStats(numPids)).apply(col("pid"), col("in_bytes"),
      digestTerm(col("url"), col("extracted_text"), col("error")), col("error"))
    extracted.hint("rebalance", col("pid"))
      .observe(obs, stats.as("pid_stats"))
      .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*)
      // scoped to THIS write (not session config): only the pids present
      // in the batch are overwritten — per-pid idempotent rerun — without
      // silently changing Overwrite semantics for other writes on the
      // caller's shared session
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    PidStats.counts(obs.get("pid_stats").asInstanceOf[collection.Seq[Long]])
  }

  /** Run (or resume) the extraction over a page table. Returns the run
    * report; a no-op (everything committed) returns a zero report.
    */
  def run(spark: SparkSession, pages: DataFrame, cfg: JobConfig): RunReport = {
    GraftFunctions.register(spark)
    val lock = Lineage.acquireWriterLock(cfg.outputDir, cfg.takeover)
    try runLocked(spark, pages, cfg)
    finally Lineage.releaseWriterLock(lock)
  }

  private def runLocked(spark: SparkSession, pages: DataFrame, cfg: JobConfig): RunReport = {
    val listener = new GraftMetricsListener
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()

    val committed = Lineage.committedPids(cfg.outputDir)
    val runPids: Seq[Int] = (0 until cfg.numPids)
      .filterNot(committed)
      .filter(p => cfg.limitPids.forall(_.contains(p)))

    if (runPids.isEmpty) {
      spark.sparkContext.removeSparkListener(listener)
      return RunReport(Lineage.readManifest(cfg.outputDir)._1, 0, 0, 0, 0, 0, 0,
        (System.nanoTime() - t0) / 1e9)
    }

    val withPid = pages
      .withColumn("pid", pidCol(cfg.numPids))
      .where(col("pid").isin(runPids: _*))

    val stats = writeObserved(extractColumns(withPid), cfg.numPids, s"${cfg.outputDir}/docs", "pid")
    import spark.implicits._
    val lineageRows = runPids.map { p =>
      val c = stats(p)
      (p, c.rows, c.bytes, c.digest.toString)
    }.toDF("partition_id", "rows", "bytes", "digest")
    val snap = Lineage.commit(spark, cfg.outputDir, lineageRows)

    val report = RunReport(
      snapshot = snap,
      pidsProcessed = runPids.size,
      docsOk = stats.map(_.ok).sum,
      failedValidation = stats.map(_.validation).sum,
      failedPayload = stats.map(_.payload).sum,
      failedUnexpected = stats.map(_.unexpected).sum,
      bytesIn = stats.map(_.bytes).sum,
      wallSec = (System.nanoTime() - t0) / 1e9,
      stages = listener.snapshot)

    val mdir = Paths.get(cfg.outputDir, "_metrics")
    Files.createDirectories(mdir)
    Files.write(mdir.resolve(s"run-$snap.json"),
      report.toJson.getBytes("UTF-8"))
    spark.sparkContext.removeSparkListener(listener)
    report
  }
}
