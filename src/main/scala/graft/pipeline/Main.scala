package graft.pipeline

import graft.fixtures.Corpus
import org.apache.spark.sql.SparkSession

/** spark-submit entry point (op C7 — the analog of
  * /root/reference/src/main.py:25-27). Runs or resumes the extraction job
  * over a page table and prints the run report as one JSON line.
  *
  * Usage:
  *   graft.pipeline.Main --input <pages-parquet-dir> --output <dir>
  *                       [--num-pids N] [--since-day YYYY-MM-DD] [--until-day YYYY-MM-DD]
  *   graft.pipeline.Main --from-documents <sfDir> --output <dir> [--num-pids N]
  *     (synthesizes the page table from the documents testdata — demo mode)
  *   graft.pipeline.Main --from-warc <warc-dir> --output <dir> [--num-pids N]
  *     (ingests Common-Crawl-style *.warc / *.warc.gz chunks directly)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val output = opts.getOrElse("--output", sys.error("--output required"))
    val numPids = opts.getOrElse("--num-pids", "64").toInt

    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]"))
      .appName("graft-extract")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // transient-failure envelope: the Spark heir of the reference's
      // 25-retry backoff loop (kafka_consumer.py:101-130) — task retries
      // cover transient I/O; lineage resume covers process death
      .config("spark.task.maxFailures", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    try {
      val pages = (opts.get("--input"), opts.get("--from-documents"), opts.get("--from-warc")) match {
        case (Some(in), _, _) =>
          var df = spark.read.parquet(in)
          // partition pruning on the warc_day table layout
          val pruned = Seq(
            opts.get("--since-day").map(d => org.apache.spark.sql.functions.col("warc_day") >= d),
            opts.get("--until-day").map(d => org.apache.spark.sql.functions.col("warc_day") <= d)
          ).flatten
          pruned.foreach(p => df = df.where(p))
          df
        case (None, Some(sf), _) =>
          Corpus.pagesAmplified(spark, sf, sys.env.getOrElse("SPARK_GRAFT_AMPLIFY", "1").toInt)
        case (None, None, Some(warcDir)) =>
          graft.sources.Warc.read(spark, warcDir)
        case _ => sys.error("one of --input, --from-documents or --from-warc is required")
      }
      val takeover = opts.get("--takeover").exists(_.toBoolean)
      val report = ExtractJob.run(spark, pages,
        ExtractJob.JobConfig(output, numPids, takeover = takeover))
      // single JSON line, the service's structured-log analog — the same
      // text as _metrics/run-<snapshot>.json, stages included
      println(report.toJson)
    } finally spark.stop()
  }
}
