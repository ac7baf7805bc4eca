package graft

import graft.pipeline.ExtractJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Test-side lineage audit: recompute each key's rows and md5-60bit
  * digest from the WRITTEN docs parquet — the recipe an external auditor
  * runs — and compare with the committed lineage rows.
  */
object LineageAudit {

  /** (key, written rows, lineage rows, written digest, lineage digest) for
    * every key where the recompute from `written` and the committed
    * `lineage` (partition_id, rows, digest [, extra keys]) disagree. A key
    * present on only one side counts as 0 rows / digest "0" on the other.
    */
  def mismatches(written: DataFrame, lineage: DataFrame, extraKeys: String*): Seq[String] = {
    val rec = ExtractJob.digestRecord(col("url"), col("extracted_text"), col("error"))
    val keys = "pid" +: extraKeys
    val recomputed = written.groupBy(keys.map(col): _*).agg(
      count(lit(1)).as("w_rows"),
      sum(pmod(conv(substring(md5(rec), 1, 15), 16, 10).cast("long"), lit(1000000007L)))
        .cast("string").as("w_digest"))
    val committed = lineage.select((col("partition_id").as("pid") +: extraKeys.map(col)) ++
      Seq(col("rows").as("l_rows"), col("digest").as("l_digest")): _*)
    recomputed.join(committed, keys, "full_outer")
      .select((keys.map(col) ++ Seq(
        coalesce(col("w_rows"), lit(0L)).as("w_rows"), coalesce(col("l_rows"), lit(0L)).as("l_rows"),
        coalesce(col("w_digest"), lit("0")).as("w_digest"), coalesce(col("l_digest"), lit("0")).as("l_digest"))): _*)
      .where(col("w_rows") =!= col("l_rows") || col("w_digest") =!= col("l_digest"))
      .collect().map(_.toString).toSeq
  }

  /** Every node of an executed plan, looking through AQE plans and
    * query stages (`SparkPlan.collect` stops at those wrappers).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case other                    => other.children.flatMap(nodes)
  })

  /** Run `body`, failing after 3 minutes instead of hanging: a lost write
    * observation would block its job forever.
    */
  def within[T](body: => T): T = Await.result(Future(body)(ExecutionContext.global), 3.minutes)
}
