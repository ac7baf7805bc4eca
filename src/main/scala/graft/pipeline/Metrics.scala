package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Per-stage observability (op C6, SURVEY.md §2.4) — the analog of the
  * reference's structured per-stage logging
  * (/root/reference/src/kafka_consumer.py:52,71; s3_client.py:49), scaled
  * to Spark: a SparkListener captures per-stage task metrics, and the job
  * publishes docs/s, MB/s and the extraction-failure rate (north_star).
  */
final case class StageRec(stageId: Int, name: String, tasks: Int,
    executorRunTimeMs: Long, inputBytes: Long, inputRecords: Long,
    outputBytes: Long, shuffleWriteBytes: Long)

final class GraftMetricsListener extends SparkListener {
  private val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    stages.add(StageRec(
      si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
      m.executorRunTime,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.outputMetrics.bytesWritten, m.shuffleWriteMetrics.bytesWritten))
  }

  def snapshot: Seq[StageRec] = stages.asScala.toSeq
}

final case class RunReport(
    snapshot: Long,
    pidsProcessed: Int,
    docsOk: Long,
    failedValidation: Long,
    failedPayload: Long,
    failedUnexpected: Long,
    bytesIn: Long,
    wallSec: Double,
    stages: Seq[StageRec] = Nil) {
  def docsTotal: Long = docsOk + failedValidation + failedPayload + failedUnexpected
  def docsPerSec: Double = if (wallSec > 0) docsTotal / wallSec else 0.0
  def mbPerSec: Double = if (wallSec > 0) bytesIn / 1e6 / wallSec else 0.0
  def failureRate: Double =
    if (docsTotal > 0) (failedValidation + failedPayload + failedUnexpected).toDouble / docsTotal else 0.0

  /** proper JSON string escape — stage names are arbitrary (first line of
    * the call site): quotes, backslashes and control chars must all be
    * escaped or the metrics file is invalid JSON
    */
  private def jstr(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  /** The run report as one JSON line: the same text goes to stdout
    * (`Main`) and to `_metrics/run-<snapshot>.json`.
    */
  def toJson: String = {
    val stageJson = stages.map { s =>
      s"""{"stage":${s.stageId},"name":"${jstr(s.name)}","tasks":${s.tasks},""" +
        s""""executor_run_ms":${s.executorRunTimeMs},"input_bytes":${s.inputBytes},""" +
        s""""input_records":${s.inputRecords},"output_bytes":${s.outputBytes},""" +
        s""""shuffle_write_bytes":${s.shuffleWriteBytes}}"""
    }.mkString("[", ",", "]")
    s"""{"snapshot":$snapshot,"pids_processed":$pidsProcessed,"docs_ok":$docsOk,""" +
      s""""failed_validation":$failedValidation,"failed_payload":$failedPayload,""" +
      s""""failed_unexpected":$failedUnexpected,"docs_total":$docsTotal,""" +
      s""""bytes_in":$bytesIn,"wall_sec":$wallSec,"docs_per_sec":$docsPerSec,""" +
      s""""mb_per_sec":$mbPerSec,"failure_rate":$failureRate,"stages":$stageJson}"""
  }
}
