package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent,
  QueryTerminatedEvent}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Task, job and SQL-execution records from the scheduler, registered by
  * the benchmark for the traced run. Stage completions become child spans
  * of the span that was open when the stage was submitted.
  */
final class SparkProbe extends SparkListener {
  import SparkProbe._

  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new AtomicInteger()
  private val sqlStart = TrieMap.empty[Long, SqlRec]
  private val sqlEnd = TrieMap.empty[Long, Long]
  private val stageParent = TrieMap.empty[Int, Int]
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    touch()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); touch() }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageParent.put(e.stageInfo.stageId, Trace.current)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime)
      Trace.child("spark.stage", Trace.epochMsToNs(s), Trace.epochMsToNs(c),
        stageParent.remove(si.stageId))
    touch()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.put(s.executionId, SqlRec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.description, s.physicalPlanDescription, s.time))
      case x: SparkListenerSQLExecutionEnd => sqlEnd.put(x.executionId, x.time)
      case _ => ()
    }
    touch()
  }

  /** Forget everything recorded so far (start of a measured window). */
  def reset(): Unit = { tasks.clear(); jobs.set(0); sqlStart.clear(); sqlEnd.clear() }

  /** Block until the asynchronous listener bus has delivered the events of
    * the work just finished: every started SQL execution has ended and no
    * event arrived for 100 ms (at most 5 s).
    */
  def awaitQuiet(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
      (!sqlStart.keySet.forall(sqlEnd.contains) || System.nanoTime() - lastEventNs.get() < 100000000L))
      Thread.sleep(10)
  }

  def snapshot: Window = Window(tasks.asScala.toList, jobs.get(),
    sqlStart.values.toList.sortBy(_.id).map(r => r.copy(endMs = sqlEnd.getOrElse(r.id, r.startMs))))
}

object SparkProbe {
  final case class TaskRec(stageId: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleWrite: Long, input: Long, output: Long, spill: Long)
  final case class SqlRec(id: Long, root: Long, desc: String, plan: String, startMs: Long,
                          endMs: Long = 0L)

  final case class Window(tasks: Seq[TaskRec], jobs: Int, sql: Seq[SqlRec]) {
    def runSec: Double = tasks.map(_.runMs).sum / 1e3
    def cpuSec: Double = tasks.map(_.cpuNs).sum / 1e9
    def gcSec: Double = tasks.map(_.gcMs).sum / 1e3
    def shuffleBytes: Long = tasks.map(_.shuffleWrite).sum
    def outputBytes: Long = tasks.map(_.output).sum
    def spillBytes: Long = tasks.map(_.spill).sum

    /** max/median task time of the stage selected by `key` (largest). */
    def skewOf(key: Seq[TaskRec] => Long): Double =
      if (tasks.isEmpty) 1.0
      else Stats.skew(tasks.groupBy(_.stageId).values.maxBy(key).map(_.durMs.toDouble))
  }
}

/** Per-trigger progress of streaming queries (durationMs split, rows). */
final class StreamProbe extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[(Map[String, Long], Long)]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap ->
      e.progress.numInputRows)

  def reset(): Unit = progress.clear()

  /** progress records with input (one per epoch), waiting up to 5 s for
    * `expected` of them to arrive
    */
  def epochs(expected: Int): Seq[(Map[String, Long], Long)] = {
    val deadline = System.nanoTime() + 5000000000L
    def rows = progress.asScala.toList.filter(_._2 > 0)
    while (rows.size < expected && System.nanoTime() < deadline) Thread.sleep(10)
    rows
  }
}
