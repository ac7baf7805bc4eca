package graft.perfbench

import graft.functions.GraftFunctions
import graft.perfbench.Inputs.Staged
import graft.perfbench.Stats.Metric
import org.apache.spark.sql.SparkSession
import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** JVM side of the benchmark: stages one workload's seeded inputs, runs
  * its closed-loop operation for the requested time (or, traced, the
  * layer probes), checks every output and prints one result line
  * prefixed with `PERFBENCH_RESULT `.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --cores <n> --work <dir> --trace-file <file>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
                        work: Path, traceFile: Path)

  /** Staging repetitions whose median enters setup_s. */
  val SetupReps = 3


  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")), Paths.get(need("trace-file")))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.register(s)
    s
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val born = System.nanoTime()

  /** Progress line on stderr (kept in the run log). */
  def phase(what: String): Unit = System.err.println(f"perfbench ${secs(born)}%8.2f s  $what")

  /** Highest old-generation occupancy after any collection that ends while
    * armed, in MB. The GC MXBeans' notifications arrive on a JVM service
    * thread, so watching adds no thread of the benchmark's own. Under G1
    * the figure mostly follows when concurrent marking starts, so it is a
    * per-layer metric, not a bounded one.
    */
  final class OldGenPeak {
    @volatile var armed = false
    @volatile var collections = 0
    private val peak = new AtomicLong(0L)
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
          val old = after.collect { case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") =>
            u.getUsed
          }.sum
          collections += 1
          peak.accumulateAndGet(old, (a, b) => math.max(a, b))
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
      case e: NotificationEmitter => e
    }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def mb: Double = peak.get / 1048576.0
    def close(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }

  /** Operations run so far, with every failure message. */
  final class Ledger {
    var attempted = 0L
    var failed = 0L
    val failures: ArrayBuffer[String] = ArrayBuffer.empty

    def record(r: OpResult): OpResult = {
      attempted += r.units
      if (r.failures.nonEmpty) { failed += r.units; failures ++= r.failures }
      r
    }

    /** Run one operation; a throw counts as one failed unit. */
    def run(body: => OpResult): Option[OpResult] =
      try Some(record(body))
      catch {
        case NonFatal(e) =>
          attempted += 1; failed += 1; failures += s"operation threw: $e"
          None
      }

    def check(issues: Seq[String]): Unit =
      if (issues.nonEmpty) { failed += 1; failures ++= issues }
  }

  final class Outs(work: Path) {
    private var n = 0
    def fresh(): Path = { n += 1; work.resolve(s"out-$n") }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(args)
    phase(s"started at ${System.currentTimeMillis()} ms, jvm up ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val w = Workloads.all.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val spark = session(a.cores, a.work)
    val sessionS = secs(t0)
    val ledger = new Ledger
    val (metrics, info) =
      try if (a.trace) traced(spark, w, a, ledger) else timed(spark, w, a, ledger, sessionS)
      finally { spark.stop(); phase("stopped") }
    val out = Json.obj(Seq(
      "correct" -> (ledger.failures.isEmpty).toString,
      "attempted" -> ledger.attempted.toString,
      "failed" -> ledger.failed.toString,
      "metrics" -> Json.arr(metrics.map(m =>
        Json.obj(Seq("name" -> Json.str(m.name), "value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
      "failures" -> Json.arr(ledger.failures.take(20).map(Json.str).toSeq),
      "info" -> Json.obj(info.map { case (k, v) => k -> Json.str(v) })))
    println("PERFBENCH_RESULT " + out)
    phase(s"reported at ${System.currentTimeMillis()} ms")
  }

  private def stageSeconds(spark: SparkSession, w: Workload, a: Args, rep: Int, full: Boolean): (Double, Staged) = {
    val dir = a.work.resolve(s"stage-$rep-${Inputs.key(w.shape, a.seed)}")
    val t0 = System.nanoTime()
    val st = Inputs.stage(spark, w.shape, a.seed, dir, full)
    secs(t0) -> st
  }

  def timed(spark: SparkSession, w: Workload, a: Args, ledger: Ledger,
            sessionS: Double): (Seq[Metric], Seq[(String, String)]) = {
    val outs = new Outs(a.work)
    val staged = (1 to SetupReps).map { i =>
      val r = stageSeconds(spark, w, a, i, full = false)
      if (i < SetupReps) Inputs.deleteTree(r._2.dir)
      r
    }
    val st = staged.last._2
    phase("staged")
    val tw = System.nanoTime()
    (1 to w.warmUpOps).foreach(_ => ledger.run(w.warmUp(spark, st, outs.fresh())))
    val warmS = secs(tw)
    val stageS = Stats.median(staged.map(_._1))
    val setupS = sessionS + stageS + warmS

    phase("warmed up")
    val ops = ArrayBuffer.empty[OpResult]
    var last: Option[Path] = None
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    // a further operation starts only if half of it would fit before the
    // deadline, so a run measures about --seconds whatever the operation size
    def more: Boolean = ops.isEmpty ||
      System.nanoTime() + Stats.median(ops.map(_.wallNs.toDouble).toSeq) / 2 < deadline
    var broken = false
    while (!broken && more) {
      val out = outs.fresh()
      ledger.run(w.op(spark, st, out)) match {
        case Some(r) => ops += r
        case None => broken = true
      }
      last.foreach(Inputs.deleteTree)
      last = Some(out)
      phase(s"op ${ops.size} done")
    }
    if (!broken) last.foreach(out => ledger.check(w.fullCheck(spark, st, out)))
    phase("checked")
    if (ops.isEmpty) return (Nil, Nil)

    def perOp(f: OpResult => Double): Double = Stats.median(ops.toSeq.map(r => f(r) / (r.wallNs / 1e9)))
    val samples = ops.toSeq.flatMap(_.samplesMs)
    val tail = Stats.tail(samples)
    val metrics = Seq(
      Metric("docs_per_s", perOp(_.docs.toDouble), "1/s"),
      Metric("mb_per_s", perOp(_.bytes / 1e6), "MB/s"),
      Metric("op_p50_ms", Stats.median(samples), "ms"),
      Metric("setup_s", setupS, "s"))
    val info = Seq(
      "ops" -> ops.size.toString,
      "op_wall" -> ops.map(r => f"${r.wallNs / 1e9}%.2f").mkString("", " ", " s"),
      "samples" -> s"${samples.size}: ${samples.map(x => f"$x%.0f").mkString(" ")} ms",
      "op_tail" -> tail.map { case (p, v) => f"p$p%d=$v%.1f ms" }.getOrElse("n/a (fewer than 11 samples)"),
      "setup_split" -> (f"session $sessionS%.2f s + staging $stageS%.2f s (median of " +
        staged.map(x => f"${x._1}%.2f").mkString(" ") + f") + warm-up $warmS%.2f s"),
      "ops_failed_ratio" -> (ledger.failed.toDouble / math.max(ledger.attempted, 1L)).toString,
      "docs_per_op" -> (ops.map(_.docs).sum / ops.size).toString,
      "input" -> s"${w.shape.docs} docs, text x${w.shape.repeatText}, ${w.shape.chunks} WARC chunks")
    (metrics, info)
  }

  def traced(spark: SparkSession, w: Workload, a: Args,
             ledger: Ledger): (Seq[Metric], Seq[(String, String)]) = {
    val outs = new Outs(a.work)
    val (_, st) = stageSeconds(spark, w, a, 1, full = true)
    val probe = new SparkProbe
    spark.sparkContext.addSparkListener(probe)
    val sprobe = new StreamProbe
    spark.streams.addListener(sprobe)
    (1 to w.warmUpOps).foreach(_ => ledger.run(w.warmUp(spark, st, outs.fresh())))

    def dps(rs: Seq[OpResult]): Double = rs.map(_.docs).sum / (rs.map(_.wallNs).sum / 1e9)
    val plain = ArrayBuffer.empty[OpResult]
    val withSpans = ArrayBuffer.empty[OpResult]
    var last = outs.fresh() // the traced operation's output, checked below
    def tracedOp(): Unit = {
      Trace.start("op")
      last = outs.fresh()
      ledger.run(w.op(spark, st, last)).foreach(withSpans += _)
      Trace.stop()
    }
    // one untraced/traced pair; the seed's parity picks the order, so the
    // warming within a run favours neither side across seeds
    val heap = new OldGenPeak
    heap.armed = true
    if (a.seed % 2 == 0) tracedOp()
    ledger.run(w.op(spark, st, outs.fresh())).foreach(plain += _)
    if (a.seed % 2 != 0) tracedOp()
    heap.armed = false
    heap.close()
    ledger.check(w.fullCheck(spark, st, last))

    def probeRun[T](name: String)(body: => T): T = {
      Trace.start(s"probe-$name")
      try body finally Trace.stop()
    }
    val ext = probeRun("extract")(Probes.extract(spark, st))
    val docs1 = ext.find(_.name == "extract.docs_per_s_1core").get.value
    val layers = ext ++
      probeRun("functions")(Probes.functions(spark, st, a.cores, docs1)) ++
      probeRun("pipeline")(Probes.pipeline(spark, st, outs.fresh(), probe, a.cores)) ++
      probeRun("sources")(Probes.sources(spark, st)) ++
      probeRun("stream")(Probes.stream(spark, st, outs.fresh(), sprobe, w match {
        case _: Workloads.Stream => (plain ++ withSpans).toSeq.flatMap(_.samplesMs)
        case _ => Nil
      })) ++
      probeRun("queries")(Probes.queries(spark, st.probeDocsDir, probe))
    probe.awaitQuiet()

    val spans = Trace.recorded
    Trace.write(a.traceFile)
    val self = Trace.selfTimeSec(spans)
    val traceMetrics = Seq(
      Metric("trace.overhead", if (plain.isEmpty || withSpans.isEmpty) 0.0 else dps(withSpans.toSeq) / dps(plain.toSeq),
        "ratio"),
      Metric("trace.spans", spans.size.toDouble, "count"),
      Metric("jvm.old_gen_peak_mb", heap.mb, "MB")) ++
      Seq("extract", "functions", "pipeline", "sources", "stream", "lineage", "queries", "spark").map(l =>
        Metric(s"trace.self_s.$l", self.getOrElse(l, 0.0), "s"))
    (layers ++ traceMetrics, Seq("trace_file" -> a.traceFile.toString,
      "collections" -> s"${heap.collections} during the untraced/traced pair",
      "layers" -> self.keys.toSeq.sorted.mkString(",")))
  }
}
