package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are opened by the
  * benchmark around each call into an engine layer; Spark stage and
  * streaming-epoch records arrive later from listeners and are attached
  * as children of the span that was open when they started. Disabled,
  * `span` is a plain call: the timed runs pay one volatile read per call.
  */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, layer: String,
                        startNs: Long, endNs: Long, runId: String) {
    def durNs: Long = endNs - startNs
  }

  @volatile private var enabled = false
  @volatile private var runId = ""
  private val spans = ArrayBuffer.empty[Span]
  // (id, name, startNs) of the spans currently open, innermost first
  private var open: List[(Int, String, Long)] = Nil
  private var nextId = 1

  /** wall-clock → monotonic offset, for listener records stamped in ms */
  private val wallOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def start(run: String): Unit = synchronized { enabled = true; runId = run }

  def stop(): Unit = synchronized { enabled = false }

  /** Time `body` as span `name`; the layer is the name up to the first dot. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      enter(name)
      try body finally exit()
    }

  /** Open span `name` under the innermost open span. Spans open and close
    * in LIFO order; another thread may enter and exit while the opener is
    * blocked on it (streaming epochs).
    */
  def enter(name: String): Unit = if (enabled) synchronized {
    open = (nextId, name, System.nanoTime()) :: open
    nextId += 1
  }

  /** Close the innermost open span. */
  def exit(): Unit = if (enabled) synchronized {
    val (id, name, t0) = open.head
    open = open.tail
    spans += Span(id, open.headOption.map(_._1).getOrElse(0), name, name.takeWhile(_ != '.'), t0,
      System.nanoTime(), runId)
  }

  /** Attach a finished listener record to `parent`, or to the span open now. */
  def child(name: String, startNs: Long, endNs: Long, parent: Option[Int]): Unit =
    if (enabled) synchronized {
      val p = parent.getOrElse(open.headOption.map(_._1).getOrElse(0))
      spans += Span(nextId, p, name, name.takeWhile(_ != '.'), startNs, endNs, runId)
      nextId += 1
    }

  /** The id of the innermost open span (0 at top level). */
  def current: Int = synchronized(open.headOption.map(_._1).getOrElse(0))

  def epochMsToNs(ms: Long): Long = ms * 1000000L + wallOffsetNs

  def recorded: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: each span's duration minus the union of its
    * children's intervals (clipped to the span), summed by layer.
    */
  def selfTimeSec(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.durNs - covered).toDouble / 1e9
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a
        curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  def write(path: Path): Unit = {
    val body = Json.arr(recorded.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "run_id" -> Json.str(s.runId)))
    })
    Files.createDirectories(path.getParent)
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}
