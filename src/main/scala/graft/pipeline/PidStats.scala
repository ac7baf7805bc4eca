package graft.pipeline

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Per-pid lineage statistics as ONE typed aggregate over the rows of a
  * write: input (pid, in_bytes, digest term, error), buffer a flat
  * `Array[Long]` of `numPids` × [[PidStats.Width]] counters. Observed
  * (`Dataset.observe`) in the write's result stage, so the lineage of a
  * snapshot is computed by the same pass that writes its rows — no
  * re-read of the written docs. Every counter is a sum, so partial
  * buffers merge in any order.
  */
final case class PidStats(numPids: Int)
    extends Aggregator[(Int, Long, Long, String), Array[Long], Array[Long]] {
  import PidStats._

  def zero: Array[Long] = new Array[Long](numPids * Width)

  def reduce(b: Array[Long], r: (Int, Long, Long, String)): Array[Long] = {
    val o = r._1 * Width
    b(o + Rows) += 1
    b(o + Bytes) += r._2
    b(o + Digest) += r._3
    r._4 match {
      case null         => b(o + Ok) += 1
      case "validation" => b(o + Validation) += 1
      case "payload"    => b(o + Payload) += 1
      case "unexpected" => b(o + Unexpected) += 1
      case _            =>
    }
    b
  }

  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  def finish(b: Array[Long]): Array[Long] = b

  def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()

  def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

object PidStats {
  private val Width = 7
  private val Rows = 0
  private val Bytes = 1
  private val Digest = 2
  private val Ok = 3
  private val Validation = 4
  private val Payload = 5
  private val Unexpected = 6

  /** One pid's counters; `digest` is the md5-60bit digest sum. */
  final case class Counts(rows: Long, bytes: Long, digest: Long, ok: Long,
                          validation: Long, payload: Long, unexpected: Long)

  /** Split a finished buffer into its per-pid counters, indexed by pid. */
  def counts(flat: collection.Seq[Long]): IndexedSeq[Counts] =
    flat.grouped(Width).map(c => Counts(c(Rows), c(Bytes), c(Digest), c(Ok),
      c(Validation), c(Payload), c(Unexpected))).toIndexedSeq
}
