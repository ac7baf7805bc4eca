package graft.perfbench

import graft.perfbench.Inputs.Shape
import java.nio.file.Paths

/** The benchmark's own checks: deterministic staging, the statistics
  * rules, and the planted dedup structure. Exits non-zero on the first
  * failed check.
  *
  *   graft.perfbench.SelfTest --work <dir>
  */
object SelfTest {

  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => println(s"  error: $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  /** 3-word shingle set, as `Dedup` builds it. */
  private def shingles(t: String): Set[String] = t.split(' ').sliding(3).filter(_.length == 3)
    .map(_.mkString(" ")).toSet

  /** The engine's integer near-dup rule: jaccard >= 0.8 iff 9c >= 4(na+nb). */
  private def nearDup(a: String, b: String): Boolean = {
    val (sa, sb) = (shingles(a), shingles(b))
    9 * (sa intersect sb).size >= 4 * (sa.size + sb.size)
  }

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args.sliding(2).collectFirst { case Array("--work", d) => d }
      .getOrElse(throw new IllegalArgumentException("missing --work")))

    check("every benchmark metric name matches [A-Za-z0-9_.-]+") {
      Seq("docs_per_s", "extract.errors.validation", "trace.self_s.spark").forall(Stats.NamePattern.matches) &&
        !Stats.NamePattern.matches("bad name") &&
        scala.util.Try(Stats.Metric("a b", 1, "s")).isFailure
    }
    check("tail picks the highest percentile with >= 10 samples beyond it") {
      (11 to 400).forall { n =>
        val xs = (1 to n).map(_.toDouble)
        val (p, v) = Stats.tail(xs).get
        def beyond(q: Int) = n - math.max(math.ceil(q / 100.0 * n).toInt, 1)
        beyond(p) >= 10 && (p == 100 || beyond(p + 1) < 10) && v == xs.count(_ <= v) &&
          xs.count(_ > v) >= 10
      } && Stats.tail((1 to 10).map(_.toDouble)).isEmpty &&
        Stats.tail((1 to 100).map(_.toDouble)).contains(90 -> 90.0) &&
        Stats.tail((1 to 15).map(_.toDouble)).contains(33 -> 5.0)
    }
    check("median and nearest-rank percentile") {
      Stats.median(Seq(3.0, 1, 2)) == 2.0 && Stats.median(Seq(4.0, 1, 2, 3)) == 2.5 &&
        Stats.percentile((1 to 10).map(_.toDouble), 50) == 5.0
    }

    val (docs, truth) = Inputs.dedupDocuments(7, unique = 300, clusters = 40, maxCluster = 24, hot = 48)
    val text = docs.map(d => d._1 -> d._2).toMap
    check("planted dedup clusters: Zipf sizes plus one hot cluster") {
      truth.clusterSizes.head == 48 && truth.clusterSizes(1) == 24 && truth.clusterSizes.last == 2 &&
        truth.comp.size == truth.clusterSizes.sum
    }
    check("every planted pair is a near-dup and sampled cross pairs are not") {
      val ids = docs.map(_._1)
      val r = new java.util.SplittableRandom(3)
      val cross = Iterator.continually((ids(r.nextInt(ids.size)), ids(r.nextInt(ids.size))))
        .filter { case (a, b) => a < b && !truth.pairs.contains(a -> b) }.take(3000).toSeq
      truth.pairs.forall { case (a, b) => nearDup(text(a), text(b)) } &&
        cross.forall { case (a, b) => !nearDup(text(a), text(b)) }
    }

    val spark = Main.session(2, work)
    try {
      val shapes = Seq(
        Shape("self-pages", docs = 400, repeatText = 3, chunks = 4),
        Shape("self-dedup", docs = 100, repeatText = 1, chunks = 0, dedup = true))
      shapes.foreach { sh =>
        val a = Inputs.tree(Inputs.stage(spark, sh, 11, work.resolve("a-" + sh.name), full = true).dir)
        val b = Inputs.tree(Inputs.stage(spark, sh, 11, work.resolve("b-" + sh.name), full = true).dir)
        val c = Inputs.tree(Inputs.stage(spark, sh, 12, work.resolve("c-" + sh.name), full = true).dir)
        check(s"${sh.name}: same seed gives byte-identical staged inputs (${a.size} files)") {
          a.nonEmpty && a.keySet == b.keySet && a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) }
        }
        check(s"${sh.name}: another seed gives other inputs") {
          a.exists { case (k, v) => !c.get(k).exists(java.util.Arrays.equals(v, _)) }
        }
      }
    } finally spark.stop()
    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    if (failures != 0) sys.exit(1)
  }
}
