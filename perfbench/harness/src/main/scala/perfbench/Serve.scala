package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{PlanCache, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}

/** The read path: one analyst session over the generated tables. Every
  * request builds a registry query and collects its result, as a client
  * would; the result's checksum is taken after the timed region. */
final class Serve(spark: SparkSession, tracer: Tracer, phases: Phases, dataDir: String) {
  import Serve._

  private val results = mutable.ArrayBuffer.empty[(Op, Array[Row])]

  /** Registry key for a short name such as `q07`. */
  def key(short: String): String =
    SparkEntry.queries.keys.find(_.startsWith(short + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registry query $short"))

  def request(phase: String, i: Int, name: String): Op = {
    tracer.request = s"$phase-$i-$name"
    val t0 = System.nanoTime()
    var build = 0.0
    val (rows, error) =
      try {
        tracer.span("request") {
          val df = tracer.span("queries.build")(SparkEntry.queries(name)(spark, dataDir))
          build = (System.nanoTime() - t0) / 1e9
          (tracer.span("queries.action")(df.collect()), None)
        }
      } catch {
        case NonFatal(e) =>
          (Array.empty[Row], Some(e.toString.takeWhile(_ != '\n').take(300)))
      }
    val op = Op(phase, name, (System.nanoTime() - t0) / 1e9, build, error)
    results += (op -> rows)
    op
  }

  /** Run `names` in order as phase `phase`. */
  def pass(phase: String, names: Seq[String]): Seq[Op] =
    phases.run(phase)(names.zipWithIndex.map { case (n, i) => request(phase, i, n) })

  /** Run every query of the session once, `threads` at a time, then drop
    * the memos this built: JIT and whole-stage codegen warm, plan cache
    * cold. A failure here shows again, and is counted, in the timed
    * requests. */
  def warmUp(threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = (sql ++ curation).map(key).map { n =>
        pool.submit(new java.util.concurrent.Callable[Array[Row]] {
          def call(): Array[Row] = SparkEntry.queries(n)(spark, dataDir).collect()
        })
      }
      tasks.foreach(t => try t.get() catch { case NonFatal(_) => () })
    } finally pool.shutdown()
    PlanCache.clear(spark)
  }

  /** Phase (a), then the curation set after a plan-cache clear (b), then
    * the same set again, now served from the memo (c). */
  def session(seed: Long, perQuery: Int): Unit = {
    pass("query_sql", sqlSequence(seed, perQuery))
    PlanCache.clear(spark)
    pass("query_cold", curation.map(key))
    pass("query_warm", curation.map(key))
  }

  def sqlSequence(seed: Long, perQuery: Int): Seq[String] = {
    // every query the same number of times, in a seeded order, so the mix
    // (and with it the latency distribution) is the same for every seed
    val r = new SplittableRandom(seed)
    val xs = Seq.fill(perQuery)(sql.map(key)).flatten.toArray
    for (i <- xs.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs.toSeq
  }

  /** Every request with its row count and order-independent checksum. */
  def checked: Seq[(Op, Long, String)] =
    results.toSeq.map { case (op, rows) => (op, rows.length.toLong, Checksum.of(rows)) }
}

object Serve {
  /** Phase (a): the short relational registry queries, q01-q18 and q59
    * without the two slowest, q10 (its HLL sketch makes it four times
    * slower than the rest) and q17 (set operations), so that a run fits
    * the benchmark's time budget. */
  val sql: Seq[String] =
    (1 to 18).filterNot(Set(10, 17)).map(i => f"q$i%02d") :+ "q59"

  /** Phases (b)/(c): a query that builds plan-cache memos (q56, IVF cell
    * assignment) beside one that does not (q27, exact cosine top-k through
    * the native vector expressions). */
  val curation: Seq[String] = Seq("q27", "q56")

  final case class Op(phase: String, name: String, latencyS: Double, buildS: Double,
      error: Option[String])
}

/** Order-independent result checksum: the sum (mod 2^64) of a 64-bit hash
  * of each row's canonical text. Floating-point values are rendered to 9
  * significant digits and array elements are sorted, so a result that
  * differs only in summation order or in the order of a collected list
  * keeps its checksum. */
object Checksum {
  import scala.util.hashing.MurmurHash3

  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double => fmt(d)
    case f: Float => fmt(f.toDouble)
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).sorted.mkString("[", ",", "]")
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString
    case x => x.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros
      .toString

  def rowHash(r: Row): Long = {
    val s = canon(r)
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def of(rows: Array[Row]): String = f"${rows.iterator.map(rowHash).sum}%016x"
}
