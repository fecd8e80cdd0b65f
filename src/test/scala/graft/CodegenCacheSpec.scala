package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** The serving path must not recompile: the short sql mix (q01–q18
  * without q10 and q17, plus q59) generates ~190 classes, more than
  * Spark's default codegen cache of 100 holds, so a repeat request
  * used to pay janino again. With the cache sized in [[Sessions.local]],
  * a second pass compiles nothing. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a second pass over the serving mix adds no codegen compiles") {
    val names = ((1 to 18).filterNot(Set(10, 17)) :+ 59).map { i =>
      val prefix = f"q$i%02d_"
      SparkEntry.queries.keys.find(_.startsWith(prefix))
        .getOrElse(fail(s"no registry query $prefix*"))
    }
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val c0 = compiles()
      names.foreach(n => SparkEntry.queries(n)(spark, TestSpark.sfDir).collect())
      compiles() - c0
    }
    val first = pass()
    val second = pass()
    assert(second === 0L, s"second pass recompiled $second classes (first pass: $first)")
  }
}
