package graft

import graft.operators.ScaleJoins
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class ScaleJoinsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join returns exactly the unsalted join's result") {
    val l = Tables.lineitem(spark, TestSpark.sfDir)
      .select(col("l_orderkey").as("k"), col("l_quantity"))
    val r = Tables.orders(spark, TestSpark.sfDir)
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    val plain = l.join(r, Seq("k")).groupBy("o_orderpriority").count()
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    val salted = ScaleJoins
      .saltedJoin(l, r, "k", salt = 8, saltSource = col("l_quantity"))
      .groupBy("o_orderpriority").count()
      .collect().map(x => (x.getString(0), x.getLong(1))).toMap
    assert(salted === plain)
  }

  test("skew-safe two-phase aggregation equals direct aggregation") {
    val df = Tables.lineitem(spark, TestSpark.sfDir)
    val direct = df.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_l_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val safe = ScaleJoins
      .skewSafeCountSum(df, "l_returnflag", "l_orderkey", salt = 16)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(safe === direct)
  }

  test("bucketed tables join with zero Exchange in the plan") {
    val s = spark // warehouse dir is a temp dir, set in TestSpark (static conf)
    val li = Tables.lineitem(s, TestSpark.sfDir)
      .select(col("l_orderkey"), col("l_quantity"))
    val ord = Tables.orders(s, TestSpark.sfDir)
      .select(col("o_orderkey"), col("o_orderpriority"))
    li.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_b")
    ord.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("ord_b")
    // force the big-big plan shape (at real scale neither side broadcasts)
    try Sessions.withConf(s, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = s.table("li_b")
        .join(s.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      // co-located bucketed sides: sort-merge join with NO shuffle
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(joined.count() === li.count()) // every line has its order
    } finally {
      s.sql("DROP TABLE IF EXISTS li_b")
      s.sql("DROP TABLE IF EXISTS ord_b")
    }
  }
}
