package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's shared confs, and [[Sessions.withConf]]'s
  * restore contract. */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("Sessions.local carries UTC, nanosAsLong, shuffle partitions = cores and the codegen cache size") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Sessions.CodegenCacheEntries.toString)
    assert(Sessions.cores > 0)
  }

  test("withConf restores a key that was set and unsets one that was not, also when the body throws") {
    val set = "spark.sql.shuffle.partitions"
    val unset = "graft.sessions.spec.unset"
    val before = spark.conf.get(set)
    assert(!spark.conf.getAll.contains(unset))
    intercept[IllegalStateException] {
      Sessions.withConf(spark, set -> "7", unset -> "x") {
        assert(spark.conf.get(set) === "7")
        assert(spark.conf.get(unset) === "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(set) === before)
    assert(!spark.conf.getAll.contains(unset))
    assert(Sessions.withConf(spark, set -> "9", unset -> "y") {
      (spark.conf.get(set), spark.conf.get(unset))
    } === ("9", "y"))
    assert(spark.conf.get(set) === before)
    assert(!spark.conf.getAll.contains(unset))
  }
}
