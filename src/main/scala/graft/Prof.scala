package graft

/** Ad-hoc stage profiler (dev tool, not part of the driver contract):
  * times labeled sub-stages of the hot dedup queries so regressions are
  * attributable to a stage, not a whole query.
  *
  * Usage: runMain graft.Prof [sfDir]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.local("graft-prof")

    def time(label: String)(act: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = act
      println(f"PROF $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
    }

    // warm-up: footers, codegen, JIT
    time("warmup_entry")(SparkEntry.entry(spark).count())

    queries.LlmQueries.profileStages(spark, sfDir).foreach { case (label, act) =>
      time(label)(act())
    }
    spark.stop()
  }
}
