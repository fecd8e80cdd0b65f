package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM forked once by sbt).
  * Fixed at 4 cores so spec partitioning does not vary with the host. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local("graft-test", 4,
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)

  /** sf0.001 testdata — smallest scale, for specs. */
  val sfDir = "/root/testdata/sf0.001"

  /** sf0.1 — for specs whose behavior needs non-trivial data volume
    * (the q109 AQE skew spec measures real shuffle-partition bytes). */
  val sf1Dir = "/root/testdata/sf0.1"
}
