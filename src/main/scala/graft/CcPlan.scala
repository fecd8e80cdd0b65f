package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

/** Dev evidence tool (r14 optimization round, NOT part of the driver
  * contract): prints (a) the formatted physical plan of ONE
  * star-contraction round of [[graft.operators.ConnectedComponents]]
  * and (b) the Spark job count + wall time of a full CC run over a
  * synthetic graph (chains force multiple rounds) — the before/after
  * artifact for the "jobs per CC round" claim.
  *
  * Usage: runMain graft.CcPlan [nNodes]
  */
object CcPlan {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = Sessions.local("graft-cc-plan")
    // synthetic: 1000 chains of length n/1000 (multi-round contraction)
    // plus one big star — deterministic, no testdata dependency
    val edges = spark.range(n).toDF("u")
      .filter(pmod(col("u"), lit(1000)) =!= 999)
      .select(col("u"), (col("u") + 1).as("v"))
      .unionByName(spark.range(500).toDF("v")
        .select(lit(n + 1).as("u"), (col("v") * 1000).as("v")))
    // (a) one round's frame plan (largeStar→smallStar as analyzed)
    val round1 = graft.operators.ConnectedComponents.roundPlan(edges)
    round1.count()
    println("==== one CC round frame (formatted, AQE-final)")
    println(round1.queryExecution.explainString(ExplainMode.fromString("formatted")))
    // (b) full-run job count
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val t0 = System.nanoTime()
    val cc = graft.operators.ConnectedComponents.run(edges)
    val rows = cc.count()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"CC_JOBS nodes=$n rows=$rows jobs=${jobs.get} wall=$secs%.2f s")
    spark.stop()
  }
}
