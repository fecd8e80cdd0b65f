package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.VectorExpressions.vecDot

/** Dev probe (r14, NOT part of the driver contract): decides
  * join-vs-fold for the bounded-k nearest-centroid argmin with
  * drift-immune methodology — both variants interleaved in ONE JVM,
  * three rounds each, min reported. Variant A is the codegen'd
  * broadcast-join ×k → scalar-extremum → re-attach pipeline; variant B
  * folds over a broadcast k-entry array per row (zero exchanges, but
  * higher-order functions evaluate INTERPRETED).
  *
  * Usage: runMain graft.queries.FoldProbe [sfDir]
  */
object FoldProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local("graft-fold-probe")
    spark.sparkContext.setLogLevel("ERROR")

    // 256-entry codebook case: dv = distinct (sub, svec) slice; cents
    // from the seed (same shapes pqCodebooks trains on)
    val dv = VectorQueries.repSubvecs(spark, dir)
      .groupBy(col("sub"), xxhash64(col("svec")).as("sfp"))
      .agg(first(col("svec")).as("svec"), count(lit(1)).as("mult"))
      .drop("sfp").localCheckpoint(true)
    val cents256 = VectorQueries.pqCodebooks(spark, dir).localCheckpoint(true)

    def joinForm(sv: DataFrame, cents: DataFrame): DataFrame = {
      val withFp = sv.withColumn("sfp", xxhash64(col("svec")))
      val best = withFp.join(broadcast(cents), "sub")
        .select(col("sub"), col("sfp"),
          (col("cnorm2") - lit(2d) * vecDot(col("svec"), col("cvec"))).as("score"),
          col("cid"))
        .groupBy(col("sub"), col("sfp"))
        .agg(min_by(col("cid"), struct(col("score"), col("cid"))).as("cid"))
      withFp.join(best, Seq("sub", "sfp"))
        .select(col("sub"), col("svec"), col("mult"), col("cid"))
    }
    def foldForm(sv: DataFrame, cents: DataFrame): DataFrame = {
      val cb = broadcast(cents.groupBy(col("sub")).agg(sort_array(
        collect_list(struct(col("cid"), col("cvec"), col("cnorm2")))).as("__cb")))
      val scored = transform(col("__cb"), c =>
        struct((c.getField("cnorm2") -
            lit(2d) * vecDot(col("svec"), c.getField("cvec"))).as("s"),
          c.getField("cid").as("c")))
      val best = aggregate(scored,
        struct(lit(Double.PositiveInfinity).as("s"), lit(-1).as("c")),
        (acc, x) => when(x.getField("s") < acc.getField("s"), x).otherwise(acc))
      sv.join(cb, "sub").withColumn("cid", best.getField("c")).drop("__cb")
    }

    def time(label: String)(df: => DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PROBE $label%-14s $dt%7.2f s")
      dt
    }
    // warm-up both (codegen/JIT), then interleave 3 rounds
    time("warm_join")(joinForm(dv, cents256))
    time("warm_fold")(foldForm(dv, cents256))
    val js = (1 to 3).map(i => time(s"join_$i")(joinForm(dv, cents256)))
    val fs = (1 to 3).map(i => time(s"fold_$i")(foldForm(dv, cents256)))
    val js2 = (1 to 3).map(i => time(s"join2_$i")(joinForm(dv, cents256)))
    val fs2 = (1 to 3).map(i => time(s"fold2_$i")(foldForm(dv, cents256)))
    println(f"PROBE k=256: join min ${(js ++ js2).min}%.2f s, fold min ${(fs ++ fs2).min}%.2f s")
    // sanity: identical assignments
    val a = joinForm(dv, cents256).groupBy(col("sub")).agg(sum(col("cid").cast("long")).as("s"))
      .orderBy(col("sub")).collect().map(_.getLong(1)).toSeq
    val b = foldForm(dv, cents256).groupBy(col("sub")).agg(sum(col("cid").cast("long")).as("s"))
      .orderBy(col("sub")).collect().map(_.getLong(1)).toSeq
    println(s"PROBE identical_assignments=${a == b}")
    spark.stop()
  }
}
