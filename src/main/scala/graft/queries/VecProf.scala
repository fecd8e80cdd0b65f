package graft.queries

import org.apache.spark.sql.graft.VectorExpressions.vecDot

/** Dev-only stage profiler for the vector/ANN memo chain (the q139/q96
  * family): times each memoized build step in isolation so a regression
  * is attributable to a stage, not the whole query. Mirrors graft.Prof.
  *
  * Usage: runMain graft.queries.VecProf [sfDir]
  */
object VecProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local("graft-vec-prof")
    spark.sparkContext.setLogLevel("ERROR")
    def time(label: String)(act: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = act
      println(f"PROF $label%-22s ${(System.nanoTime() - t0) / 1e9}%7.2f s  ($n rows)")
    }
    // warm-up on the tiny dir (codegen/JIT/classloading), then drop its memos
    VectorQueries.q139IvfPqSearch(spark, "/root/testdata/sf0.001").count()
    graft.PlanCache.clear(spark)
    // manual replication of the pqCodebooks Lloyd loop, stage by stage
    locally {
      import org.apache.spark.sql.functions._
      val step = broadcast(graft.Tables.embeddings(spark, dir).agg(
        greatest(lit(1L), floor(count(lit(1)) / lit(25600.0)).cast("long")).as("step")))
      val members = graft.Tables.embeddings(spark, dir)
        .select(col("vec_id"), xxhash64(col("embedding")).as("fp"))
      val scc = members.crossJoin(step)
        .filter(pmod(col("vec_id"), col("step")) === 0)
        .groupBy(col("fp")).agg(count(lit(1)).as("m"))
      val dv = VectorQueries.repSubvecs(spark, dir).join(scc, "fp")
        .groupBy(col("sub"), xxhash64(col("svec")).as("sfp"))
        .agg(first(col("svec")).as("svec"), sum(col("m")).as("mult"))
        .drop("sfp")
      time("dv_build")(dv.count())
      val dvc = dv.localCheckpoint(true)
      val seedSrc = graft.Tables.embeddings(spark, dir).crossJoin(step)
        .filter(pmod(col("vec_id"), col("step")) === 0 &&
          col("vec_id") < lit(256L) * col("step"))
        .select(col("vec_id"), col("embedding"))
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "x")))
        .withColumn("sub", (col("d") / 8).cast("int"))
        .withColumn("i", pmod(col("d"), lit(8)))
        .groupBy(col("vec_id"), col("sub"))
        .agg(sort_array(collect_list(struct(col("i"), col("x")))).as("iv"))
        .select(col("vec_id"), col("sub"), expr("transform(iv, p -> p.x)").as("svec"))
        .crossJoin(step)
        .select(col("sub"), expr("CAST(vec_id div step AS INT)").as("cid"),
          col("svec").as("cvec"))
        .withColumn("cnorm2", vecDot(col("cvec"), col("cvec")))
      time("seed")(seedSrc.count())
      val seed = seedSrc.localCheckpoint(true)
      def assign(c: org.apache.spark.sql.DataFrame) =
        dvc.join(broadcast(c), "sub")
          .withColumn("score", col("cnorm2") - lit(2d) * vecDot(col("svec"), col("cvec")))
          .groupBy(col("sub"), xxhash64(col("svec")).as("sfp"))
          .agg(min_by(struct(col("cid"), col("svec"), col("mult")),
            struct(col("score"), col("cid"))).as("best"))
          .select(col("sub"), col("best.svec").as("svec"),
            col("best.mult").as("mult"), col("best.cid").as("cid"))
      def reest(a: org.apache.spark.sql.DataFrame) =
        a.select(col("sub"), col("cid"), col("mult"),
            posexplode(col("svec")).as(Seq("i", "x")))
          .groupBy(col("sub"), col("cid"), col("i"))
          .agg(sum(round(col("x").cast("double") * lit(1e10)).cast("long") *
            col("mult")).as("sx"), sum(col("mult")).as("n"))
          .withColumn("m14", expr(
            """CASE WHEN sx >= 0 THEN (2*sx*10000 + n) div (2*n)
              |     ELSE -((2*(-sx)*10000 + n) div (2*n)) END""".stripMargin))
          .withColumn("m", (col("m14").cast("double") / lit(1e14)).cast("float"))
          .groupBy(col("sub"), col("cid"))
          .agg(sort_array(collect_list(struct(col("i"), col("m")))).as("im"))
          .select(col("sub"), col("cid"),
            expr("transform(im, p -> p.m)").as("cvec"))
          .withColumn("cnorm2", vecDot(col("cvec"), col("cvec")))
      val scored = dvc.join(broadcast(seed), "sub")
        .select(col("sub"), xxhash64(col("svec")).as("sfp"), col("cid"),
          (col("cnorm2") - lit(2d) * vecDot(col("svec"), col("cvec"))).as("score"))
      time("scored_scan")(scored.count())
      time("scored_minscalar")(
        scored.groupBy(col("sub"), col("sfp")).agg(min(col("score"))).count())
      time("scored_minby_scalar")(
        scored.groupBy(col("sub"), col("sfp"))
          .agg(min_by(col("cid"), struct(col("score"), col("cid")))).count())
      time("scored_minstruct")(
        scored.groupBy(col("sub"), col("sfp"))
          .agg(min(struct(col("score"), col("cid")))).count())
      var a1: org.apache.spark.sql.DataFrame = null
      time("assign1")({ a1 = assign(seed).localCheckpoint(true); a1.count() })
      var c1: org.apache.spark.sql.DataFrame = null
      time("reest1")({ c1 = reest(a1).localCheckpoint(true); c1.count() })
      var a2: org.apache.spark.sql.DataFrame = null
      time("assign2")({ a2 = assign(c1).localCheckpoint(true); a2.count() })
      time("reest2")(reest(a2).count())
    }
    graft.PlanCache.clear(spark)
    time("embReps")(VectorQueries.embReps(spark, dir).count())
    time("repSubvecs")(VectorQueries.repSubvecs(spark, dir).count())
    time("pqCodebooks")(VectorQueries.pqCodebooks(spark, dir).count())
    time("pqCodes")(VectorQueries.pqCodes(spark, dir).count())
    time("ivfCentroids")(VectorQueries.ivfCentroids(spark, dir).count())
    time("repCells")(VectorQueries.repCells(spark, dir).count())
    time("q139_with_memos")(VectorQueries.q139IvfPqSearch(spark, dir).count())
    time("q96_with_memos")(VectorQueries.q96PqCodes(spark, dir).count())
    time("q56_with_memos")(VectorQueries.q56AnnIvf(spark, dir).count())
    spark.stop()
  }
}
