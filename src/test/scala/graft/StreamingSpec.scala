package graft

import graft.sinks.FanOutWriter
import graft.sources.BlockSources
import graft.streaming.StreamPipeline
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("S3 file-drop source -> fan-out -> per-table sinks, checkpointed resume") {
    val in = Files.createTempDirectory("drop").toString
    val out = Files.createTempDirectory("streamout").toString
    val ckpt = Files.createTempDirectory("ckpt").toString

    // batch 1 dropped into the work directory
    BlockSources.blockRange(spark, 0, 20).write.mode("append").json(in)
    val schema = BlockSources.blockRange(spark, 0, 1).schema
    val writer = FanOutWriter.jsonl(out, Seq("blocks", "transactions", "account_refs"))

    val q1 = StreamPipeline.runFanOut(
      StreamPipeline.fileDropSource(spark, in, schema), writer, ckpt)
    q1.awaitTermination(60000)
    assert(spark.read.json(s"$out/blocks").count() === 20)

    // batch 2 dropped; restart from the SAME checkpoint -> only new files
    BlockSources.blockRange(spark, 20, 30).write.mode("append").json(in)
    val q2 = StreamPipeline.runFanOut(
      StreamPipeline.fileDropSource(spark, in, schema), writer, ckpt)
    q2.awaitTermination(60000)
    val blocks = spark.read.json(s"$out/blocks")
    assert(blocks.count() === 30) // no reprocessing of batch 1 (C1 resume)
    assert(blocks.select(countDistinct(col("block_number"))).head().getLong(0) === 30)
  }

  test("EP2 probes answer during an active stream; readiness flips when it stops") {
    val in = Files.createTempDirectory("drop_probe").toString
    val out = Files.createTempDirectory("streamout_probe").toString
    val ckpt = Files.createTempDirectory("ckpt_probe").toString
    BlockSources.blockRange(spark, 0, 5).write.mode("append").json(in)
    val schema = BlockSources.blockRange(spark, 0, 1).schema
    val writer = FanOutWriter.jsonl(out, Seq("blocks", "transactions", "account_refs"))
    // follow mode (ProcessingTime trigger): the query stays active like
    // the reference's long-running subscription consumer
    val q = StreamPipeline.runFanOut(
      StreamPipeline.fileDropSource(spark, in, schema), writer, ckpt,
      availableNow = false)
    val srv = graft.operators.HealthProbes.serve(0, () => q.isActive)
    def get(path: String): (Int, String) = {
      val conn = java.net.URI
        .create(s"http://127.0.0.1:${srv.getAddress.getPort}$path").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      val code = conn.getResponseCode
      val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val body = new String(is.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      is.close()
      (code, body)
    }
    try {
      assert(get("/healthz") === ((200, "Alive")))
      assert(get("/ready") === ((200, "Ready")))
      q.stop()
      q.awaitTermination(60000)
      assert(get("/healthz") === ((200, "Alive"))) // process still alive
      assert(get("/ready") === ((503, "NotReady"))) // but not consuming
    } finally {
      srv.stop(0)
      if (q.isActive) q.stop()
    }
  }

  test("watermarked 30-min windows drop late data beyond the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val events = mem.toDF().toDF("ts", "event_type", "value")
    val agg = StreamPipeline.windowedCounts(events, "ts", "10 minutes", "30 minutes")
    val q = agg.writeStream.format("memory").queryName("win_agg")
      .outputMode("append").start()

    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:${min}%02d:00")
    mem.addData((t(5), "click", 1.0), (t(10), "click", 2.0)) // window 10:00-10:30
    q.processAllAvailable()
    mem.addData((t(55), "click", 3.0)) // advances watermark to 10:45 -> finalizes 10:00 window
    q.processAllAvailable()
    mem.addData((t(1), "click", 99.0)) // LATE: before watermark -> dropped
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT * FROM win_agg ORDER BY bucket_start").collect()
    assert(rows.length === 1) // only the finalized 10:00 window emitted so far
    assert(rows(0).getAs[Long]("n_events") === 2) // late row 99.0 NOT counted
    assert(rows(0).getAs[Double]("total_value") === 3.0)
  }

  test("streaming dedup drops in-watermark duplicates, keeps distinct") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val out = StreamPipeline.dedupStream(
      mem.toDF().toDF("ts", "payload"), "ts", "payload")
    val q = out.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    mem.addData((t(0), "a"), (t(1), "a"), (t(2), "b")) // dup 'a' in-batch
    q.processAllAvailable()
    mem.addData((t(3), "a"), (t(4), "c")) // dup 'a' across batches
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT payload FROM dedup").collect().map(_.getString(0)).sorted
    assert(got.toSeq === Seq("a", "b", "c"))
  }

  test("session_window merges events within the gap, splits across it") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val agg = StreamPipeline.sessionCounts(
      mem.toDF().toDF("ts", "user_id"), "ts", "user_id", gap = "30 minutes")
    val q = agg.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    // user 1: two bursts 3h apart -> 2 sessions; user 2: one burst
    mem.addData((t(10, 0), 1L), (t(10, 10), 1L), (t(13, 0), 1L), (t(10, 5), 2L))
    q.processAllAvailable()
    mem.addData((t(20, 0), 9L)) // advance watermark far -> finalize all
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql(
      "SELECT user_id, n_events FROM sessions WHERE user_id <= 2 ORDER BY user_id, session_start")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq === Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("stream-stream interval join matches clicks to later errors") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Timestamp, Long)]
    val errors = MemoryStream[(Timestamp, Long)]
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")

    val c = clicks.toDF().toDF("c_ts", "c_user").withWatermark("c_ts", "10 minutes")
    val e = errors.toDF().toDF("e_ts", "e_user").withWatermark("e_ts", "10 minutes")
    // error within 15 min AFTER a click by the same user
    val joined = c.join(e,
      expr("""c_user = e_user AND e_ts >= c_ts AND
             |e_ts <= c_ts + INTERVAL 15 MINUTES""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()

    clicks.addData((t(0), 1L), (t(0), 2L))
    errors.addData((t(5), 1L))  // within window for user 1
    errors.addData((t(30), 2L)) // outside the 15-min window for user 2
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql("SELECT c_user FROM ssj").collect().map(_.getLong(0))
    assert(rows.toSeq === Seq(1L))
  }

  test("q187 left-outer join equals the batch recompute under the watermark eviction rule") {
    val got = graft.streaming.StreamPipeline
      .q187StreamLeftJoin(spark, TestSpark.sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = Tables.events(spark, TestSpark.sfDir)
      .selectExpr("user_id", "event_type", "unix_millis(ts) as ms", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val p = ev.filter(_._2 == "purchase"); val c = ev.filter(_._2 == "click")
    val wm = math.min(p.map(_._3).max, c.map(_._3).max) - 3600000L
    val want = p.groupBy(_._1).flatMap { case (u, ps) =>
      val cs = c.filter(_._1 == u).map(_._3)
      val matched = ps.map(pp =>
        cs.count(cm => cm >= pp._3 - 3600000L && cm <= pp._3)).sum
      val unmatched = ps.count(pp =>
        !cs.exists(cm => cm >= pp._3 - 3600000L && cm <= pp._3) && pp._3 < wm)
      if (matched + unmatched > 0) Some(u -> (matched.toLong, unmatched.toLong))
      else None
    }
    assert(got == want.toMap)
    // the outer path is genuinely exercised
    assert(got.values.map(_._2).sum > 0)
  }

  test("flatMapGroupsWithState sessions merge across batches and flush on event-time timeout") {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val sessions = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "0 seconds")
      .select(col("user_id"), col("ts")).as[StreamPipeline.SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[StreamPipeline.SessState, StreamPipeline.SessOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        StreamPipeline.sessionFold(30L * 60 * 1000))
    val q = sessions.toDF().writeStream.format("memory").queryName("fmgs_sessions")
      .outputMode("append").start()

    def t(h: Int, m: Int) = Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    mem.addData((t(10, 0), 1L), (t(10, 10), 1L))
    q.processAllAvailable()
    // within the 30-min gap of 10:10 — must MERGE into the batch-1
    // session, not open a second one; user 2 advances the watermark
    mem.addData((t(10, 20), 1L), (t(12, 0), 2L))
    q.processAllAvailable()
    // watermark reaches 13:00 -> users 1 (10:50 deadline) and 2 (12:30)
    // time out — user 2's via the engine's no-data quiesce batch after
    // the watermark advance; user 3 (13:30 deadline > wm) stays held
    mem.addData((t(13, 0), 3L))
    q.processAllAvailable()
    q.stop()

    val rows = spark.sql(
      "SELECT user_id, session_start_ms, session_end_ms, n_events FROM fmgs_sessions ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      (1L, t(10, 0).getTime, t(10, 20).getTime, 3L),
      (2L, t(12, 0).getTime, t(12, 0).getTime, 1L)))
  }

  test("stateful queries run unchanged on the RocksDB state store (100 TB spill path)") {
    // The HDFS-backed provider keeps state on the executor heap — fine
    // for tests, an OOM at 100 TB stream state. RocksDB keeps state
    // off-heap with disk spill (provider bundled in Spark's
    // distribution, rocksdbjni on the classpath). The provider class is
    // read per-query at start, and the replays keep a provider the
    // session names, so each run below pins its backend; results must
    // be IDENTICAL on both (same hash gate), only the state backend moves.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val pkg = "org.apache.spark.sql.execution.streaming.state."
    val dir = TestSpark.sfDir
    def run() = Map(
      "q83" -> StreamPipeline.q83StreamingDedup(spark, dir)
        .collect().map(_.toString).sorted.toSeq,
      "q92" -> StreamPipeline.q92StreamingSessions(spark, dir)
        .collect().map(_.toString).sorted.toSeq,
      "q99" -> StreamPipeline.q99StreamIntervalJoin(spark, dir)
        .collect().map(_.toString).sorted.toSeq)
    val baseline = Sessions.withConf(spark, key -> (pkg + "HDFSBackedStateStoreProvider"))(run())
    val onRocks = Sessions.withConf(spark, key -> (pkg + "RocksDBStateStoreProvider"))(run())
    assert(onRocks === baseline,
      "state backend changed query results — provider is not transparent")
  }

  test("q222 multi-batch CDC merge equals the one-shot batch upsert") {
    val got = StreamPipeline.q222StreamCdcMerge(spark, TestSpark.sfDir)
    // the returned scan reads the LAST versioned state dir: v3 proves the
    // replay really ran as 4 micro-batches (maxFilesPerTrigger honored)
    assert(got.inputFiles.nonEmpty && got.inputFiles.forall(_.contains("/v3/")),
      s"expected state v3, got ${got.inputFiles.take(1).mkString}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(org.apache.spark.sql.functions.col("user_id"))
      .orderBy(org.apache.spark.sql.functions.col("ts").desc,
        org.apache.spark.sql.functions.col("event_id").desc)
    import org.apache.spark.sql.functions._
    val want = Tables.events(spark, TestSpark.sfDir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("user_id") < 200)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"), col("ts").as("last_ts"))
    assert(got.count() === want.count())
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed CDC state diverges from the batch upsert")
  }

  test("mapGroupsWithState keeps a per-source high watermark across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamPipeline.BlockSeen]
    val out = StreamPipeline.highWatermarkPerSource(mem.toDS())
    val q = out.writeStream.format("memory").queryName("hwm")
      .outputMode("update").start()

    mem.addData(StreamPipeline.BlockSeen("rpc1", 5), StreamPipeline.BlockSeen("rpc1", 9))
    q.processAllAvailable()
    mem.addData(StreamPipeline.BlockSeen("rpc1", 7)) // lower than state -> stays 9
    q.processAllAvailable()
    q.stop()

    val last = spark.sql("SELECT maxBlock FROM hwm").collect().map(_.getLong(0))
    assert(last.last === 9)
  }

  test("q205 Space-Saving fold honors the sketch bound past capacity (saturated regime)") {
    // The masked hash gate proves only the exact regime; this is the
    // value gate for the saturated one (round-8 verdict item 4): drive
    // the fold itself past capacity with TestGroupState and assert the
    // Metwally guarantees the Scaladoc claims.
    import graft.streaming.StreamPipeline.{TopkEvent, TopkState}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import org.apache.spark.api.java.Optional
    val arrivals = scala.collection.mutable.ArrayBuffer[Long]()
    for (_ <- 0 until 50; u <- 0L until 10L) arrivals += u // 10 heavy, 50x
    for (u <- 10L until 300L; _ <- 0 to (u % 3).toInt) arrivals += u // 290 light
    val trueCounts = arrivals.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ts = new Timestamp(0L)
    val fold = StreamPipeline.topkFold(256) _
    val s1 = TestGroupState.create[TopkState](
      Optional.empty(), GroupStateTimeout.EventTimeTimeout(), 0L,
      Optional.of(0L), false)
    assert(fold("click", arrivals.iterator.map(TopkEvent("click", _, ts)), s1).isEmpty)
    val s2 = TestGroupState.create[TopkState](
      Optional.of(s1.get), GroupStateTimeout.EventTimeTimeout(), 0L,
      Optional.of(1L), true)
    val out = fold("click", Iterator.empty, s2).toList
    // capacity-bounded state, saturation visible through err > 0
    assert(out.size == 256, s"state size ${out.size}")
    assert(out.exists(_.err > 0), "no eviction recorded past capacity")
    // the Space-Saving bound: cnt - err <= true <= cnt for EVERY entry
    out.foreach { o =>
      val t = trueCounts.getOrElse(o.user_id, 0L)
      assert(o.cnt - o.err <= t && t <= o.cnt,
        s"user ${o.user_id}: cnt=${o.cnt} err=${o.err} true=$t")
    }
    // count conservation: Sigma cnt over state == stream length
    assert(out.map(_.cnt).sum == arrivals.length.toLong)
    // heavy hitters survive saturation exactly (never evicted)
    (0L until 10L).foreach { u =>
      val o = out.find(_.user_id == u)
      assert(o.exists(e => e.cnt == 50L && e.err == 0L), s"heavy $u: $o")
    }
  }
}
