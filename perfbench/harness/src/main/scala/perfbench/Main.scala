package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

import graft.SparkEntry
import graft.operators.HighWatermark
import graft.sinks.FanOutWriter
import graft.sources.BlockSources
import org.apache.spark.sql.SparkSession

/** Measures one workload and writes its raw observations (timings, output
  * locations, counters, spans) as JSON for `perfbench/run.py`, which
  * computes the metrics and checks the outputs.
  *
  * Usage: perfbench.Main --workload ingest|serve --seed N --seconds S
  *   --trace 0|1 --work DIR --data DIR --raw FILE --spans FILE
  */
object Main {
  val setupRounds = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work"))
    val dataDir = Paths.get(args("data")).resolve(DataGen.version)
    val cores = Runtime.getRuntime.availableProcessors
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadBefore = os.getSystemLoadAverage

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    if (workload == "serve" && !Files.exists(dataDir.resolve("_COMPLETE"))) {
      val s = session()
      try DataGen.ensure(s, dataDir) finally s.stop()
    }

    // set-up: a fresh session plus one small call through every layer the
    // workload uses, several times; the last session stays for the run
    var spark: SparkSession = null
    val setupS = (0 until setupRounds).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      workload match {
        case "ingest" =>
          val out = work.resolve(s"setup-$i")
          FanOutWriter.jsonl(out.toString, Ingest.tables)
            .publishBlocks(BlockSources.blockRange(spark, 0, 1000))
          HighWatermark.markDone(out.resolve("wm"), 0, 1000)
        case "serve" =>
          val q = SparkEntry.queries.keys.find(_.startsWith("q01_")).get
          SparkEntry.queries(q)(spark, dataDir.toString).collect()
      }
      (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val counters = if (traced) Some(new SparkCounters) else None
    counters.foreach(sc.addSparkListener)
    val tracer = new Tracer(traced, sc)
    val phases = new Phases(counters, sc)
    val r = new SplittableRandom(seed)

    val body: Seq[(String, String)] = workload match {
      case "ingest" =>
        val ingest = new Ingest(spark, tracer, phases, work)
        // warm-up: the JIT and whole-stage codegen see every code path first
        val w0 = System.nanoTime()
        ingest.backfill("warmup_backfill", 10000000L, 50000L, 3)
        ingest.catchUp("warmup_stream", 20000000L, 4, 10)
        val warmupS = (System.nanoTime() - w0) / 1e9
        val chunks = math.max(3, math.round(seconds / 10).toInt)
        // drops spread evenly over whole 5 s trigger intervals, at 22 files a
        // second: at least 110 files, so the p90 has ten samples beyond it
        val periods = math.max(1, math.round(seconds / 30).toInt)
        // block numbers stay below 2.6e8: the generator's fee arithmetic
        // overflows a long beyond that
        val start = 1000000L + r.nextInt(1000) * 100000L
        val b = ingest.backfill("etl_backfill", start, 100000L, chunks)
        val first = 200000000L + r.nextInt(10000) * 1000L
        val windowS = 5.0 * periods
        val st = ingest.stream("stream_ingest", first, (22 * windowS).toInt, 10, windowS,
          200, r.nextLong())
        val heap = JvmCounters.retainedHeapBytes()
        Seq(
          "warmup_s" -> Json.num(warmupS),
          "retained_heap_bytes" -> Json.num(heap),
          "backfill" -> Json.obj(
            "out" -> Json.str(b.out.toString),
            "start" -> Json.num(b.start),
            "end" -> Json.num(b.end),
            "chunk_latency_s" -> Json.arr(b.chunkLatencyS.map(Json.num)),
            "elapsed_s" -> Json.num(b.elapsedS),
            "resumed_at" -> Json.num(b.resumedAt),
            "errors" -> Json.arr(b.errors.map(Json.str))),
          "stream" -> Json.obj(
            "out" -> Json.str(st.out.toString),
            "first" -> Json.num(st.first),
            "per_file" -> Json.num(st.perFile.toLong),
            "files" -> Json.arr(st.files.map(Json.str)),
            "scheduled_ns" -> Json.arr(st.scheduledNs.map(Json.num)),
            "dropped_ns" -> Json.arr(st.droppedNs.map(Json.num)),
            "progress" -> Json.arr(st.progress.map(p => Json.obj(
              "batch_id" -> Json.num(p.batchId),
              "rows" -> Json.num(p.rows),
              "start_ns" -> Json.num(p.startNs),
              "trigger_ms" -> Json.num(p.triggerMs),
              "add_batch_ms" -> Json.num(p.addBatchMs)))),
            "sink_ends_ns" -> Json.obj(st.sinkEndsNs.toSeq.map { case (t, e) =>
              t -> Json.arr(e.map(Json.num)) }: _*),
            "errors" -> Json.arr(st.errors.map(Json.str))))
      case "serve" =>
        val serve = new Serve(spark, tracer, phases, dataDir.toString)
        val w0 = System.nanoTime()
        serve.warmUp(cores)
        val warmupS = (System.nanoTime() - w0) / 1e9
        serve.session(r.nextLong(), math.max(6, math.round(seconds / 6).toInt))
        val heap = JvmCounters.retainedHeapBytes()
        Seq(
          "warmup_s" -> Json.num(warmupS),
          "retained_heap_bytes" -> Json.num(heap),
          "ops" -> Json.arr(serve.checked.map { case (op, rows, sum) => Json.obj(
            "phase" -> Json.str(op.phase),
            "name" -> Json.str(op.name),
            "latency_s" -> Json.num(op.latencyS),
            "build_s" -> Json.num(op.buildS),
            "rows" -> Json.num(rows),
            "checksum" -> Json.str(sum),
            "error" -> op.error.map(Json.str).getOrElse("null")) }))
    }

    if (traced) {
      val lines = tracer.all.map(s => Json.obj(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "request" -> Json.str(s.request), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs)))
      Files.write(Paths.get(args("spans")), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val raw = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> Json.num(seed),
      "trace" -> (if (traced) "1" else "0"),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "phases" -> Json.obj(phases.all.toSeq.map { case (k, v) => k -> Json.numMap(v) }: _*),
      "spark" -> Json.numMap(counters.map(_.snapshot.map { case (k, v) => k -> v.toDouble })
        .getOrElse(Map.empty)),
      "machine" -> Json.obj(
        "nproc" -> Json.num(cores.toLong),
        "load_avg_before" -> Json.num(loadBefore),
        "load_avg_after" -> Json.num(os.getSystemLoadAverage),
        "max_heap_gb" -> Json.num(Runtime.getRuntime.maxMemory / 1e9))) ++ body: _*)
    spark.stop()
    Files.write(Paths.get(args("raw")), raw.getBytes("UTF-8"))
  }
}
