package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.operators.{FanOut, HighWatermark}
import graft.sinks.{FanOutWriter, FileSinks}
import graft.sources.BlockSources
import graft.streaming.StreamPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The write path: the reference's `index-range` backfill (closed loop)
  * followed by its `index-subscription` stream (open loop). */
final class Ingest(spark: SparkSession, tracer: Tracer, phases: Phases, work: Path) {
  import Ingest._

  /** The map `FanOutWriter.jsonl(out, tables)` builds, with each sink call
    * timed, so the measured program is unchanged. `ends` collects the
    * completion time (epoch ns) of every sink call, per table, in order. */
  def writer(out: Path, ends: Map[String, mutable.ArrayBuffer[Long]] = newEnds): FanOutWriter =
    new FanOutWriter(tables.map { t =>
      t -> { (df: DataFrame) =>
        tracer.span(s"sinks.write.$t")(FileSinks.writeJsonl(df, out.toString, t))
        ends(t).synchronized(ends(t) += Clock.nowNs())
        ()
      }
    }.toMap)

  /** Backfill [start, start + chunk * chunks) in consecutive chunks through
    * the batch path, marking each chunk done after its publish. */
  def backfill(name: String, start: Long, chunk: Long, chunks: Int): Backfill = {
    val out = work.resolve(s"$name-out")
    val wm = work.resolve(s"$name-wm")
    val end = start + chunk * chunks
    val w = writer(out)
    val lat = mutable.ArrayBuffer.empty[Double]
    phases.run(name) {
      val t0 = System.nanoTime()
      var b = tracer.span("operators.watermark_resume")(HighWatermark.resume(wm, start, end))._1
      val errors = mutable.ArrayBuffer.empty[String]
      while (b < end) {
        val e = math.min(b + chunk, end)
        tracer.request = s"$name-$b"
        val c0 = System.nanoTime()
        try tracer.span("request") {
          val nested = tracer.span("sources.block_range")(BlockSources.blockRange(spark, b, e))
          // plan-only call on the same input: the cost of the fan-out
          // planning that publishBlocks repeats inside the publish span
          if (tracer.enabled) tracer.span("operators.fanout")(FanOut.tables(nested))
          tracer.span("sinks.publish")(w.publishBlocks(nested))
          tracer.span("operators.watermark_mark")(HighWatermark.markDone(wm, b, e))
        } catch {
          case NonFatal(ex) => errors += s"[$b, $e): ${firstLine(ex)}"
        }
        lat += (System.nanoTime() - c0) / 1e9
        b = e
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      val resumed = try HighWatermark.resume(wm, start, end + 1)._1 catch { case NonFatal(_) => -1L }
      Backfill(out, start, end, lat.toSeq, elapsed, resumed, errors.toSeq)
    }
  }

  /** Write `files` block files of `perFile` consecutive blocks from `first`
    * into `staging`, in one Spark job; returns their names in order. */
  def stageFiles(staging: Path, first: Long, files: Int, perFile: Int): Seq[String] = {
    Files.createDirectories(staging)
    val lines = BlockSources.blockRange(spark, first, first + files.toLong * perFile)
      .toJSON.collect()
    (0 until files).map { i =>
      val name = f"blocks-$i%05d.json"
      val body = lines.slice(i * perFile, (i + 1) * perFile).mkString("", "\n", "\n")
      Files.write(staging.resolve(name), body.getBytes("UTF-8"))
      name
    }
  }

  /** Catch-up run of the streaming fan-out over a few pre-dropped files
    * (warm-up). */
  def catchUp(name: String, first: Long, files: Int, perFile: Int): Unit = {
    val drop = work.resolve(s"$name-drop")
    stageFiles(drop, first, files, perFile)
    tracer.request = name
    val schema = BlockSources.blockRange(spark, 0, 1).schema
    val q = StreamPipeline.runFanOut(StreamPipeline.fileDropSource(spark, drop.toString, schema),
      writer(work.resolve(s"$name-out")), work.resolve(s"$name-ckpt").toString)
    q.awaitTermination()
  }

  /** Open-loop stream: a generator thread moves the staged files into the
    * drop directory at their scheduled times while the streaming fan-out
    * runs; returns once every block is published (or the wait times out). */
  def stream(name: String, first: Long, files: Int, perFile: Int, windowS: Double,
      maxFilesPerTrigger: Int, seed: Long): Stream = {
    val staging = work.resolve(s"$name-staging")
    val drop = work.resolve(s"$name-drop")
    val out = work.resolve(s"$name-out")
    val ckpt = work.resolve(s"$name-ckpt")
    Files.createDirectories(drop)
    // one drop per slot of windowS / files seconds, at a seeded offset
    // inside its slot. The window spans whole trigger intervals and starts
    // just after a trigger fires (processing-time triggers fire at
    // multiples of their interval), so the wait for the next trigger is
    // spread evenly over the interval and each batch takes the files of
    // one interval, whenever the run started.
    val r = new SplittableRandom(seed)
    val slot = (windowS * 1e9 - 2 * guardNs) / files
    val offsets = (0 until files).map(i => (i * slot + r.nextDouble() * slot).toLong)
    val schema = BlockSources.blockRange(spark, 0, 1).schema
    val total = files.toLong * perFile
    val ends = newEnds
    // the sink spans of every batch, recorded on the stream's thread
    tracer.request = name
    phases.run(name) {
      val q = StreamPipeline.runFanOut(
        StreamPipeline.fileDropSource(spark, drop.toString, schema, maxFilesPerTrigger),
        writer(out, ends), ckpt.toString, availableNow = false)
      try {
        // staged while the query starts up; nothing is dropped yet
        val names = stageFiles(staging, first, files, perFile)
        val t0 = ((Clock.nowNs() + 500000000L) / triggerNs + 1) * triggerNs + guardNs
        val scheduled = offsets.map(t0 + _)
        val actual = new Array[Long](files)
        val gen = new Thread(() => {
          names.indices.foreach { i =>
            val waitNs = scheduled(i) - Clock.nowNs()
            if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
            Files.move(staging.resolve(names(i)), drop.resolve(names(i)),
              StandardCopyOption.ATOMIC_MOVE)
            actual(i) = Clock.nowNs()
          }
        }, "perfbench-generator")
        gen.start()
        gen.join()
        val deadline = System.nanoTime() + 60000000000L
        def published = q.recentProgress.map(_.numInputRows).sum
        while (published < total && System.nanoTime() < deadline && q.isActive) Thread.sleep(20)
        q.stop()
        val progress = q.recentProgress.filter(_.numInputRows > 0).map { p =>
          val d = p.durationMs
          val start = java.time.Instant.parse(p.timestamp)
          Progress(p.batchId, p.numInputRows, start.getEpochSecond * 1000000000L + start.getNano,
            d.getOrDefault("triggerExecution", 0L), d.getOrDefault("addBatch", 0L))
        }.toSeq
        progress.foreach { p =>
          tracer.record("streaming.batch", s"$name-batch-${p.batchId}", p.startNs,
            p.startNs + p.triggerMs * 1000000L)
        }
        Stream(out, first, perFile, names, scheduled, actual.toSeq, progress,
          ends.map { case (t, e) => t -> e.toSeq }, q.exception.map(firstLine).toSeq)
      } finally if (q.isActive) q.stop()
    }
  }
}

object Ingest {
  val tables: Seq[String] = Seq("blocks", "transactions", "account_refs")

  /** The streaming fan-out's processing-time trigger interval. */
  val triggerNs = 5000000000L
  /** Margin kept between drops and trigger instants. */
  val guardNs = 50000000L

  def newEnds: Map[String, mutable.ArrayBuffer[Long]] =
    tables.map(_ -> mutable.ArrayBuffer.empty[Long]).toMap

  def firstLine(e: Throwable): String = e.toString.takeWhile(_ != '\n').take(300)

  final case class Backfill(out: Path, start: Long, end: Long, chunkLatencyS: Seq[Double],
      elapsedS: Double, resumedAt: Long, errors: Seq[String])

  final case class Progress(batchId: Long, rows: Long, startNs: Long, triggerMs: Long,
      addBatchMs: Long)

  final case class Stream(out: Path, first: Long, perFile: Int, files: Seq[String],
      scheduledNs: Seq[Long], droppedNs: Seq[Long], progress: Seq[Progress],
      sinkEndsNs: Map[String, Seq[Long]], errors: Seq[String])
}
