package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span. Times are epoch nanoseconds (wall clock), so spans
  * from the streaming thread and from listener callbacks line up with the
  * driver thread's. */
final case class Span(id: Long, parent: Long, name: String, request: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled (the untraced run), `span` only runs
  * its body. Enabled, it records name, start, end, the enclosing span on
  * the same thread and the current request id, and tags every Spark job
  * started inside the span with the span's name (a job-local property the
  * [[SparkCounters]] listener reads). */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  @volatile var request: String = ""

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set((id, name) :: outer)
      val prevTag = sc.getLocalProperty(Tracer.spanProperty)
      sc.setLocalProperty(Tracer.spanProperty, name)
      val start = Clock.nowNs()
      try body
      finally {
        spans.add(Span(id, outer.headOption.map(_._1).getOrElse(0L), name, request,
          start, Clock.nowNs()))
        sc.setLocalProperty(Tracer.spanProperty, prevTag)
        stack.set(outer)
      }
    }

  /** Record a parentless span measured elsewhere (streaming progress
    * reports). */
  def record(name: String, request: String, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), 0, name, request, startNs, endNs))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {
  val spanProperty = "perfbench.span"
}

/** Wall-clock nanoseconds with sub-millisecond resolution: an epoch anchor
  * read once plus the monotonic clock. */
object Clock {
  private val anchorNs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val anchorMono = System.nanoTime()
  def nowNs(): Long = anchorNs + (System.nanoTime() - anchorMono)
}

/** Spark listener that sums job, stage and task counters per benchmark
  * phase (the phase current when the job started), and counts the jobs
  * started inside each span, and those of them that wrote output. */
final class SparkCounters extends SparkListener {
  @volatile var phase: String = "setup"
  private val jobPhase = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val jobWrote = ConcurrentHashMap.newKeySet[Int]()

  private def add(key: String, v: Long): Unit =
    counters.computeIfAbsent(key, _ => new LongAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = phase
    jobPhase.put(e.jobId, p)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    add(s"$p|spark.jobs", 1)
    add(s"$p|spark.stages", e.stageIds.size)
    Option(e.properties).flatMap(pr => Option(pr.getProperty(Tracer.spanProperty)))
      .foreach { tag => jobSpan.put(e.jobId, s"$p|span:$tag"); add(s"$p|span:$tag|jobs", 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.getOrDefault(e.stageId, -1)
    val p = jobPhase.getOrDefault(job, phase)
    add(s"$p|spark.tasks", 1)
    if (!e.taskInfo.successful) add(s"$p|spark.failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add(s"$p|spark.task_run_ms", m.executorRunTime)
      add(s"$p|spark.task_cpu_ns", m.executorCpuTime)
      add(s"$p|spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(s"$p|spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add(s"$p|spark.input_bytes", m.inputMetrics.bytesRead)
      add(s"$p|spark.output_bytes", m.outputMetrics.bytesWritten)
      if (m.outputMetrics.recordsWritten > 0 && jobSpan.containsKey(job) && jobWrote.add(job))
        add(s"${jobSpan.get(job)}|write_jobs", 1)
    }
  }

  def snapshot: Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum() }.toMap
}

/** JVM-wide counters read from the platform MXBeans and Spark's codegen
  * metrics: GC time, JIT compile time, whole-stage codegen compiles. */
object JvmCounters {
  def snapshot(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = codegen.getSnapshot
    Map("jvm.gc_s" -> gcMs / 1e3, "jvm.jit_compile_s" -> jit / 1e3,
      "codegen.compiles" -> codegen.getCount.toDouble,
      "codegen.compile_mean_ms" -> snap.getMean)
  }

  /** Heap in use after full collections (retained, not garbage). */
  def retainedHeapBytes(): Long = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    rt.totalMemory - rt.freeMemory
  }
}

/** Per-phase bookkeeping: the phase's wall interval and the JVM, plan-cache
  * and storage readings at its edges. */
final class Phases(counters: Option[SparkCounters], sc: SparkContext) {
  private val rows = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]

  def run[A](name: String)(body: => A): A = {
    counters.foreach(_.phase = name)
    val jvm0 = JvmCounters.snapshot()
    val (h0, m0) = graft.PlanCache.stats
    val e0 = graft.PlanCache.evictions
    val t0 = Clock.nowNs()
    try body
    finally {
      val t1 = Clock.nowNs()
      val jvm1 = JvmCounters.snapshot()
      val (h1, m1) = graft.PlanCache.stats
      val r = rows.getOrElseUpdate(name, mutable.Map("start_ns" -> t0.toDouble))
      r("end_ns") = t1.toDouble
      r("wall_s") = r.getOrElse("wall_s", 0.0) + (t1 - t0) / 1e9
      Seq("jvm.gc_s", "jvm.jit_compile_s", "codegen.compiles").foreach { k =>
        r(k) = r.getOrElse(k, 0.0) + jvm1(k) - jvm0(k)
      }
      val compiles = jvm1("codegen.compiles") - jvm0("codegen.compiles")
      // the codegen histogram keeps a sample, not a sum: compiles x mean
      r("codegen.compile_s") = r.getOrElse("codegen.compile_s", 0.0) +
        compiles * jvm1("codegen.compile_mean_ms") / 1e3
      r("plancache.hits") = r.getOrElse("plancache.hits", 0.0) + (h1 - h0)
      r("plancache.misses") = r.getOrElse("plancache.misses", 0.0) + (m1 - m0)
      r("plancache.evictions") = r.getOrElse("plancache.evictions", 0.0) +
        (graft.PlanCache.evictions - e0)
      r("plancache.cached_bytes") = sc.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum.toDouble
      counters.foreach(_.phase = "between")
    }
  }

  def all: Map[String, Map[String, Double]] = rows.map { case (k, v) => k -> v.toMap }.toMap
}
