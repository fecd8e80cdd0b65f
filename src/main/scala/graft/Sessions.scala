package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is built or reconfigured — every main
  * and the test session go through [[local]], and every temporary
  * runtime override goes through [[withConf]]. Mirrors the reference's
  * load-once engine config (the `OnceCell` env singletons behind
  * [[graft.config.GraftConfig]]): the core count is read once, and the
  * confs every query depends on (UTC, parquet nanos as longs) cannot
  * drift between entry points.
  */
object Sessions {

  /** Local cores: `SPARK_GRAFT_CPUS` (a positive integer), read once;
    * unset means every processor this JVM sees. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) =>
      val n = v.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
  }

  /** Generated-class cache size (`spark.sql.codegen.cache.maxEntries`,
    * a static conf, so it can only be set where the session is built).
    * Spark's default of 100 thrashes: the 17-query q01–q18/q59 serving
    * mix alone generates 190 distinct classes, so its repeat requests
    * recompiled 766 classes over 102 requests. Measured at sf0.001,
    * 4 cores, on a cold JVM: one full-registry pass generates 4 567
    * distinct classes, and a repeat pass 452 more (plans that differ
    * per run); 8 192 holds both with ~1.6× headroom. Cost against the
    * default after one registry pass: +38 MB metaspace and +149 MB
    * retained heap. */
  val CodegenCacheEntries = 8192

  /** A local session (or the JVM's existing one) with the confs every
    * graft query depends on: `local[cores]`, shuffle partitions =
    * cores, UTC session time zone, parquet TIMESTAMP(NANOS) read as longs,
    * the codegen cache above, no UI, WARN logging. `conf` carries
    * deployment settings only (paths such as a warehouse dir). */
  def local(app: String): SparkSession = local(app, cores)

  def local(app: String, cores: Int, conf: (String, String)*): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName(app)
      .config(Map(
        "spark.sql.shuffle.partitions" -> cores.toString,
        "spark.sql.session.timeZone" -> "UTC",
        "spark.sql.legacy.parquet.nanosAsLong" -> "true",
        "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
        "spark.ui.enabled" -> "false") ++ conf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` with runtime confs overridden, then put each key back
    * as it was — its previous value, or unset if it had none — also
    * when `body` throws. */
  def withConf[T](s: SparkSession, confs: (String, String)*)(body: => T): T = {
    val set = s.conf.getAll // explicitly-set keys only, not defaults
    val prev = confs.map { case (k, _) => k -> set.get(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
