package graft

import org.apache.spark.sql.SparkSession

/** The library's session front door: one place that encodes how a graft
  * session should be configured, for users switching from the reference
  * engine (SURVEY §4.3). Everything here is a Spark config, so the same
  * settings work on a 1000-executor cluster submit as on `local[*]`
  * development; the filesystem keys name classes of this library, so
  * every JVM that resolves `file:` paths needs its jar on the classpath.
  *
  *  - UTC session time zone: timestamps compare identically across
  *    engines and clusters regardless of driver locale.
  *  - `nanosAsLong`: the fixture's nanosecond-precision parquet
  *    timestamps read as epoch-nano longs instead of failing the scan
  *    (see [[Tables.events]] for the µs conversion contract).
  *  - AQE stays ON (default) — runtime join re-planning, skew-join
  *    splitting and partition coalescing are the 100 TB safety net.
  *  - SQL extensions: the engine's function surface
  *    ([[graft.functions.GraftSparkExtensions]]: `cosine_similarity`,
  *    `quality_score`, …) and the cartesian guardrail
  *    ([[graft.plans.GraftGuardrails]], armed per-session via
  *    `spark.graft.failOnCartesian`).
  *  - `fs.file.impl` and `fs.AbstractFileSystem.file.impl` select the
  *    fork-free local filesystem ([[ForklessLocalFs]]): without `libhadoop`
  *    the stock one starts a `chmod`/`readlink` process per checkpoint
  *    file. `fs.file.impl` applies only if no `file:` FileSystem was
  *    cached earlier in the JVM; FileContext (checkpoint) I/O reads the
  *    conf every time.
  */
object Engine extends org.apache.spark.internal.Logging {

  /** The engine's session settings as data — applied by [[builder]], and
    * directly usable as `--conf` pairs on a cluster `spark-submit`.
    */
  val sessionConfigs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" ->
      "graft.functions.GraftSparkExtensions,graft.plans.GraftGuardrails",
    "spark.hadoop.fs.file.impl" -> classOf[ForklessLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForklessLocalFs].getName)

  /** A pre-configured builder; caller picks master/app/overrides. */
  def builder(): SparkSession.Builder =
    sessionConfigs.foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The repo's own processes' session (Bench, Verify, the dev mains, the
    * test fixture): [[builder]] on `local[cores]`, UI off, WARN logging.
    * `spark.sql.codegen.cache.maxEntries` is a static conf read once at
    * CodeGenerator init: the default 100-entry janino class cache cannot
    * hold the catalog, so by a timed pass every complex plan's classes
    * were evicted by the other queries' warmup and each heavy query paid
    * seconds of recompilation.
    */
  def local(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** [[local]] with one shuffle partition per core. */
  def local(cores: Int): SparkSession = local(cores, cores)

  /** Build (or join) the session and make the SQL function surface
    * available even when the session pre-existed this call (extensions
    * only apply at session creation; programmatic registration is
    * idempotent, so doing both is safe). The cartesian GUARDRAIL has no
    * post-creation registration hook — if the session pre-existed without
    * it, `spark.graft.failOnCartesian` would silently do nothing, so that
    * gap is logged loudly instead of masked.
    */
  def session(master: String = "local[*]"): SparkSession = {
    val s = builder().master(master).appName("graft").getOrCreate()
    graft.functions.GraftFunctions.register(s)
    val ext = s.conf.getOption("spark.sql.extensions").getOrElse("")
    if (!ext.contains("GraftGuardrails"))
      logWarning("Engine.session() joined a pre-existing SparkSession built " +
        "without graft.plans.GraftGuardrails — spark.graft.failOnCartesian " +
        "will have no effect in this session; use Guardrails.assertNoCartesian " +
        "programmatically or rebuild the session through Engine.builder()")
    s
  }
}
