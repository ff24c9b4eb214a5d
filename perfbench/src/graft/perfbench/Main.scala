package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.Engine

/** Benchmark process for one workload run. `perfbench/run.py` builds the
  * classpath, launches this main and turns the result file it writes into
  * the printed metrics.
  *
  * {{{
  * Main --workload catalog|stream-paid-orders --seed N
  *      --seconds S --trace 0|1 --cores N --data DIR --work DIR --out FILE
  *      [--queries a,b,..] [--tables t,..] [--reference FILE]
  * Main --digest DUMP_DIR --out FILE --cores N --work DIR
  * Main --train 1 --cores N --data DIR --work DIR --queries a,b,.. --tables t,..
  * }}}
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Untimed passes between the cold pass and the measured ones: the
    * JIT compilers need them before pass times level off.
    */
  val WarmupPasses = 2
  /** Measured passes every batch run makes at least: with 16 entries, 48
    * samples, so p75 has twelve beyond it.
    */
  val MinMeasuredPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("digest")) digestDump(opt)
    else if (opt.contains("train")) train(opt)
    else run(opt)
  }

  /** The benchmark's session: the library's own front door with the
    * overrides `graft.Bench` uses, all scratch state under the work dir.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = Engine.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Conf entries that name this process rather than its settings. */
  private val volatileConf = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.local.dir", "spark.sql.warehouse.dir",
    "spark.executor.id", "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions")

  private def run(opt: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    val data = opt("data")
    val stream = workload == "stream-paid-orders"

    // Set-up, repeated: each builds a fresh session and readies the
    // inputs. The first is timed from JVM start.
    var spark: SparkSession = null
    var gen: Generator = null
    val setupS = Array.fill(Setups)(0.0)
    val sessionS = Array.fill(Setups)(0.0)
    for (i <- 0 until Setups) {
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      val s0 = System.nanoTime()
      spark = session(cores, work)
      sessionS(i) = (System.nanoTime() - s0) / 1e9
      if (stream) gen = Generator(seed, s"$work/stream")
      else touchTables(spark, data, opt("tables").split(",").toSeq)
      setupS(i) = (System.currentTimeMillis() - t0) / 1e3
    }

    val speed = new HostSpeed(cores)
    speed.warm()
    val epoch0 = System.currentTimeMillis()
    val spans = new Spans(System.nanoTime())
    val rec = if (traced) Some(new Recorder(spark)) else None
    val result: RunResult =
      if (stream) new Stream(spark, gen, seconds, rec, spans, epoch0, cores, speed).run()
      else {
        val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
        val b = new Batch(spark, data, names, seed, seconds, WarmupPasses, MinMeasuredPasses, rec, spans,
          speed)
        b.run()
        val rss = peakRssMb()
        val layers = if (traced) b.perLayer(cores) else Map.empty[String, Double]
        rec.foreach(_.close())
        val reference = Json.digests(opt("reference"))
        val c0 = System.nanoTime()
        val wrong = b.check(reference)
        val checkS = (System.nanoTime() - c0) / 1e9
        RunResult(b.atReference + ("peak_rss_mb" -> rss), b.endToEnd, layers, b.attempted, b.failed, wrong,
          Map("queries" -> names.size, "warm_samples" -> b.measured.size, "warmup_passes" -> WarmupPasses,
            "check_s" -> checkS,
            "passes" -> b.passWall.size,
            "samples" -> b.samples.map(q => Map("pass" -> q.pass, "name" -> q.name,
              "wall_s" -> q.wallS, "ok" -> q.ok))))
      }

    speed.close()
    val conf = spark.conf.getAll.filterNot { case (k, _) => volatileConf(k) }
    val settings = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "conf" -> scala.collection.immutable.TreeMap(conf.toSeq: _*),
      "queries" -> opt.getOrElse("queries", ""))
    val out = Map(
      "settings" -> settings,
      "setup_s" -> Stats.median(setupS.toSeq) * speed.factor,
      "setup_raw_s" -> Stats.median(setupS.toSeq),
      "host_probe_ms" -> speed.medianMs,
      "host_probes" -> speed.samples,
      "setup_runs_s" -> setupS.toSeq,
      "engine_session_s" -> Stats.median(sessionS.toSeq),
      "session_runs_s" -> sessionS.toSeq,
      "e2e" -> result.e2e,
      "e2e_raw" -> result.e2eRaw,
      "layers" -> (if (traced) result.layers + ("engine.session_s" -> Stats.median(sessionS.toSeq)) else Map.empty),
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "wrong" -> result.wrong,
      "info" -> result.info,
      "spans" -> (if (traced) spans.all.map(_.toMap) else Nil))
    Files.writeString(Paths.get(opt("out")), Json.mapper.writeValueAsString(out))
    spark.stop()
  }

  /** Touch each table `workloads.json` lists, as `graft.Bench` touches
    * every table before its timed passes, so the first timed query does
    * not pay the first read of a file.
    */
  def touchTables(spark: SparkSession, dir: String, tables: Seq[String]): Unit = {
    spark.range(1000).selectExpr("sum(id)").count()
    tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").limit(1).count())
  }

  /** Peak resident set size of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  /** One short pass of every workload, so that the build can record the
    * classes they load in a class-data-sharing archive.
    */
  private def train(opt: Map[String, String]): Unit = {
    val cores = opt("cores").toInt
    val spark = session(cores, opt("work"))
    touchTables(spark, opt("data"), opt("tables").split(",").toSeq)
    val spans = new Spans(System.nanoTime())
    val speed = new HostSpeed(cores)
    new Batch(spark, opt("data"), opt("queries").split(",").toSeq, 0L, 0.0, 0, 0, None, spans,
      speed).run()
    new Stream(spark, Generator(0L, s"${opt("work")}/stream"), 2.0, None, spans,
      System.currentTimeMillis(), cores, speed).run()
    speed.close()
    spark.stop()
  }

  /** Digest every result directory of a `graft.Verify` dump. */
  private def digestDump(opt: Map[String, String]): Unit = {
    val spark = session(opt("cores").toInt, opt("work"))
    val root = new java.io.File(opt("digest"))
    val digests = root.listFiles().filter(_.isDirectory).map(_.getName).sorted.map { n =>
      n -> Digest.of(spark.read.parquet(s"$root/$n"))._1
    }
    Files.writeString(Paths.get(opt("out")),
      Json.mapper.writeValueAsString(scala.collection.immutable.TreeMap(digests.toSeq: _*)))
    spark.stop()
  }
}

/** `e2e`: end-to-end figures, times at reference host speed; `e2eRaw`: the
  * same times as measured.
  */
final case class RunResult(e2e: Map[String, Double], e2eRaw: Map[String, Double],
    layers: Map[String, Double],
    attempted: Int, failed: Int, wrong: Seq[String], info: Map[String, Any])

object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  /** Reference digests: a flat JSON object of entry name → digest. */
  def digests(path: String): Map[String, String] =
    mapper.readValue(new java.io.File(path), classOf[Map[String, String]])
}
