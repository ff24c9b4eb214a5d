package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Scale-rehearsal override only (the driver never sets it, so recorded
    // benches use cpus): at sf10 a 32-partition shuffle holds ~10x the
    // per-partition bytes the configs were sized for — more partitions at
    // the same thread count is the cluster-correct lever (see DevBench).
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = Engine.local(cpus.toInt, shuffleParts.toInt)
    // Warm the JVM/codegen/parquet paths so the first measured query is
    // not charged one-time session startup, and touch every table once,
    // through the same read path the queries take, so no measured query
    // pays the first file-listing/footer read.
    try {
      Tables.region(spark, sfDir).groupBy("r_name").count().count()
      spark.range(1000).selectExpr("sum(id)").count()
      for (t <- Tables.schemas.keys) Tables.table(spark, sfDir, t).limit(1).count()
      Tables.events(spark, sfDir).limit(1).count()
    } catch { case _: Throwable => () }
    // One untimed pass of the whole catalog first: each query's first run
    // pays one-time janino codegen compilation and AQE stage planning
    // (2-5 s for complex plans), which made reported numbers a function of
    // POSITION in the run rather than of the plan (round-2 "regressions"
    // were all first-run noise — warmed A/B showed every one at or under
    // its round-1 time). A 100 TB cluster job compiles codegen once and
    // then processes data for hours, so steady-state per-query time is the
    // honest scale metric; the timed second pass reports exactly that.
    // Optional dev-time filter (regex on query name) for targeted perf
    // work; the driver never sets it, so the recorded bench always covers
    // the full catalog.
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER").map(_.r)
    val picked = SparkEntry.queries.filter { case (name, _) =>
      filter.forall(_.findFirstIn(name).isDefined)
    }
    // Force evaluation of EVERY output column, not just row count: count()
    // lets Catalyst prune all columns down to the scan, so a map-only
    // projection (x55's regex pipeline) was billed scan cost (~0.10 s)
    // instead of the ~5 s/150k-doc cost its consumers actually pay
    // (round-7 caveat, BASELINE.md). The built-in `noop` datasource runs
    // the full physical plan — all columns materialized into UnsafeRows —
    // and discards the rows, which is exactly what a downstream
    // parquet-writing consumer pays minus encoding.
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    // Inter-query cleanup is Housekeeping.scopedBlocks — drop exactly the
    // blocks each query persisted, nothing else (round 5's blanket
    // unpersist destroyed memoized artifacts other queries still owned).
    for ((name, fn) <- picked) {
      try Housekeeping.scopedBlocks(spark) { force(fn(spark, sfDir)) }
      catch { case e: Throwable =>
        System.err.println(s"[bench-warmup] $name failed: ${e.getMessage}")
      }
    }
    // A failing query must never masquerade as a fast one: round 5's
    // swallow-and-record made a CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND crash
    // look like a 2.2 s pagerank. Failures are recorded by name in the
    // JSON ("errors") and counted in the summary line.
    // SPARK_GRAFT_BENCH_DEBUG=1: per-query heap/GC telemetry on stderr —
    // the session-degradation debugging loop (driver never sets it)
    val debug = sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    var errors = List.empty[(String, String)]
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val gc0 = if (debug) gcMillis else 0L
      val t0 = System.nanoTime()
      try Housekeeping.scopedBlocks(spark) { force(fn(spark, sfDir)) }
      catch { case e: Throwable =>
        errors ::= name -> String.valueOf(e.getMessage).take(200)
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      if (debug) {
        val rt = Runtime.getRuntime
        val usedMb = (rt.totalMemory - rt.freeMemory) / (1 << 20)
        System.err.println(
          f"[bench-debug] $name%-28s $sec%8.3f s  heap=${usedMb}%5d MB  gc+=${gcMillis - gc0}%5d ms")
      }
      sec
    }
    // Two timed rounds, report the per-query MINIMUM: the steady-state
    // time a warmed executor would sustain. A single-shot measurement on
    // a shared VM conflates the plan with host noise — measured: one run
    // had a contiguous ~2.5 min stall window that put a 0.4 s scan at
    // 29.9 s and a 1.3 s join-agg at 55.7 s with ZERO JVM GC time, while
    // the identical plans sat at baseline in the adjacent runs. Min-of-2
    // still pays every real cost (both rounds run the full query) but
    // cannot double-charge a transient host stall to an unlucky query.
    val round1 = picked.map { case (name, fn) => name -> timeOnce(name, fn) }
    val results = picked.map { case (name, fn) =>
      name -> math.min(round1(name), timeOnce(name, fn))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // a query that fails in BOTH timed rounds lands in `errors` twice —
    // dedupe by name so the JSON object has unique keys and n_errors
    // counts failing queries, not failing attempts
    val errList = errors.reverse.distinctBy(_._1)
    val errJson = errList
      .map { case (k, m) => s"${jstr(k)}:${jstr(m)}" }.mkString("{", ",", "}")
    // "value"/"sf" come AFTER the (large) per-query map, and a short
    // standalone summary line is printed LAST: at 78+ queries the map
    // outgrew the driver's tail-capture window in round 3 and the leading
    // "value" field was truncated away (BENCH_r03 "parsed": null). Any
    // tail window now retains the total twice over.
    val fullJson =
      s"""{"metric":"total","unit":"sec","queries":$qs,"errors":$errJson,"value":$total,"sf":"$sfDir"}"""
    // The driver's tail window keeps only ~2000 chars — at 192 queries
    // that retains ~30% of the per-query map, so round-over-round triage
    // was working from a sample. Persist the COMPLETE per-query JSON as a
    // file artifact too (target/bench_<sfname>.json); stdout is unchanged.
    try {
      val sfName = new java.io.File(sfDir).getName
      new java.io.File("target").mkdirs()
      // A FILTERED probe run must never overwrite the full-catalog
      // artifact: round 11's committed sf0.1 anchor turned out to be a
      // 2-query x36/x3d probe that had silently replaced the 192-query
      // recording at the same path. Partial runs get their own file.
      val suffix = if (filter.isDefined) "_filtered" else ""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"target/bench_$sfName$suffix.json"), fullJson + "\n")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    println(fullJson)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errList.size},"sf":"$sfDir"}""")
    // artifact build/read counters (stderr, not the JSON contract)
    System.err.println(s"[graft] artifact tallies: ${Artifact.tallies}")
    spark.stop()
  }

  /** JSON string literal (Bench's error map, Verify's oracle_sql.json):
    * escapes backslash, quote and ALL control chars (<0x20) — a tab or CR
    * in a catalog entry's SQL would otherwise make `json.load` of
    * oracle_sql.json fail and silently zero an oracle compare.
    */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
