package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The session front door: configs-as-data and function availability. */
class EngineSpec extends SparkSpec {

  test("sessionConfigs pin the cross-engine determinism and extension settings") {
    assert(Engine.sessionConfigs("spark.sql.session.timeZone") === "UTC")
    assert(Engine.sessionConfigs("spark.sql.legacy.parquet.nanosAsLong") === "true")
    val ext = Engine.sessionConfigs("spark.sql.extensions")
    assert(ext.contains("GraftSparkExtensions") && ext.contains("GraftGuardrails"))
  }

  test("sessionConfigs route local file: I/O through the fork-free filesystem") {
    assert(Engine.sessionConfigs("spark.hadoop.fs.file.impl") ===
      classOf[ForklessLocalFileSystem].getName)
    assert(Engine.sessionConfigs("spark.hadoop.fs.AbstractFileSystem.file.impl") ===
      classOf[ForklessLocalFs].getName)
    val conf = spark.sparkContext.hadoopConfiguration
    // FileSystem API (the parquet sink): the JVM-cached instance
    assert(org.apache.hadoop.fs.FileSystem.get(URI.create("file:///"), conf).getClass ===
      classOf[ForklessLocalFileSystem])
    // FileContext API (checkpoint logs and state stores)
    assert(org.apache.hadoop.fs.FileContext.getFileContext(URI.create("file:///"), conf)
      .getDefaultFileSystem.getClass === classOf[ForklessLocalFs])
  }

  test("Engine.local sessions carry every sessionConfigs entry") {
    // the shared fixture is Engine.local(4) — the same factory Bench and
    // Verify build their sessions with
    for ((k, v) <- Engine.sessionConfigs)
      assert(spark.conf.get(k) === v, k)
  }

  test("session() exposes the SQL function surface even on a pre-existing session") {
    val probe = "SELECT quality_score('A clean, well formed sentence.') AS q"
    // a session that lacks the function: the shared one, minus it
    spark.sql("DROP TEMPORARY FUNCTION quality_score")
    try {
      intercept[org.apache.spark.sql.AnalysisException] { spark.sql(probe).collect() }
      // session() joins that session — extensions can't apply to it, so
      // session() must fall back to programmatic registration
      val s = Engine.session()
      assert(s eq spark)
      assert(!s.sql(probe).collect()(0).isNullAt(0))
      // idempotent: calling again must not throw on re-registration
      Engine.session()
    } finally graft.functions.GraftFunctions.register(spark)
  }

  private def scalaFiles(root: String): Seq[Path] =
    scala.util.Using.resource(Files.walk(Paths.get(root))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
  private def source(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  test("Engine.scala is the only place a SparkSession builder is made") {
    val needle = "SparkSession" + ".builder()"
    val hits = (scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala"))
      .filter(p => source(p).contains(needle))
      .map(_.getFileName.toString)
    assert(hits === Seq("Engine.scala"))
  }

  test("no src/main file registers a Spark, query-execution or streaming-query listener") {
    // the registration calls, and the conf keys that register by class name
    val needles = Seq("addSparkListener", "addListener(", "listenerManager",
      "spark.extraListeners", "spark.sql.queryExecutionListeners",
      "spark.sql.streaming.streamingQueryListeners")
    val hits = scalaFiles("src/main/scala")
      .filter(p => needles.exists(source(p).contains))
      .map(_.getFileName.toString)
    assert(hits === Nil)
  }

  test("streaming/ groups with state only in keyed, unions only in coGroup; the per-join envelopes and the second state API stay gone") {
    // a member's body: from its signature to its closing brace at member indent
    def body(signature: String) = ("""(?s)\n  """ + signature + """.*?\n  \}\n""").r
    val (keyed, coGroup) = (body("""private\[streaming\] def keyed\["""),
      body("""private\[streaming\] def coGroup\["""))
    val streaming = scalaFiles("src/main/scala/graft/streaming").map(source)
    val Seq(keyedBody) = streaming.flatMap(keyed.findAllIn(_))
    assert(keyedBody.contains(".flatMapGroupsWithState") && keyedBody.contains("sortBy"))
    val rest = streaming.map(keyed.replaceAllIn(_, ""))
    assert(!rest.exists(_.contains(".flatMapGroupsWithState")))
    // the one per-batch input order is the keyed step's; what else sorts is state
    val stateSorts = Seq("st.children.toSeq.sortBy(_._1)", "done.sortBy(_.startMs)",
      ".sortBy { case (p, c) => (-c, p) }", ".sortBy(q => (q.tsMs, q.tb))",
      ".sortBy(t => (t.tsMs, t.tradeId))")
    assert(!rest.exists(src => stateSorts.foldLeft(src)(_.replace(_, "")).contains("sortBy")))
    val Seq(coGroupBody) = streaming.flatMap(coGroup.findAllIn(_))
    assert(coGroupBody.contains("unionByName"))
    assert(!streaming.exists(coGroup.replaceAllIn(_, "").contains("unionByName")))
    // the per-join envelopes and the second state API are gone from src/main
    val gone = Seq("CoEvent", "TableSide", "FkEvent", "AsofTick", "J3Event", "fkCoEvents",
      "transformWithState", "mapGroupsWithState", "StatefulProcessor")
    val hits = scalaFiles("src/main/scala")
      .filter(p => gone.exists(source(p).contains))
      .map(_.getFileName.toString)
    assert(hits === Nil)
  }
}
