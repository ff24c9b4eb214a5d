package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import graft.{ExtensionQueries, Housekeeping, SparkEntry}

/** The `catalog` workload: catalog entries run one after another by one
  * client (closed loop), each forced through the `noop` sink as in
  * `graft.Bench`. Pass 0 runs in the fresh session (cold); `warmup`
  * untimed passes follow, while the JIT compilers still speed the JVM up
  * from pass to pass; then measured passes until the measuring time is
  * spent, at least `minMeasured`. Every pass runs the entries in its own
  * order, drawn from the seed.
  */
final class Batch(spark: SparkSession, dir: String, names: Seq[String], seed: Long,
    seconds: Double, warmup: Int, minMeasured: Int, rec: Option[Recorder], spans: Spans,
    speed: HostSpeed) {

  private val catalog = SparkEntry.queries
  names.foreach(n => require(catalog.contains(n), s"unknown catalog entry $n"))

  /** One timed query: wall seconds and, when traced, its layer figures. */
  final case class Sample(pass: Int, name: String, wallS: Double, ok: Boolean,
      layers: Map[String, Double])

  val samples = mutable.ArrayBuffer.empty[Sample]
  val passWall = mutable.ArrayBuffer.empty[Double]
  val codegen = mutable.ArrayBuffer.empty[(Double, Double)] // per pass: (compile ms, classes)
  // time the traced run spends reading its listeners and the host speed
  // probes take, both kept out of pass wall time
  private var traceMs = 0.0

  def run(): Unit = {
    val root = spans.add(0, "workload", "workload", spans.nowMs, Double.NaN)
    val start = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // cold pass, warm-up passes, at least minMeasured measured passes, then
    // more while one more, timed like the last, still ends within the
    // measuring time
    while (pass <= warmup + minMeasured || elapsed + passWall.last <= seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val p0 = spans.nowMs
      val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      val passId = spans.add(root, s"pass$pass", "pass", p0, Double.NaN)
      traceMs = 0.0
      order.foreach { n =>
        samples += runOne(pass, n, passId)
        if (pass > 0) traceMs += speed.probe()
      }
      rec.foreach(_.untag())
      val p1 = spans.nowMs
      passWall += (p1 - p0 - traceMs) / 1000
      codegen += (((CodeGenerator.compileTime - cg0._1) / 1e6,
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2).toDouble))
      spans.close(passId, p1)
      pass += 1
    }
    spans.close(root, spans.nowMs)
  }

  private def runOne(pass: Int, name: String, passId: Int): Sample = {
    val group = s"p$pass:$name"
    val fn = catalog(name)
    val art0 = (ExtensionQueries.pairsBuilds.get, ExtensionQueries.pairsReads.get)
    val persistedBefore = if (rec.isDefined) spark.sparkContext.getPersistentRDDs.keySet else Set.empty[Int]
    var persisted = 0
    var analysisMs = 0.0
    rec.foreach(_.tag(group, "construct"))
    val q0 = System.nanoTime()
    var q1 = q0
    var ok = true
    try Housekeeping.scopedBlocks(spark) {
      val df = fn(spark, dir)
      q1 = System.nanoTime()
      rec.foreach(_.tag(group, "exec"))
      df.write.mode("overwrite").format("noop").save()
      if (rec.isDefined) {
        analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
        persisted = spark.sparkContext.getPersistentRDDs.keySet.count(!persistedBefore.contains(_))
      }
    } catch { case e: Throwable =>
      ok = false
      System.err.println(s"[perfbench] $name FAILED: ${e.getMessage}")
    }
    val q2 = System.nanoTime()
    if (q1 == q0) q1 = q2
    val wallS = (q2 - q0) / 1e9
    val qid = spans.add(passId, group, "query", spans.msOf(q0), spans.msOf(q2))
    spans.add(qid, group, "construct", spans.msOf(q0), spans.msOf(q1))
    val layers = rec match {
      case None =>
        spans.add(qid, group, "plan+exec", spans.msOf(q1), spans.msOf(q2))
        Map.empty[String, Double]
      case Some(r) =>
        val m = traced(r, group, qid, q1, q2)
        m ++ Map(
          "catalog.construct_s" -> (q1 - q0) / 1e9,
          "catalog.artifact_builds" -> (ExtensionQueries.pairsBuilds.get - art0._1).toDouble,
          "catalog.artifact_reads" -> (ExtensionQueries.pairsReads.get - art0._2).toDouble,
          "housekeeping.persisted_rdds" -> persisted.toDouble,
          "catalyst.analysis_ms" -> analysisMs)
    }
    Sample(pass, name, wallS, ok, layers)
  }

  /** Per-query layer figures from the listeners, read after the bus drained. */
  private def traced(r: Recorder, group: String, qid: Int, q1: Long, q2: Long): Map[String, Double] = {
    val h0 = spans.nowMs
    val (jobs, totals, qes) = r.harvest()
    traceMs += spans.nowMs - h0
    val mine = jobs.filter(_.tag == group)
    val cons = mine.filter(_.phase == "construct")
    def jobS(js: Seq[JobRecord]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    val noop = qes.collect { case (_, qe) if isNoopWrite(qe) => qe }.lastOption
    val phases = noop.map(_.tracker.phases).getOrElse(Map.empty)
    def phaseMs(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val planMs = phaseMs("optimization") + phaseMs("planning")
    val execMs = math.max(0.0, (q2 - q1) / 1e6 - planMs)
    val planEnd = spans.msOf(q1) + planMs
    spans.add(qid, group, "plan", spans.msOf(q1), planEnd)
    spans.add(qid, group, "exec", planEnd, spans.msOf(q2))
    val census = noop.map(qe => PlanCensus.of(qe.executedPlan)).getOrElse(PlanCensus(0, 0, 0, 0, 0, 0, 0, 0))
    totals.getOrElse(s"$group|exec", new ExecTotals).metrics ++ Map(
      "catalog.construct_jobs" -> cons.size.toDouble,
      "tables.infer_jobs" -> cons.count(_.module == "tables").toDouble,
      "tables.infer_s" -> jobS(cons.filter(_.module == "tables")),
      "ops.eager_jobs" -> cons.count(_.module == "ops").toDouble,
      "ops.eager_s" -> jobS(cons.filter(_.module == "ops")),
      "catalyst.optimization_ms" -> phaseMs("optimization"),
      "catalyst.planning_ms" -> phaseMs("planning"),
      "trace.plan_s" -> planMs / 1e3,
      "exec.s" -> execMs / 1e3,
      "functions.expr_nodes" -> census.graftExprs.toDouble,
      "plan.scans" -> census.scans.toDouble,
      "plan.exchanges" -> census.exchanges.toDouble,
      "plan.reused_exchanges" -> census.reused.toDouble,
      "plan.bhj" -> census.bhj.toDouble,
      "plan.smj" -> census.smj.toDouble,
      "plan.bnlj" -> census.bnlj.toDouble,
      "plan.sort_aggs" -> census.sortAggs.toDouble)
  }

  private def isNoopWrite(qe: org.apache.spark.sql.execution.QueryExecution): Boolean =
    qe.logical match {
      case w: V2WriteCommand => w.table.name.toLowerCase.contains("noop")
      case _ => false
    }

  /** Re-run every entry outside the timed passes and compare its digest
    * with the reference; a `*_check` entry must also return a passing
    * verdict. Returns the names of the entries that are wrong.
    */
  def check(reference: Map[String, String]): Seq[String] = names.sorted.filterNot { n =>
    try Housekeeping.scopedBlocks(spark) {
      val (digest, notTrue) = Digest.of(catalog(n)(spark, dir))
      val good = reference.get(n).contains(digest) && (!n.endsWith("_check") || notTrue == 0)
      if (!good) System.err.println(
        s"[perfbench] $n wrong: digest $digest, reference ${reference.getOrElse(n, "missing")}")
      good
    } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $n check failed: ${e.getMessage}")
      false
    }
  }

  /** Samples of the measured passes. */
  def measured: Seq[Sample] = samples.filter(_.pass > warmup).toSeq

  /** End-to-end figures (seconds). A warm pass is the sum over entries of
    * each entry's median time over the measured passes, so one slow pass
    * of one entry does not move it.
    */
  def endToEnd: Map[String, Double] = {
    val warm = measured
    val lat = warm.map(_.wallS).toSeq
    Map(
      "cold_pass_s" -> samples.filter(_.pass == 0).map(_.wallS).sum,
      "warm_pass_s" -> warm.groupBy(_.name).values.map(q => Stats.median(q.map(_.wallS).toSeq)).sum,
      "latency_p50_s" -> Stats.quantile(lat, 0.5),
      "latency_p75_s" -> Stats.quantile(lat, 0.75))
  }

  /** [[endToEnd]] at reference host speed. */
  def atReference: Map[String, Double] = endToEnd.map { case (k, v) => k -> v * speed.factor }

  /** Per-layer figures: each is the median over measured passes of its
    * per-pass sum (peak memory: per-pass max); codegen figures come
    * from the cold pass, where compilation happens.
    */
  def perLayer(cores: Int): Map[String, Double] = {
    val byPass = measured.groupBy(_.pass).values.toSeq
    val keys = samples.flatMap(_.layers.keys).distinct
    val med = keys.map { k =>
      val perPass = byPass.map { ss =>
        val xs = ss.map(_.layers.getOrElse(k, 0.0))
        if (k == "exec.peak_exec_mem_mb") xs.max else xs.sum
      }
      k -> Stats.median(perPass)
    }.toMap
    val exchanges = med("plan.exchanges") + med("plan.reused_exchanges")
    val layerSum = med("catalog.construct_s") + med("trace.plan_s") + med("exec.s")
    val wall = Stats.median(passWall.drop(1 + warmup).toSeq)
    med ++ Map(
      "exec.busy_ratio" -> (if (med("exec.s") > 0) med("exec.task_run_s") / (med("exec.s") * cores) else 0.0),
      "plan.exchange_reuse_ratio" -> (if (exchanges > 0) med("plan.reused_exchanges") / exchanges else 0.0),
      "codegen.compile_ms" -> codegen.head._1,
      "codegen.classes" -> codegen.head._2,
      "codegen.warm_classes" -> Stats.median(codegen.drop(1 + warmup).map(_._2).toSeq),
      "trace.pass_wall_s" -> wall,
      "trace.layer_sum_s" -> layerSum,
      "trace.residual_ratio" -> (if (wall > 0) (wall - layerSum) / wall else 0.0))
  }

  def attempted: Int = samples.size
  def failed: Int = samples.count(!_.ok)
}
