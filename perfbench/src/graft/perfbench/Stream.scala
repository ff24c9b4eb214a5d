package graft.perfbench

import java.io.File
import java.time.Instant
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.metrics.source.CodegenMetrics
import graft.Tables
import graft.streaming.Topologies

/** The `stream-paid-orders` workload: `Topologies.paidOrders` over two
  * file sources, written to the parquet sink with a checkpoint.
  *
  *  - catch-up (closed loop): the backlog is landed before the query
  *    starts and drained as fast as the query can;
  *  - warm drains (closed loop): a run of slots lands and is drained; the
  *    first drain warms the JVM up untimed, the rest are measured;
  *  - live (open loop): before each measured drain, one generator thread
  *    lands an orders file and a payments file per slot of a live segment
  *    on a fixed schedule, whatever the query does.
  *
  * Live segments and drains alternate so that the host speed probes taken
  * after each of them (the query is idle then) span the time both were
  * measured in.
  *
  * Latency per live file is the commit time of the micro-batch that read
  * it minus its scheduled landing time, both read back from the
  * checkpoint's own source and commit logs.
  */
final class Stream(spark: SparkSession, gen: Generator, seconds: Double,
    rec: Option[Recorder], spans: Spans, epoch0Ms: Long, cores: Int, speed: HostSpeed) {
  import Generator._

  /** Host speed probes after the catch-up, after each drain and after
    * each live segment: the stream is idle at each of these points.
    */
  private val ProbesPerPhase = 20
  private val sink = s"${gen.dir}/out"
  private val checkpoint = s"${gen.dir}/checkpoint"

  private def orders(df: DataFrame) = df.select(col("orderId"), col("user"), col("products"),
    col("amount"), timestamp_millis(col("ts_ms")).as("ts"))
  private def payments(df: DataFrame) = df.select(col("orderId"), col("status"),
    timestamp_millis(col("ts_ms")).as("ts"))
  private def profiles = spark.read.schema(profileSchema).json(gen.profilesFile)
  private def discounts = Tables.discounts(spark).withColumnRenamed("factor", "amount")

  def run(): RunResult = {
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = rec.map { _ =>
      val l = new StreamingQueryListener {
        import StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(l)
      l
    }
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    def landAll(slots: Range): Unit = slots.foreach { k =>
      gen.land(gen.stagedOrders(k), gen.ordersIn)
      gen.land(gen.stagedPayments(k), gen.paymentsIn)
    }
    landAll(gen.backlog)
    val cg0 = (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    def src = spark.readStream.option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
    val query = Topologies.paidOrders(
        orders(src.schema(orderSchema).json(gen.ordersIn)),
        payments(src.schema(paymentSchema).json(gen.paymentsIn)),
        profiles, discounts, JoinWindow)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
    val startMs = System.currentTimeMillis()
    val root = spans.add(0, "stream", "stream", startMs - epoch0Ms, Double.NaN)
    var failed = false
    // scheduled and actual landing time of every live file, by file name
    val scheduled = mutable.LinkedHashMap.empty[String, Long]
    val landed = mutable.Map.empty[String, Long]
    val drainStartMs = mutable.ArrayBuffer.empty[Long]
    // live segments: an orders file and a payments file per slot, half a
    // slot apart, on a fixed schedule over LiveShare of the measuring time
    val interval = LiveShare * seconds * 1000 / gen.live.map(_.size).sum
    try {
      query.processAllAvailable()
      speed.probe(ProbesPerPhase)
      gen.phases.foreach { case Phase(live, slots) =>
        if (live) {
          val t0 = System.currentTimeMillis() + 200
          val plan = slots.zipWithIndex.flatMap { case (k, i) =>
            Seq((t0 + (i * interval).toLong, gen.stagedOrders(k), gen.ordersIn),
              (t0 + ((i + 0.5) * interval).toLong, gen.stagedPayments(k), gen.paymentsIn))
          }
          val lander = new Thread(() => plan.foreach { case (at, staged, into) =>
            val wait = at - System.currentTimeMillis()
            if (wait > 0) Thread.sleep(wait)
            gen.land(staged, into)
            val name = new File(staged).getName
            landed.synchronized { landed(name) = System.currentTimeMillis() }
          }, "perfbench-generator")
          plan.foreach { case (at, staged, _) => scheduled(new File(staged).getName) = at }
          lander.start()
          lander.join()
        } else {
          // The drain's first slot lands alone; the rest lands once the
          // micro-batch that took it has logged its offsets, so no listing
          // can catch the landing half done and every drain takes the same
          // micro-batches: the first slot, then two full ones.
          drainStartMs += System.currentTimeMillis()
          val logged = lastOffsetBatch
          landAll(slots.take(1))
          val deadline = System.currentTimeMillis() + 60000
          while (lastOffsetBatch == logged && System.currentTimeMillis() < deadline) Thread.sleep(1)
          landAll(slots.drop(1))
        }
        query.processAllAvailable()
        speed.probe(ProbesPerPhase)
      }
    } catch { case e: Throwable =>
      failed = true
      System.err.println(s"[perfbench] stream FAILED: ${e.getMessage}")
    } finally query.stop()
    val endMs = System.currentTimeMillis()
    val rss = Main.peakRssMb()
    val compile = ((CodeGenerator.compileTime - cg0._1) / 1e6,
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0._2).toDouble)

    val log = new CheckpointLog(checkpoint)
    def files(slots: Range) = slots.flatMap(k => Seq(gen.orderFile(k), gen.paymentFile(k)))
    def lastCommit(slots: Range) = files(slots).map(f => log.commitMs(log.batchOf(f))).max
    val catchupS = (lastCommit(gen.backlog) - startMs) / 1e3
    val drainS = gen.drains.zip(drainStartMs).drop(WarmupDrains)
      .map { case (slots, t0) => (lastCommit(slots) - t0) / 1e3 }
    val latencies = scheduled.toSeq.map { case (f, at) => (log.commitMs(log.batchOf(f)) - at) / 1e3 }
    val lateMs = scheduled.map { case (f, at) => (landed(f) - at).toDouble }.max
    val all = query.recentProgress.toSeq

    val raw = Map(
      "cold_pass_s" -> catchupS,
      "warm_pass_s" -> Stats.median(drainS),
      "latency_p50_s" -> Stats.quantile(latencies, 0.5),
      "latency_p75_s" -> Stats.quantile(latencies, 0.75))
    val e2e = raw.map { case (k, v) => k -> v * speed.factor } + ("peak_rss_mb" -> rss)

    listener.foreach(spark.streams.removeListener)
    val layers = rec.map { r =>
      val (_, totals, _) = r.harvest()
      r.close()
      val ps = {
        import scala.jdk.CollectionConverters._
        progress.asScala.toSeq.sortBy(_.batchId)
      }
      val landedAt = landed.toMap ++ files(gen.backlog).map(_ -> startMs) ++
        gen.drains.zip(drainStartMs).flatMap { case (slots, t0) => files(slots).map(_ -> t0) }
      perLayer(ps, totals.getOrElse("stream|exec", new ExecTotals), compile, log,
        landedAt, lateMs, root)
    }.getOrElse(Map.empty[String, Double])
    spans.close(root, endMs - epoch0Ms)

    val c0 = System.nanoTime()
    val wrong = if (failed) Seq("stream") else check()
    val checkS = (System.nanoTime() - c0) / 1e9
    RunResult(e2e, raw, layers, attempted = math.max(all.size, 1), failed = if (failed) 1 else 0, wrong,
      Map("catchup_rows_per_s" -> gen.rows(gen.backlog) / catchupS,
        "live_latency_p90_s" -> Stats.quantile(latencies, 0.9),
        "live_files" -> latencies.size, "micro_batches" -> all.size, "drains_s" -> drainS,
        "check_s" -> checkS,
        "drain_batches" -> gen.drains.map(d => files(d).map(log.batchOf).distinct.size),
        "gen_late_ms_max" -> lateMs, "generator" -> gen.params))
  }

  /** The newest micro-batch in the checkpoint's offset log, -1 if none. */
  private def lastOffsetBatch: Long =
    Option(new File(s"$checkpoint/offsets").listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit))
      .foldLeft(-1L)((m, n) => math.max(m, n.toLong))

  /** The sink, read through its `_spark_metadata` commit log, must equal
    * the batch application of the same topology to the same files.
    */
  private def check(): Seq[String] = {
    val batch = Topologies.paidOrders(
      orders(spark.read.schema(orderSchema).json(gen.ordersIn)),
      payments(spark.read.schema(paymentSchema).json(gen.paymentsIn)),
      profiles, discounts, JoinWindow)
    val expected = Digest.of(batch)._1
    val got = Digest.of(spark.read.parquet(sink))._1
    if (expected == got && !expected.startsWith("0:")) Nil
    else {
      System.err.println(s"[perfbench] stream output $got, batch fixpoint $expected")
      Seq("stream")
    }
  }

  private def perLayer(ps: Seq[StreamingQueryProgress], ex: ExecTotals, compile: (Double, Double),
      log: CheckpointLog, landed: Map[String, Long], lateMs: Double,
      root: Int): Map[String, Double] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(f))
    val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    ps.foreach { p =>
      val t0 = Instant.parse(p.timestamp).toEpochMilli - epoch0Ms.toDouble
      val group = s"batch${p.batchId}"
      val id = spans.add(root, group, "micro-batch", t0, t0 + dur(p, "triggerExecution"))
      phases.foldLeft(t0) { (at, k) => spans.add(id, group, k, at, at + dur(p, k)); at + dur(p, k) }
    }
    val nonEmpty = ps.filter(_.numInputRows > 0)
    // files landed but not yet read when each micro-batch started
    val readBy = landed.keys.map(f => f -> log.batchOf(f)).toMap
    val backlog = ps.map { p =>
      val t = Instant.parse(p.timestamp).toEpochMilli
      landed.count { case (f, at) => at <= t && readBy(f) >= p.batchId }.toDouble
    }
    val watermarkLag = ps.flatMap { p =>
      for (mx <- Option(p.eventTime.get("max")); wm <- Option(p.eventTime.get("watermark")))
        yield (Instant.parse(mx).toEpochMilli - Instant.parse(wm).toEpochMilli) / 1e3
    }
    val trigger = ps.map(dur(_, "triggerExecution")).sum
    val phaseSum = ps.map(p => phases.map(dur(p, _)).sum).sum
    val execS = ps.map(dur(_, "addBatch")).sum / 1e3
    ex.metrics ++ Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.empty_batches" -> ps.count(_.numInputRows == 0).toDouble,
      "streaming.rows_per_batch" -> (if (nonEmpty.isEmpty) 0.0 else nonEmpty.map(_.numInputRows).sum.toDouble / nonEmpty.size),
      "streaming.latest_offset_ms" -> med(dur(_, "latestOffset")),
      "streaming.get_batch_ms" -> med(dur(_, "getBatch")),
      "streaming.query_planning_ms" -> med(dur(_, "queryPlanning")),
      "streaming.add_batch_ms" -> med(dur(_, "addBatch")),
      "streaming.wal_commit_ms" -> med(dur(_, "walCommit")),
      "streaming.commit_offsets_ms" -> med(dur(_, "commitOffsets")),
      "streaming.state_rows_max" -> (if (ps.isEmpty) 0.0 else ps.map(_.stateOperators.map(_.numRowsTotal).sum.toDouble).max),
      "streaming.state_mb_max" -> (if (ps.isEmpty) 0.0 else ps.map(_.stateOperators.map(_.memoryUsedBytes).sum / 1e6).max),
      "streaming.state_commit_ms" -> med(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "streaming.watermark_lag_s" -> (if (watermarkLag.isEmpty) 0.0 else Stats.median(watermarkLag)),
      "streaming.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "streaming.rows_dropped_by_watermark" -> ps.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble,
      "gen.late_ms_max" -> lateMs,
      "exec.s" -> execS,
      "exec.busy_ratio" -> (if (execS > 0) ex.runMs / 1e3 / (execS * cores) else 0.0),
      "codegen.compile_ms" -> compile._1,
      "codegen.classes" -> compile._2,
      "trace.pass_wall_s" -> trigger / 1e3,
      "trace.layer_sum_s" -> phaseSum / 1e3,
      "trace.residual_ratio" -> (if (trigger > 0) (trigger - phaseSum) / trigger else 0.0))
  }
}

/** The checkpoint's own records: which micro-batch read each file, and
  * when each micro-batch committed. A file source logs every file it
  * admits under its own log offset; the offset log records, per
  * micro-batch, the log offset each source had reached; the commit log's
  * file times are the commit times.
  */
final class CheckpointLog(checkpoint: String) {
  private val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
  private val logOffset = "\"logOffset\":(\\d+)".r
  private def files(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filterNot(f => f.getName.startsWith(".") || f.isDirectory)
  private def lines(f: File): Seq[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  // file name -> (source index, log offset that admitted it)
  private val admitted: Map[String, (Int, Long)] =
    Option(new File(s"$checkpoint/sources").listFiles()).getOrElse(Array.empty[File]).toSeq
      .flatMap { d =>
        val source = d.getName.toInt
        files(d.getPath).flatMap(lines).flatMap(l => entry.findFirstMatchIn(l).map(m =>
          new File(m.group(1)).getName -> (source, m.group(2).toLong)))
      }.toMap
  // micro-batch -> log offset reached by each source
  private val reached: Seq[(Long, IndexedSeq[Long])] =
    files(s"$checkpoint/offsets").map { f =>
      f.getName.toLong -> lines(f).drop(2).map(l =>
        logOffset.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(-1L)).toIndexedSeq
    }.sortBy(_._1)

  def batchOf(file: String): Long = {
    val (source, offset) = admitted.getOrElse(file,
      throw new IllegalStateException(s"$file was never read"))
    reached.collectFirst { case (b, offs) if offs(source) >= offset => b }
      .getOrElse(throw new IllegalStateException(s"no micro-batch read $file"))
  }
  def commitMs(batch: Long): Long = {
    val f = new File(s"$checkpoint/commits/$batch")
    require(f.exists, s"micro-batch $batch has no commit record")
    f.lastModified
  }
}
