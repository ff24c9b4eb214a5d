package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.{OrderEvent, PaymentEvent, Sinks, Sources, Topologies}

/** Sink-operator tests (SURVEY §2.5 K1/K2, §2.2 P5): the durable parquet
  * sink round-trips with exactly-once file-commit semantics, foreachBatch
  * observes every micro-batch, and the console/batch sinks run.
  */
class SinksSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse(s))

  private val orders = Seq(
    OrderEvent("o1", "alice", Seq("a"), 4000.0, ts("2024-01-01T00:00:01Z")),
    OrderEvent("o2", "bob", Seq("b"), 800.0, ts("2024-01-01T00:00:02Z")),
    OrderEvent("o3", "carol", Seq("c"), 1500.0, ts("2024-01-01T00:00:03Z")))

  test("K1 parquet sink: expensiveOrders stream lands durably and re-reads (KSA:110)") {
    val out = Files.createTempDirectory("graft-sink-out").toString
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    val q = Sinks.toParquet(Topologies.expensiveOrders(df), out, ckpt).start()
    ms.addData(orders)
    q.processAllAvailable()
    q.stop()
    val landed = spark.read.parquet(out)
    assert(rowsOf(landed.select(col("orderId"))) === Set(Seq("o1"), Seq("o3")))
  }

  test("K1 foreachBatch sink observes each micro-batch with its id") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    ms.addData(orders.take(2))
    val q = Sinks.runToFixpoint(Sinks.foreachBatchSink(df, "append") { (batch, id) =>
      seen += ((id, batch.count()))
    })
    ms.addData(orders.drop(2)); q.processAllAvailable()
    q.stop()
    assert(seen.map(_._2).sum === 3L)
    assert(seen.map(_._1).distinct.size === seen.size) // distinct batch ids
  }

  test("K2/P5 console sinks run without error (KSA:117, 130-132, 150-152)") {
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    val q = Sinks.toConsole(Topologies.purchasedProducts(df)).start()
    ms.addData(orders)
    q.processAllAvailable()
    q.stop()
    Sinks.printEach(orders.toDF(), 2) // batch foreach(println) analog
  }

  test("K1 checkpoint restart over a durable file source resumes exactly-once") {
    val in = Files.createTempDirectory("graft-restart-in").toString
    val out = Files.createTempDirectory("graft-restart-out").toString
    val ckpt = Files.createTempDirectory("graft-restart-ckpt").toString
    val schema = orders.toDF().schema

    // first run: two orders land via the durable source
    orders.take(2).toDF().coalesce(1).write.mode("append").parquet(in)
    val q1 = Sinks.toParquet(
      Sources.fileStream(spark, in, schema).select("orderId", "amount"), out, ckpt).start()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(out).count() === 2)

    // new input arrives while the query is DOWN; restart from the same
    // checkpoint — committed files are not replayed, the new one is picked up
    orders.drop(2).toDF().coalesce(1).write.mode("append").parquet(in)
    val q2 = Sinks.toParquet(
      Sources.fileStream(spark, in, schema).select("orderId", "amount"), out, ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    val landed = spark.read.parquet(out)
    assert(landed.count() === 3) // no duplicates, no loss
    assert(rowsOf(landed.select(col("orderId"))) ===
      Set(Seq("o1"), Seq("o2"), Seq("o3")))
  }

  test("chained streaming aggregation state survives a checkpoint restart") {
    // trendingKeys holds TWO stateful operators' state (windowed counts +
    // per-window argmax); both must recover from the checkpoint for the
    // fixpoint to match the batch result
    val in = Files.createTempDirectory("graft-trend-in").toString
    val out = Files.createTempDirectory("graft-trend-out").toString
    val ckpt = Files.createTempDirectory("graft-trend-ckpt").toString
    val evs = Seq(
      OrderEvent("e1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:01Z")),
      OrderEvent("e2", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:03Z")),
      OrderEvent("e3", "bob", Seq("a"), 1.0, ts("2024-01-01T00:00:05Z")))
    val flush = Seq(
      OrderEvent("flush", "zz", Seq("x"), 1.0, ts("2024-01-03T00:00:00Z")))
    val schema = evs.toDF().schema
    def top() = Topologies.trendingKeys(
      Sources.fileStream(spark, in, schema), col("user"), col("ts"),
      "10 seconds", "1 hour")

    // run 1: events arrive but no watermark flush — counts are buffered
    evs.toDF().coalesce(1).write.mode("append").parquet(in)
    val q1 = Sinks.toParquet(top(), out, ckpt).start()
    q1.processAllAvailable()
    q1.stop()

    // the flush arrives while the query is DOWN; restart must recover both
    // operators' buffered state to close and emit the window
    flush.toDF().coalesce(1).write.mode("append").parquet(in)
    val q2 = Sinks.toParquet(top(), out, ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    val base = ts("2024-01-01T00:00:00Z")
    val landed = spark.read.parquet(out)
    assert(rowsOf(landed) === Set(Seq(base, "alice", 2L)))
  }

  test("stream-stream join state survives a checkpoint restart (flagship J3 durability)") {
    val oIn = Files.createTempDirectory("graft-j3-orders").toString
    val pIn = Files.createTempDirectory("graft-j3-payments").toString
    val out = Files.createTempDirectory("graft-j3-out").toString
    val ckpt = Files.createTempDirectory("graft-j3-ckpt").toString
    val oSchema = orders.toDF().schema
    val payments = flagshipPayments // o1 within +5 min, o3 outside → never joins
    val pSchema = payments.toDF().schema

    def joined() = Sources.fileStream(spark, oIn, oSchema)
      .withWatermark("ts", "5 minutes")
      .join(
        Sources.fileStream(spark, pIn, pSchema)
          .withColumnRenamed("orderId", "p_orderId")
          .withColumnRenamed("ts", "pts")
          .withWatermark("pts", "5 minutes"),
        expr("orderId = p_orderId AND pts BETWEEN ts - INTERVAL 5 minutes " +
          "AND ts + INTERVAL 5 minutes"))
      .select(col("orderId"), col("amount"), col("status"))

    // run 1: ONLY orders arrive — they are buffered in join state, nothing
    // can be emitted yet
    orders.toDF().coalesce(1).write.mode("append").parquet(oIn)
    val q1 = Sinks.toParquet(joined(), out, ckpt).start()
    q1.processAllAvailable()
    q1.stop()
    assert(!Files.list(Paths.get(out)).iterator().hasNext ||
      spark.read.parquet(out).count() === 0)

    // payments arrive while the query is DOWN; restart from the checkpoint
    // — the buffered order state must be recovered for the join to fire
    payments.toDF().coalesce(1).write.mode("append").parquet(pIn)
    val q2 = Sinks.toParquet(joined(), out, ckpt).start()
    q2.processAllAvailable()
    q2.stop()

    val landed = spark.read.parquet(out)
    assert(rowsOf(landed) === Set(Seq("o1", 4000.0, "PAID"))) // once, exactly
  }

  private val profiles = Seq(("alice", "gold"), ("bob", "basic"), ("carol", "gold"))
    .toDF("user", "profile")
  private val discounts = Seq(("gold", 0.5), ("basic", 0.9)).toDF("profile", "amount")
  private val flagshipPayments = Seq(
    PaymentEvent("o1", "PAID", ts("2024-01-01T00:04:00Z")), // within +5 min of o1
    PaymentEvent("o3", "PAID", ts("2024-01-01T01:00:00Z"))) // outside → never joins

  /** SinksSpec's J3 restart sequence through the real topology: run 1 sees
    * only orders, the payments land while the query is down, a restart
    * joins them, then a flush a day ahead on both sources closes every
    * interval, and a last restart with no new input emits nothing.
    * Returns the landed rows, the flush order excluded.
    */
  private def flagshipRestart(
      topology: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame): Seq[Seq[Any]] = {
    val oIn = Files.createTempDirectory("graft-flagship-orders").toString
    val pIn = Files.createTempDirectory("graft-flagship-payments").toString
    val out = Files.createTempDirectory("graft-flagship-out").toString
    val ckpt = Files.createTempDirectory("graft-flagship-ckpt").toString
    val pSchema = flagshipPayments.toDF().schema
    def run(): Unit = {
      val q = Sinks.toParquet(topology(Sources.fileStream(spark, oIn, orders.toDF().schema),
        Sources.fileStream(spark, pIn, pSchema), profiles, discounts), out, ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    def landed(): Seq[Seq[Any]] =
      if (!Files.list(Paths.get(out)).iterator().hasNext) Nil
      else spark.read.parquet(out).filter(col("orderId") =!= "oflush")
        .collect().map(_.toSeq).toSeq.sortBy(_.head.toString)

    orders.toDF().coalesce(1).write.mode("append").parquet(oIn)
    run()
    assert(landed() === Nil) // every order is still waiting in state
    flagshipPayments.toDF().coalesce(1).write.mode("append").parquet(pIn)
    run()
    // the recovered o1 joins its payment; nothing is null-padded before the flush
    assert(landed().map(r => (r.head, r.last)) === Seq(("o1", "PAID")))
    Seq(OrderEvent("oflush", "alice", Seq("x"), 1.0, ts("2024-01-02T00:00:00Z"))).toDF()
      .coalesce(1).write.mode("append").parquet(oIn)
    Seq(PaymentEvent("pflush", "PAID", ts("2024-01-02T00:00:00Z"))).toDF()
      .coalesce(1).write.mode("append").parquet(pIn)
    run()
    val afterFlush = landed()
    run()
    assert(landed() === afterFlush) // the last restart re-emits nothing
    afterFlush
  }

  test("flagship paidOrders J3 state survives a checkpoint restart: each pair once") {
    assert(flagshipRestart(Topologies.paidOrders(_, _, _, _)) ===
      Seq(Seq("o1", "alice", "gold", 2000.0, "PAID")))
  }

  test("flagship leftOuter J3 state survives a restart: unmatched orders null-padded once") {
    assert(flagshipRestart(Topologies.paidOrdersLeftOuter(_, _, _, _)) === Seq(
      Seq("o1", "alice", "gold", 2000.0, "PAID"),
      Seq("o2", "bob", "basic", 720.0, null),
      Seq("o3", "carol", "gold", 750.0, null)))
  }

  test("flagship leftOuter recovers from both kill -9 crash points: batch k re-runs, no loss or duplicates") {
    val oIn = Files.createTempDirectory("graft-crash-orders").toString
    val pIn = Files.createTempDirectory("graft-crash-payments").toString
    val out = Files.createTempDirectory("graft-crash-out").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt").toString
    // four slots an hour apart, each one orders file and one payments file
    // (flagshipRestart's rows, ids suffixed by slot); one file per source
    // per trigger, so every slot is its own micro-batch
    for (slot <- 0 until 4) {
      def at(t: java.sql.Timestamp) = new java.sql.Timestamp(t.getTime + slot * 3600000L)
      orders.map(o => o.copy(orderId = s"${o.orderId}_$slot", ts = at(o.ts))).toDF()
        .coalesce(1).write.mode("append").parquet(oIn)
      flagshipPayments.map(p => p.copy(orderId = s"${p.orderId}_$slot", ts = at(p.ts))).toDF()
        .coalesce(1).write.mode("append").parquet(pIn)
      Thread.sleep(60) // distinct file mtimes: each source replays the slots in order
    }
    def source(dir: String, schema: org.apache.spark.sql.types.StructType) =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
    /** Runs to completion from the checkpoint; the batch ids it executed. */
    def run(): Seq[Long] = {
      val q = Sinks.toParquet(Topologies.paidOrdersLeftOuter(
        source(oIn, orders.toDF().schema), source(pIn, flagshipPayments.toDF().schema),
        profiles, discounts), out, ckpt).start()
      try q.processAllAvailable() finally q.stop()
      q.recentProgress.map(_.batchId).toSeq
    }
    // read through the sink's metadata log, as every reader of the sink does
    def landed(): Map[Seq[Any], Int] = countsOf(spark.read.parquet(out))
    def batchFiles(log: String): Seq[java.io.File] =
      new java.io.File(log).listFiles().toSeq.filter(_.getName.matches("\\d+"))
    /** Deletes the log's batch files that `gone` selects, with their .crc sidecars. */
    def rollBack(log: String)(gone: Long => Boolean): Unit =
      for (f <- batchFiles(log) if gone(f.getName.toLong)) {
        assert(f.delete(), f)
        new java.io.File(log, s".${f.getName}.crc").delete()
      }
    val sinkLog = s"$out/_spark_metadata"
    def sinkLogLists(batch: Long): Boolean =
      Files.readAllLines(Paths.get(sinkLog, batch.toString))
        .stream().anyMatch(_.startsWith("{"))

    run()
    val want = landed()
    // o1 matched in every slot; o2 and o3 null-padded once the next slot's
    // watermark closes their interval, so the last slot's are still open
    assert(want === ((0 until 4).map(s => Seq(s"o1_$s", "alice", "gold", 2000.0, "PAID") -> 1) ++
      (0 until 3).flatMap(s => Seq(Seq(s"o2_$s", "bob", "basic", 720.0, null) -> 1,
        Seq(s"o3_$s", "carol", "gold", 750.0, null) -> 1))).toMap)
    // a mid-stream batch that wrote sink files
    val k = batchFiles(sinkLog).map(_.getName.toLong).sorted.find(b => b > 0 && sinkLogLists(b)).get

    /** The checkpoint as a kill before batch k's commit-log entry leaves
      * it: no commit from k on, and no offsets or source-log entries after k. */
    def killedInBatchK(): Unit = {
      rollBack(s"$ckpt/commits")(_ >= k)
      rollBack(s"$ckpt/offsets")(_ > k)
      for (src <- new java.io.File(s"$ckpt/sources").listFiles()) rollBack(src.getPath)(_ > k)
    }

    // (a) killed after batch k's sink commit, before its commit-log entry:
    // the restart re-runs k, and the sink skips the batch its log has
    killedInBatchK()
    rollBack(sinkLog)(_ > k)
    assert(run().head === k)
    assert(landed() === want)

    // (b) killed before batch k's sink commit, with an uncommitted part-file
    // left in the sink directory: the restart re-runs k and writes it anew,
    // and neither that file nor the files k wrote before are read
    killedInBatchK()
    rollBack(sinkLog)(_ >= k)
    val strayDir = Files.createTempDirectory("graft-crash-stray").toString
    spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row("stray", "alice", "gold", 1.0, "PAID")),
      spark.read.parquet(out).schema).coalesce(1).write.mode("overwrite").parquet(strayDir)
    val stray = Paths.get(out, "part-00000-stray-c000.snappy.parquet")
    Files.copy(Files.list(Paths.get(strayDir))
      .filter(_.toString.endsWith(".parquet")).findFirst().get, stray)
    assert(run().head === k)
    assert(landed() === want)
    assert(Files.exists(stray) && spark.read.parquet(stray.toString).count() === 1)
  }

  test("K1 batch sink writes and re-reads parquet") {
    val out = Files.createTempDirectory("graft-batch-out").toString
    Sinks.writeParquet(orders.toDF(), out)
    assert(spark.read.parquet(out).count() === 3)
  }
}
