package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant
import scala.collection.mutable

import org.apache.spark.GraftSparkTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.streaming.{OrderEvent, PaymentEvent, Sinks, Sources, Topologies}

/** The flagship's J1 ⋈ J2 (profiles, then discounts) is one lookup built
  * with the topology, and its J3 (orders ⋈ payments within ±5 minutes) is
  * one keyed interval co-group. Each variant's batch result equals the
  * plain DataFrame joins they replace, as a multiset, on hostile rows,
  * with the lookup and with the two-join fallback; a payment below the
  * watermark, and any row at or before the epoch, is dropped in
  * streaming; the stream plans one state store per shuffle partition, no
  * stream-stream join and no broadcast, and runs one job per micro-batch;
  * and the static tables are read once, when the topology is built.
  */
class FlagshipJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))
  private def at(min: Int, ms: Long = 0L): Timestamp =
    new Timestamp(ts("2024-01-01T00:00:00Z").getTime + min * 60000L + ms)

  private val profiles = Seq(("alice", "gold"), ("bob", "basic"), ("zed", null))
    .toDF("user", "profile")
  private val discounts = Seq(("gold", 0.5), ("basic", 0.9)).toDF("profile", "amount")

  private val orderSchema = StructType(Seq(
    StructField("orderId", StringType), StructField("user", StringType),
    StructField("products", ArrayType(StringType)), StructField("amount", DoubleType),
    StructField("ts", TimestampType)))
  private val paymentSchema = StructType(Seq(StructField("orderId", StringType),
    StructField("status", StringType), StructField("ts", TimestampType)))

  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

  // the lookup's hostile rows: a user listed twice, a NULL user, a
  // profile listed twice in the discounts, a NULL factor, a profile with
  // no discount (zed's NULL profile is in `profiles`)
  private val hostileProfiles = profiles.union(Seq(("dup", "basic"), ("dup", "gold"),
    (null, "gold"), ("tin", "tin"), ("pat", "platinum"), ("twice", "silver"))
    .toDF("user", "profile"))
  private val hostileDiscounts = Seq(("gold", Some(0.5)), ("basic", Some(0.9)),
    ("tin", None), ("silver", Some(0.25)), ("silver", Some(0.75))).toDF("profile", "amount")

  private val hostileOrders = frame(orderSchema, Seq(
    Row("b", "alice", Seq("p"), 100.0, at(10)),   // payments exactly ±5 min away, and 1 ms beyond
    Row(null, "alice", Seq("p"), 50.0, at(0)),    // NULL orderId
    Row("n", "alice", Seq("p"), 30.0, null),      // NULL ts
    Row("a", "bob", Seq("p"), null, at(20)),      // NULL amount
    Row("z", "zed", Seq("p"), 70.0, at(20)),      // NULL profile: dropped at J2
    Row("d", "alice", Seq("p"), 10.0, at(40)),    // duplicate orderId: 2 orders ...
    Row("d", "bob", Seq("p"), 20.0, at(41)),
    Row("s", "bob", Seq("p"), 40.0, at(60)),      // only non-PAID payments
    Row("u", "alice", Seq("p"), 60.0, at(80)),    // no payment at all
    Row("e", "dup", Seq("p"), 100.0, at(100)),    // user listed twice: 2 rows
    Row("f", null, Seq("p"), 100.0, at(110)),     // NULL user: dropped at J1
    Row("g", "tin", Seq("p"), 100.0, at(120)),    // NULL factor: NULL amount
    Row("h", "nobody", Seq("p"), 100.0, at(130)), // no profile: dropped at J1
    Row("i", "pat", Seq("p"), 100.0, at(140)),    // no discount: dropped at J2
    Row("j", "twice", Seq("p"), 100.0, at(150)))) // profile listed twice: 2 rows
  private val hostilePayments = frame(paymentSchema, Seq(
    Row("b", "PAID", at(5)), Row("b", "PAID", at(15)),
    Row("b", "PAID", at(5, -1)), Row("b", "PAID", at(15, 1)),
    Row(null, "PAID", at(0)),                     // NULL orderId
    Row("n", "PAID", at(0)),                      // order has a NULL ts
    Row("b", "PAID", null),                       // NULL ts
    Row("a", "PAID", at(21)),
    Row("d", "PAID", at(42)), Row("d", "PAID", at(43)), // ... × 2 payments → 4 rows
    Row("s", "PENDING", at(60)), Row("s", null, at(61)),
    Row("x", "PAID", at(90))) ++                  // no such order
    Seq("e", "f", "g", "h", "i", "j").zipWithIndex.map { case (id, i) =>
      Row(id, "PAID", at(101 + 10 * i)) })

  /** The reference: the flagship's J1→J2→P4 prefix as plain DataFrame
    * joins, then a plain DataFrame join on J3's condition.
    */
  private def intervalJoined(orders: DataFrame, payments: DataFrame, profiles: DataFrame,
      discounts: DataFrame, joinType: String): DataFrame = {
    val enriched = orders.join(profiles, Seq("user"))
      .join(broadcast(discounts.withColumnRenamed("amount", "discount")
        .withColumnRenamed("profile", "d_profile")), col("profile") === col("d_profile"))
      .withColumn("amount", col("amount") * col("discount"))
      .withColumn("key", col("orderId"))
    val pays = payments.withColumnRenamed("orderId", "p_orderId").withColumnRenamed("ts", "pts")
    val cond = expr("key = p_orderId AND pts BETWEEN ts - INTERVAL 5 minutes " +
      "AND ts + INTERVAL 5 minutes")
    val paid = col("status") === "PAID"
    val joined = joinType match {
      case "inner" => enriched.join(pays, cond).filter(paid)
      case "left_outer" => enriched.join(pays, cond && paid, "left_outer")
      case "full_outer" => enriched.join(pays, cond, "full_outer")
    }
    joined.select(coalesce(col("key"), col("p_orderId")).as("orderId"),
      col("user"), col("profile"), col("amount"), col("status"))
  }

  private val variants: Seq[(String, (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame)] =
    Seq("inner" -> (Topologies.paidOrders(_, _, _, _)),
      "left_outer" -> (Topologies.paidOrdersLeftOuter(_, _, _, _)),
      "full_outer" -> (Topologies.paidOrdersFullOuter(_, _, _, _)))

  /** Runs `body` with `spark.sql.autoBroadcastJoinThreshold` at -1 (the
    * size guard then keeps J1 and J2 as two joins) or at its default.
    */
  private def withBroadcastOff[T](off: Boolean)(body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    if (off) spark.conf.set(key, "-1")
    try body finally spark.conf.unset(key)
  }

  for ((joinType, topology) <- variants; fallback <- Seq(false, true))
    test(s"$joinType J3 co-group equals the DataFrame interval join on hostile rows" +
        (if (fallback) ", with J1 and J2 as joins" else "")) {
      withBroadcastOff(fallback) {
        val got = topology(hostileOrders, hostilePayments, hostileProfiles, hostileDiscounts)
        // the lookup leaves no join in the plan; the fallback keeps J1 and J2
        assert(got.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join]) === fallback)
        val want = intervalJoined(hostileOrders, hostilePayments, hostileProfiles,
          hostileDiscounts, joinType)
        assert(got.schema.map(f => (f.name, f.dataType)) ===
          want.schema.map(f => (f.name, f.dataType)))
        val rows = countsOf(got)
        assert(rows === countsOf(want))
        // both ±5-minute boundaries match, the 1 ms beyond them does not
        assert(rows(Seq("b", "alice", "gold", 50.0, "PAID")) === 2)
        // 2 orders × 2 payments under one orderId
        assert(rows.filter(_._1.head == "d").values.sum === 4)
        assert(rows.contains(Seq("a", "bob", "basic", null, "PAID")))
        // a user listed twice, a profile listed twice in the discounts
        assert(rows(Seq("e", "dup", "basic", 90.0, "PAID")) === 1)
        assert(rows(Seq("e", "dup", "gold", 50.0, "PAID")) === 1)
        assert(rows(Seq("j", "twice", "silver", 25.0, "PAID")) === 1)
        assert(rows(Seq("j", "twice", "silver", 75.0, "PAID")) === 1)
        assert(rows(Seq("g", "tin", "tin", null, "PAID")) === 1)
        assert(!rows.keys.exists(_.head == "z"))
        // NULL user, no profile, no discount: no order row (full_outer
        // keeps their payments, unmatched)
        for (id <- Seq("f", "h", "i"))
          assert(!rows.keys.exists(r => r.head == id && r(1) != null), id)
        joinType match {
          case "inner" => assert(rows.values.sum === 12)
          case "left_outer" =>
            assert(rows.values.sum === 16)
            for (id <- Seq(null, "n", "s", "u"))
              assert(rows.keys.exists(r => r.head == id && r.last == null), String.valueOf(id))
          case "full_outer" =>
            assert(rows(Seq("s", "bob", "basic", 36.0, "PENDING")) === 1)
            assert(rows(Seq("s", "bob", "basic", 36.0, null)) === 1)
            assert(rows(Seq("x", null, null, null, "PAID")) === 1)
            assert(rows(Seq(null, null, null, null, "PAID")) === 1)
            assert(rows(Seq("b", null, null, null, "PAID")) === 3) // NULL ts and the two misses
            for (id <- Seq("f", "h", "i")) // orders dropped at J1/J2: payments unmatched
              assert(rows(Seq(id, null, null, null, "PAID")) === 1, id)
        }
      }
    }

  test("a discount factor that is not a double keeps J1 and J2 as joins, with the same rows") {
    val floats = hostileDiscounts.withColumn("amount", col("amount").cast(FloatType))
    for ((joinType, topology) <- variants) {
      val got = topology(hostileOrders, hostilePayments, hostileProfiles, floats)
      assert(got.queryExecution.optimizedPlan.exists(_.isInstanceOf[Join]), joinType)
      assert(countsOf(got) ===
        countsOf(intervalJoined(hostileOrders, hostilePayments, hostileProfiles, floats, joinType)),
        joinType)
    }
  }

  test("streaming: a payment below the watermark is dropped, its order null-padded once") {
    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val name = "flagship_late_payment"
    val q = Sinks.toMemory(
      Topologies.paidOrdersLeftOuter(odf, pdf, profiles, discounts), name, "append").start()
    try {
      oms.addData(OrderEvent("o1", "alice", Nil, 100.0, at(0)),
        OrderEvent("o2", "alice", Nil, 200.0, at(60)))
      pms.addData(PaymentEvent("o2", "PAID", at(61)))
      q.processAllAvailable()
      // watermark = min over both sides of (max ts − 5 min) = +55 min: o1's
      // interval has closed, so it is out null-padded; its payment at
      // +1 min is late, dropped, and emits nothing
      pms.addData(PaymentEvent("o1", "PAID", at(1)))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 1L)
    } finally q.stop()
    val rows = spark.table(name).collect().map(_.toSeq).toSeq
    assert(rows.sortBy(_.head.toString) === Seq(
      Seq("o1", "alice", "gold", 50.0, null), Seq("o2", "alice", "gold", 100.0, "PAID")))
  }

  test("event times at or before the epoch are late in streaming, kept in batch") {
    // the watermark starts at 0 and the engine drops ts <= watermark, so
    // watermarked topologies require event times after the epoch
    val orders = Seq(
      OrderEvent("pre", "alice", Nil, 100.0, ts("1969-12-31T23:50:00Z")),
      OrderEvent("epoch", "alice", Nil, 200.0, ts("1970-01-01T00:00:00Z")),
      OrderEvent("after", "alice", Nil, 300.0, ts("1970-01-01T00:00:00.001Z")))
    val payments = Seq(PaymentEvent("pre", "PAID", ts("1969-12-31T23:51:00Z")),
      PaymentEvent("after", "PAID", ts("1970-01-01T00:01:00Z")))
    assert(countsOf(Topologies.paidOrdersLeftOuter(orders.toDF(), payments.toDF(),
      profiles, discounts)) === Map(
      Seq("pre", "alice", "gold", 50.0, "PAID") -> 1,
      Seq("epoch", "alice", "gold", 100.0, null) -> 1,
      Seq("after", "alice", "gold", 150.0, "PAID") -> 1))

    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val name = "flagship_epoch"
    val q = Sinks.toMemory(
      Topologies.paidOrdersLeftOuter(odf, pdf, profiles, discounts), name, "append").start()
    try {
      oms.addData(orders); pms.addData(payments)
      q.processAllAvailable()
      // a flush on both sides closes every interval the late rows would have had
      oms.addData(OrderEvent("oflush", "alice", Nil, 1.0, ts("2024-01-01T00:00:00Z")))
      pms.addData(PaymentEvent("pflush", "PAID", ts("2024-01-01T00:00:00Z")))
      q.processAllAvailable()
      val dropped = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped === 3L) // the two orders and the payment at or before the epoch
    } finally q.stop()
    assert(countsOf(spark.table(name)) === Map(Seq("after", "alice", "gold", 150.0, "PAID") -> 1))
  }

  test("streaming paidOrders keeps one state store per shuffle partition and no stream-stream join") {
    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val q = Sinks.toMemory(Topologies.paidOrders(odf, pdf, profiles, discounts),
      "flagship_state_census", "append").start()
    try {
      oms.addData(OrderEvent("o1", "alice", Nil, 100.0, at(0)))
      pms.addData(PaymentEvent("o1", "PAID", at(1)))
      q.processAllAvailable()
      val ops = q.lastProgress.stateOperators
      assert(ops.length === 1)
      assert(ops.head.numStateStoreInstances ===
        spark.conf.get("spark.sql.shuffle.partitions").toInt)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("StreamingSymmetricHashJoin"), plan)
      assert(plan.contains("FlatMapGroupsWithState"), plan)
    } finally q.stop()
  }

  test("a streaming paidOrders micro-batch runs one Spark job and plans no broadcast") {
    val sc = spark.sparkContext
    val jobs = mutable.Map.empty[(String, String), Int].withDefaultValue(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = for {
        props <- Option(e.properties)
        query <- Option(props.getProperty("sql.streaming.queryId"))
        batch <- Option(props.getProperty("streaming.sql.batchId"))
      } jobs.synchronized { jobs((query, batch)) += 1 }
    }
    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val q = Sinks.toMemory(Topologies.paidOrders(odf, pdf, profiles, discounts),
      "flagship_one_job", "append").start()
    GraftSparkTestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      for (i <- 0 until 3) {
        oms.addData(OrderEvent(s"o$i", "alice", Nil, 100.0, at(10 * i)))
        pms.addData(PaymentEvent(s"o$i", "PAID", at(10 * i + 1)))
        q.processAllAvailable()
      }
      GraftSparkTestBridge.drainListenerBus(sc)
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan)
      val data = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId.toString)
      assert(data.nonEmpty)
      for (b <- data) assert(jobs((q.id.toString, b)) === 1, s"batch $b")
    } finally {
      sc.removeSparkListener(listener)
      q.stop()
    }
    assert(countsOf(spark.table("flagship_one_job")) ===
      (0 until 3).map(i => Seq(s"o$i", "alice", "gold", 50.0, "PAID") -> 1).toMap)
  }

  test("the static tables are read once: a profile file changed or added later is not seen") {
    val dir = Files.createTempDirectory("graft-flagship-profiles")
    Files.writeString(dir.resolve("a.json"), """{"user":"alice","profile":"gold"}""")
    val snapshot = spark.read.schema("user string, profile string").json(dir.toString)
    val factors = Seq(("gold", 0.5), ("base", 0.9)).toDF("profile", "amount")
    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val name = "flagship_profile_snapshot"
    val q = Sinks.toMemory(Topologies.paidOrders(odf, pdf, snapshot, factors), name, "append")
      .start()
    try {
      oms.addData(OrderEvent("o1", "alice", Nil, 100.0, at(0)))
      pms.addData(PaymentEvent("o1", "PAID", at(1)))
      q.processAllAvailable()
      // alice's profile changes in place (same length) and carol's arrives
      Files.writeString(dir.resolve("a.json"), """{"user":"alice","profile":"base"}""")
      Files.writeString(dir.resolve("b.json"), """{"user":"carol","profile":"gold"}""")
      oms.addData(OrderEvent("o2", "alice", Nil, 100.0, at(10)),
        OrderEvent("o3", "carol", Nil, 100.0, at(10)))
      pms.addData(PaymentEvent("o2", "PAID", at(11)), PaymentEvent("o3", "PAID", at(11)))
      q.processAllAvailable()
    } finally q.stop()
    assert(countsOf(spark.table(name)) === Map(
      Seq("o1", "alice", "gold", 50.0, "PAID") -> 1,
      Seq("o2", "alice", "gold", 50.0, "PAID") -> 1))
  }

  test("an idle payments input stalls J3's watermark: state grows, nothing expires, a late payment joins") {
    // under the default `min` watermark policy the payments' watermark
    // holds the global one while only orders arrive
    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val name = "flagship_idle_payments"
    val q = Sinks.toMemory(
      Topologies.paidOrdersLeftOuter(odf, pdf, profiles, discounts), name, "append").start()
    try {
      oms.addData(OrderEvent("o0", "alice", Nil, 100.0, at(0)))
      pms.addData(PaymentEvent("o0", "PAID", at(1)))
      q.processAllAvailable()
      // then one order per batch, an event-hour apart, and no payments
      val stateRows = (1 to 10).map { i =>
        oms.addData(OrderEvent(s"o$i", "alice", Nil, 100.0, at(60 * i)))
        q.processAllAvailable()
        // the payments' max time (+1 min) minus the 5-minute window
        assert(q.lastProgress.eventTime.get("watermark") === "2023-12-31T23:56:00.000Z", s"batch $i")
        q.lastProgress.stateOperators.head.numRowsTotal
      }
      assert(stateRows === (2L to 11L)) // one row per orderId, none pruned
      assert(countsOf(spark.table(name)) === Map(Seq("o0", "alice", "gold", 50.0, "PAID") -> 1))
      pms.addData(PaymentEvent("o1", "PAID", at(61)))
      q.processAllAvailable()
    } finally q.stop()
    // no order was null-padded, and the late o1 payment still joined
    assert(countsOf(spark.table(name)) === Map(Seq("o0", "alice", "gold", 50.0, "PAID") -> 1,
      Seq("o1", "alice", "gold", 50.0, "PAID") -> 1))
  }
}
