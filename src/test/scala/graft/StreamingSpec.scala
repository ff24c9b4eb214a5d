package graft

import java.sql.Timestamp
import java.time.Instant

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.Serde
import graft.streaming.{OrderEvent, PaymentEvent, Sinks, Sources, Stateful, Topologies}

/** Structured Streaming semantics tests (SURVEY §5.2.3): MemoryStream
  * sources, processAllAvailable, memory sink; assert FINAL results — the
  * emission-cadence difference between Kafka Streams (per record) and
  * Spark (per micro-batch) makes intermediate emissions non-comparable by
  * design (SURVEY §2.3), and both engines agree at the fixpoint, which is
  * the batch application of the same topology function.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))
  private var tableSeq = 0
  private def freshTable(): String = { tableSeq += 1; s"stream_out_$tableSeq" }

  private val orders = Seq(
    OrderEvent("o1", "alice", Seq("iPhone", "MacBook"), 4000.0, ts("2024-01-01T00:00:01Z")),
    OrderEvent("o2", "bob", Seq("iPad"), 800.0, ts("2024-01-01T00:00:05Z")),
    OrderEvent("o3", "alice", Seq(), 1200.0, ts("2024-01-01T00:00:12Z")),
    OrderEvent("o4", "carol", Seq("Watch"), 1500.0, ts("2024-01-01T00:01:00Z")))

  /** Run a streaming transform over MemoryStream batches to its fixpoint
    * and return the memory-sink table.
    */
  private def runStream[T: org.apache.spark.sql.Encoder](
      batches: Seq[Seq[T]], mode: String)(topology: DataFrame => DataFrame): DataFrame = {
    val (ms, df) = Sources.memoryStream[T](spark)
    val name = freshTable()
    val q = Sinks.toMemory(topology(df), name, mode).start()
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  test("S1→P1→K1: streaming expensiveOrders equals the batch application (KSA:106-111)") {
    val out = runStream(Seq(orders.take(2), orders.drop(2)), "append")(
      Topologies.expensiveOrders(_))
    val batch = Topologies.expensiveOrders(orders.toDF())
    assert(rowsOf(out) === rowsOf(batch))
    assert(out.count() === 3) // o2 at 800 < 1000 dropped
  }

  test("P2: purchasedProducts projection streams through (KSA:113-118)") {
    val out = runStream(Seq(orders), "append")(Topologies.purchasedProducts(_))
    assert(rowsOf(out) === rowsOf(Topologies.purchasedProducts(orders.toDF())))
  }

  test("G1: productsByFirstLetter final state equals batch (KSA:120-133)") {
    val out = runStream(Seq(orders.take(2), orders.drop(2)), "complete")(
      Topologies.productsByFirstLetter(_))
    assert(rowsOf(out) === rowsOf(Topologies.productsByFirstLetter(orders.toDF())))
    // alice: iPhone, MacBook → a=2; bob: iPad → b=1; carol: Watch → c=1;
    // o3's empty products contributes nothing
    assert(rowsOf(out) === Set(Seq("a", 2L), Seq("b", 1L), Seq("c", 1L)))
  }

  test("G2+A1: per-user count KTable fixpoint equals batch (KSA:140,144)") {
    val out = runStream(Seq(orders.take(1), orders.drop(1)), "complete")(
      Topologies.productsPerUser(_))
    assert(rowsOf(out) === rowsOf(Topologies.productsPerUser(orders.toDF())))
  }

  test("A1 update mode emits only changed keys per micro-batch (A3 toStream changelog)") {
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    val name = freshTable()
    val q = Sinks.toMemory(Topologies.productsPerUser(df), name, "update").start()
    ms.addData(orders.take(1)) // alice: 2 products
    q.processAllAvailable()
    val afterBatch1 = spark.table(name).collect().map(_.toSeq).toSet
    ms.addData(Seq(orders(1))) // bob only — alice unchanged
    q.processAllAvailable()
    val afterBatch2 = spark.table(name).collect().map(_.toSeq).toSet
    val totalEmitted = spark.table(name).count()
    q.stop()
    assert(afterBatch1 === Set(Seq("alice", 2L)))
    assert(afterBatch2 === Set(Seq("alice", 2L), Seq("bob", 1L)))
    assert(totalEmitted === 2L) // alice NOT re-emitted in batch 2
  }

  test("A2: watermarked tumbling windows reach the batch fixpoint; late rows beyond grace are dropped") {
    val onTime = orders.take(3)
    val flush = OrderEvent("flush", "zz", Seq("x"), 1.0, ts("2024-01-03T00:00:00Z"))
    // late arrives AFTER the watermark advanced 2 days past it → dropped
    val late = OrderEvent("late", "alice", Seq("Pen"), 1.0, ts("2024-01-01T00:00:02Z"))
    val out = runStream(
      Seq(onTime, Seq(flush), Seq(late)), "append")(
      Topologies.productsPerUserWindowed(_, "10 seconds", "1 hour"))
    // append emits only watermark-closed windows: all of Jan 1 closed by flush;
    // the flush window itself stays open, the late row was dropped
    val batchOnTime = Topologies.productsPerUserWindowed(onTime.toDF(), "10 seconds", "1 hour")
    assert(rowsOf(out) === rowsOf(batchOnTime))
    val base = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    assert(rowsOf(out) === Set(Seq("alice", base, 2L), Seq("bob", base, 1L)))
  }

  test("A2d suppress(untilWindowCloses): append emits each closed window exactly once == batch fixpoint") {
    // Kafka Streams `suppress(untilWindowCloses(withGrace(30s)))` ≈ Spark
    // append mode on a watermarked windowed aggregate. Feed batches so the
    // watermark advances in steps; assert (a) no window is ever emitted
    // twice, (b) the final emitted set equals the batch
    // suppressedWindowedCountFinal fixpoint over the same input.
    val flush = OrderEvent("flush", "zz", Seq("x"), 1.0, ts("2024-01-01T00:02:00Z"))
    val allOrders = orders :+ flush
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    val name = freshTable()
    val q = Sinks.toMemory(
      Topologies.productsPerUserWindowed(df, "10 seconds", "30 seconds"),
      name, "append").start()
    var perBatch = List.empty[Set[Seq[Any]]]
    for (b <- Seq(orders.take(2), Seq(orders(2)), Seq(orders(3)), Seq(flush))) {
      ms.addData(b); q.processAllAvailable()
      perBatch ::= spark.table(name).collect().map(_.toSeq).toSet
    }
    q.stop()
    val emissions = spark.table(name)
    // exactly-once: total emitted rows == distinct (user, window) pairs,
    // and each batch's table is a superset of the previous (append-only)
    assert(emissions.count() ===
      emissions.select("user", "window_start").distinct().count())
    perBatch.reverse.sliding(2).foreach {
      case Seq(prev, next) => assert(prev.subsetOf(next)); case _ => ()
    }
    // fixpoint: equals the batch suppressed-final op on the same input
    // (max ts 00:02:00 − 30 s watermark ⇒ carol's 00:01:00 window closed,
    // flush's own window withheld)
    val exploded = graft.ops.Relational.flatMapValues(
      Seq(col("user"), col("ts")), col("products"), "product")(allOrders.toDF())
    val batch = graft.ops.Relational.suppressedWindowedCountFinal(
      col("ts"), "10 seconds", 30L, col("user"), "user")(exploded)
    assert(rowsOf(emissions) === rowsOf(batch))
    val base = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    assert(rowsOf(emissions) === Set(
      Seq("alice", base, 2L), Seq("bob", base, 1L), Seq("carol", base + 60, 1L)))
  }

  test("G superset: streaming COGROUP — two live streams fold into one keyed table") {
    // the DSL cogroup's streaming meaning: one state store fed by both
    // inputs; here one stateful aggregate over the tagged union of two
    // MemoryStreams, update mode, fixpoint == the batch cogroupAgg
    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (rms, rdf) = Sources.memoryStream[OrderEvent](spark) // refunds stream
    val refunds = Seq(
      OrderEvent("r1", "alice", Seq(), 300.0, ts("2024-01-01T00:00:30Z")))
    val cogrouped = graft.ops.Relational.cogroupAgg("user", Seq(
      ("orders", odf, col("user"), col("amount")),
      ("refunds", rdf, col("user"), col("amount"))))
    val name = freshTable()
    val q = Sinks.toMemory(cogrouped, name, "update").start()
    oms.addData(orders.take(2))
    rms.addData(refunds)
    q.processAllAvailable()
    oms.addData(orders.drop(2)) // alice again + carol, across a batch boundary
    q.processAllAvailable()
    q.stop()
    // update mode re-emits changed keys; sums/counts only grow here, so
    // the per-key max of the emissions is the fixpoint
    val out = spark.table(name)
      .groupBy(col("user")).agg(
        max(col("orders_sum")).as("orders_sum"), max(col("orders_cnt")).as("orders_cnt"),
        max(col("refunds_sum")).as("refunds_sum"), max(col("refunds_cnt")).as("refunds_cnt"))
    val batch = graft.ops.Relational.cogroupAgg("user", Seq(
      ("orders", orders.toDF(), col("user"), col("amount")),
      ("refunds", refunds.toDF(), col("user"), col("amount"))))
    assert(rowsOf(out) === rowsOf(batch))
    assert(rowsOf(out.filter(col("user") === "alice")) ===
      Set(Seq("alice", 5200.0, 2L, 300.0, 1L)))
  }

  test("A2 superset: watermarked HOPPING windows reach the batch fixpoint (overlapping cells)") {
    val onTime = orders.take(3)
    val flush = OrderEvent("flush", "zz", Seq("x"), 1.0, ts("2024-01-03T00:00:00Z"))
    val out = runStream(
      Seq(onTime, Seq(flush)), "append")(
      Topologies.productsPerUserHopping(_, "20 seconds", "10 seconds", "1 hour"))
    val batch = Topologies.productsPerUserHopping(
      onTime.toDF(), "20 seconds", "10 seconds", "1 hour")
    assert(rowsOf(out) === rowsOf(batch))
    // every on-time product landed in exactly size/hop = 2 windows
    val products = onTime.map(_.products.size).sum
    assert(out.agg(sum(col("cnt"))).collect()(0).getLong(0) === 2L * products)
  }

  test("chained streaming aggregations: per-window trending key reaches the batch fixpoint") {
    // windowed count THEN per-window argmax — two stateful operators in
    // one append-mode query (Spark 4 multiple-stateful-operator support)
    val evs = Seq(
      OrderEvent("e1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:01Z")),
      OrderEvent("e2", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:03Z")),
      OrderEvent("e3", "bob", Seq("a"), 1.0, ts("2024-01-01T00:00:05Z")),
      OrderEvent("e4", "bob", Seq("a"), 1.0, ts("2024-01-01T00:00:12Z")))
    val flush = OrderEvent("flush", "zz", Seq("x"), 1.0, ts("2024-01-03T00:00:00Z"))
    def top(df: DataFrame) =
      Topologies.trendingKeys(df, col("user"), col("ts"), "10 seconds", "1 hour")
    val out = runStream(Seq(evs.take(2), evs.drop(2), Seq(flush)), "append")(top)
    val batch = top(evs.toDF())
    assert(rowsOf(out) === rowsOf(batch))
    val base = java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:00Z"))
    val w2 = java.sql.Timestamp.from(Instant.parse("2024-01-01T00:00:10Z"))
    // window 1: alice 2 vs bob 1 → alice; window 2: bob alone
    assert(rowsOf(out) === Set(Seq(base, "alice", 2L), Seq(w2, "bob", 1L)))
  }

  test("streaming transition pairs reach the batch transition-counts fixpoint") {
    val evs = Seq(
      OrderEvent("e1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:01Z")),
      OrderEvent("e2", "alice", Seq("b"), 1.0, ts("2024-01-01T00:00:02Z")),
      OrderEvent("e3", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:03Z")),
      OrderEvent("e4", "bob", Seq("b"), 1.0, ts("2024-01-01T00:00:04Z")),
      OrderEvent("e5", "bob", Seq("b"), 1.0, ts("2024-01-01T00:00:05Z")))
    // two batches: alice's b→a pair SPANS the boundary — the carried
    // last-state in per-key state is what stitches it
    val out = runStream(Seq(evs.take(2), evs.drop(2)), "append")(df =>
      graft.streaming.Stateful.transitionPairs(df.as[OrderEvent])
        .toDF("from_state", "to_state"))
    val counted = out.groupBy("from_state", "to_state")
      .agg(count(lit(1)).as("cnt"))
    val batch = graft.ops.Sequences.transitionCounts(
      col("user"), Seq(col("ts"), col("orderId")),
      element_at(col("products"), 1))(evs.toDF())
    assert(rowsOf(counted) === rowsOf(batch))
    assert(rowsOf(counted) === Set(
      Seq("a", "b", 1L), Seq("b", "a", 1L), Seq("b", "b", 1L)))
  }

  test("session windows merge in streaming (superset op) and reach the batch fixpoint") {
    // alice: events at 0s, 100s (gap<5m → one session), 500s (new session);
    // flush event advances the watermark far enough to close them all
    val evs = Seq(
      OrderEvent("e1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:00Z")),
      OrderEvent("e2", "alice", Seq("b"), 1.0, ts("2024-01-01T00:01:40Z")),
      OrderEvent("e3", "alice", Seq("c"), 1.0, ts("2024-01-01T00:08:20Z")))
    val flush = OrderEvent("zz", "zz", Seq("x"), 1.0, ts("2024-01-02T00:00:00Z"))
    def sessions(df: org.apache.spark.sql.DataFrame) = df
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user"), col("session_window.start").cast("long").as("start"), col("cnt"))
    val out = runStream(Seq(evs, Seq(flush)), "append")(sessions)
    val base = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    assert(rowsOf(out) === Set(
      Seq("alice", base, 2L),        // e1+e2 merged into one session
      Seq("alice", base + 500, 1L))) // e3 starts a new session; flush window still open
    assert(rowsOf(out) === rowsOf(sessions(evs.toDF())))
  }

  /** `sessionClose` rows as (user, start s, end s, cnt). */
  private def sessionCols(df: DataFrame): DataFrame =
    df.select(col("user"), col("start").cast("long").as("s"),
      col("end").cast("long").as("e"), col("cnt"))

  /** `sessionClose`'s batch fixpoint at a 5 s gap: the session-window count. */
  private def sessionFixpoint(df: DataFrame): DataFrame =
    df.groupBy(session_window(col("ts"), "5 seconds"), col("user"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user"), col("session_window.start").cast("long").as("s"),
        col("session_window.end").cast("long").as("e"), col("cnt"))

  test("event-time timers emit closed sessions matching the batch session_window fixpoint") {
    import graft.streaming.Stateful
    // gap = 5 s. alice: 0s,2s (one session) then 20s (a new one — the
    // in-batch gap closes the first immediately); bob: 1s. Later batches
    // advance the watermark so the armed timers fire one by one.
    val evs = Seq(
      OrderEvent("a1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:00Z")),
      OrderEvent("a2", "alice", Seq("b"), 1.0, ts("2024-01-01T00:00:02Z")),
      OrderEvent("a3", "alice", Seq("c"), 1.0, ts("2024-01-01T00:00:20Z")),
      OrderEvent("b1", "bob", Seq("d"), 1.0, ts("2024-01-01T00:00:01Z")))
    val carol = OrderEvent("c1", "carol", Seq("e"), 1.0, ts("2024-01-01T00:01:40Z"))
    val dave = OrderEvent("d1", "dave", Seq("f"), 1.0, ts("2024-01-01T00:03:20Z"))
    val erin = OrderEvent("e1", "erin", Seq("g"), 1.0, ts("2024-01-01T00:06:40Z"))
    val out = sessionCols(runStream(Seq(evs, Seq(carol), Seq(dave), Seq(erin)), "append") { df =>
      Stateful.sessionClose(df.as[OrderEvent], gapMs = 5000L).toDF()
    })
    // erin's session stays open (the watermark stops at her event, never
    // passing her close time): emitted rows are exactly the PROVABLY
    // closed sessions
    assert(rowsOf(out) === rowsOf(sessionFixpoint(Seq(evs, Seq(carol), Seq(dave)).flatten.toDF())))
    assert(out.count() === 5) // alice x2, bob, carol, dave — each exactly once
  }

  test("sessionClose on batch input equals the batch session_window fixpoint") {
    // every session is closed on a batch Dataset, the last one too
    val evs = orders :+ OrderEvent("a9", "alice", Seq("z"), 1.0, ts("2024-01-01T00:00:16Z"))
    val got = sessionCols(Stateful.sessionClose(evs.toDS(), gapMs = 5000L).toDF())
    assert(countsOf(got) === countsOf(sessionFixpoint(evs.toDF())))
    assert(got.count() === 4) // alice [1, 6) and [12, 21), bob, carol
  }

  test("late-but-in-watermark events extend sessions backward and are never emitted early") {
    import graft.streaming.Stateful
    // gap = 5 s, allowed lateness 2 min. Batch 1 holds two alice sessions
    // ([0] and [100]); batch 2 delivers LATE events: t=3 extends the
    // first session, t=97 extends the second BACKWARD — legal because
    // neither close time has been passed by the watermark. A premature
    // in-batch emission of [0,5) would be wrong and irrevocable.
    val batch1 = Seq(
      OrderEvent("a1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:00Z")),
      OrderEvent("a2", "alice", Seq("b"), 1.0, ts("2024-01-01T00:01:40Z")))
    val late = Seq(
      OrderEvent("a3", "alice", Seq("c"), 1.0, ts("2024-01-01T00:00:03Z")),
      OrderEvent("a4", "alice", Seq("d"), 1.0, ts("2024-01-01T00:01:37Z")))
    val flush = Seq(
      OrderEvent("zz", "zz", Seq("x"), 1.0, ts("2024-01-01T01:00:00Z")),
      OrderEvent("z2", "zz", Seq("x"), 1.0, ts("2024-01-01T02:00:00Z")))
    val out = sessionCols(runStream(Seq(batch1, late, flush.take(1), flush.drop(1)), "append") {
      df => Stateful.sessionClose(df.as[OrderEvent], gapMs = 5000L,
        watermarkDelay = "2 minutes").toDF()
    }.filter(col("user") === "alice"))
    assert(rowsOf(out) === rowsOf(sessionFixpoint((batch1 ++ late).toDF())))
    val base = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    assert(rowsOf(out) === Set(
      Seq("alice", base, base + 8, 2L), // [0, 8): late t=3 extended it
      Seq("alice", base + 97, base + 105, 2L))) // [97, 105): extended BACKWARD
  }

  test("flagship paidOrders: streaming append fixpoint equals the batch application (KSA:155-189)") {
    val profiles = Seq(("alice", "gold"), ("bob", "basic"), ("carol", "gold"))
      .toDF("user", "profile")
    val discounts = Seq(("gold", 0.5), ("basic", 0.9)).toDF("profile", "amount")
    val payments = Seq(
      PaymentEvent("o1", "PAID", ts("2024-01-01T00:04:59Z")),     // within +5 min → joins
      PaymentEvent("o2", "PAID", ts("2024-01-01T00:00:06Z")),     // joins but... bob's order
      PaymentEvent("o3", "PENDING", ts("2024-01-01T00:00:30Z")),  // wrong status → dropped
      PaymentEvent("o4", "PAID", ts("2024-01-01T00:07:00Z")))     // exactly +6 min → outside, dropped

    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val name = freshTable()
    val q = Sinks.toMemory(
      Topologies.paidOrders(odf, pdf, profiles, discounts), name, "append").start()
    oms.addData(orders)
    q.processAllAvailable()
    pms.addData(payments)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)

    val batch = Topologies.paidOrders(orders.toDF(), payments.toDF(), profiles, discounts)
    assert(rowsOf(streamed) === rowsOf(batch))
    assert(rowsOf(streamed.select(col("orderId"), col("amount"))) ===
      Set(Seq("o1", 2000.0), Seq("o2", 720.0)))
  }

  test("leftOuter flagship: null-padded orders appear only after the watermark passes") {
    val profiles = Seq(("alice", "gold"), ("bob", "basic"), ("carol", "gold"))
      .toDF("user", "profile")
    val discounts = Seq(("gold", 0.5), ("basic", 0.9)).toDF("profile", "amount")
    val payments = Seq(
      PaymentEvent("o1", "PAID", ts("2024-01-01T00:04:59Z")),     // joins
      PaymentEvent("o2", "PAID", ts("2024-01-01T00:00:06Z")),     // joins
      PaymentEvent("o3", "PENDING", ts("2024-01-01T00:00:30Z")),  // residual fails → o3 null-padded
      PaymentEvent("o4", "PAID", ts("2024-01-01T00:07:00Z")))     // outside ±5 min → o4 null-padded

    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val name = freshTable()
    val q = Sinks.toMemory(
      Topologies.paidOrdersLeftOuter(odf, pdf, profiles, discounts), name, "append").start()
    oms.addData(orders)
    q.processAllAvailable()
    pms.addData(payments)
    q.processAllAvailable()
    // BEFORE the watermark passes the join intervals, only matched rows
    // are out: the engine cannot yet rule out a payment for o3/o4
    val early = spark.table(name).collect().map(_.toSeq).toSet
    assert(early.map(_.head) === Set("o1", "o2"))
    assert(early.forall(_.last != null)) // no null-padded rows yet
    // flush both sides a day ahead → watermark passes every interval →
    // unmatched orders expire from state and emit null-padded
    oms.addData(Seq(OrderEvent("oflush", "alice", Seq(), 1.0, ts("2024-01-02T00:00:00Z"))))
    pms.addData(Seq(PaymentEvent("pflush", "PAID", ts("2024-01-02T00:00:00Z"))))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name).filter(col("orderId") =!= "oflush")

    // fixpoint = the batch application of the same function (the flush
    // order is excluded: its own interval is still open at stop)
    val batch = Topologies.paidOrdersLeftOuter(
      orders.toDF(), payments.toDF(), profiles, discounts)
    assert(rowsOf(streamed) === rowsOf(batch))
    assert(rowsOf(streamed.select(col("orderId"), col("amount"), col("status"))) === Set(
      Seq("o1", 2000.0, "PAID"), Seq("o2", 720.0, "PAID"),
      Seq("o3", 600.0, null), Seq("o4", 750.0, null)))
  }

  test("fullOuter flagship: both unmatched sides emit null-padded after the watermark") {
    val profiles = Seq(("alice", "gold"), ("bob", "basic"), ("carol", "gold"))
      .toDF("user", "profile")
    val discounts = Seq(("gold", 0.5), ("basic", 0.9)).toDF("profile", "amount")
    val payments = Seq(
      PaymentEvent("o1", "PAID", ts("2024-01-01T00:04:59Z")),   // matches o1
      PaymentEvent("o9", "PAID", ts("2024-01-01T00:00:30Z")))   // no such order → left-null row

    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[PaymentEvent](spark)
    val name = freshTable()
    val q = Sinks.toMemory(
      Topologies.paidOrdersFullOuter(odf, pdf, profiles, discounts), name, "append").start()
    oms.addData(orders)
    q.processAllAvailable()
    pms.addData(payments)
    q.processAllAvailable()
    oms.addData(Seq(OrderEvent("oflush", "alice", Seq(), 1.0, ts("2024-01-02T00:00:00Z"))))
    pms.addData(Seq(PaymentEvent("pflush", "PAID", ts("2024-01-02T00:00:00Z"))))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table(name)
      .filter(col("orderId") =!= "oflush" && col("orderId") =!= "pflush")

    val batch = Topologies.paidOrdersFullOuter(
      orders.toDF(), payments.toDF(), profiles, discounts)
    assert(rowsOf(streamed) === rowsOf(batch))
    assert(rowsOf(streamed.select(col("orderId"), col("status"))) === Set(
      Seq("o1", "PAID"),    // matched
      Seq("o2", null), Seq("o3", null), Seq("o4", null), // orders w/o payment in window
      Seq("o9", "PAID")))   // payment w/o order: order side null-padded
    // the o9 row carries no order columns
    assert(streamed.filter(col("orderId") === "o9")
      .collect().forall(r => r.isNullAt(r.fieldIndex("user"))))
  }

  test("runningTotalsTtl drops idle keys once the watermark passes and restarts their totals") {
    import graft.streaming.Stateful
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    val name = freshTable()
    // 10 s of event-time idleness expires a key
    val q = Stateful.runningTotalsTtl(df.as[OrderEvent], idleMs = 10000L)
      .toDF().writeStream.format("memory").queryName(name).outputMode("update").start()
    // alice accumulates: o1 @00:00:01, then o3 @00:00:12 → deadline 00:00:22
    ms.addData(orders.take(1)); q.processAllAvailable()
    ms.addData(Seq(orders(2))); q.processAllAvailable()
    // carol @00:01:00 advances the watermark past alice's idle deadline →
    // the timeout sweep removes alice's accumulator (emitting nothing)
    ms.addData(Seq(orders(3))); q.processAllAvailable()
    // alice reappears @00:02:00 → totals restart from zero, not from 2
    ms.addData(Seq(OrderEvent("o5", "alice", Seq("Pen"), 10.0,
      ts("2024-01-01T00:02:00Z")))); q.processAllAvailable()
    q.stop()
    val aliceOrders = spark.table(name).filter(col("user") === "alice")
      .collect().map(r => r.getLong(1)).toSeq
    assert(aliceOrders.sorted === Seq(1L, 1L, 2L)) // 1, 2 accumulating; then 1 restarted
    // the expiry itself emitted nothing extra; carol has her single row
    assert(spark.table(name).filter(col("user") === "carol").count() === 1)
    assert(spark.table(name).count() === 4)
  }

  test("keyed top-k: per-key slates reach the batch fixpoint") {
    import graft.streaming.Stateful
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    val name = freshTable()
    val q = Stateful.topProducts(df.as[OrderEvent], k = 2)
      .toDF().writeStream.format("memory").queryName(name).outputMode("update").start()
    // cross-batch accumulation: alice buys Pen in three events split
    // over two batches; the slate must count them all
    val evs = Seq(
      OrderEvent("t1", "alice", Seq("Pen", "Ink"), 1.0, ts("2024-01-01T00:00:01Z")),
      OrderEvent("t2", "alice", Seq("Pen"), 1.0, ts("2024-01-01T00:00:02Z")),
      OrderEvent("t3", "bob", Seq("Ink"), 1.0, ts("2024-01-01T00:00:03Z")),
      OrderEvent("t4", "alice", Seq("Pen", "Pad", "Ink"), 1.0, ts("2024-01-01T00:00:04Z")),
      OrderEvent("t5", "bob", Seq("Pad"), 1.0, ts("2024-01-01T00:00:05Z")))
    ms.addData(evs.take(3)); q.processAllAvailable()
    ms.addData(evs.drop(3)); q.processAllAvailable()
    q.stop()
    // latest slate per user = rows at that user's max changelog seq
    val rows = spark.table(name).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getInt(4)))
    val latest = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val maxSeq = rs.map(_._2).max
      rs.filter(_._2 == maxSeq).map(t => (t._1, t._3, t._4, t._5)).toSeq
    }.toSet
    // batch fixpoint: count occurrences across all events, top-2 by
    // (cnt desc, product asc)
    assert(latest === Set(
      ("alice", "Pen", 3L, 1), ("alice", "Ink", 2L, 2),
      ("bob", "Ink", 1L, 1), ("bob", "Pad", 1L, 2)))
    // the first batch's alice slate was the intermediate (Pen 2, Ink 1)
    assert(rows.filter(t => t._1 == "alice" && t._2 == 2L).map(t => (t._3, t._4)).toSet
      === Set(("Pen", 2L), ("Ink", 1L)))
  }

  test("keyed running totals reach the hand-folded fixpoint across batches") {
    import graft.streaming.Stateful
    val (ms, df) = Sources.memoryStream[graft.streaming.OrderEvent](spark)
    val name = freshTable()
    val q = Stateful.runningTotals(df.as[graft.streaming.OrderEvent])
      .toDF().writeStream.format("memory").queryName(name).outputMode("update").start()
    ms.addData(orders.take(2)); q.processAllAvailable()
    ms.addData(orders.drop(2)); q.processAllAvailable()
    q.stop()
    // update mode emits one refreshed row per touched key per batch; the
    // LAST emission per key is the fixpoint
    val latest = spark.table(name).collect()
      .map(r => (r.getString(0), (r.getLong(1), r.getLong(2), r.getDouble(3))))
      .groupBy(_._1).map { case (u, rows) => // later emissions have larger counts
        u -> rows.map(_._2).maxBy(_._1)
      }
    val expected = Stateful.runningTotalsBatch(spark, orders)
      .map(t => t.user -> ((t.orders, t.products, t.amount))).toMap
    assert(latest === expected)
    assert(expected("alice") === ((2L, 2L, 5200.0))) // o1 (2 products) + empty o3
  }

  test("exact changelog-table join: upserts take effect for later orders, misses drop") {
    import graft.streaming.{EnrichedOrder, ProfileUpdate, Stateful}
    val (oms, odf) = Sources.memoryStream[OrderEvent](spark)
    val (pms, pdf) = Sources.memoryStream[ProfileUpdate](spark)
    val name = freshTable()
    val q = Stateful.streamTableJoinExact(
        odf.as[OrderEvent], pdf.as[ProfileUpdate])
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()

    // order before ANY profile → dropped (KTable miss)
    oms.addData(Seq(OrderEvent("o0", "eve", Seq(), 10.0, ts("2024-01-01T00:00:00Z"))))
    q.processAllAvailable()
    // profile arrives, then an order → joins the current value
    pms.addData(Seq(ProfileUpdate("alice", "silver", ts("2024-01-01T00:00:01Z"))))
    q.processAllAvailable()
    oms.addData(Seq(OrderEvent("o1", "alice", Seq(), 100.0, ts("2024-01-01T00:00:02Z"))))
    q.processAllAvailable()
    // profile UPSERT to gold; a later order joins the UPDATED value
    pms.addData(Seq(ProfileUpdate("alice", "gold", ts("2024-01-01T00:01:00Z"))))
    q.processAllAvailable()
    oms.addData(Seq(OrderEvent("o2", "alice", Seq(), 200.0, ts("2024-01-01T00:02:00Z"))))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table(name).as[EnrichedOrder].collect()
      .map(e => (e.orderId, e.profile)).toSet
    assert(rows === Set(("o1", "silver"), ("o2", "gold"))) // o0 dropped: no profile yet
  }

  test("exact KTable-KTable join: either side's upsert refreshes the pair; fixpoint = batch full outer") {
    import graft.streaming.{JoinedPair, ProfileUpdate, Stateful}
    val (lms, ldf) = Sources.memoryStream[ProfileUpdate](spark)
    val (rms, rdf) = Sources.memoryStream[ProfileUpdate](spark)
    val name = freshTable()
    val q = Stateful.tableTableJoinExact(
        ldf.as[ProfileUpdate], rdf.as[ProfileUpdate])
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()

    // left-only key emits (L, null); right-only emits (null, R)
    lms.addData(Seq(ProfileUpdate("alice", "L1", ts("2024-01-01T00:00:00Z")),
      ProfileUpdate("bob", "L1", ts("2024-01-01T00:00:02Z"))))
    rms.addData(Seq(ProfileUpdate("carol", "R9", ts("2024-01-01T00:00:02Z"))))
    q.processAllAvailable()
    // right side arrives for alice → refreshed pair with CURRENT left
    rms.addData(Seq(ProfileUpdate("alice", "R1", ts("2024-01-01T00:00:03Z"))))
    q.processAllAvailable()
    // left UPSERT for alice → pair refreshes again, right value carried
    lms.addData(Seq(ProfileUpdate("alice", "L2", ts("2024-01-01T00:00:04Z"))))
    q.processAllAvailable()
    q.stop()

    val emitted = spark.table(name).as[JoinedPair].collect()
    // the alice changelog shows each refresh in order
    val alice = emitted.filter(_.user == "alice").sortBy(_.ts.getTime)
      .map(p => (p.left, p.right)).toSeq
    assert(alice === Seq(("L1", null), ("L1", "R1"), ("L2", "R1")))
    // fixpoint: last row per key == full outer join of the compacted sides
    val last = emitted.groupBy(_.user).map { case (u, rows) =>
      u -> { val p = rows.maxBy(_.ts.getTime); (p.left, p.right) } }
    assert(last === Map("alice" -> (("L2", "R1")), "bob" -> (("L1", null)),
      "carol" -> ((null, "R9"))))
    // batch execution of the SAME operator reaches the same fixpoint
    val lb = Seq(ProfileUpdate("alice", "L1", ts("2024-01-01T00:00:00Z")),
      ProfileUpdate("bob", "L1", ts("2024-01-01T00:00:02Z")),
      ProfileUpdate("alice", "L2", ts("2024-01-01T00:00:04Z"))).toDS()
    val rb = Seq(ProfileUpdate("carol", "R9", ts("2024-01-01T00:00:02Z")),
      ProfileUpdate("alice", "R1", ts("2024-01-01T00:00:03Z"))).toDS()
    val batchLast = Stateful.tableTableJoinExact(lb, rb).collect()
      .groupBy(_.user).map { case (u, rows) =>
        u -> { val p = rows.maxBy(_.ts.getTime); (p.left, p.right) } }
    assert(batchLast === last)
  }

  test("table re-group deltas: the subtractor retracts the old group on a move") {
    import graft.streaming.{ProfileUpdate, RegroupDelta, Stateful}
    val (ms, df) = Sources.memoryStream[ProfileUpdate](spark)
    val name = freshTable()
    val q = Stateful.tableRegroupDeltas(df.as[ProfileUpdate])
      .toDF().writeStream.format("memory").queryName(name).outputMode("append").start()
    ms.addData(Seq(ProfileUpdate("alice", "click", ts("2024-01-01T00:00:00Z")),
      ProfileUpdate("bob", "view", ts("2024-01-01T00:00:01Z"))))
    q.processAllAvailable()
    // alice moves click → view: −1 click, +1 view
    ms.addData(Seq(ProfileUpdate("alice", "view", ts("2024-01-01T00:00:02Z"))))
    q.processAllAvailable()
    // no-op upsert (same group) emits nothing
    ms.addData(Seq(ProfileUpdate("bob", "view", ts("2024-01-01T00:00:03Z"))))
    q.processAllAvailable()
    q.stop()
    val deltas = spark.table(name).as[RegroupDelta].collect()
    assert(deltas.map(d => (d.group, d.delta)).groupBy(identity).view
      .mapValues(_.length).toMap ===
      Map(("click", 1L) -> 1, ("view", 1L) -> 2, ("click", -1L) -> 1))
    // summed deltas == the batch fixpoint (g4's shape): click 0, view 2
    val live = deltas.groupBy(_.group).view.mapValues(_.map(_.delta).sum).toMap
    assert(live === Map("click" -> 0L, "view" -> 2L))
    // batch composition reaches the same fixpoint
    val ups = Seq(ProfileUpdate("alice", "click", ts("2024-01-01T00:00:00Z")),
      ProfileUpdate("bob", "view", ts("2024-01-01T00:00:01Z")),
      ProfileUpdate("alice", "view", ts("2024-01-01T00:00:02Z")),
      ProfileUpdate("bob", "view", ts("2024-01-01T00:00:03Z"))).toDS()
    val batch = Stateful.tableRegroupDeltas(ups).groupBy("group")
      .agg(sum("delta").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(batch === live)
  }

  test("interactive queries parity: a live aggregation's state store is readable") {
    // Kafka Streams' queryable state (`streams.store(...)` — interactive
    // queries) maps to Spark's State Reader: the checkpoint's state store
    // is a batch-readable DataFrame, no side channel into the running
    // JVM needed. Read back the per-user counts a streaming aggregation
    // holds and check them against the sink output.
    val (ms, df) = Sources.memoryStream[OrderEvent](spark)
    val name = freshTable()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-iq-ckpt").toString
    val q = Sinks.toMemory(Topologies.productsPerUser(df.toDF()), name, "update")
      .option("checkpointLocation", ckpt).start()
    ms.addData(orders.take(2)); q.processAllAvailable()
    ms.addData(orders.drop(2)); q.processAllAvailable()
    q.stop()
    val state = spark.read.format("statestore").load(ckpt)
      .selectExpr("key.user AS user", "value.count AS cnt")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sink = spark.table(name).groupBy("user").agg(max("cnt").as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(state === sink)
    assert(state.values.sum === orders.map(_.products.size).sum)
  }

  test("streaming sliding windows: late tie refreshes earlier windows; beyond-grace drops") {
    import graft.streaming.Stateful
    def at(ms: Long) = new Timestamp(ms)
    val b1 = Seq(OrderEvent("o1", "alice", Seq(), 1.0, at(0)),
      OrderEvent("o2", "alice", Seq(), 1.0, at(3000)),
      OrderEvent("b1", "bob", Seq(), 1.0, at(100000)))
    val b2 = Seq(OrderEvent("o3", "alice", Seq(), 1.0, at(1000)), // late, within grace
      OrderEvent("o4", "alice", Seq(), 1.0, at(20000)),
      OrderEvent("b2", "bob", Seq(), 1.0, at(10000))) // beyond grace → dropped
    val out = runStream(Seq(b1, b2), "append") { df =>
      Stateful.slidingCounts(df.as[OrderEvent], sizeMs = 5000L, graceMs = 5000L).toDF()
    }
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the late o3 refreshed the 3000-end window from 2 to 3
    assert(rows.toSet === Set(
      ("alice", 0L, 1L), ("alice", 3000L, 2L),            // batch 1
      ("alice", 1000L, 2L), ("alice", 3000L, 3L),         // late arrival + refresh
      ("alice", 20000L, 1L),
      ("bob", 100000L, 1L)))                              // b2 dropped: beyond grace
    // resolution (last per window end) matches the batch RANGE-frame fixpoint
    // a window's count only grows as arrivals land in it → max = last
    val last = rows.groupBy(t => (t._1, t._2)).map { case (k, rs) => k -> rs.map(_._3).max }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user")).orderBy(col("ms")).rangeBetween(-4999L, 0L)
    val fix = (b1 ++ b2).filter(_.orderId != "b2").toDF()
      .select(col("user"), (col("ts").cast("double") * 1000).cast("long").as("ms"))
      .withColumn("cnt", count(lit(1)).over(w)).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(last === fix)
  }

  test("FK table join (batch): fixpoint = inner join of compacted tables, incl. fk moves") {
    import graft.streaming.{ChildUpdate, ProfileUpdate, Stateful}
    val children = Seq(
      ChildUpdate("c1", "p1", "v1", ts("2024-01-01T00:00:00Z")),
      ChildUpdate("c2", "p1", "v2", ts("2024-01-01T00:00:02Z")),
      ChildUpdate("c1", "p2", "v1b", ts("2024-01-01T00:00:03Z")), // moves to p2 — no p2 parent ever
      ChildUpdate("c3", "p3", "v3", ts("2024-01-01T00:00:02Z"))).toDS()
    val parents = Seq(
      ProfileUpdate("p1", "P1", ts("2024-01-01T00:00:01Z")),
      ProfileUpdate("p1", "P1b", ts("2024-01-01T00:00:04Z")), // fan-out after c1 left
      ProfileUpdate("p3", "P3", ts("2024-01-01T00:00:05Z"))).toDS() // late parent
    val rows = Stateful.fkTableJoinExact(children, parents).collect()
    // changelog resolution: per child the max-ts row; at equal ts non-null
    // parentV beats the tombstone
    val last = rows.groupBy(_.id).map { case (id, rs) =>
      val m = rs.map(r => (r.ts.getTime, r.parentV != null, r)).sorted(
        Ordering.by((t: (Long, Boolean, graft.streaming.FkJoined)) => (t._1, t._2))).last._3
      id -> ((m.v, m.parentV))
    }
    // c1's last row is its move tombstone (p2 never arrived) → unmatched
    assert(last("c1") === ((null, null)))
    assert(last("c2") === (("v2", "P1b"))) // refreshed by the p1 upsert fan-out
    assert(last("c3") === (("v3", "P3"))) // emitted when the late parent arrived
    // the DataFrame fixpoint: latest child rows inner-joined to latest parents
    val cdf = graft.ops.Relational.compactLatest(Seq(col("id")), Seq(col("ts")))(children.toDF())
    val pdf = graft.ops.Relational.compactLatest(Seq(col("user")), Seq(col("ts")))(parents.toDF())
    val fix = cdf.join(pdf, cdf("fk") === pdf("user"))
      .select(cdf("id"), cdf("v"), pdf("profile")).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(last.filter(_._2._2 != null) === fix)
  }

  test("FK join streaming hops: subscription deltas on fk moves; parent fan-out skips unsubscribed") {
    import graft.streaming.{ChildUpdate, FkSubscription, ProfileUpdate, Stateful}
    // stage 1: child upserts → subscription deltas, across micro-batches
    val (cms, cdf) = Sources.memoryStream[ChildUpdate](spark)
    val n1 = freshTable()
    val q1 = Stateful.fkSubscriptions(cdf.as[ChildUpdate])
      .toDF().writeStream.format("memory").queryName(n1).outputMode("append").start()
    cms.addData(Seq(ChildUpdate("c1", "p1", "v1", ts("2024-01-01T00:00:00Z"))))
    q1.processAllAvailable()
    cms.addData(Seq(ChildUpdate("c1", "p2", "v1b", ts("2024-01-01T00:00:03Z"))))
    q1.processAllAvailable()
    q1.stop()
    val subs = spark.table(n1).as[FkSubscription].collect().sortBy(_.ts.getTime)
    assert(subs.map(s => (s.fk, s.id, s.subscribe)).toSeq ===
      Seq(("p1", "c1", true), ("p1", "c1", false), ("p2", "c1", true)))

    // stage 2: the response side across batches — late parent, fan-out,
    // unsubscribe retraction
    val (sms, sdf) = Sources.memoryStream[FkSubscription](spark)
    val (pms, pdf) = Sources.memoryStream[ProfileUpdate](spark)
    val n2 = freshTable()
    val q2 = Stateful.fkJoinResponses(sdf.as[FkSubscription], pdf.as[ProfileUpdate])
      .toDF().writeStream.format("memory").queryName(n2).outputMode("append").start()
    def sub(id: String, v: String, t: String) =
      FkSubscription("p1", id, v, subscribe = true, ts(t))
    def unsub(id: String, t: String) = FkSubscription("p1", id, null, subscribe = false, ts(t))
    def parent(v: String, t: String) = ProfileUpdate("p1", v, ts(t))
    sms.addData(Seq(sub("c1", "v1", "2024-01-01T00:00:00Z"),
      sub("c2", "v2", "2024-01-01T00:00:00Z")))
    q2.processAllAvailable()
    assert(spark.table(n2).count() === 0) // no parent yet: inner semantics
    pms.addData(Seq(parent("P1", "2024-01-01T00:00:01Z")))
    q2.processAllAvailable()
    assert(rowsOf(spark.table(n2).select(col("id"), col("parentV"))) ===
      Set(Seq("c1", "P1"), Seq("c2", "P1"))) // fan-out to both subscribers
    sms.addData(Seq(unsub("c1", "2024-01-01T00:00:02Z")))
    pms.addData(Seq(parent("P1b", "2024-01-01T00:00:03Z")))
    q2.processAllAvailable()
    q2.stop()
    val batch3 = spark.table(n2).collect()
      .filter(_.getTimestamp(4).getTime >= ts("2024-01-01T00:00:02Z").getTime)
      .map(r => (r.getString(0), r.getString(3))).toSet
    // c1's tombstone, then the refreshed c2 only — the moved child is gone
    assert(batch3 === Set(("c1", null), ("c2", "P1b")))
  }

  test("streaming document curation: quality gate + content dedup on a live stream") {
    val t0 = ts("2024-01-01T00:00:00Z")
    val good = "the cat is on the mat and the dog is in the house" // quality-passing
    // the same-fingerprint docs arrive in LATER batches: within one
    // micro-batch "first arrival" is not defined (partition order), across
    // batches it is
    val batch1 = Seq(
      (1L, good, t0),
      (2L, "zq zq zq zq zq", t0))          // repetitive, no stopwords → gated out
    val batch2 = Seq(
      (3L, good.toUpperCase + "!!", t0),   // normalizes to doc 1's content → deduped
      (4L, good + " again", t0),           // different content → kept
      (5L, good, t0))                      // same fingerprint, within grace → deduped
    val out = runStream(Seq(batch1, batch2), "append") { df =>
      Topologies.curateDocuments(df.toDF("doc_id", "text", "ts"))
    }
    assert(rowsOf(out.select(col("doc_id"))) === Set(Seq(1L), Seq(4L)))
    // doc 1 and doc 3 carried the same fingerprint; the first arrival won
    val fp1 = out.filter(col("doc_id") === 1L).collect()(0).getString(1)
    val batchNorm = Seq((3L, good.toUpperCase + "!!")).toDF("doc_id", "text")
      .select(md5(graft.ops.TextAnalysis.normalize(col("text")))).collect()(0).getString(0)
    assert(fp1 === batchNorm)
  }

  test("X1 streaming dedup drops re-deliveries within the watermark horizon") {
    val dup = orders.head.copy(amount = 9999.0) // same orderId, re-delivered
    val out = runStream(Seq(orders.take(2), Seq(dup)), "append")(
      Topologies.dedupOrders(_))
    assert(out.count() === 2) // o1 kept once, o2 kept, the re-delivery dropped
    assert(rowsOf(out.select(col("orderId"))) === Set(Seq("o1"), Seq("o2")))
  }

  test("bounded top-k aggregate works incrementally over a stream") {
    import graft.functions.TopKByScore
    val cands = Seq(
      ("q", 0.9, 1L), ("q", 0.5, 2L), ("q", 0.95, 3L),
      ("q", 0.7, 4L), ("q", 0.99, 5L))
    val (ms, raw) = Sources.memoryStream[(String, Double, Long)](spark)
    val df = raw.toDF("qid", "sim", "id")
    val name = freshTable()
    val q = df.groupBy("qid").agg(TopKByScore(2)(col("sim"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("col.id").as("id"))
      .writeStream.format("memory").queryName(name).outputMode("complete").start()
    ms.addData(cands.take(3)); q.processAllAvailable()
    ms.addData(cands.drop(3)); q.processAllAvailable()
    q.stop()
    // final state: best two of ALL candidates across batches
    assert(rowsOf(spark.table(name)) === Set(Seq("q", 1L, 5L), Seq("q", 2L, 3L)))
  }

  test("merge unions two live streams (DSL stream.merge analog)") {
    val (ms1, df1) = Sources.memoryStream[OrderEvent](spark)
    val (ms2, df2) = Sources.memoryStream[OrderEvent](spark)
    val name = freshTable()
    val q = graft.ops.Relational.merge(Seq(df1, df2))
      .select(col("orderId"))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    ms1.addData(orders.take(2))
    ms2.addData(orders.drop(2))
    q.processAllAvailable()
    q.stop()
    assert(rowsOf(spark.table(name)) ===
      Set(Seq("o1"), Seq("o2"), Seq("o3"), Seq("o4")))
  }

  test("serde drops malformed records, keeps decodable ones (KSA:59-74)") {
    val schema = StructType.fromDDL("orderId STRING, amount DOUBLE")
    val raw = Seq(
      ("k1", """{"orderId":"o1","amount":5.0}"""),
      ("k2", """not json at all"""),
      ("k3", """{"orderId":"o3","amount":1.5}""")).toDF("key", "value")
    val out = Serde.fromJsonDropMalformed(col("value"), schema, Seq(col("key")))(raw)
    assert(rowsOf(out) === Set(Seq("k1", "o1", 5.0), Seq("k3", "o3", 1.5)))
  }

  test("file-stream over driver testdata reaches the oracle-checked batch fixpoint (A2 on events)") {
    val dir = "/root/testdata/sf0.001"
    Tables.events(spark, dir) // sets nanosAsLong on the session
    val raw = spark.read.parquet(s"$dir/events.parquet")
    // FileStreamSource wants a directory; testdata ships single files
    val watched = java.nio.file.Files.createTempDirectory("graft-events-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$dir/events.parquet"),
      watched.resolve("events.parquet"))
    val streamed = Tables.normalizeEvents(
      Sources.fileStream(spark, watched.toString, raw.schema))
    val windowed = graft.ops.Relational.windowedCountByKey(
      col("ts_ts"), "10 seconds", col("user_id"), "user_id")(streamed)
    val name = freshTable()
    val q = windowed.writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val batch = Queries.queries("a2_windowed_count")(spark, dir)
    assert(rowsOf(spark.table(name)) === rowsOf(batch))
    assert(spark.table(name).count() > 0)
  }

  test("toJsonValue round-trips through fromJsonDropMalformed (KSA:61 serializer)") {
    import org.apache.spark.sql.types.StructType
    val df = Seq(("o1", 5.0), ("o2", 1.5)).toDF("orderId", "amount")
    val wired = df.select(col("orderId").as("key"),
      Serde.toJsonValue(col("orderId"), col("amount")).as("value"))
    val back = Serde.fromJsonDropMalformed(col("value"),
      StructType.fromDDL("orderId STRING, amount DOUBLE"), Seq(col("key")))(wired)
    assert(rowsOf(back) === Set(Seq("o1", "o1", 5.0), Seq("o2", "o2", 1.5)))
  }

  test("timer-driven resample ticks match the batch forward-fill on watermark-complete cells") {
    import graft.streaming.Stateful
    import graft.ops.Timeseries
    // step 10 s. alice: two obs in cell 0 (later ts wins) + one in cell 20;
    // bob: one obs in cell 0. Flush batches advance the watermark so cells
    // emit one by one; by the last batch the watermark has reached 100 s.
    val evs = Seq(
      OrderEvent("a1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:00Z")),
      OrderEvent("a2", "alice", Seq("b"), 2.0, ts("2024-01-01T00:00:02Z")),
      OrderEvent("a3", "alice", Seq("c"), 3.0, ts("2024-01-01T00:00:25Z")),
      OrderEvent("b1", "bob", Seq("d"), 9.0, ts("2024-01-01T00:00:05Z")))
    val flush1 = OrderEvent("z1", "zz", Seq("x"), 0.0, ts("2024-01-01T00:01:40Z"))
    val flush2 = OrderEvent("z2", "zz", Seq("x"), 0.0, ts("2024-01-01T00:03:20Z"))
    val out = runStream(Seq(evs, Seq(flush1), Seq(flush2)), "append") { df =>
      Stateful.resampleTicks(df.as[OrderEvent], stepMs = 10000L).toDF()
    }.filter(col("user").isin("alice", "bob"))
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    // batch fixpoint on the cells both operators define (up to each key's
    // last observed bucket); the batch grid stops there, streaming keeps
    // forward-filling as the watermark advances
    val batch = Timeseries.resampleFfill(col("user"),
        col("ts").cast("long") * 1000, col("amount"), 10000L)(
        evs.toDF())
      .select(col("k").as("user"), col("grid_us").as("gridMs"), col("v"))
    assert(rowsOf(out.filter((col("user") === "alice" && col("gridMs") <= base + 20000) ||
      (col("user") === "bob" && col("gridMs") === base))) === rowsOf(batch))
    // trailing gap cells: the final watermark is 200 s (processAllAvailable
    // runs follow-up micro-batches when the watermark advances, so the last
    // flush's timestamp applies) → cells through start 190 s, all carrying
    // each key's last value
    val aliceTrail = out.filter(col("user") === "alice" && col("gridMs") > base + 20000)
    assert(aliceTrail.count() === 17) // cells 30..190 s
    assert(aliceTrail.filter(col("v") =!= 3.0).count() === 0)
    // exactly-once per cell
    assert(out.groupBy("user", "gridMs").count().filter(col("count") > 1).count() === 0)
  }

  test("resampleTicks on batch input equals the batch forward-fill") {
    import graft.ops.Timeseries
    // the grid stops at each key's last observed bucket: alice 0..20 s,
    // bob 0 s, zz 100 s; a same-cell tie resolves to the greater value
    val evs = Seq(
      OrderEvent("a1", "alice", Seq("a"), 1.0, ts("2024-01-01T00:00:00Z")),
      OrderEvent("a2", "alice", Seq("b"), 2.0, ts("2024-01-01T00:00:02Z")),
      OrderEvent("a3", "alice", Seq("c"), 4.0, ts("2024-01-01T00:00:02Z")),
      OrderEvent("a4", "alice", Seq("d"), 3.0, ts("2024-01-01T00:00:25Z")),
      OrderEvent("b1", "bob", Seq("e"), 9.0, ts("2024-01-01T00:00:05Z")),
      OrderEvent("z1", "zz", Seq("x"), 0.0, ts("2024-01-01T00:01:40Z")))
    val got = Stateful.resampleTicks(evs.toDS(), stepMs = 10000L).toDF()
    val batch = Timeseries.resampleFfill(col("user"), col("ts").cast("long") * 1000,
        col("amount"), 10000L)(evs.toDF())
      .select(col("k").as("user"), col("grid_us").as("gridMs"), col("v"))
    assert(countsOf(got) === countsOf(batch))
    assert(got.count() === 5)
  }

  test("a late-but-in-watermark observation moves the resample grid start backward") {
    import graft.streaming.Stateful
    // allowed lateness 2 min: the first batch sees alice at 30 s, the
    // second delivers a LATE observation at 5 s — before anything was
    // emitted, so the grid must anchor at bucket 0, not 30
    val b1 = Seq(OrderEvent("a1", "alice", Seq("a"), 5.0, ts("2024-01-01T00:00:30Z")))
    val late = Seq(OrderEvent("a2", "alice", Seq("b"), 1.0, ts("2024-01-01T00:00:05Z")))
    val f1 = Seq(OrderEvent("z1", "zz", Seq("x"), 0.0, ts("2024-01-01T00:05:00Z")))
    val f2 = Seq(OrderEvent("z2", "zz", Seq("x"), 0.0, ts("2024-01-01T00:10:00Z")))
    val out = runStream(Seq(b1, late, f1, f2), "append") { df =>
      Stateful.resampleTicks(df.as[OrderEvent], stepMs = 10000L,
        watermarkDelay = "2 minutes").toDF()
    }.filter(col("user") === "alice")
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    // final wm = 600 - 120 = 480 s → cells 0..470 s
    assert(out.count() === 48)
    assert(rowsOf(out.filter(col("gridMs") < base + 30000).select(col("v"))) === Set(Seq(1.0)))
    assert(out.filter(col("gridMs") >= base + 30000 && col("v") =!= 5.0).count() === 0)
  }

  test("stateful aggregation runs on the RocksDB state store provider (scale config)") {
    // At 100 TB key spaces, in-memory (HDFSBackedStateStore) state OOMs;
    // RocksDB spills to local disk. Verify the bundled provider actually
    // backs a stateful query and produces the same fixpoint.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = runStream(Seq(orders.take(2), orders.drop(2)), "complete")(
        Topologies.productsPerUser(_))
      assert(rowsOf(out) === rowsOf(Topologies.productsPerUser(orders.toDF())))
      // a keyed step on the same provider: sessionClose reaches its fixpoint
      val flush = OrderEvent("zz", "zz", Seq("x"), 1.0, ts("2024-01-01T01:00:00Z"))
      val sessions = sessionCols(runStream(Seq(orders, Seq(flush)), "append") { df =>
        Stateful.sessionClose(df.as[OrderEvent], gapMs = 5000L).toDF()
      })
      assert(rowsOf(sessions) === rowsOf(sessionFixpoint(orders.toDF())))
      assert(sessions.count() === 4)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("query progress exposes per-batch row counts (topology monitoring analog)") {
    val progressRows = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progressRows.addAndGet(e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      val out = runStream(Seq(orders), "append")(Topologies.expensiveOrders(_))
      assert(out.count() === 3)
      // listener events are async; spark.streams delivers them before
      // processAllAvailable returns on the last batch commit, but allow a
      // brief drain to be safe
      val deadline = System.nanoTime() + 5e9.toLong
      while (progressRows.get() < orders.size && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(progressRows.get() >= orders.size) // all 4 input rows observed
    } finally spark.streams.removeListener(listener)
  }

  test("kafka source/sink paths are guarded when the connector is absent") {
    assert(!Sources.dataSourceAvailable("kafka"))
    val schema = StructType.fromDDL("orderId STRING")
    intercept[IllegalArgumentException] {
      Sources.kafkaJsonStream(spark, "localhost:9092", "orders", schema)
    }
    intercept[IllegalArgumentException] {
      Sinks.toKafka(Seq(("o1", 1.0)).toDF("orderId", "amount"),
        "localhost:9092", "paid-orders", "orderId", "/tmp/ckpt")
    }
    assert(Sources.dataSourceAvailable("parquet")) // sanity: the probe itself works
  }

  test("X3 gopher gate is the same code on a stream: stateless append filter equals batch") {
    // curation gates are map-only, so the IDENTICAL Column gates a
    // readStream: no state, no watermark, per-batch append — the
    // ingest-time counterpart of the x6j batch gate
    val docsB = Seq(
      (1L, ((1 to 60).map(i => s"word$i") ++ Seq("the", "and")).mkString(" ")),
      (2L, "the and too short"),
      (3L, ((1 to 55).map(i => s"token$i") ++ Seq("the", "and", "of")).mkString(" ")))
    def gate(df: DataFrame): DataFrame =
      df.toDF("doc_id", "text")
        .filter(graft.ops.TextAnalysis.gopherPassExpr(col("text")))
        .select("doc_id")
    val out = runStream(Seq(docsB.take(2), docsB.drop(2)), "append")(gate)
    assert(rowsOf(out) === rowsOf(gate(docsB.toDF("doc_id", "text"))))
    assert(out.count() === 2) // doc 2 fails the word-count rule in-stream
  }

  // The as-of rows. A: quotes at 0s (q1=10), 30s tie (q2=12, q3=13 — greatest id wins);
  // trades at 10s (→q1), 30s (→q3: inclusive tie), and 20s (→q1)
  // ARRIVING AFTER the 30s trade — the out-of-order case the J1 twin
  // can't represent. B: a trade with no quote yet (→ null match), then
  // a quote and a later trade (→ that quote).
  private val quotesA = Seq(
    Stateful.Quote("A", "q1", 10.0, ts("2024-01-01T00:00:00Z")),
    Stateful.Quote("A", "q2", 12.0, ts("2024-01-01T00:00:30Z")),
    Stateful.Quote("A", "q3", 13.0, ts("2024-01-01T00:00:30Z")))
  private val qB = Stateful.Quote("B", "q4", 20.0, ts("2024-01-01T00:01:00Z"))
  private val qFlush = Stateful.Quote("A", "qf", 99.0, ts("2024-01-01T00:10:00Z"))
  private val trades = Seq(
    Stateful.Trade("t1", "A", 1.0, ts("2024-01-01T00:00:10Z")),
    Stateful.Trade("t2", "A", 2.0, ts("2024-01-01T00:00:30Z")),
    Stateful.Trade("t3", "A", 3.0, ts("2024-01-01T00:00:20Z")),
    Stateful.Trade("t4", "B", 4.0, ts("2024-01-01T00:00:15Z")),
    Stateful.Trade("t5", "B", 5.0, ts("2024-01-01T00:01:30Z")))

  private def asofColumns(df: DataFrame): DataFrame = df.select(col("tradeId"), col("sym"),
    col("qty"), col("ts").cast("long").as("s"), col("price"), col("quoteId"))

  /** The as-of rows' batch fixpoint: [[graft.ops.Relational.asofJoin]]. */
  private def asofFixpoint(): DataFrame = asofColumns(graft.ops.Relational.asofJoin(
    (quotesA :+ qB :+ qFlush).toDF()
      .select(col("sym"), col("quoteId"), col("price"), col("ts").as("qts")),
    Seq("sym"), "ts", "qts", Seq("price", "quoteId"), "quoteId")(trades.toDF()))

  test("streaming as-of join: out-of-order arrivals reach the batch asofJoin fixpoint") {
    import graft.streaming.Stateful
    import graft.streaming.Stateful.{Quote, Trade}
    val (tms, tdf) = Sources.memoryStream[Trade](spark)
    val (qms, qdf) = Sources.memoryStream[Quote](spark)
    val name = freshTable()
    val q = Sinks.toMemory(
      Stateful.asofJoinExact(tdf.as[Trade], qdf.as[Quote],
        java.time.Duration.ofSeconds(60)).toDF(), name, "append").start()
    // batch 1: t1, t2 and q1 — watermark 0, nothing emits
    tms.addData(trades.take(2)); qms.addData(quotesA.take(1))
    q.processAllAvailable()
    assert(spark.table(name).count() === 0)
    // batch 2: the tie quotes, the out-of-order t3, and B's t4/q4/t5
    tms.addData(trades.drop(2)); qms.addData(quotesA.drop(1) :+ qB)
    q.processAllAvailable()
    // batch 3: one far-future quote on A only. B gets NO further input —
    // its pending trades must flush via the event-time timer, not data.
    qms.addData(Seq(qFlush))
    q.processAllAvailable()
    q.stop()
    val streamed = asofColumns(spark.table(name))

    assert(rowsOf(streamed) === rowsOf(asofFixpoint()))
    // spot semantics: inclusive tie → q3; out-of-order t3 → q1; no-quote → null
    val byId = streamed.collect().map(r => r.getString(0) -> r.toSeq).toMap
    assert(byId("t2")(5) === "q3" && byId("t2")(4) === 13.0)
    assert(byId("t3")(5) === "q1")
    assert(byId("t4")(4) == null && byId("t4")(5) == null)
    assert(byId("t5")(5) === "q4")
    assert(streamed.count() === 5) // every trade exactly once (append, no revision)
  }

  test("streaming as-of join: emission waits for the watermark to STRICTLY pass a trade") {
    import graft.streaming.Stateful
    import graft.streaming.Stateful.{Quote, Trade}
    // The observable half of the strict-ripeness contract, end-to-end: a
    // trade whose event time the watermark has only REACHED (wm == ts)
    // must not emit yet — only once the watermark strictly passes it.
    // (The other half — a quote tying wm and the trade's ts still wins —
    // cannot be staged through the engine: Spark's own late filter drops
    // flatMapGroupsWithState input at ts <= previous-batch watermark, one
    // batch before our admission filter would see it; that knife-edge is
    // pinned at the asofStep unit level below.) delay = 60s throughout.
    val t1 = Trade("t1", "A", 1.0, ts("2024-01-01T00:01:40Z")) // ts = 100s
    val q0 = Quote("A", "q0", 10.0, ts("2024-01-01T00:00:00Z")) // with t1 in batch 0
    val qd = Quote("A", "qd", 50.0, ts("2024-01-01T00:02:40Z")) // 160s: invokes key A at wm==100s
    val wmB1 = Quote("B", "b1", 1.0, ts("2024-01-01T00:02:40Z")) // 160s → wm 100s
    val wmB2 = Quote("B", "b2", 1.0, ts("2024-01-01T00:02:45Z")) // 165s → wm 105s
    val wmB3 = Quote("B", "b3", 1.0, ts("2024-01-01T00:02:46Z")) // trigger: timer fires at wm 105s

    val (tms, tdf) = Sources.memoryStream[Trade](spark)
    val (qms, qdf) = Sources.memoryStream[Quote](spark)
    val name = freshTable()
    val q = Sinks.toMemory(
      Stateful.asofJoinExact(tdf.as[Trade], qdf.as[Quote],
        java.time.Duration.ofSeconds(60)).toDF(), name, "append").start()
    tms.addData(Seq(t1)); qms.addData(Seq(q0))
    q.processAllAvailable() // wm after: 40s; q0 buffered alongside t1
    qms.addData(Seq(wmB1))
    q.processAllAvailable() // wm after: exactly 100s == t1.ts
    qms.addData(Seq(qd))
    q.processAllAvailable() // key A invoked at wm == t1.ts: t1 must NOT emit yet
    assert(spark.table(name).count() === 0,
      "trade emitted at wm == its event time — ripeness must be strict")
    qms.addData(Seq(wmB2)); q.processAllAvailable() // wm → 105s, strictly past t1
    qms.addData(Seq(wmB3)); q.processAllAvailable() // timer fires, t1 ripe
    q.stop()
    val got = spark.table(name).select("tradeId", "price", "quoteId").collect()
    assert(got.length === 1)
    assert(got.head.getString(0) === "t1")
    assert(got.head.getDouble(1) === 10.0 && got.head.getString(2) === "q0")
  }

  test("asofStep knife-edge: a quote tying the watermark and a trade's event time still wins") {
    import graft.streaming.{CoRow, Stateful}
    import graft.streaming.Stateful.{AsofBuf, Quote, Trade}
    // The admission contract admits rows with ts >= wm, so a quote with ts
    // EXACTLY equal to the watermark — and equal to a buffered trade's
    // event time — may arrive in a step AFTER the watermark reached that
    // instant. Strict ripeness (emit only at ts < wm) is what keeps the
    // trade waiting so the tying quote can still win; ripeness at <= would
    // have emitted it a step early with the stale match.
    val T = 100000L
    def quote(id: String, ts: Long, p: Double) = CoRow[Trade, Quote]("S", new Timestamp(ts),
      null, Quote("S", id, p, new Timestamp(ts)))
    def trade(id: String, ts: Long) = CoRow[Trade, Quote]("S", new Timestamp(ts),
      Trade(id, "S", 1.0, new Timestamp(ts)), null)
    // step 1 (wm well below T): early quote + the trade buffer up
    val (s1, o1) = Stateful.asofStep("S", 0L, AsofBuf(Nil, Nil),
      Seq(quote("q0", 0L, 10.0), trade("t1", T)))
    assert(o1.isEmpty)
    // step 2: the watermark has reached T exactly — the trade must wait
    val (s2, o2) = Stateful.asofStep("S", T, s1, Nil)
    assert(o2.isEmpty, "trade emitted at wm == its event time")
    assert(s2.trades.map(_.tradeId) === Seq("t1"))
    // step 3: the tying quote arrives (ts == wm == trade ts — admissible)
    val (s3, o3) = Stateful.asofStep("S", T, s2, Seq(quote("q9", T, 99.0)))
    assert(o3.isEmpty)
    assert(s3.quotes.exists(_.tb === "q9"), "tying quote was pruned while still admissible")
    // step 4: the watermark strictly passes — the tying quote wins the match
    val (s4, o4) = Stateful.asofStep("S", T + 1, s3, Nil)
    assert(o4.map(j => (j.tradeId, j.price, j.quoteId)) ===
      Seq(("t1", Some(99.0), Some("q9"))))
    assert(s4.trades.isEmpty)
  }

  test("as-of join state is watermark-bounded: quote history prunes, trades drain") {
    import graft.streaming.{CoRow, Stateful}
    import graft.streaming.Stateful.{AsofBuf, Quote, Trade}
    // The state-bound twin of the runningTotalsTtl test: run the pure
    // per-invocation transition over a long stream (100 batches x 20
    // quotes + 5 trades per key) with the watermark trailing 2 batches
    // behind, and assert after EVERY step that retained state is
    // O(delay window): at most one quote strictly below the watermark
    // plus the in-window ones, and only not-yet-ripe trades — i.e. the
    // buffer plateaus instead of growing with stream length.
    def tick(isLeft: Boolean, id: String, tsMs: Long): CoRow[Trade, Quote] = {
      val t = new Timestamp(tsMs)
      if (isLeft) CoRow("S", t, Trade(id, "S", 1.0, t), null)
      else CoRow("S", t, null, Quote("S", id, 2.0, t))
    }
    val batchMs = 1000L
    var st = AsofBuf(Nil, Nil)
    var emitted = 0
    (0 until 100).foreach { b =>
      val base = b * batchMs
      val wm = math.max(0L, (b - 2) * batchMs) // watermark trails 2 batches
      val in = (0 until 20).map(i => tick(isLeft = false, s"q$b-$i", base + i * 50)) ++
        (0 until 5).map(i => tick(isLeft = true, s"t$b-$i", base + i * 200))
      val (next, out) = Stateful.asofStep("S", wm, st, in)
      emitted += out.size
      assert(out.forall(_.ts.getTime < wm), "emitted a trade the watermark had not passed")
      assert(next.quotes.count(_.tsMs < wm) <= 1,
        s"batch $b retained ${next.quotes.count(_.tsMs < wm)} dominated quotes")
      assert(next.trades.forall(_.tsMs >= wm), "retained an already-ripe trade")
      // absolute plateau: <=1 reigning quote + 3 batches' worth in-window
      assert(next.quotes.size <= 1 + 3 * 20, s"quote history grew: ${next.quotes.size}")
      assert(next.trades.size <= 3 * 5, s"trade buffer grew: ${next.trades.size}")
      st = next
    }
    // drain: once the watermark passes everything, all trades have emitted
    val (fin, tail) = Stateful.asofStep("S", 200 * batchMs, st, Nil)
    emitted += tail.size
    assert(emitted === 100 * 5)
    assert(fin.trades.isEmpty && fin.quotes.size <= 1)
  }

  test("asofJoinExact on batch input equals the batch asofJoin") {
    val got = Stateful.asofJoinExact(trades.toDS(), (quotesA :+ qB :+ qFlush).toDS(),
      java.time.Duration.ofSeconds(60))
    assert(countsOf(asofColumns(got.toDF())) === countsOf(asofFixpoint()))
    assert(got.count() === 5)
  }

  /** `op` as (batch rows, streamed rows), both multisets: once on a batch
    * Dataset of all of `batches`, once streamed with each element of
    * `batches` as one micro-batch into a `mode` sink.
    */
  private def batchAndStream1[A: org.apache.spark.sql.Encoder, O](batches: Seq[Seq[A]],
      mode: String = "append")(
      op: Dataset[A] => Dataset[O]): (Map[Seq[Any], Int], Map[Seq[Any], Int]) = {
    val batch = countsOf(op(batches.flatten.toDS()).toDF())
    val (ms, df) = Sources.memoryStream[A](spark)
    val name = freshTable()
    val q = Sinks.toMemory(op(df.as[A]).toDF(), name, mode).start()
    try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    finally q.stop()
    (batch, countsOf(spark.table(name)))
  }

  /** [[batchAndStream1]] over two inputs, each (a, b) pair one micro-batch.
    * Both inputs come from one tagged stream: fed as two sources, a
    * trigger can start between the two `addData` calls and split the pair.
    */
  private def batchAndStream[A <: Product : TypeTag, B <: Product : TypeTag, O](
      batches: Seq[(Seq[A], Seq[B])])(op: (Dataset[A], Dataset[B]) => Dataset[O])
      : (Map[Seq[Any], Int], Map[Seq[Any], Int]) =
    batchAndStream1(batches.map { case (a, b) =>
      a.map(x => (Option(x), Option.empty[B])) ++ b.map(y => (Option.empty[A], Option(y)))
    })(both => op(both.flatMap(_._1), both.flatMap(_._2)))

  test("NULL-ts hostile rows: the stream-table join ignores them, batch and stream") {
    import graft.streaming.ProfileUpdate
    val profiles = Seq(ProfileUpdate("alice", "gold", ts("2024-01-01T00:00:00Z")),
      ProfileUpdate("bob", "basic", ts("2024-01-01T00:00:00Z")))
    val clean = batchAndStream(Seq((orders, profiles)))(Stateful.streamTableJoinExact)
    val hostile = batchAndStream(Seq((orders :+ OrderEvent("oN", "alice", Nil, 1.0, null),
      ProfileUpdate("alice", "tin", null) +: profiles)))(Stateful.streamTableJoinExact)
    assert(hostile === clean)
    assert(clean._1.values.sum === 3) // carol has no profile
  }

  test("a NULL user matches nothing in the stream-table and table-table joins, batch and stream") {
    import graft.streaming.ProfileUpdate
    val t0 = ts("2024-01-01T00:00:00Z")
    val profiles = Seq(ProfileUpdate("alice", "gold", t0))
    val clean = batchAndStream(Seq((orders, profiles)))(Stateful.streamTableJoinExact)
    // Kafka Streams ignores null-key records in joins; so does j1's DataFrame join
    val hostile = batchAndStream(Seq((orders :+ OrderEvent("oNull", null, Nil, 1.0, t0),
      ProfileUpdate(null, "silver", t0) +: profiles)))(Stateful.streamTableJoinExact)
    assert(hostile === clean)
    assert(clean._1.keys.map(_.head).toSet === Set("o1", "o3"))
    // its table sources drop them, so NULL-user upserts on both sides pair with nothing
    val right = Seq(ProfileUpdate("alice", "R", t0))
    val tables = (l: Seq[ProfileUpdate], r: Seq[ProfileUpdate]) =>
      batchAndStream(Seq((l, r)))(Stateful.tableTableJoinExact)
    val cleanTables = tables(profiles, right)
    assert(tables(ProfileUpdate(null, "silver", t0) +: profiles,
      right :+ ProfileUpdate(null, "R", t0)) === cleanTables)
    assert(cleanTables._1 === cleanTables._2 && cleanTables._1.values.sum === 2)
  }

  test("NULL-ts hostile rows: the table-table join ignores them, batch and stream") {
    import graft.streaming.ProfileUpdate
    val left = Seq(ProfileUpdate("alice", "L1", ts("2024-01-01T00:00:00Z")),
      ProfileUpdate("bob", "L1", ts("2024-01-01T00:00:02Z")))
    val right = Seq(ProfileUpdate("alice", "R1", ts("2024-01-01T00:00:03Z")))
    val clean = batchAndStream(Seq((left, right)))(Stateful.tableTableJoinExact)
    val hostile = batchAndStream(Seq((left :+ ProfileUpdate("alice", "Lx", null),
      ProfileUpdate("carol", "Rx", null) +: right)))(Stateful.tableTableJoinExact)
    assert(hostile === clean)
    assert(clean._1.values.sum === 3)
  }

  test("NULL-ts hostile rows: the FK join ignores them, batch and stream") {
    import graft.streaming.{ChildUpdate, FkSubscription, ProfileUpdate}
    val t = (s: Int) => ts(f"2024-01-01T00:00:$s%02dZ")
    val children = Seq(ChildUpdate("c1", "p1", "v1", t(0)), ChildUpdate("c2", "p1", "v2", t(2)))
    val parents = Seq(ProfileUpdate("p1", "P1", t(1)))
    // batch: both stages, with a NULL-ts child move and a NULL-ts parent
    val fk = (c: Seq[ChildUpdate], p: Seq[ProfileUpdate]) =>
      countsOf(Stateful.fkTableJoinExact(c.toDS(), p.toDS()).toDF())
    val cleanBatch = fk(children, parents)
    assert(fk(children :+ ChildUpdate("c1", "p2", "vx", null),
      parents :+ ProfileUpdate("p1", "Px", null)) === cleanBatch)
    assert(cleanBatch.values.sum === 2)
    // stream: stage 2, the co-group
    val subs = Seq(FkSubscription("p1", "c1", "v1", subscribe = true, t(0)),
      FkSubscription("p1", "c2", "v2", subscribe = true, t(2)))
    val clean = batchAndStream(Seq((subs, parents)))(Stateful.fkJoinResponses)
    val hostile = batchAndStream(Seq((subs :+ FkSubscription("p1", "c9", "vx", subscribe = true,
      null), ProfileUpdate("p1", "Px", null) +: parents)))(Stateful.fkJoinResponses)
    assert(hostile === clean)
    assert(clean._2 === cleanBatch)
  }

  test("NULL-ts hostile rows: the as-of join ignores them, batch and stream") {
    import graft.streaming.Stateful.{Quote, Trade}
    val op = (t: Dataset[Trade], q: Dataset[Quote]) =>
      Stateful.asofJoinExact(t, q, java.time.Duration.ofSeconds(60))
    // the schedule of the out-of-order test: batch 3 flushes A, a timer flushes B
    def run(tN: Seq[Trade], qN: Seq[Quote]) = batchAndStream(Seq(
      (trades.take(2) ++ tN, quotesA.take(1) ++ qN),
      (trades.drop(2), quotesA.drop(1) :+ qB),
      (Seq.empty[Trade], Seq(qFlush))))(op)
    val clean = run(Nil, Nil)
    assert(run(Seq(Trade("tN", "A", 9.0, null)), Seq(Quote("A", "qz", 99.0, null))) === clean)
    assert(clean._1 === clean._2 && clean._1.values.sum === 5)
  }

  test("NULL-ts hostile rows: the table re-group ignores them, batch and stream") {
    import graft.streaming.ProfileUpdate
    val t = (s: Int) => ts(f"2024-01-01T00:00:$s%02dZ")
    val ups = Seq(ProfileUpdate("alice", "click", t(0)), ProfileUpdate("bob", "view", t(1)),
      ProfileUpdate("alice", "view", t(2)), ProfileUpdate("bob", "cart", t(3)))
    def run(nulls: Seq[ProfileUpdate]) =
      batchAndStream1(Seq(ups.take(2) ++ nulls, ups.drop(2) ++ nulls))(Stateful.tableRegroupDeltas)
    val clean = run(Nil)
    assert(run(Seq(ProfileUpdate("alice", "cart", null), ProfileUpdate("bob", "click", null)))
      === clean)
    assert(clean._1 === clean._2 && clean._1.values.sum === 6)
  }

  test("NULL-ts hostile rows: sliding counts ignore them; a NULL orderId ties, batch and stream") {
    def at(ms: Long) = new Timestamp(ms)
    // o2 and the NULL-orderId row share an event time in one micro-batch
    val b1 = Seq(OrderEvent("o1", "alice", Nil, 1.0, at(0)),
      OrderEvent("o2", "alice", Nil, 1.0, at(3000)), OrderEvent(null, "alice", Nil, 1.0, at(3000)))
    val b2 = Seq(OrderEvent("o4", "alice", Nil, 1.0, at(4000)))
    def run(nulls: Seq[OrderEvent]) = batchAndStream1(Seq(b1 ++ nulls, b2 ++ nulls))(
      Stateful.slidingCounts(_, sizeMs = 5000L, graceMs = 5000L))
    val clean = run(Nil)
    assert(run(Seq(OrderEvent("oN", "alice", Nil, 1.0, null))) === clean)
    assert(clean._1 === clean._2)
    assert(clean._1 === Map(Seq("alice", 0L, 1L) -> 1, Seq("alice", 3000L, 2L) -> 1,
      Seq("alice", 3000L, 3L) -> 1, Seq("alice", 4000L, 4L) -> 1))
  }

  test("NULL-ts hostile rows: transition pairs ignore them; a NULL orderId sorts first, batch and stream") {
    val t = (s: Int) => ts(f"2024-01-01T00:00:$s%02dZ")
    // the NULL-orderId row ties e2's event time in one micro-batch
    val b1 = Seq(OrderEvent("e1", "alice", Seq("a"), 1.0, t(1)),
      OrderEvent("e2", "alice", Seq("b"), 1.0, t(2)), OrderEvent(null, "alice", Seq("c"), 1.0, t(2)))
    val b2 = Seq(OrderEvent("e3", "alice", Seq("a"), 1.0, t(3)),
      OrderEvent("e4", "bob", Seq("b"), 1.0, t(4)), OrderEvent("e5", "bob", Seq("a"), 1.0, t(5)))
    def run(nulls: Seq[OrderEvent]) =
      batchAndStream1(Seq(b1 ++ nulls, b2 ++ nulls))(Stateful.transitionPairs)
    val clean = run(Nil)
    assert(run(Seq(OrderEvent("eN", "alice", Seq("z"), 1.0, null),
      OrderEvent("eM", "bob", Seq("z"), 1.0, null))) === clean)
    assert(clean._1 === clean._2)
    // the batch op orders NULLS FIRST on (ts, orderId): a → c → b → a, and b → a
    val batch = graft.ops.Sequences.transitionCounts(col("user"), Seq(col("ts"), col("orderId")),
      element_at(col("products"), 1))((b1 ++ b2).toDF()).collect()
      .map(r => Seq[Any](r.getString(0), r.getString(1)) -> r.getLong(2).toInt).toMap
    assert(clean._1 === batch)
    assert(batch === Map(Seq("a", "c") -> 1, Seq("c", "b") -> 1, Seq("b", "a") -> 2))
  }

  test("NULL-ts hostile rows: sessionClose ignores them, batch and stream") {
    val t = (sec: Int) => ts(f"2024-01-01T00:00:$sec%02dZ")
    val b1 = Seq(OrderEvent("a1", "alice", Nil, 1.0, t(0)),
      OrderEvent("a2", "alice", Nil, 1.0, t(2)),
      OrderEvent("b1", "bob", Nil, 1.0, t(1)))
    // the flush closes every session but its own
    val b2 = Seq(OrderEvent("a3", "alice", Nil, 1.0, t(20)),
      OrderEvent("zz", "zz", Nil, 1.0, ts("2024-01-01T00:01:40Z")))
    def run(nulls: Seq[OrderEvent]) = batchAndStream1(Seq(b1 ++ nulls, b2 ++ nulls))(
      Stateful.sessionClose(_, gapMs = 5000L))
    val clean = run(Nil)
    assert(run(Seq(OrderEvent("aN", "alice", Nil, 1.0, null),
      OrderEvent("bN", "bob", Nil, 1.0, null))) === clean)
    assert(clean._1.values.sum === 4 && clean._2.values.sum === 3)
    assert(clean._2.keySet.subsetOf(clean._1.keySet))
  }

  test("NULL-ts hostile rows: resampleTicks ignores them, batch and stream") {
    val t = (sec: Int) => ts(f"2024-01-01T00:00:$sec%02dZ")
    val b1 = Seq(OrderEvent("a1", "alice", Nil, 1.0, t(0)),
      OrderEvent("a2", "alice", Nil, 2.0, t(2)),
      OrderEvent("b1", "bob", Nil, 9.0, t(5)))
    val b2 = Seq(OrderEvent("a3", "alice", Nil, 3.0, t(25)),
      OrderEvent("zz", "zz", Nil, 0.0, ts("2024-01-01T00:01:40Z")))
    def run(nulls: Seq[OrderEvent]) = batchAndStream1(Seq(b1 ++ nulls, b2 ++ nulls))(
      Stateful.resampleTicks(_, stepMs = 10000L))
    val clean = run(Nil)
    assert(run(Seq(OrderEvent("aN", "alice", Nil, 7.0, null),
      OrderEvent("bN", "bob", Nil, 7.0, null))) === clean)
    // batch: alice 0..20 s, bob 0 s, zz 100 s; stream (watermark 100 s):
    // alice and bob 0..90 s
    assert(clean._1.values.sum === 5 && clean._2.values.sum === 20)
  }

  test("NULL-ts hostile rows: runningTotalsTtl ignores them, batch and stream") {
    def run(nulls: Seq[OrderEvent]) =
      batchAndStream1(Seq(orders.take(2) ++ nulls, orders.drop(2) ++ nulls), "update")(
        Stateful.runningTotalsTtl(_, idleMs = 10000L))
    val clean = run(Nil)
    assert(run(Seq(OrderEvent("aN", "alice", Seq("x"), 5.0, null),
      OrderEvent("dN", "dave", Nil, 5.0, null))) === clean)
    // batch: nothing expires, so the output is runningTotals'
    assert(clean._1 === countsOf(Stateful.runningTotals(orders.toDS()).toDF()))
    assert(clean._2.values.sum === 4) // alice twice, bob, carol
  }
}
