package graft.streaming

import java.util.concurrent.TimeUnit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.IntervalUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.Relational

/** The reference's five topologies (KSA = reference
  * `src/main/scala/KafkaStreamsApp.scala`), re-expressed as Structured
  * Streaming programs. Every topology is a pure `DataFrame => DataFrame`
  * transform, so the SAME code runs on a streaming input (MemoryStream /
  * file / Kafka source) and on a batch input — batch execution simply
  * ignores watermarks. That shared-plan property is the correctness
  * argument (SURVEY §2.3): Kafka Streams emits per record, Spark per
  * micro-batch; the two agree at the final fixpoint, which is exactly the
  * batch result. The streaming test suite asserts that equality.
  *
  * Emission mapping:
  *  - KTable results (A1 count, A2 windowed aggregate) → `update` output
  *    mode: each micro-batch emits refreshed rows = `ktable.toStream`
  *    (A3, KSA:150) continuous changelog emission.
  *  - Flagship results (the J3 order–payment interval join) → `append`:
  *    a matched pair is emitted once, when its later side arrives; an
  *    unmatched side of an outer variant once, when the watermark passes
  *    its interval.
  *
  * Input column contracts are the [[OrderEvent]]/[[PaymentEvent]] case
  * classes. Watermarked topologies require event times after the epoch:
  * the global watermark starts at 0 and the engine drops `ts <= watermark`
  * as late, so a `ts` at or before 1970-01-01T00:00:00Z is dropped in
  * streaming while the batch application keeps it.
  */
object Topologies {

  /** `expensiveOrdersTopology` (KSA:106-111): S1 → P1 filter(amount >=
    * threshold) → K1. Stateless single-stage pipeline — no watermark, no
    * shuffle, no state store.
    */
  def expensiveOrders(orders: DataFrame, threshold: Double = 1000.0): DataFrame =
    Relational.filterRecords(col("amount") >= threshold)(orders)

  /** `purchasedListOfProductsTopology` (KSA:113-118): P2 mapValues
    * (Order → products list) → P5. Pure projection.
    */
  def purchasedProducts(orders: DataFrame): DataFrame =
    Relational.mapValues(col("user"), col("products"))(orders)

  /** `purchasedProductsByFirstLetterTopology` (KSA:120-133): P3
    * flatMapValues(products) → G1 groupBy(first letter of user, lowered).
    * The reference declares the grouping but never aggregates it
    * (KSA:125-128 — dead code after declaration); we aggregate with
    * `count` so the operator is observable. Unwindowed aggregate →
    * `update` output mode.
    */
  def productsByFirstLetter(orders: DataFrame): DataFrame =
    Relational.countByMappedKey(lower(substring(col("user"), 1, 1)), "first_letter")(
      Relational.flatMapValues(Seq(col("user")), col("products"), "product")(orders))

  /** `numberOfProductsByUserEveryTenSecondsTopology`, unwindowed half
    * (KSA:140, KSA:144): P3 explode → G2 groupByKey → A1 count() →
    * KTable[user, Long]. `update` output mode = A3 toStream changelog.
    */
  def productsPerUser(orders: DataFrame): DataFrame =
    Relational.countByKey(col("user"), "user")(
      Relational.flatMapValues(Seq(col("user")), col("products"), "product")(orders))

  /** `numberOfProductsByUserEveryTenSecondsTopology`, windowed half
    * (KSA:142, KSA:146-148): tumbling 10-second event-time windows,
    * epoch-aligned, custom fold (0L, +1) = count. `grace` maps Kafka
    * Streams' window grace (default 24 h) to the watermark's
    * allowed lateness; rows later than that are dropped in streaming and
    * (by definition) absent from the batch fixpoint comparison.
    */
  def productsPerUserWindowed(orders: DataFrame, window: String = "10 seconds",
      grace: String = "24 hours"): DataFrame =
    Relational.windowedCountByKey(col("ts"), window, col("user"), "user")(
      Relational.flatMapValues(Seq(col("user"), col("ts")), col("products"), "product")(
        orders.withWatermark("ts", grace)))

  /** Hopping variant of [[productsPerUserWindowed]] (Kafka Streams
    * `TimeWindows.of(size).advanceBy(hop)` — the reference only uses the
    * tumbling size == hop case): each event is counted into size/hop
    * overlapping epoch-aligned windows. Streaming state holds size/hop
    * live (user, window) cells per key; append mode emits each window
    * exactly once when the watermark passes its end — same
    * lateness/grace mapping as the tumbling topology.
    */
  def productsPerUserHopping(orders: DataFrame, window: String = "20 seconds",
      hop: String = "10 seconds", grace: String = "24 hours"): DataFrame =
    Relational.hoppingCountByKey(col("ts"), window, hop, col("user"), "user")(
      Relational.flatMapValues(Seq(col("user"), col("ts")), col("products"), "product")(
        orders.withWatermark("ts", grace)))

  /** Streaming document curation — the batch curation pipeline
    * (normalize → quality gate → fingerprint dedup) applied to a LIVE
    * document stream, the shape an ingestion-time curation service runs:
    * each arriving doc is normalized and quality-scored with the same
    * codegen'd expressions as the batch path
    * ([[graft.ops.TextAnalysis.qualityExpr]]), then content-deduped on
    * `md5(norm)` within the watermark horizon
    * (`dropDuplicatesWithinWatermark`: state bounded by arrival rate ×
    * grace, the only scale-safe streaming dedup). Unlike the batch
    * pipeline there is no min-doc_id survivor election — a stream keeps
    * the FIRST arrival per fingerprint, which is the online analog.
    */
  def curateDocuments(docs: DataFrame, minQuality: Double = 0.45,
      grace: String = "10 minutes"): DataFrame =
    docs
      .withColumn("norm", graft.ops.TextAnalysis.normalize(col("text")))
      .withColumn("quality", graft.ops.TextAnalysis.qualityExpr(col("norm")))
      .filter(col("quality") >= minQuality)
      .withColumn("norm_fp", md5(col("norm")))
      .withWatermark("ts", grace)
      .dropDuplicatesWithinWatermark("norm_fp")
      .select(col("doc_id"), col("norm_fp"), col("quality"), col("ts"))

  /** Streaming TRENDING: the per-window winner of a windowed count —
    * CHAINED streaming aggregations (Spark 4 multiple-stateful-operator
    * support): a watermarked tumbling count per (window, key), then a
    * second aggregation per window picking the max-count key. The second
    * groupBy is on the window struct itself, so event-time semantics (and
    * watermark-driven finalization in append mode) propagate through both
    * stateful operators. `max(struct(cnt, key))` is the deterministic
    * argmax: highest count, ties to the lexicographically-last key —
    * identical in batch and streaming, which the fixpoint test asserts.
    */
  def trendingKeys(events: DataFrame, key: Column, tsCol: Column,
      window: String = "10 seconds", grace: String = "24 hours"): DataFrame =
    events
      .select(key.as("key"), tsCol.as("ts"))
      .withWatermark("ts", grace)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window).as("w"),
        col("key"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("w"))
      .agg(max(struct(col("cnt"), col("key"))).as("m"))
      .select(col("w.start").as("window_start"),
        col("m.key").as("top_key"), col("m.cnt").as("top_cnt"))

  /** X1 streaming exact dedup: drop re-deliveries of the same order id
    * arriving within the watermark horizon — the streaming analog of
    * [[graft.ops.Dedup.exact]]. `dropDuplicatesWithinWatermark` is the only
    * scale-safe formulation: plain streaming `dropDuplicates` keeps every
    * key seen forever, while watermark-scoped state is bounded by
    * (arrival rate × grace).
    */
  def dedupOrders(orders: DataFrame, grace: String = "10 minutes"): DataFrame =
    orders.withWatermark("ts", grace).dropDuplicatesWithinWatermark("orderId")

  /** `paidOrdersTopology` — the flagship (KSA:155-189):
    *
    *  - J1 (KSA:162-165): orders ⋈ profiles on the user key. The profile
    *    KTable maps to a stream-static join: each micro-batch sees the
    *    table's current snapshot — the closest Spark analog of "current
    *    value of the changelog" (SURVEY §7 "what's hard" #1).
    *  - J2 (KSA:167-171): ⋈ broadcast discounts on the profile extracted
    *    from the in-flight value; the GlobalKTable IS a broadcast dim.
    *    Joiner applies `amount * discount.amount` (KSA:170).
    *  - P4 (KSA:173): re-key by orderId — declared by selection; the
    *    exchange materializes at the next keyed operator.
    *  - J3 (KSA:177-186): ⋈ payments within ±`joinWindow` (bounds
    *    inclusive), as ONE keyed co-group ([[intervalJoin]]) — how Kafka
    *    Streams backs `KStream.join(…, JoinWindows)`: one windowed store
    *    per key, one state store per shuffle partition.
    *  - J4 (KSA:179-180, 185): Option-joiner → residual `status = PAID`,
    *    applied to the payments before J3 (legal for an inner join).
    *
    * Streaming output is append-only; the batch application of this same
    * function is the oracle fixpoint.
    */
  def paidOrders(orders: DataFrame, payments: DataFrame, profiles: DataFrame,
      discounts: DataFrame, joinWindow: String = "5 minutes"): DataFrame =
    intervalJoin(enrichedRekeyed(orders, profiles, discounts, joinWindow),
      payments.filter(col("status") === "PAID"), joinWindow, "inner")

  /** Left-outer flagship variant — "orders with OR without payment", the
    * DSL `leftJoin` surface the reference leaves unused (SURVEY §2.4).
    * Same stages as [[paidOrders]], but J3 keeps unmatched orders with a
    * null `status`. The PAID residual belongs to the ON clause (applied
    * after an outer join it would drop exactly the null-padded rows the
    * outer join exists to emit), so it still pre-filters the payments.
    *
    * Streaming semantics: an unmatched order is emitted (null-padded)
    * only once the watermark passes the end of its join interval — the
    * state-expiry emission that the DSL's left-join grace period maps to.
    * Until then the engine cannot know a matching payment won't still
    * arrive. The batch application of this same function is the fixpoint
    * the streaming test compares against.
    */
  def paidOrdersLeftOuter(orders: DataFrame, payments: DataFrame, profiles: DataFrame,
      discounts: DataFrame, joinWindow: String = "5 minutes"): DataFrame =
    intervalJoin(enrichedRekeyed(orders, profiles, discounts, joinWindow),
      payments.filter(col("status") === "PAID"), joinWindow, "left_outer")

  /** Full-outer flagship variant — the DSL `outerJoin`: every order AND
    * every payment appears, null-padded when the other side never arrives
    * inside the interval. No status residual here (with an outer join a
    * failed residual would null-pad BOTH sides of a matched pair — the
    * filtered-join composition belongs to the inner/left flavors); an
    * unmatched payment carries its own orderId (the group key). Same
    * watermark-expiry emission discipline as [[paidOrdersLeftOuter]], on
    * both sides.
    */
  def paidOrdersFullOuter(orders: DataFrame, payments: DataFrame, profiles: DataFrame,
      discounts: DataFrame, joinWindow: String = "5 minutes"): DataFrame =
    intervalJoin(enrichedRekeyed(orders, profiles, discounts, joinWindow),
      payments, joinWindow, "full_outer")

  /** Shared J1→J2→P4 prefix of the flagship: profile snapshot join,
    * broadcast discount join with the discount applied, re-key by orderId.
    */
  private def enrichedRekeyed(orders: DataFrame, profiles: DataFrame,
      discounts: DataFrame, joinWindow: String): DataFrame = {
    val withProfile = Relational.streamTableJoin(profiles, Seq("user"))(
      orders.withWatermark("ts", joinWindow))
    val discounted = Relational.globalTableJoin(
        discounts.withColumnRenamed("amount", "discount")
          .withColumnRenamed("profile", "d_profile"),
        col("profile") === col("d_profile"))(withProfile)
      .withColumn("amount", col("amount") * col("discount"))
      .drop("discount", "d_profile")
    Relational.selectKey(col("orderId"), "key")(discounted)
  }

  /** J3: `key = payment.orderId AND payment.ts BETWEEN ts ± joinWindow`,
    * as one [[Stateful.coGroup]] step keyed by orderId. `joinType` is
    * `inner`, `left_outer` or `full_outer`. Each side enters as the
    * null-padded output row it would emit unmatched: an order with a null
    * `status`, a payment with null order fields.
    *
    * Per key the state buffers both sides. New orders probe the old and
    * the new payments, new payments only the old orders, so each pair is
    * emitted once. A row is pruned once `ts + joinWindow < watermark` —
    * no admissible row can match it any more — and an unmatched pruned
    * row is emitted null-padded if its side is kept. The event-time
    * timeout sits on the earliest buffered `ts + joinWindow`, so a quiet
    * key still prunes on a no-data batch. Both inputs keep their own
    * watermark (the global one is their minimum, as for a stream-stream
    * join), and rows at or below the previous batch's watermark are
    * dropped as late. A row with a NULL key or time matches nothing; a
    * NULL-time row can never be pruned, so an outer side emits it at once.
    * In batch there is no watermark: everything expires at the end of
    * its group.
    */
  private def intervalJoin(enriched: DataFrame, payments: DataFrame, joinWindow: String,
      joinType: String): DataFrame = {
    val spark = enriched.sparkSession
    import spark.implicits._
    val (keepOrders, keepPayments) = (joinType != "inner", joinType == "full_outer")
    val w = IntervalUtils.getDuration(
      IntervalUtils.stringToInterval(UTF8String.fromString(joinWindow)), TimeUnit.MILLISECONDS)
    val nul = lit(null).cast("string")
    Stateful.coGroup[PaidOrder, PaidOrder, J3Buf, PaidOrder](
      enriched.select(col("key").as("orderId"), col("user"), col("profile"), col("amount"),
        nul.as("status"), col("ts")).as[PaidOrder],
      payments.withWatermark("ts", joinWindow).select(col("orderId"), nul.as("user"),
        nul.as("profile"), lit(null).cast("double").as("amount"), col("status"), col("ts"))
        .as[PaidOrder],
      "orderId", "orderId", _ => null, keepUntimed = true) {
      (key, wm, rows, state) =>
        val prev = state.getOption.getOrElse(J3Buf(Nil, Nil))
        val (timed, untimed) = rows.partition(_.ts != null)
        val out = Seq.newBuilder[PaidOrder]
        untimed.foreach { e =>
          if (e.left != null && keepOrders) out += e.left
          if (e.right != null && keepPayments) out += e.right
        }
        val ords = (prev.orders ++ timed.collect { case CoRow(_, ts, o, null) =>
          J3Order(ts.getTime, o.user, o.profile, o.amount, matched = false) }).toArray
        val pays = (prev.payments ++ timed.collect { case CoRow(_, ts, null, p) =>
          J3Payment(ts.getTime, p.status, matched = false) }).toArray
        def order(o: J3Order, status: String) = PaidOrder(key, o.user, o.profile, o.amount, status)
        def probe(i: Int, j: Int): Unit =
          if (key != null && math.abs(ords(i).tsMs - pays(j).tsMs) <= w) {
            out += order(ords(i), pays(j).status)
            ords(i) = ords(i).copy(matched = true)
            pays(j) = pays(j).copy(matched = true)
          }
        for (i <- prev.orders.size until ords.length; j <- pays.indices) probe(i, j)
        for (j <- prev.payments.size until pays.length; i <- prev.orders.indices) probe(i, j)
        val (liveOrds, goneOrds) = ords.toSeq.partition(_.tsMs + w >= wm)
        val (livePays, gonePays) = pays.toSeq.partition(_.tsMs + w >= wm)
        if (keepOrders) goneOrds.filterNot(_.matched).foreach(o => out += order(o, null))
        if (keepPayments)
          gonePays.filterNot(_.matched).foreach(p => out += PaidOrder(key, null, null, None, p.status))
        if (liveOrds.isEmpty && livePays.isEmpty) state.remove()
        else {
          state.update(J3Buf(liveOrds, livePays))
          state.setTimeoutTimestamp((liveOrds.map(_.tsMs) ++ livePays.map(_.tsMs)).min + w)
        }
        out.result().iterator
    }.toDF()
  }
}

/** A buffered J3 order; `matched` once it has joined a payment. */
private[streaming] final case class J3Order(tsMs: Long, user: String, profile: String,
    amount: Option[Double], matched: Boolean)

/** A buffered J3 payment; `matched` once it has joined an order. */
private[streaming] final case class J3Payment(tsMs: Long, status: String, matched: Boolean)

/** J3's per-orderId state: the orders and payments not yet pruned. */
private[streaming] final case class J3Buf(orders: Seq[J3Order], payments: Seq[J3Payment])

/** One flagship output row, and J3's co-group side for either input. */
private[streaming] final case class PaidOrder(orderId: String, user: String, profile: String,
    amount: Option[Double], status: String)
