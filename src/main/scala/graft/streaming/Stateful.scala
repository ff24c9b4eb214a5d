package graft.streaming

import java.sql.Timestamp
import java.time.Duration

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Per-user running totals: the accumulator for [[Stateful.runningTotals]]. */
final case class UserTotals(user: String, orders: Long, products: Long, amount: Double)

/** A profile-table changelog record (the compacted-topic upsert stream
  * behind `builder.table`, KSA:156-157): at `ts`, `user`'s profile became
  * `profile`.
  */
final case class ProfileUpdate(user: String, profile: String, ts: Timestamp)

/** The side-tagged envelope of [[Stateful.coGroup]]: one input row under
  * its join key and event time, whole as `left` or `right`; the other side
  * is null.
  */
final case class CoRow[L, R](key: String, ts: Timestamp, left: L, right: R)

/** Output of the exact stream–table join: an order enriched with the
  * profile current when it was processed.
  */
final case class EnrichedOrder(orderId: String, user: String, amount: Double,
    profile: String, ts: Timestamp)

/** Per-key latest value of each side — the two-table join state. */
final case class PairState(left: String, right: String)

/** One row of the joined changelog: the key and both sides' CURRENT
  * values at `ts` (null until that side has upserted — the outer view).
  */
final case class JoinedPair(user: String, left: String, right: String, ts: Timestamp)

/** Child-table changelog record for the FK join: at `ts`, child `id`'s
  * value became `v` with foreign key `fk` (null = no parent reference).
  */
final case class ChildUpdate(id: String, fk: String, v: String, ts: Timestamp)

/** Stage-1 → stage-2 subscription event of the FK join (Kafka Streams'
  * subscription topic record, keyed by the PARENT key): child `id` now
  * subscribes to parent `fk` carrying value `v`, or drops a stale
  * subscription after an fk move (`subscribe = false`).
  */
final case class FkSubscription(fk: String, id: String, v: String,
    subscribe: Boolean, ts: Timestamp)

/** Stage-2 state per parent key: the parent's current value and the
  * subscribed children with their current values (Kafka Streams'
  * subscription store). Size = O(fk fan-in) per key.
  */
final case class FkParentState(parentV: String, children: Map[String, String])

/** One row of the FK-join changelog, keyed by CHILD id: the child's
  * value, its current fk, and that parent's current value.
  */
final case class FkJoined(id: String, v: String, fk: String, parentV: String,
    ts: Timestamp)

/** One retract/add delta of a table re-group aggregation
  * ([[Stateful.tableRegroupDeltas]]): the key's move between groups as
  * ±1 contributions.
  */
final case class RegroupDelta(group: String, delta: Long, ts: Timestamp)

/** Per-key state of [[Stateful.slidingCounts]]: event timestamps (ms)
  * inside the retention horizon. Size = rate × (window + grace) per key —
  * the same bound as Kafka Streams' sliding-window store.
  */
final case class SlidingBuf(ts: Seq[Long])

/** One sliding-window changelog row: the count over `(endMs − size,
  * endMs]` for key `user`. Re-emitted with a larger count when a late
  * tie/mate lands in the window — last row per (user, endMs) is the
  * window's final value.
  */
final case class SlidingCount(user: String, endMs: Long, cnt: Long)

/** The stateful stream operators: Kafka Streams' per-key state stores on
  * one Spark group-state API. Every keyed operator is a `step` over
  * [[Stateful.keyed]], the one `flatMapGroupsWithState` that decides
  * grouping, per-batch order, timeouts, output mode and the NULL-time rule,
  * or over [[Stateful.coGroup]], the two-input envelope on it. So each runs
  * on the engine's default state store and on a batch Dataset.
  */
object Stateful {

  /** THE running-totals fold, shared by [[runningTotals]],
    * [[runningTotalsTtl]] and the batch fixpoint oracle
    * [[runningTotalsBatch]], so the oracle cannot silently drift from the
    * operators it checks.
    */
  private[streaming] def foldTotals(user: String, prev: Option[UserTotals],
      es: IterableOnce[OrderEvent]): UserTotals =
    es.iterator.foldLeft(prev.getOrElse(UserTotals(user, 0L, 0L, 0.0))) { (acc, e) =>
      UserTotals(user, acc.orders + 1, acc.products + e.products.size,
        acc.amount + e.amount)
    }

  /** Running (orders, products, amount) totals per user — the general form of
    * the reference's custom fold (`aggregate(initializer)(adder)`, KSA:146-148)
    * for an adder no SQL aggregate expresses: one accumulator per key, the
    * refreshed value emitted each micro-batch (update mode = the toStream
    * changelog). An update-mode [[keyed]] step over [[foldTotals]]; it never
    * reads `ts`, so a NULL-ts row still counts, and equal-ts ties break on
    * orderId. Works on batch Datasets too (one group pass) — the
    * shared-fixpoint property the tests assert. Idle keys: [[runningTotalsTtl]].
    */
  def runningTotals(orders: Dataset[OrderEvent]): Dataset[UserTotals] = {
    val spark = orders.sparkSession
    import spark.implicits._
    keyed[OrderEvent, UserTotals, UserTotals](orders, _.user, e => (e.ts, e.orderId),
      OutputMode.Update(), keepUntimed = true) { (user, _, es, state) =>
      val next = foldTotals(user, state.getOption, es)
      state.update(next)
      Iterator.single(next)
    }
  }

  /** [[runningTotals]] with idle-state TTL — the discipline unbounded key
    * spaces need, as compacted-topic retention: a key that receives
    * no events for `idleMs` of EVENT time has its accumulator DROPPED from
    * the state store once the watermark passes its idle deadline, so
    * cluster-wide state is bounded by (active keys × accumulator size)
    * instead of (all keys ever seen) — the same retention contract as a
    * TTL'd compacted topic. A key that reappears after expiry restarts
    * its totals from zero.
    *
    * Event-time (not processing-time) timeout, deliberately: expiry then
    * rides the same watermark that bounds every other state store in the
    * engine — deterministic, replayable, and free of the busy-spin
    * ProcessingTimeTimeout causes (its `shouldRunAnotherBatch` is
    * unconditionally true, so an armed idle deadline makes the engine run
    * empty micro-batches back-to-back between data arrivals).
    * `watermarkDelay` puts the watermark on `ts`. An update-mode [[keyed]]
    * step, so a NULL-ts row is dropped; the expiry emits nothing. On a batch
    * Dataset nothing expires and the output is [[runningTotals]]'.
    */
  def runningTotalsTtl(orders: Dataset[OrderEvent], idleMs: Long = 30L * 60 * 1000,
      watermarkDelay: String = "0 seconds"): Dataset[UserTotals] = {
    val spark = orders.sparkSession
    import spark.implicits._
    keyed[OrderEvent, UserTotals, UserTotals](orders.withWatermark("ts", watermarkDelay)
        .as[OrderEvent], _.user, e => (e.ts, e.orderId), OutputMode.Update()) {
      (user, wm, es, state) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          val next = foldTotals(user, state.getOption, es)
          state.update(next)
          // re-arm on every batch that touches the key: idle time counts
          // from LAST activity. Clamped above the current watermark —
          // Spark rejects a deadline the watermark already passed (a key
          // whose events arrive at the watermark edge still gets one
          // full idle period).
          if (wm < Long.MaxValue)
            state.setTimeoutTimestamp(math.max(es.last.ts.getTime + idleMs, wm + 1))
          Iterator.single(next)
        }
    }
  }

  /** THE keyed step: the per-key state store Kafka Streams puts behind
    * every stateful DSL operator (KSA:146-148, KSA:162-186), as one
    * `flatMapGroupsWithState` over `in` grouped by `key`; `step` owns the
    * state.
    *
    *  - Output: `mode` Append for a step that emits each row once, Update
    *    for a changelog that re-emits a key's refreshed value. A streaming
    *    query's output mode must match it.
    *  - Time: a stream whose `ts` carries a watermark gets the event-time
    *    timeout and `step` the current watermark; Spark then also drops rows
    *    at or below the previous batch's watermark (it does so only under
    *    that timeout), and fires a timeout only once the watermark strictly
    *    passes it. Batch or unwatermarked input gets no timeout and
    *    `Long.MaxValue`: there a `step` flushes everything and arms no
    *    timeout.
    *  - Per-batch order: `order`'s event time, then its tiebreak (null sorts
    *    as ""), so equal-ts ties do not follow shuffle arrival order.
    *  - NULL event time: the row has no place in that order and is dropped
    *    (the unplaceable-record contract of [[graft.ops.Relational.asofJoin]]);
    *    with `keepUntimed` it reaches `step` ahead of every timed row.
    */
  private[streaming] def keyed[T, S: Encoder, O: Encoder](in: Dataset[T], key: T => String,
      order: T => (Timestamp, String), mode: OutputMode, keepUntimed: Boolean = false)(
      step: (String, Long, Seq[T], GroupState[S]) => Iterator[O]): Dataset[O] = {
    val watermarked =
      in.isStreaming && in.schema("ts").metadata.contains(EventTimeWatermark.delayKey)
    val sortKey = (t: T) => {
      val (ts, tiebreak) = order(t)
      (if (ts == null) Long.MinValue else ts.getTime, Option(tiebreak).getOrElse(""))
    }
    (if (keepUntimed) in else in.filter(col("ts").isNotNull)).groupByKey(key)(Encoders.STRING)
      .flatMapGroupsWithState[S, O](mode,
        if (watermarked) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout) {
        (k: String, rows: Iterator[T], state: GroupState[S]) =>
          val wm = if (watermarked) state.getCurrentWatermarkMs() else Long.MaxValue
          step(k, wm, rows.toSeq.sortBy(sortKey), state)
      }
  }

  /** The two-input co-group, a [[keyed]] step over the union of both inputs
    * as [[CoRow]]s: each row under its side's key column, whole as that
    * side's struct next to a typed null (column expressions, no typed map).
    * Equal-ts rows put the LEFT side first. `unionDelay` puts one watermark
    * on the union (so one idle input cannot stall it); without it each
    * input keeps its own.
    */
  private[streaming] def coGroup[L <: Product : TypeTag, R <: Product : TypeTag,
      S: Encoder, O: Encoder](left: Dataset[L], right: Dataset[R], leftKey: String,
      rightKey: String, tiebreak: CoRow[L, R] => String, unionDelay: Option[String] = None,
      keepUntimed: Boolean = false)(
      step: (String, Long, Seq[CoRow[L, R]], GroupState[S]) => Iterator[O]): Dataset[O] = {
    val (ls, rs) = (Encoders.product[L].schema, Encoders.product[R].schema)
    def whole(s: StructType): Column =
      struct(s.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
    def tagged(in: Dataset[_], key: String, l: Column, r: Column) =
      in.select(col(key).as("key"), col("ts"), l.as("left"), r.as("right"))
    val union = tagged(left, leftKey, whole(ls), lit(null).cast(rs))
      .unionByName(tagged(right, rightKey, lit(null).cast(ls), whole(rs)))
    keyed[CoRow[L, R], S, O](unionDelay.fold(union)(union.withWatermark("ts", _))
        .as(Encoders.product[CoRow[L, R]]), _.key,
      r => (r.ts, (if (r.left != null) "0" else "1") + Option(tiebreak(r)).getOrElse("")),
      OutputMode.Append(), keepUntimed)(step)
  }

  /** EXACT KTable–KTable join (`ktableA.outerJoin(ktableB)` — the DSL's
    * two-changelog join, unused by the reference but core table surface):
    * both inputs are upsert streams keyed by `user`; per key the state
    * holds each side's latest value, and EVERY upsert on either side
    * emits the refreshed joined row with the other side's current value
    * (null until that side exists — the full-outer view). The emitted
    * stream is the join's changelog; its last row per key is the batch
    * full-outer join of the two compacted tables (the fixpoint property
    * StreamingSpec pins). A [[coGroup]] step; equal-ts ties break on the
    * value. A NULL user emits nothing, as Kafka Streams' table sources
    * drop null-key records.
    *
    * Scale: state is two values per distinct key, partitioned across
    * executors — the same O(keys) posture as Kafka Streams' two RocksDB
    * stores for this operator.
    */
  def tableTableJoinExact(left: Dataset[ProfileUpdate],
      right: Dataset[ProfileUpdate]): Dataset[JoinedPair] = {
    val spark = left.sparkSession
    import spark.implicits._
    coGroup[ProfileUpdate, ProfileUpdate, PairState, JoinedPair](left, right, "user", "user",
      r => Option(r.left).getOrElse(r.right).profile) { (user, _, rows, state) =>
      if (user == null) Iterator.empty
      else {
        var st = state.getOption.getOrElse(PairState(null, null))
        val out = rows.map { e =>
          st = if (e.left != null) st.copy(left = e.left.profile) else st.copy(right = e.right.profile)
          JoinedPair(user, st.left, st.right, e.ts)
        }
        state.update(st)
        out.iterator
      }
    }
  }

  /** Table RE-GROUP aggregation deltas (`ktable.groupBy(newKey)
    * .aggregate(adder, SUBTRACTOR)` — the DSL operator whose subtractor
    * retracts a key's old contribution when its value moves to another
    * group): keyed by the table's primary key, state = the key's current
    * group; each upsert emits a −1 delta to the group it leaves and a +1
    * to the one it enters (nothing when unchanged). Summing the delta
    * stream per group — a plain update-mode aggregation downstream, the
    * second hop — maintains the live re-grouped counts; the batch
    * composition's fixpoint is `compactLatest → groupBy count`
    * (`g4_table_regroup`, spec-pinned). A [[keyed]] step; equal-ts ties
    * break on the new group.
    */
  def tableRegroupDeltas(upserts: Dataset[ProfileUpdate]): Dataset[RegroupDelta] = {
    val spark = upserts.sparkSession
    import spark.implicits._
    keyed[ProfileUpdate, String, RegroupDelta](upserts, _.user, e => (e.ts, e.profile),
      OutputMode.Append()) {
      (_, _, es, state) =>
        val out = Seq.newBuilder[RegroupDelta]
        var group = state.getOption.orNull
        es.foreach { e =>
          if (e.profile != group) {
            if (group != null) out += RegroupDelta(group, -1L, e.ts)
            if (e.profile != null) out += RegroupDelta(e.profile, 1L, e.ts)
            group = e.profile
          }
        }
        if (group != null) state.update(group) else state.remove()
        out.result().iterator
    }
  }

  /** STREAMING sliding windows (KS `SlidingWindows.ofTimeDifference` —
    * the per-event-bound window type; batch fixpoint `a2c_sliding_window`):
    * per key, each event defines the window `(t − size, t]`, and the
    * operator maintains the count of every window an arrival touches. An
    * arrival at `t` (re-)emits the count for every DISTINCT stored window
    * end in `[t, t + size)` — in event-time order that is just its own
    * window; a late arrival or a cross-batch tie additionally REFRESHES
    * the windows it newly falls into (update-changelog semantics, exactly
    * KS's sliding-window aggregate). Resolution: last row per
    * (user, endMs) is the window's value.
    *
    * State and lateness: timestamps older than `maxSeen − size − grace`
    * are pruned and arrivals older than `maxSeen − grace` are dropped
    * (the grace contract), so per-key state is bounded by
    * rate × (size + grace) — the KS store bound. A [[keyed]] step;
    * equal-ts ties break on orderId.
    */
  def slidingCounts(events: Dataset[OrderEvent], sizeMs: Long,
      graceMs: Long): Dataset[SlidingCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyed[OrderEvent, SlidingBuf, SlidingCount](events, _.user, e => (e.ts, e.orderId),
      OutputMode.Append()) {
      (user, _, es, state) =>
        val out = Seq.newBuilder[SlidingCount]
        var buf = state.getOption.map(_.ts.toVector).getOrElse(Vector.empty[Long])
        var maxSeen = if (buf.isEmpty) Long.MinValue else buf.max
        es.foreach { e =>
          val t = e.ts.getTime
          if (maxSeen == Long.MinValue || t >= maxSeen - graceMs) {
            buf = buf :+ t
            maxSeen = math.max(maxSeen, t)
            // windows this arrival touches: distinct ends in [t, t+size)
            buf.filter(t2 => t2 >= t && t2 < t + sizeMs).distinct.sorted
              .foreach { t2 =>
                out += SlidingCount(user, t2,
                  buf.count(t0 => t0 > t2 - sizeMs && t0 <= t2))
              }
            buf = buf.filter(_ >= maxSeen - sizeMs - graceMs)
          } // else: beyond grace — dropped, like a watermark-late row
        }
        state.update(SlidingBuf(buf))
        out.result().iterator
    }
  }

  /** Stage 1 of the EXACT KTable FOREIGN-KEY join (Kafka Streams 2.4's
    * `ktable.join(other, fkExtractor, ...)` — the DSL's hardest operator):
    * keyed by CHILD id, state = the child's last fk. Each child upsert
    * emits the subscription delta the parent side needs: an unsubscribe
    * to the OLD parent when the fk moved (so that parent's future updates
    * stop fanning out to this child), and a subscribe to the new parent
    * carrying the child's current value. This is exactly the reference
    * DSL's subscription-topic re-key; the stage boundary that is a
    * repartition topic there is a keyed exchange here. A [[keyed]] step;
    * equal-ts ties break on the child's value.
    */
  def fkSubscriptions(children: Dataset[ChildUpdate]): Dataset[FkSubscription] = {
    val spark = children.sparkSession
    import spark.implicits._
    keyed[ChildUpdate, String, FkSubscription](children, _.id, e => (e.ts, e.v),
      OutputMode.Append()) {
      (id, _, events, state) =>
        val out = Seq.newBuilder[FkSubscription]
        var fk = state.getOption.orNull
        events.foreach { e =>
          if (fk != null && fk != e.fk)
            out += FkSubscription(fk, id, null, subscribe = false, e.ts)
          if (e.fk != null)
            out += FkSubscription(e.fk, id, e.v, subscribe = true, e.ts)
          fk = e.fk
        }
        if (fk != null) state.update(fk) else state.remove()
        out.result().iterator
    }
  }

  /** Stage 2 of the EXACT FK join: keyed by PARENT key, state = the
    * parent's current value plus the subscribed children (the
    * subscription store). A parent upsert fans the new value out to every
    * subscribed child; a subscribe emits the refreshed row for that child
    * if the parent exists (INNER semantics — a child whose parent has not
    * arrived emits nothing yet); an unsubscribe detaches the child and,
    * if a pair had been emitted, retracts it with a TOMBSTONE row (null
    * `v`/`parentV`) so a child whose new fk never matches does not keep
    * its stale pair. Changelog resolution per child id: take the max-ts
    * row, and at equal ts a non-null `parentV` beats the tombstone (the
    * new match and the move's retraction share the move's timestamp —
    * this is the version-resolution rule Kafka Streams implements with
    * subscription versions). A [[coGroup]] step with the parent changelog
    * as the left side; equal-ts ties break on child id.
    */
  def fkJoinResponses(subs: Dataset[FkSubscription],
      parents: Dataset[ProfileUpdate]): Dataset[FkJoined] = {
    val spark = subs.sparkSession
    import spark.implicits._
    coGroup[ProfileUpdate, FkSubscription, FkParentState, FkJoined](parents, subs, "user", "fk",
      r => Option(r.right).map(_.id).orNull) { (fk, _, rows, state) =>
      val out = Seq.newBuilder[FkJoined]
      var st = state.getOption.getOrElse(FkParentState(null, Map.empty))
      rows.foreach {
        case CoRow(_, ts, p, null) =>
          st = st.copy(parentV = p.profile)
          st.children.toSeq.sortBy(_._1).foreach { case (id, cv) =>
            out += FkJoined(id, cv, fk, p.profile, ts)
          }
        case CoRow(_, ts, _, s) if s.subscribe =>
          st = st.copy(children = st.children + (s.id -> s.v))
          if (st.parentV != null) out += FkJoined(s.id, s.v, fk, st.parentV, ts)
        case CoRow(_, ts, _, s) =>
          // unsubscribe: detach AND retract — the tombstone row (null v,
          // null parentV) withdraws the old pair in case the child's new
          // fk never matches; when it does match, the match row shares
          // the move's timestamp and wins the documented tie rule (at
          // equal ts, non-null parentV wins)
          st = st.copy(children = st.children - s.id)
          if (st.parentV != null) out += FkJoined(s.id, null, fk, null, ts)
      }
      state.update(st)
      out.result().iterator
    }
  }

  /** The composed EXACT FK join. Chained `flatMapGroupsWithState` stages
    * are not a legal single STREAMING pipeline (Spark's unsupported-
    * operations checker), matching the reference topology, where the
    * stage boundary is a real repartition topic: run stage 1 and stage 2
    * as two hops (StreamingSpec drives them that way). In BATCH execution
    * the stages fuse into one plan and this composition is the whole
    * operator — its fixpoint equals the DataFrame inner join of the two
    * compacted tables (spec-pinned).
    */
  def fkTableJoinExact(children: Dataset[ChildUpdate],
      parents: Dataset[ProfileUpdate]): Dataset[FkJoined] =
    fkJoinResponses(fkSubscriptions(children), parents)

  /** EXACT changelog-table join (J1's hard case — SURVEY §7 "what's hard"
    * #1): the profile table is itself a STREAM of upserts, not a static
    * snapshot. Kafka Streams backs `stream.join(ktable)` with a per-key
    * state store holding the table's latest value; this is that store as a
    * [[coGroup]] step keyed by user, the profile changelog as the left
    * side: profile records upsert the state, order records read it and
    * emit enriched (inner-join: orders with no profile yet are dropped,
    * exactly the KTable-miss behavior). Within a micro-batch an upsert and
    * a later order see each other, and at equal event time the upsert
    * wins — the deterministic refinement of Kafka Streams'
    * processing-order semantics; equal-ts orders break on orderId. A NULL
    * user matches nothing, as Kafka Streams ignores null-key records in
    * joins (and as J1's DataFrame join drops them).
    *
    * Scale: state is one (user → profile) entry per key, hash-partitioned
    * across executors — identical footprint to the reference's RocksDB
    * store; the shuffle key is the join key, same as the repartition
    * topics it replaces.
    */
  def streamTableJoinExact(orders: Dataset[OrderEvent],
      profiles: Dataset[ProfileUpdate]): Dataset[EnrichedOrder] = {
    val spark = orders.sparkSession
    import spark.implicits._
    coGroup[ProfileUpdate, OrderEvent, String, EnrichedOrder](profiles, orders, "user", "user",
      r => Option(r.right).map(_.orderId).orNull) { (user, _, rows, state) =>
      if (user == null) Iterator.empty
      else {
        var profile = state.getOption.orNull
        val out = rows.flatMap {
          case CoRow(_, _, p, null) => profile = p.profile; None
          case CoRow(_, ts, _, o) =>
            Option(profile).map(EnrichedOrder(o.orderId, user, o.amount, _, ts))
        }
        if (profile != null) state.update(profile)
        out.iterator
      }
    }
  }

  /** Streaming analog of [[graft.ops.Sequences.transitionCounts]]'s
    * pair extraction: per key, emit a (from, to) row for every
    * consecutive state pair, carrying the LAST state across micro-batches
    * in per-key state (a [[keyed]] step: events inside a batch are in
    * event-time order, then orderId, as the batch op orders them;
    * cross-batch order is arrival order, correct once the source is
    * per-key ordered — the Kafka-partition guarantee this engine's
    * sources model). Downstream, the same `groupBy(from, to).count`
    * as the batch op — in update mode — maintains the live transition
    * matrix. Batch execution (empty initial state, one group pass) gives
    * the batch op's pairs exactly — the shared-fixpoint test property.
    */
  def transitionPairs(events: Dataset[OrderEvent]): Dataset[(String, String)] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyed[OrderEvent, (Boolean, String), (String, String)](events, _.user,
      e => (e.ts, e.orderId), OutputMode.Append()) { (_, _, rows, state) =>
      val out = Seq.newBuilder[(String, String)]
      // (initialized, lastState) — lastState may be null (an event
      // with no products), mirroring the batch op, whose NULL states
      // occupy a position: the (x, null) pair is dropped, the
      // (null, y) pair is kept with a null from_state
      var (have, last) = state.getOption.getOrElse((false, null: String))
      rows.foreach { e =>
        val s = e.products.headOption.orNull
        if (have && s != null) out += ((last, s))
        last = s
        have = true
      }
      if (have) state.update((true, last))
      out.result().iterator
    }
  }

  /** A session closed by [[sessionClose]]: `[start, end)` with
    * `end = last event + gap` — exactly the interval Spark's own
    * `session_window(ts, gap)` assigns, so the batch session-window query
    * is the fixpoint oracle for the emitted stream.
    */
  final case class ClosedSession(user: String, start: Timestamp, end: Timestamp,
      cnt: Long)

  /** Internal accumulator for one open session of one key. */
  final case class OpenSession(user: String, startMs: Long, lastMs: Long, cnt: Long)

  /** Stream of CLOSED sessions per user, each emitted exactly once, when the
    * event-time watermark proves no further event can extend it — the
    * event-driven output shape of CDC session analytics, which idle-state
    * TTL cannot express (TTL drops state silently; a session close must
    * EMIT a record).
    *
    * An append-mode [[keyed]] step whose state is the key's list of
    * disjoint open sessions. Each event is the interval `[t, t + gap)`; it
    * merges every open session it overlaps (possibly bridging two, possibly
    * extending a session's START backward — an in-order impossibility, but
    * routine under allowed lateness) or opens a new one. A session is
    * emitted once the watermark reaches its `last + gap`, after which Spark
    * drops every row that could still touch it. Before that, even a
    * session an in-batch gap separates is open: a late-but-in-watermark
    * event can still land in or bridge it. The timeout sits 1 ms below the
    * earliest open end. On a batch Dataset every session is closed.
    *
    * Merge rule is strictly-less overlap (`[a, a+gap)` and `[b, b+gap)`
    * merge iff they intersect; touching intervals do NOT) — byte-identical
    * to `session_window`'s non-overlap semantics. Batch fixpoint:
    * `groupBy(session_window(ts, gap), user).count` over the same events
    * (the o7 query shape).
    */
  def sessionClose(events: Dataset[OrderEvent], gapMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyed[OrderEvent, Seq[OpenSession], ClosedSession](events.withWatermark("ts", watermarkDelay)
        .as[OrderEvent], _.user, e => (e.ts, e.orderId), OutputMode.Append()) {
      (user, wm, rows, state) =>
        val open = rows.foldLeft(state.getOption.getOrElse(Nil)) { (open, e) =>
          val t = e.ts.getTime
          // sessions the event interval [t, t+gap) strictly overlaps
          val (touched, rest) = open.partition(s =>
            t < s.lastMs + gapMs && s.startMs < t + gapMs)
          rest :+ touched.foldLeft(OpenSession(user, t, t, 1L)) { (m, s) =>
            OpenSession(user, math.min(m.startMs, s.startMs), math.max(m.lastMs, s.lastMs),
              m.cnt + s.cnt)
          }
        }
        val (done, still) = open.partition(_.lastMs + gapMs <= wm)
        if (still.isEmpty) state.remove()
        else {
          state.update(still)
          state.setTimeoutTimestamp(still.map(_.lastMs).min + gapMs - 1)
        }
        done.sortBy(_.startMs).iterator.map(s => ClosedSession(user, new Timestamp(s.startMs),
          new Timestamp(s.lastMs + gapMs), s.cnt))
    }
  }

  /** One emitted grid cell of [[resampleTicks]]: at `gridMs` (cell start,
    * epoch ms), `user`'s forward-filled value was `v`.
    */
  final case class GridTick(user: String, gridMs: Long, v: Double)

  /** A buffered observation awaiting its cell's emission. */
  final case class Obs(ms: Long, v: Double)

  /** Cursor for one key's grid: the next cell to emit, the carried
    * last-observation pair, and whether anything was emitted yet (while
    * false, a late-but-in-watermark observation may still move the grid
    * start backward).
    */
  final case class GridCursor(nextCell: Long, carryMs: Long, carryV: Double,
      hasCarry: Boolean, emitted: Boolean)

  /** The STREAMING twin of [[graft.ops.Timeseries.resampleFfill]]: one tick
    * per `stepMs` grid cell per key (cell start in epoch ms), forward-filled
    * from the latest observation, each cell emitted exactly once — when the
    * watermark reaches its end, the moment it is provably complete (any
    * later row that could land in it is dropped as beyond-watermark).
    *
    * An append-mode [[keyed]] step whose state is the key's cursor and its
    * buffered observations; the timeout sits 1 ms below the next cell's end.
    * Same-cell ties resolve to the lexicographically greatest `(ms, v)`,
    * matching the batch operator exactly. Before anything is emitted, a
    * late-but-in-watermark observation may move the grid start BACKWARD
    * (the batch anchor is the key's true first bucket); once emission has
    * begun the watermark itself guarantees no row below the cursor can
    * arrive. Ticks continue for gap cells as long as the watermark
    * advances — unbounded forward fill; real deployments bound dead keys
    * with a TTL or an end-of-series marker. On a batch Dataset the grid
    * stops at each key's last observed bucket, so the batch application is
    * the batch operator.
    */
  def resampleTicks(events: Dataset[OrderEvent], stepMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[GridTick] = {
    val spark = events.sparkSession
    import spark.implicits._
    def bucket(ms: Long): Long = ms - java.lang.Math.floorMod(ms, stepMs)
    keyed[OrderEvent, (GridCursor, Seq[Obs]), GridTick](events.withWatermark("ts", watermarkDelay)
        .as[OrderEvent], _.user, e => (e.ts, e.orderId), OutputMode.Append()) {
      (user, wm, rows, state) =>
        var (c, pending) = state.getOption.getOrElse(
          (GridCursor(Long.MaxValue, 0L, 0.0, hasCarry = false, emitted = false), Seq.empty[Obs]))
        pending ++= rows.map(e => Obs(e.ts.getTime, e.amount))
        // grid start: min observed bucket, movable only pre-emission
        // (post-emission the watermark filter makes b < nextCell impossible)
        if (!c.emitted) c = c.copy(nextCell = bucket(pending.map(_.ms).min))
        val end = if (wm < Long.MaxValue) wm else bucket(pending.map(_.ms).max) + stepMs
        val out = Seq.newBuilder[GridTick]
        while (c.nextCell + stepMs <= end) {
          val cellEnd = c.nextCell + stepMs
          val (ripe, rest) = pending.partition(_.ms < cellEnd)
          pending = rest
          val carry = if (c.hasCarry) Some(Obs(c.carryMs, c.carryV)) else None
          val best = ripe.foldLeft(carry) {
            case (Some(b), o) if o.ms < b.ms || (o.ms == b.ms && !(o.v > b.v)) => Some(b)
            case (_, o) => Some(o)
          }
          best.foreach { b =>
            out += GridTick(user, c.nextCell, b.v)
            c = c.copy(carryMs = b.ms, carryV = b.v, hasCarry = true, emitted = true)
          }
          c = c.copy(nextCell = cellEnd)
        }
        state.update((c, pending))
        if (wm < Long.MaxValue) state.setTimeoutTimestamp(c.nextCell + stepMs - 1)
        out.result().iterator
    }
  }

  /** One changelog row of [[topProducts]]: after `seq` events for `user`,
    * `product` sits at `rank` (1-based) with `cnt` occurrences. `seq` is
    * the per-key changelog version — consumers (and the fixpoint test)
    * keep a user's rows with the highest `seq` as the current top-k.
    */
  final case class TopProduct(user: String, seq: Long, product: String,
      cnt: Long, rank: Int)

  /** Per-user running top-`k` product slate as an update-mode changelog
    * (the streaming twin of `groupBy(user, product).count` + bounded
    * top-k). An update-mode [[keyed]] step whose state is the key's event
    * count and its (product → count) map: one map value per key on the
    * default store. Each batch re-emits the key's refreshed top-k slate
    * (cnt desc, product asc — deterministic ties), stamped with the key's
    * event count as changelog version. It never reads `ts`, so a NULL-ts
    * row still counts. State is O(distinct products per key); the emitted
    * slate is O(k).
    */
  def topProducts(events: Dataset[OrderEvent], k: Int): Dataset[TopProduct] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyed[OrderEvent, (Long, Map[String, Long]), TopProduct](events, _.user,
      e => (e.ts, e.orderId), OutputMode.Update(), keepUntimed = true) { (user, _, rows, state) =>
      val (seen, counts) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
      val n = seen + rows.size
      val next = rows.flatMap(_.products).foldLeft(counts) { (m, p) =>
        m.updated(p, m.getOrElse(p, 0L) + 1L)
      }
      state.update((n, next))
      next.toSeq.sortBy { case (p, c) => (-c, p) }.take(k).zipWithIndex
        .map { case ((p, c), i) => TopProduct(user, n, p, c, i + 1) }.iterator
    }
  }

  /** Batch reference fold for [[runningTotals]] — same arithmetic, same
    * per-key sequential order; used by tests as the fixpoint oracle.
    */
  def runningTotalsBatch(spark: SparkSession, orders: Seq[OrderEvent]): Seq[UserTotals] =
    orders.groupBy(_.user).map { case (user, es) =>
      foldTotals(user, None, es)
    }.toSeq

  /** A quote tick: the right (lookup) side of the streaming as-of join —
    * at `ts`, `sym` traded at `price`; `quoteId` breaks (sym, ts) ties
    * (greatest wins, matching [[graft.ops.Relational.asofJoin]]).
    */
  final case class Quote(sym: String, quoteId: String, price: Double, ts: Timestamp)

  /** A trade: the left side of the streaming as-of join — wants the
    * prevailing quote at-or-before its event time.
    */
  final case class Trade(tradeId: String, sym: String, qty: Double, ts: Timestamp)

  /** Buffered right row: a quote awaiting (or serving) matches. */
  final case class AsofQuoteRec(tsMs: Long, tb: String, price: Double)

  /** Buffered left row: a trade whose event time the watermark has not
    * passed yet.
    */
  final case class AsofTradeRec(tsMs: Long, tradeId: String, qty: Double)

  /** Per-sym as-of state: quote history (pruned below the watermark) and
    * the pending-trade buffer.
    */
  final case class AsofBuf(quotes: Seq[AsofQuoteRec], trades: Seq[AsofTradeRec])

  /** One matched trade: the prevailing quote's price/id, or None when no
    * quote at-or-before the trade existed (the left-join null).
    */
  final case class AsofJoinedTrade(tradeId: String, sym: String, qty: Double,
      ts: Timestamp, price: Option[Double], quoteId: Option[String])

  /** One as-of invocation as a pure state transition — the unit under the
    * prune-bound and knife-edge tests: `(watermark, state, admitted rows)
    * → (new state, emitted matches)`. Invariants it maintains (asserted
    * by StreamingSpec directly on the returned state):
    *
    *   - emitted trades all have `tsMs < wm` (STRICT — the late-row
    *     filter admits `ts >= wm`, so a quote tying a trade's event time
    *     can still legally arrive; the trade must wait until the
    *     watermark strictly passes it);
    *   - retained quote history holds AT MOST ONE quote strictly below
    *     the watermark (the reigning as-of candidate; older quotes are
    *     dominated forever) — the state bound that keeps per-key memory
    *     O(delay window), not O(stream length);
    *   - retained trades are exactly the not-yet-ripe ones.
    */
  def asofStep(sym: String, wm: Long, prev: AsofBuf,
      incoming: Seq[CoRow[Trade, Quote]]): (AsofBuf, Seq[AsofJoinedTrade]) = {
    // keep both sides sorted: quotes by (ts, tb) so "last at-or-before"
    // is a scan from the right, trades by (ts, id) for determinism
    val quotesAll = (prev.quotes ++ incoming.collect {
      case CoRow(_, ts, null, q) => AsofQuoteRec(ts.getTime, q.quoteId, q.price)
    }).sortBy(q => (q.tsMs, q.tb))
    val tradesAll = (prev.trades ++ incoming.collect {
      case CoRow(_, ts, t, null) => AsofTradeRec(ts.getTime, t.tradeId, t.qty)
    }).sortBy(t => (t.tsMs, t.tradeId))
    val (ripe, pending) = tradesAll.partition(_.tsMs < wm)
    val out = ripe.map { t =>
      val m = quotesAll.takeWhile(_.tsMs <= t.tsMs).lastOption
      AsofJoinedTrade(t.tradeId, sym, t.qty, new Timestamp(t.tsMs),
        m.map(_.price), m.map(_.tb))
    }
    // prune: the latest quote strictly below the watermark still serves
    // future trades; everything older is dominated forever. Quotes AT
    // the watermark stay un-collapsed — a same-ts arrival with a greater
    // quoteId is still admissible and could win a tie.
    val (below, above) = quotesAll.partition(_.tsMs < wm)
    (AsofBuf(below.takeRight(1) ++ above, pending), out)
  }

  /** Streaming AS-OF join — the out-of-order-correct twin of
    * [[graft.ops.Relational.asofJoin]] (catalog entry `o15_asof_join`).
    *
    * The batch operator's merge-scan needs the full history sorted; a
    * stream gets rows in arrival order, with lefts and rights arbitrarily
    * interleaved inside the watermark delay. [[streamTableJoinExact]]
    * (the J1 twin) matches each left against the latest right SEEN AT
    * PROCESSING TIME — exact only under per-key chronological arrival.
    * This operator is exact under any arrival order the watermark
    * admits: trades buffer in per-key state until the watermark passes
    * their event time — by then every quote at-or-before them has either
    * arrived or is late by definition — and only then match and emit
    * (append-mode-correct: each trade emits exactly once, never revised).
    *
    * Semantics match the batch operator: latest quote with
    * `quote.ts <= trade.ts` (inclusive), greatest `quoteId` among equal
    * (sym, ts) quotes, None when no quote precedes. Rows below the
    * watermark on arrival are dropped (standard late-data policy — the
    * one semantic this engine adds over the batch operator, which sees
    * no late data). Emission waits on watermark ADVANCEMENT, so a
    * quiet key flushes via an event-time timer, not only on its next
    * event. A [[coGroup]] step with ONE watermark on the union of both
    * sides; its batch application is the batch operator.
    *
    * Scale shape: state per key is the pending-trade buffer (bounded by
    * the watermark delay × per-key trade rate) plus the quote history
    * ABOVE the watermark and one quote below it (older quotes can never
    * win an as-of match again and are pruned every invocation) — the
    * same O(delay-window) footprint a stream–stream interval join
    * carries, hash-partitioned by sym.
    */
  def asofJoinExact(trades: Dataset[Trade], quotes: Dataset[Quote],
      delay: Duration): Dataset[AsofJoinedTrade] = {
    val spark = trades.sparkSession
    import spark.implicits._
    coGroup[Trade, Quote, AsofBuf, AsofJoinedTrade](trades, quotes, "sym", "sym",
      r => Option(r.left).map(_.tradeId).getOrElse(r.right.quoteId),
      unionDelay = Some(s"${delay.toMillis} milliseconds")) { (sym, wm, rows, state) =>
      // ingest, dropping sub-watermark stragglers (with no watermark nothing
      // is late). `keyed` already dropped rows at or below the PREVIOUS
      // batch's watermark; this tightens the boundary to the current one, and
      // the strict ripeness in asofStep makes exactness hold from it alone
      val admitted = if (wm == Long.MaxValue) rows else rows.filter(_.ts.getTime >= wm)
      val (next, out) =
        asofStep(sym, wm, state.getOption.getOrElse(AsofBuf(Nil, Nil)), admitted)
      state.update(next)
      // a quiet key must still flush when the watermark passes its
      // pending trades — arm an event-time timer on the earliest one
      // (must exceed the current watermark; post-flush pending >= wm)
      if (next.trades.nonEmpty)
        state.setTimeoutTimestamp(math.max(next.trades.head.tsMs, wm + 1))
      out.iterator
    }
  }
}
