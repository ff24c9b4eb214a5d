package graft.streaming

import java.sql.Timestamp

/** The reference's domain records (KSA = reference
  * `src/main/scala/KafkaStreamsApp.scala:86-97`), with the Kafka record
  * metadata timestamp made explicit: Kafka Streams windows/join-windows
  * read event time from record metadata (KSA:142, KSA:182); Structured
  * Streaming reads it from a column, so each event type carries `ts`.
  * The Kafka record key is likewise an explicit column (`user` for
  * orders-by-user, `orderId` for payments — KSA:77-84). A watermarked
  * topology needs `ts` after the epoch (see [[Topologies]]).
  */
final case class OrderEvent(
    orderId: String,
    user: String,
    products: Seq[String],
    amount: Double,
    ts: Timestamp)

/** KSA:96 — payments stream record, keyed by orderId; `ts` after the
  * epoch, as for [[OrderEvent]]. */
final case class PaymentEvent(orderId: String, status: String, ts: Timestamp)

/** KSA:94 — the GlobalKTable value: profile → discount multiplier. */
final case class DiscountRow(profile: String, amount: Double)

/** KSA:156-157 — the compacted profile table: user → profile. */
final case class ProfileRow(user: String, profile: String)
