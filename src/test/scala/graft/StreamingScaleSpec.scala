package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Topologies

/** The flagship topology as a REAL micro-batched stream at sf0.1 — the
  * scale rehearsal VERDICT r6 asked for: every other streaming test
  * drives MemoryStream toy data; this one runs `Topologies.paidOrders`
  * over the 150k-order / 600k-lineitem sf0.1 tables through a
  * rate-limited file source (one chronological file per trigger), a
  * parquet sink and a checkpoint, and asserts the append-mode fixpoint
  * equals the batch application of the same function — watermark
  * advancement, join-state insertion/eviction and exactly-once sink
  * semantics exercised at 600k-row scale, not 10-row scale.
  *
  * Per-source chronological arrival (files split by event-time year,
  * written oldest-first) is what a Kafka-partition replay provides; it
  * guarantees no record arrives below the watermark — the global
  * watermark is the min across sources — so the streaming fixpoint is
  * exactly the batch result, per SURVEY §2.3's comparable-at-fixpoint
  * contract.
  */
class StreamingScaleSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.1"

  test("flagship paidOrders at sf0.1: file-source micro-batches equal the batch fixpoint") {
    val work = Files.createTempDirectory("graft_stream_sf01_").toFile

    // sf0.1 mapped into the reference record shapes (Model.scala):
    // orders by user, payments = lineitems keyed by order with the
    // returnflag as payment status, profiles/discounts as dims
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey").cast("string").as("orderId"),
      col("o_custkey").cast("string").as("user"),
      array().cast("array<string>").as("products"),
      col("o_totalprice").as("amount"),
      col("o_orderdate").cast("timestamp").as("ts"))
    val payments = Tables.lineitem(spark, dir).select(
      col("l_orderkey").cast("string").as("orderId"),
      when(col("l_returnflag") === "N", "PAID").otherwise("PENDING").as("status"),
      col("l_shipdate").cast("timestamp").as("ts"))
    val profiles = Tables.customer(spark, dir).select(
      col("c_custkey").cast("string").as("user"),
      col("c_mktsegment").as("profile"))
    val discounts = Tables.discounts(spark).withColumnRenamed("factor", "amount")

    // one file per event-time year, written oldest-first with distinct
    // mtimes: the file source (maxFilesPerTrigger=1, oldest-first) then
    // replays each source in chronological order
    def writeChrono(df: DataFrame, sub: String): String = {
      val path = s"${work.getPath}/$sub"
      val years = df.select(year(col("ts")).as("y")).distinct()
        .collect().map(_.getInt(0)).sorted
      for (y <- years) {
        df.filter(year(col("ts")) === y).coalesce(1)
          .write.mode("append").parquet(path)
        Thread.sleep(60) // distinct file mtimes => deterministic order
      }
      path
    }
    val oPath = writeChrono(orders, "orders")
    val pPath = writeChrono(payments, "payments")

    val oStream = spark.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", "1").parquet(oPath)
    val pStream = spark.readStream.schema(payments.schema)
      .option("maxFilesPerTrigger", "1").parquet(pPath)

    val outPath = s"${work.getPath}/out"
    val q = Topologies.paidOrders(oStream, pStream, profiles, discounts,
        joinWindow = "45 days")
      .writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", s"${work.getPath}/ckpt")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(outPath)
    val batch = Topologies.paidOrders(orders, payments, profiles, discounts,
      joinWindow = "45 days")

    // multiset equality: several PAID lineitems in-band for one order emit
    // identical rows, so compare (row -> multiplicity), not just the set
    assert(streamed.count() > 0, "streaming run emitted nothing")
    assert(countsOf(streamed) === countsOf(batch),
      "streaming fixpoint diverged from the batch application")

    // checkpointed restart safety net: a second start() over the same
    // checkpoint with no new files must emit nothing new (exactly-once)
    val n1 = streamed.count()
    val q2 = Topologies.paidOrders(oStream, pStream, profiles, discounts,
        joinWindow = "45 days")
      .writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", s"${work.getPath}/ckpt")
      .outputMode("append")
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(outPath).count() === n1,
      "restart over the same checkpoint re-emitted rows")

    // best-effort cleanup of the ~35 MB workspace
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(work)
  }
}
