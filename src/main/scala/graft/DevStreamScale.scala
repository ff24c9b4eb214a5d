package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Topologies

/** Dev-only streaming scale probe (NOT part of the library surface): runs
  * a catalog topology as a real file-source micro-batched stream over an
  * arbitrary SF dir — the same harness as StreamingScaleSpec — and prints
  * per-batch telemetry from the streaming progress feed: input rows, batch
  * wall-clock, and the stateful operators' STATE STORE footprint (rows +
  * bytes), which is the quantity that grows with volume on a real cluster
  * and the one the watermark is supposed to bound.
  *
  * Usage: `runMain graft.DevStreamScale <sfDir> [paidOrders|trending|curate]
  *   [workDir]`
  *  - `paidOrders` (default): the flagship topology (J3 is a keyed
  *    interval co-group of orders and payments), orders/payments as
  *    chronological YEARLY files.
  *  - `trending`: the chained-aggregation topology (windowed count →
  *    per-window argmax — TWO stateful aggs back to back), events as
  *    chronological DAILY files (the fixture spans one month), append
  *    mode; exercises multi-stateful-operator state and watermark
  *    propagation through an aggregation.
  *  - `curate`: the document-curation topology (normalize → quality gate →
  *    watermarked fingerprint dedup), documents as chronological DAILY
  *    files over a synthetic 30-day arrival clock (the fixture has no
  *    document timestamp; `ts = 2024-01-01 + (doc_id mod 30) days +
  *    in-day offset` is deterministic, so reruns and restarts see the
  *    same stream). State under test: `dropDuplicatesWithinWatermark`
  *    fingerprint store — the watermark must hold it at
  *    (arrival rate × grace), not corpus size.
  *
  * `workDir` (optional): a PERSISTENT working directory. Default is a
  * temp dir deleted at exit; with an explicit path, input files are
  * written only if absent and the sink/checkpoint are REUSED — so a run
  * killed mid-stream (kill -9, pulled plug) restarts from its checkpoint
  * and must produce the same final output as an uninterrupted run. That
  * recovery equivalence is the exactly-once file-sink contract at volume;
  * compare the two output dirs row-for-row.
  *
  * Honors SPARK_GRAFT_CPUS / SPARK_GRAFT_SHUFFLE_PARTITIONS, and
  * SPARK_GRAFT_STATE_PROVIDER=rocksdb to swap the HDFS-backed in-memory
  * state store for RocksDB (the provider a real cluster uses once state
  * outgrows executor heap — the sf10 run's question).
  */
object DevStreamScale {
  def main(args: Array[String]): Unit = {
    val (sfDir, topology, workDirArg) = args match {
      case Array(d) => (d, "paidOrders", None)
      case Array(d, t) => (d, t, None)
      case Array(d, t, w) => (d, t, Some(w))
    }
    require(Set("paidOrders", "trending", "curate")(topology),
      s"topology must be paidOrders|trending|curate, got $topology")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val rocks = sys.env.get("SPARK_GRAFT_STATE_PROVIDER").contains("rocksdb")
    val spark = Engine.local(cpus.toInt,
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus).toInt)
    // a runtime SQL conf, read when a stream starts (and then pinned in
    // its checkpoint's offset log), so setting it before the first start
    // is equivalent to building the session with it
    if (rocks) spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val persistent = workDirArg.isDefined
    val work = workDirArg.map { p =>
      val f = new java.io.File(p); f.mkdirs(); f
    }.getOrElse(Files.createTempDirectory("graft_stream_scale_").toFile)

    /** Chronological multi-file write: one parquet file per distinct value
      * of `bucket(ts)` ascending, so `maxFilesPerTrigger = 1` replays the
      * data in event-time order — a real unbounded-arrival simulation, not
      * one giant batch. In a persistent workDir a COMPLETED input dir is
      * reused verbatim — a restarted run must see the SAME stream. The
      * write is only atomic per-bucket, so completion is its own marker
      * file (`_CHRONO_DONE`, written last): a bare exists() would happily
      * reuse a corpus truncated by the very kill -9 this mode rehearses,
      * and the recovery run would stream a fraction of the data.
      */
    def writeChrono(df: DataFrame, sub: String, bucket: org.apache.spark.sql.Column): String = {
      val path = s"${work.getPath}/$sub"
      val done = new java.io.File(path, "_CHRONO_DONE")
      if (persistent && done.exists()) {
        println(s"[stream-scale] reusing existing input $path")
        return path
      }
      val dir = new java.io.File(path)
      if (dir.exists()) { // partial write from a killed run: start clean
        println(s"[stream-scale] discarding incomplete input $path")
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(dir)
      }
      val buckets = df.select(bucket.cast("int").as("b")).distinct()
        .collect().map(_.getInt(0)).sorted
      for (b <- buckets) {
        df.filter(bucket.cast("int") === b).coalesce(1)
          .write.mode("append").parquet(path)
        Thread.sleep(60)
      }
      done.createNewFile()
      path
    }

    final case class BatchStat(batchId: Long, inRows: Long, durMs: Long,
        stateRows: Long, stateBytes: Long, watermark: String)
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[BatchStat]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        stats.add(BatchStat(p.batchId, p.numInputRows, p.batchDuration,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum,
          Option(p.eventTime.get("watermark")).getOrElse("-")))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val outPath = s"${work.getPath}/out"

    val t0 = System.nanoTime()
    val streamed: DataFrame = topology match {
      case "paidOrders" =>
        val orders = Tables.orders(spark, sfDir).select(
          col("o_orderkey").cast("string").as("orderId"),
          col("o_custkey").cast("string").as("user"),
          array().cast("array<string>").as("products"),
          col("o_totalprice").as("amount"),
          col("o_orderdate").cast("timestamp").as("ts"))
        val payments = Tables.lineitem(spark, sfDir).select(
          col("l_orderkey").cast("string").as("orderId"),
          when(col("l_returnflag") === "N", "PAID").otherwise("PENDING").as("status"),
          col("l_shipdate").cast("timestamp").as("ts"))
        val profiles = Tables.customer(spark, sfDir).select(
          col("c_custkey").cast("string").as("user"),
          col("c_mktsegment").as("profile"))
        val discounts = Tables.discounts(spark).withColumnRenamed("factor", "amount")
        val oPath = writeChrono(orders, "orders", year(col("ts")))
        val pPath = writeChrono(payments, "payments", year(col("ts")))
        println(f"[stream-scale] chrono write ${(System.nanoTime() - t0) / 1e9}%.1f s")
        val oStream = spark.readStream.schema(orders.schema)
          .option("maxFilesPerTrigger", "1").parquet(oPath)
        val pStream = spark.readStream.schema(payments.schema)
          .option("maxFilesPerTrigger", "1").parquet(pPath)
        Topologies.paidOrders(oStream, pStream, profiles, discounts,
          joinWindow = "45 days")
      case "trending" =>
        val events = Tables.events(spark, sfDir)
          .select(col("event_type"), col("ts_ts").as("ts"))
          .filter(col("ts").isNotNull)
        // daily files: the fixture spans one month, so ~30 micro-batches
        val ePath = writeChrono(events, "events", dayofmonth(col("ts")))
        println(f"[stream-scale] chrono write ${(System.nanoTime() - t0) / 1e9}%.1f s")
        val eStream = spark.readStream.schema(events.schema)
          .option("maxFilesPerTrigger", "1").parquet(ePath)
        // 1-hour windows, 2-hour grace: late-file arrivals within two days
        // still land, and the watermark closes windows as days replay —
        // the chained (count → argmax) aggregation is the state under test
        Topologies.trendingKeys(eStream, col("event_type"), col("ts"),
          window = "1 hour", grace = "2 hours")
      case "curate" =>
        // the fixture has no document timestamp; a deterministic synthetic
        // arrival clock spreads the corpus over 30 "days" (day = doc_id
        // mod 30, in-day offset from doc_id) so the watermark advances
        // daily as files replay and the fingerprint-dedup state gets
        // pruned behind it. Exact-dup families land on DIFFERENT days
        // (consecutive doc_ids → different mod-30 slots), so a 2-day
        // grace dedups only near-in-time redeliveries — the semantics
        // dropDuplicatesWithinWatermark is FOR (KSA:64-70's drop contract
        // has no time bound only because the reference's state store is
        // unbounded; ours must not be).
        val docs = Tables.documents(spark, sfDir)
          .filter(col("text").isNotNull)
          .withColumn("ts",
            to_timestamp(lit("2024-01-01 00:00:00"))
              + expr("make_interval(0, 0, 0, CAST(doc_id % 30 AS INT), 0, 0, CAST((doc_id * 37) % 86400 AS INT))"))
          .select(col("doc_id"), col("text"), col("ts"))
        val dPath = writeChrono(docs, "documents", dayofmonth(col("ts")))
        println(f"[stream-scale] chrono write ${(System.nanoTime() - t0) / 1e9}%.1f s")
        val dStream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(dPath)
        Topologies.curateDocuments(dStream, grace = "2 days")
    }

    val t1 = System.nanoTime()
    val q = streamed.writeStream.format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", s"${work.getPath}/ckpt")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val runSec = (System.nanoTime() - t1) / 1e9
    // listener events are async; drain briefly before summarizing
    Thread.sleep(1000)
    spark.streams.removeListener(listener)

    import scala.jdk.CollectionConverters._
    val all = stats.asScala.toSeq.sortBy(_.batchId)
    all.foreach { b =>
      println(f"[stream-scale] batch=${b.batchId}%3d in=${b.inRows}%8d " +
        f"ms=${b.durMs}%6d state_rows=${b.stateRows}%9d " +
        f"state_mb=${b.stateBytes / 1e6}%8.1f wm=${b.watermark}")
    }
    val out = spark.read.parquet(outPath).count()
    val inputRows = all.map(_.inRows).sum
    val maxStateRows = if (all.isEmpty) 0L else all.map(_.stateRows).max
    val maxStateBytes = if (all.isEmpty) 0L else all.map(_.stateBytes).max
    // plateau evidence: if the watermark bounds state, the peak of the
    // run's second half should not exceed the first half's peak by much
    val (h1, h2) = all.splitAt(all.size / 2)
    def peak(s: Seq[BatchStat]) = if (s.isEmpty) 0L else s.map(_.stateRows).max
    println(f"[stream-scale] SUMMARY sf=$sfDir topology=$topology " +
      f"provider=${if (rocks) "rocksdb" else "hdfs-memory"} batches=${all.size} " +
      f"input_rows=$inputRows total_sec=$runSec%.1f out_rows=$out " +
      f"max_state_rows=$maxStateRows max_state_mb=${maxStateBytes / 1e6}%.1f " +
      f"state_peak_h1=${peak(h1)} state_peak_h2=${peak(h2)}")

    if (!persistent) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(work)
    }
    spark.stop()
  }
}
