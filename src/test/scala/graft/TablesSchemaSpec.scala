package graft

import org.apache.spark.GraftSparkTestBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Pins the declared fixture schemas ([[Tables.schemas]]) to the files.
  * A declared column that a file lacks reads as NULL without an error, so
  * every declared schema must equal the one Spark infers, on every
  * fixture SF. The payoff of declaring them is that building a catalog
  * query starts no Spark job: the last test guards that.
  */
class TablesSchemaSpec extends SparkSpec {

  private val dirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1", "perfbench/data/sf0.01")

  for (dir <- dirs)
    test(s"declared schemas equal the inferred ones in $dir") {
      for (name <- Tables.schemas.keys) withClue(s"$name: ") {
        val declared = Tables.table(spark, dir, name)
        assert(declared.schema == spark.read.parquet(s"$dir/$name.parquet").schema)
        assert(declared.limit(5).collect().nonEmpty)
      }
    }

  test("building catalog queries starts no Spark job") {
    val dir = "/root/testdata/sf0.001"
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSparkTestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      for (name <- Seq("q3_shipping_priority", "p1_filter_expensive", "flagship_paid_orders"))
        SparkEntry.queries(name)(spark, dir)
      GraftSparkTestBridge.drainListenerBus(sc)
      assert(jobs.get == 0, s"${jobs.get} Spark job(s) started while building the queries")
    } finally sc.removeSparkListener(listener)
  }
}
