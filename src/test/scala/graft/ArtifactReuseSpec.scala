package graft

/** Pins the shared-artifact contract of the near-dup pair memo
  * ([[ExtensionQueries.nearDupPairs]]): the dedup-downstream family —
  * canonicalization (x2e), the leakage audit (x38), the leakage-free
  * split (x42), cross-source dup attribution (x52) — consumes ONE
  * filesystem parquet artifact that is built exactly once per corpus
  * and re-read by every consumer. On a 100 TB pipeline this is the
  * difference between one pair-generation job and four; the memo is the
  * mechanism, this spec is the regression gate ("written once, read N
  * times"), and the scale rehearsals report the same counters at sf10.
  */
class ArtifactReuseSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private val consumers = Seq("x2e_dedup_canonical", "x38_split_leakage",
    "x42_cluster_split", "x52_cross_source_dups")

  test("near-dup pair artifact: built at most once, re-read by every consumer") {
    // Warm the memo so suite ordering can't decide whether THIS test pays
    // the build; the contract under test is zero REbuilds across the family.
    ExtensionQueries.nearDupPairs(spark, dir).limit(1).count()
    val builds0 = ExtensionQueries.pairsBuilds.get()
    val reads0 = ExtensionQueries.pairsReads.get()
    for (name <- consumers) {
      val df = Housekeeping.scopedBlocks(spark) {
        val out = SparkEntry.queries(name)(spark, dir)
        out.write.mode("overwrite").format("noop").save()
        out
      }
      assert(df != null)
    }
    assert(ExtensionQueries.pairsBuilds.get() == builds0,
      "pair artifact was REBUILT by a consumer — the memo must serve all")
    assert(ExtensionQueries.pairsReads.get() - reads0 >= consumers.size,
      s"expected >= ${consumers.size} artifact reads across the family")
  }

  test("the artifact is a real on-disk parquet, not a driver-held plan") {
    val df = ExtensionQueries.nearDupPairs(spark, dir)
    // the consumer-visible form is a bare parquet scan: its logical plan
    // must carry NO trace of the generation pipeline (explode/join/agg)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("generate"),
      s"consumer plan should be a scan, got:\n$plan")
    assert(!plan.toLowerCase.contains("join"),
      s"consumer plan should be a scan, got:\n$plan")
  }

  test("the artifact is read back with the schema it was written with") {
    val df = ExtensionQueries.nearDupPairs(spark, dir)
    // a declared column the files lack would read as NULL, silently
    val inferred = spark.read.parquet(df.inputFiles.toSeq: _*).schema
    assert(df.schema == inferred)
    assert(ExtensionQueries.pairsSchema == inferred)
  }
}
