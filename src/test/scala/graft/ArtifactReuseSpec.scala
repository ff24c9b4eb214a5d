package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the [[Artifact]] contract: each of the catalog's 11 shared
  * artifacts is built at most once per sf dir and re-read by every later
  * caller, a failed build is retried, and no hand-rolled memo map sits
  * beside it. The near-dup pair artifact
  * ([[ExtensionQueries.nearDupPairs]]) gets the family-level gate: the
  * dedup-downstream family — canonicalization (x2e), the leakage audit
  * (x38), the leakage-free split (x42), cross-source dup attribution
  * (x52) — consumes ONE filesystem parquet artifact. On a 100 TB pipeline
  * this is the difference between one pair-generation job and four.
  */
class ArtifactReuseSpec extends SparkSpec {
  import ExtensionQueries._

  private val dir = "/root/testdata/sf0.001"
  private val consumers = Seq("x2e_dedup_canonical", "x38_split_leakage",
    "x42_cluster_split", "x52_cross_source_dups")

  test("near-dup pair artifact: built at most once, re-read by every consumer") {
    // Warm the artifact so suite ordering can't decide whether THIS test pays
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
      "pair artifact was REBUILT by a consumer — the cache must serve all")
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

  /** Each accessor with the artifact that backs it. */
  private val accessors = Seq[(Artifact[_], () => Any)](
    (trainedModel, () => trainedModel(spark, dir)),
    (semdedupModel, () => semdedupModel(spark, dir)),
    (evalVectors, () => evalVectors(spark, dir)),
    (trainedBpe, () => trainedBpe(spark, dir)),
    (benchBloom, () => benchBloom(spark, dir)),
    (tokenCms, () => tokenCms(spark, dir)),
    (pcaModel, () => pcaModel(spark, dir)),
    (trainedLr, () => trainedLr(spark, dir)),
    (pagerankArtifact, () => pagerankRanks(spark, dir)),
    (nearDupArtifact, () => nearDupPairs(spark, dir)),
    (trainedPqCodebooks, () => trainedPqCodebooks(spark, dir)))

  test("every accessor: a second call for the same dir adds 0 builds and 1 read") {
    for ((a, call) <- accessors) {
      call()
      val (b0, r0) = (a.builds.get, a.reads.get)
      call()
      assert(a.builds.get - b0 === 0, s"${a.name} rebuilt")
      assert(a.reads.get - r0 === 1, s"${a.name} read count")
    }
  }

  test("a build that throws leaves no entry: the retry builds") {
    var calls = 0
    val a = Artifact[Int]("flaky") { (_, _) =>
      calls += 1
      if (calls == 1) throw new IllegalStateException("first build fails")
      42
    }
    intercept[IllegalStateException](a(spark, dir))
    assert(a.builds.get === 0)
    assert(a(spark, dir) === 42)
    assert(a.builds.get === 1)
    assert(a(spark, dir) === 42)
    assert((calls, a.builds.get, a.reads.get) === ((2, 1, 3)))
  }

  test("Artifact.tallies names all 11 catalog artifacts") {
    val names = accessors.map(_._1.name)
    assert(names.distinct.size === 11)
    val t = Artifact.tallies
    for (n <- names)
      assert(s"(^|, )$n builds=\\d+ reads=\\d+".r.findFirstIn(t).isDefined,
        s"$n missing from tallies: $t")
  }

  test("no hand-rolled memo map in src/main: computeIfAbsent only in Artifact") {
    val needle = "computeIf" + "Absent"
    val files: Seq[Path] =
      scala.util.Using.resource(Files.walk(Paths.get("src/main/scala"))) {
        _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      }
    val hits = files
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.getFileName.toString).toSet
    assert(hits === Set("Artifact.scala"))
  }
}
