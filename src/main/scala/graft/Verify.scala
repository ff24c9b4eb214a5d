package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // scale-rehearsal override only, same contract as Bench: the driver
    // never sets it, so its runs keep shuffle.partitions = cpus
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = Engine.local(cpus.toInt, shuffleParts.toInt)
    new java.io.File(outDir).mkdirs()
    // Local-dev filter (comma-separated names); the driver never sets it,
    // so its full-catalog run is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    SparkEntry.queries
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
      // scoped inter-query cleanup (see Housekeeping): drop the blocks
      // this query persisted, never another component's
      try Housekeeping.scopedBlocks(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Scale-rehearsal telemetry for the shared near-dup pair artifact
    // ("written once, read N times" — ArtifactReuseSpec pins the contract,
    // this line records it per run so BASELINE.md can quote real counts)
    System.err.println(s"[graft] near-dup artifact tallies: " +
      s"builds=${ExtensionQueries.pairsBuilds.get()} " +
      s"reads=${ExtensionQueries.pairsReads.get()}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
