package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected SparkEntry.queries result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. Session
  * and `SPARK_GRAFT_ONLY` selector as in [[Bench]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val picked = Bench.selected
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      // scoped inter-query cleanup (see Housekeeping): drop the blocks
      // this query persisted, never another component's
      try Housekeeping.scopedBlocks(spark) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // one line of artifact build/read counters
    System.err.println(s"[graft] artifact tallies: ${Artifact.tallies}")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
