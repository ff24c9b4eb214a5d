package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession fixture for all suites: the repo's own session
  * ([[Engine.local]] — UTC, which matches the DuckDB oracle session, the
  * function and guardrail extensions, AQE left on) at small local
  * parallelism.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  /** Rows as a sorted set of plain seqs — order-free comparison. */
  def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet
}

object SparkSpec {
  lazy val session: SparkSession = Engine.local(4)
}
