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

  /** Rows as a set of plain seqs — order-free comparison that collapses
    * duplicate rows; use [[countsOf]] where multiplicity matters. */
  def rowsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Rows as a multiset: each distinct row (a plain seq) → its count. */
  def countsOf(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (k, v) => k -> v.size }
}

object SparkSpec {
  lazy val session: SparkSession = Engine.local(4)
}
