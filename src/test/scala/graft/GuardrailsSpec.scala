package graft

import org.apache.spark.sql.functions._
import graft.plans.Guardrails

class GuardrailsSpec extends SparkSpec {
  import spark.implicits._

  private val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
  private val b = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "w")

  test("assertNoCartesian flags a cross join of two multi-row frames") {
    val err = intercept[IllegalStateException] {
      Guardrails.assertNoCartesian(a.crossJoin(b))
    }
    assert(err.getMessage.contains("cartesian"))
  }

  test("assertNoCartesian flags an inner join whose condition optimizes away") {
    // lit(true) is removed by the optimizer — the guard sees the real shape
    val err = intercept[IllegalStateException] {
      Guardrails.assertNoCartesian(a.join(b, lit(true), "inner"))
    }
    assert(err.getMessage.contains("cartesian"))
  }

  test("scalar-aggregate broadcast (the corpus-constants idiom) is exempt") {
    val stats = b.agg(avg(col("w")).as("avgw"))
    Guardrails.assertNoCartesian(a.crossJoin(broadcast(stats)))
    Guardrails.assertNoCartesian(a.crossJoin(stats))
  }

  test("a literal limit(1) side (the query-vector idiom) is exempt; limit(2) is not") {
    Guardrails.assertNoCartesian(
      a.crossJoin(broadcast(b.filter(col("id") === 0).limit(1))))
    val err = intercept[IllegalStateException] {
      Guardrails.assertNoCartesian(a.crossJoin(b.limit(2)))
    }
    assert(err.getMessage.contains("cartesian"))
  }

  test("an explode over a one-row side is NOT scalar — the blowup is caught") {
    val oneRow = Seq(Tuple1((0 until 100).toArray)).toDF("arr")
      .select(explode(col("arr")).as("x"))
    val err = intercept[IllegalStateException] {
      Guardrails.assertNoCartesian(a.crossJoin(oneRow))
    }
    assert(err.getMessage.contains("cartesian"))
  }

  test("a join of two scalar aggregates is still one row — exempt") {
    val s1 = b.agg(avg(col("w")).as("x"))
    val s2 = b.agg(max(col("w")).as("y"))
    Guardrails.assertNoCartesian(a.crossJoin(broadcast(s1.crossJoin(s2))))
  }

  test("a cartesian inside a scalar subquery is caught") {
    a.createOrReplaceTempView("guard_big")
    b.createOrReplaceTempView("guard_x")
    val df = spark.sql(
      """SELECT * FROM guard_big
        |WHERE id > (SELECT count(*) FROM guard_x x, guard_x y)""".stripMargin)
    val err = intercept[IllegalStateException] {
      Guardrails.assertNoCartesian(df)
    }
    assert(err.getMessage.contains("cartesian"))
  }

  test("equi-joins and filtered joins pass") {
    Guardrails.assertNoCartesian(a.join(b, "id"))
    Guardrails.assertNoCartesian(a.join(b, a("id") === b("id") && b("w") > 5))
  }

  test("the extensions check rule fires only under the session flag") {
    // the shared session is built with graft.plans.GraftGuardrails, so
    // the rule runs at every analysis; the flag alone decides
    spark.conf.set(Guardrails.FlagKey, "false")
    a.crossJoin(b).queryExecution.assertAnalyzed() // flag off: passes
    try {
      spark.conf.set(Guardrails.FlagKey, "true")
      val err = intercept[IllegalStateException] {
        a.crossJoin(b).queryExecution.assertAnalyzed()
      }
      assert(err.getMessage.contains("cartesian"))
    } finally spark.conf.unset(Guardrails.FlagKey)
  }

  test("the catalog's fused-stats queries pass the guard") {
    // x9/x12/x18 all use crossJoin(broadcast(<scalar agg>)) internally
    for (name <- Seq("x9_bm25_search", "x12_unigram_lm", "x18_quality_tiers"))
      Guardrails.assertNoCartesian(
        Queries.queries(name)(spark, "/root/testdata/sf0.001"))
  }
}
