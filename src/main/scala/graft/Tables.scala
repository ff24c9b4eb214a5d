package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-supplied parquet tables (TESTDATA.md / FIXTURES.md §B).
  *
  * All loaders take the scale-factor directory (e.g. `/root/testdata/sf0.01`)
  * so the same query code runs at every SF. Column pruning / predicate
  * pushdown is left to Catalyst — callers `select`/`filter` and the parquet
  * scan prunes (verified via `explain`: `ReadSchema` / `PushedFilters`).
  *
  * The nine fixed tables are read with the schemas declared in [[schemas]],
  * the way the reference declares the type of every topic it reads
  * (typed serdes): a bare `spark.read.parquet` runs one schema-inference
  * Spark job per read, before the query's own action. A declared column
  * the file lacks reads as NULL without an error; TablesSchemaSpec pins
  * every declared schema to the inferred one on each fixture SF. `events`
  * alone is still inferred (see [[events]]).
  */
object Tables {

  /** FIXTURES.md §B, exactly as Spark infers it from the fixture files. */
  val schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey int, r_name string",
    "nation" -> "n_nationkey int, n_name string, n_regionkey int",
    "customer" -> ("c_custkey bigint, c_name string, c_nationkey int, " +
      "c_acctbal double, c_mktsegment string"),
    "supplier" -> "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part" -> ("p_partkey bigint, p_name string, p_brand string, p_type string, " +
      "p_size int, p_retailprice double"),
    "orders" -> ("o_orderkey bigint, o_custkey bigint, o_orderstatus string, " +
      "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"),
    "lineitem" -> ("l_orderkey bigint, l_partkey bigint, l_suppkey bigint, " +
      "l_linenumber int, l_quantity double, l_extendedprice double, " +
      "l_discount double, l_tax double, l_returnflag string, " +
      "l_linestatus string, l_shipdate timestamp_ntz"),
    "documents" -> ("doc_id bigint, text string, lang string, source string, " +
      "n_chars bigint"),
    "embeddings" -> "vec_id bigint, embedding array<float>, label int"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    schemas.get(name).fold(spark.read)(spark.read.schema(_))
      .parquet(s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `events.ts` has shipped in two physical parquet types across testdata
    * generations: INT64 TIMESTAMP(NANOS) (readable only under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, arriving as epoch-nano
    * bigint) and TIMESTAMP(µs) / TIMESTAMP_NTZ, so `events` has no entry in
    * [[schemas]] and its read infers. [[normalizeEvents]] maps
    * either onto one engine-side contract so every consumer is
    * generation-agnostic:
    *  - `ts`    — epoch NANOseconds, bigint (the original engine contract;
    *    all downstream code does integer `ts div 1000`);
    *  - `ts_us` — epoch microseconds. Integer truncation, matching how
    *    DuckDB (the correctness oracle) truncates TIMESTAMP_NS → µs. A
    *    floating-point `ts / 1000` would round (nanos exceed 2^53) and
    *    disagree with the oracle near boundaries;
    *  - `ts_ts` — a proper TimestampType column for `window()` /
    *    `session_window()` (session TZ is UTC).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    // Engine's sessions (Engine.builder, hence Engine.local: the mains and
    // the tests) carry this from session build; the guarded set here
    // covers other sessions (shells) without re-mutating an
    // already-configured session on every call.
    // Harmless when the files carry a plain timestamp instead of nanos.
    if (spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(table(spark, dir, "events"))
  }

  /** See [[events]]. Works on batch and streaming frames alike (pure column
    * ops). The TIMESTAMP_NTZ → TIMESTAMP cast interprets wall-clock in the
    * session time zone, which the engine pins to UTC, so the instant is
    * preserved exactly.
    */
  def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // epoch-nano bigint
        raw.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts_ts", timestamp_micros(col("ts_us")))
      case _ => // TIMESTAMP / TIMESTAMP_NTZ at µs precision
        raw.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("ts_ts", timestamp_micros(col("ts_us")))
          .withColumn("ts", col("ts_us") * lit(1000L))
    }

  /** The GlobalKTable stand-in (FIXTURES.md §C): a small, fully-replicated
    * dimension mapping market segment ("profile") → discount factor.
    * Mirrors the reference's `discounts` topic
    * (src/main/scala/KafkaStreamsApp.scala:159-160); replication to every
    * node = `broadcast()` at the join site.
    */
  def discounts(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("AUTOMOBILE", 0.05),
      ("BUILDING",   0.10),
      ("FURNITURE",  0.15),
      ("HOUSEHOLD",  0.20),
      ("MACHINERY",  0.25)
    ).toDF("profile", "factor")
  }

  /** SQL literal matching [[discounts]], for the DuckDB oracle. */
  val discountsSql: String =
    "(VALUES ('AUTOMOBILE', 0.05), ('BUILDING', 0.10), ('FURNITURE', 0.15), " +
      "('HOUSEHOLD', 0.20), ('MACHINERY', 0.25)) AS d(profile, factor)"
}
