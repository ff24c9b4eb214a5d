package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale-factor synthesizer (NOT part of the library surface):
  * scales the driver-generated testdata N× by unioning key-offset copies
  * of each fact table, for local scale rehearsal above the largest
  * driver-provided SF.
  *
  * Design choices, so sf(N×) rehearses the same workload SHAPE instead of
  * a degenerate one:
  *
  *  - `region`/`nation` stay constant (TPC-H dimension semantics — their
  *    cardinality does not scale with SF), so dimension joins and
  *    nationkey/regionkey ranges are unchanged.
  *  - Every fact copy offsets its OWN primary/foreign keys by `i * 1e8`
  *    (both sides of each FK equally), so referential integrity holds
  *    and per-key group sizes — items per order, orders per customer,
  *    events per user — stay constant while key cardinality scales.
  *  - Copy 0 is byte-identical to the source, so catalog queries pinned
  *    to concrete keys (the `vec_id = 0` query vector, the `doc_id < 50`
  *    benchmark slice) keep their referents.
  *  - `documents.text` in copies > 0 tags every 2nd token with a
  *    copy-suffix: near-dup/exact-dup structure WITHIN a copy is
  *    preserved (so dedup families scale linearly), while cross-copy
  *    shingle overlap is exactly ZERO — any 3 consecutive positions
  *    contain an even one, so every 3-token shingle carries a
  *    copy-suffixed token. (An earlier every-5th-token variant left 2/5
  *    of shingles untagged and shared across ALL copies: each base doc
  *    then had copies-1 cross-copy twins at Jaccard exactly 0.25 — just
  *    under the catalog's 0.3 threshold — so the exact set-similarity
  *    join had to generate and verify O(copies²) near-miss candidates
  *    per base doc, drowning scaling ratios in a synthetic artifact no
  *    real corpus shape produces.) Single-space joining keeps the
  *    tokenizer's `sum_token_len = n_chars - (n_tokens - 1)` arithmetic
  *    exact; `n_chars` is recomputed.
  *  - `embeddings.embedding` in copies > 0 gets a small deterministic
  *    per-(copy, dimension) jitter, so vector copies are near but not
  *    exact duplicates — ANN/clustering rehearse realistic density
  *    instead of N exactly-coincident points per vector. Copies are
  *    additionally banded into GROUPS of 10 (group = copy / 10), and
  *    groups > 0 get a large per-(BASE vector, group, dimension)
  *    offset: within a group the ≤10 copies of a vector share their
  *    offset and stay mutual near-twins (cosine ≈ 0.9996, same as
  *    before), while across groups — and between different base
  *    vectors anywhere — the independent offsets (norm ≈ 1.6 vs unit
  *    vectors) push cosine far below any near-dup threshold. This
  *    keeps the TRUE near-dup clique size — and so the correct
  *    pair-output cardinality per original vector — bounded at ~10
  *    regardless of the copy count; without it, 100 copies would be
  *    100 mutual near-twins and any correct engine's pair output would
  *    grow quadratically in SF, making scaling ratios unreadable. The
  *    offset is keyed on the base vector id, NOT just the group: a
  *    per-(group, dim)-only offset concentrated every vector of a
  *    non-zero group into one tight cone (pairwise cosine ≈ 0.7
  *    between unrelated vectors), so above 10 copies a third or more
  *    of the corpus became one angular hot spot, hyperplane-LSH
  *    buckets went degenerate, and the knn family's scaling ratio
  *    measured the hot-bucket cap instead of the workload (16× at 3×
  *    rows) — an artifact no real corpus produces at that fraction.
  *    Copies 0–9 are group 0 (no offset), so ≤10-copy synthesis (sf1)
  *    is bit-identical to the pre-banding behavior.
  *
  * `events.ts` is copied through with whatever physical type the source
  * generation used (epoch-nano BIGINT under `nanosAsLong=true`, or a
  * plain µs timestamp) — [[Tables.normalizeEvents]] makes consumers
  * type-agnostic, and the DuckDB compare script re-types a BIGINT `ts`
  * back to TIMESTAMP_NS when registering the view (tools/check_oracle.py).
  *
  * == The `hostile` profile ==
  *
  * Every oracle has otherwise only ever seen the driver's benign
  * distribution — both scale-rehearsal defects to date (x2d at sf1, x30
  * at sf10) were fixture-shape assumptions. `hostile` re-shapes the
  * scaled output adversarially, deterministically per key
  * (murmur3-bucketed, so reruns are bit-identical), while protecting the
  * catalog's pinned query/eval referents (`doc_id < 50`, `vec_id < 50`
  * query sets; customer 0, the skew target, stays a normal row):
  *
  *  - NULLs in every nullable non-PK column family (measures, flags,
  *    dates, dims, and a thin slice of FKs — joins must agree with the
  *    oracle on NULL-key drop semantics).
  *  - documents: empty / whitespace-only / single-token / NULL /
  *    unicode-heavy (multi-byte, astral-plane, combining accents) text,
  *    plus a duplicate-saturated band (3 constant texts shared by ~5% of
  *    the corpus — exact-dup clusters far larger than the benign data
  *    ever produces); `n_chars` recomputed so the tokenizer arithmetic
  *    stays honest.
  *  - embeddings: all-zero vectors (cosine denominator 0), constant
  *    vectors, zero-LENGTH arrays and NULL embeddings in the corpus.
  *  - Zipf-grade key skew: ~30% of orders remapped to customer 0 and
  *    ~30% of events to one existing user — one group owning a third of
  *    the table, the shape AQE skew-handling exists for.
  *  - events.props: malformed JSON (`{"k": 1` / empty string / NULL) —
  *    pins the reference's serde drop-on-malformed contract (KSA:64-70).
  *
  * Usage: `runMain graft.DevSynth <srcSfDir> <outDir> <copies> [hostile]`
  * (`hostile-nullid` = hostile + the opt-in NULL-doc_id band, r13)
  */
object DevSynth {
  def main(args: Array[String]): Unit = {
    val (srcDir, outDir, copiesS, profile) = args match {
      case Array(s, o, c) => (s, o, c, "benign")
      case Array(s, o, c, p) => (s, o, c, p)
    }
    val copies = copiesS.toInt
    require(copies >= 1, s"copies must be >= 1, got $copies")
    require(profile == "benign" || profile == "hostile"
        || profile == "hostile-nullid",
      s"profile must be benign|hostile|hostile-nullid, got $profile")
    val hostile = profile.startsWith("hostile")
    val nullIds = profile == "hostile-nullid"
    val spark = Engine.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, 32)
    val stride = 100000000L // far above any source key

    new java.io.File(outDir).mkdirs()

    // single .parquet FILE per table (matching the driver layout, which
    // both Tables.table and the DuckDB compare expect)
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = new java.io.File(s"$outDir/__tmp_$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file for $name"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$outDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
      println(s"[synth] $name done")
    }

    def scaled(name: String, keys: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val out = (0 until copies)
        .map { i =>
          val offset = keys.foldLeft(src)((d, k) =>
            d.withColumn(k, col(k) + lit(i * stride)))
          extra(offset, i)
        }
        .reduce(_ unionByName _)
      writeOne(if (hostile) hostilize(name, out, nullIds) else out, name)
    }

    writeOne(spark.read.parquet(s"$srcDir/region.parquet"), "region")
    writeOne(spark.read.parquet(s"$srcDir/nation.parquet"), "nation")
    // c_name in copies > 0 gets a 3-digit checksum suffix (tens, units,
    // digit-sum mod 10): any two DISTINCT copy suffixes differ in >= 2
    // characters (a single-digit change breaks the checksum), and copy 0
    // keeps the bare 18-char name (length differs from every suffixed
    // copy). So the Hamming<=1 record-linkage family (x64) sees ZERO
    // cross-copy pairs while within-copy pair structure is preserved
    // exactly — without this, 100 identical copies of every name are
    // C(100,2) mutual exact dups per base customer and the correct pair
    // output grows quadratically in SF (the same artifact the documents
    // copy-tagging and embeddings group-banding already prevent).
    scaled("customer", Seq("c_custkey"), (d, i) =>
      if (i == 0) d
      else d.withColumn("c_name",
        concat(col("c_name"),
          lit(s"${i / 10}${i % 10}${(i / 10 + i % 10) % 10}"))))
    scaled("supplier", Seq("s_suppkey"))
    scaled("part", Seq("p_partkey"))
    scaled("orders", Seq("o_orderkey", "o_custkey"))
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scaled("events", Seq("event_id", "user_id"))
    scaled("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else {
        val tagged = array_join(
          transform(split(col("text"), " "),
            (t, p) => when(p % 2 === 0, concat(t, lit(s"c$i"))).otherwise(t)),
          " ")
        d.withColumn("text", tagged)
          .withColumn("n_chars", length(col("text")).cast("long"))
      })
    scaled("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else {
        val g = i / 10 // near-twin band; see scaladoc
        d.withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            x + (pmod(lit(i) * 31 + j, lit(13)) - lit(6)).cast("double") * lit(1e-3)
              + (if (g == 0) lit(0.0)
                 else (pmod(hash(lit(g), pmod(col("vec_id"), lit(stride)), j),
                     lit(1001)).cast("double") / lit(500.0)
                   - lit(1.0)) * lit(0.35)))
            .cast("array<float>"))
      })
    spark.stop()
  }

  /** Deterministic per-key adversarial bucket in [0, 1000): murmur3 of
    * the key columns plus a fixed salt, so a rerun is bit-identical and
    * the afflicted row set is independent of partitioning.
    */
  private def slot(keys: org.apache.spark.sql.Column*) =
    pmod(hash(keys :+ lit(42): _*), lit(1000))

  private val nullStr = lit(null).cast("string")

  /** The `hostile` profile's per-table transforms (see object scaladoc).
    * Bucket ranges are disjoint per column family so each row carries at
    * most one affliction per column and the afflicted fractions are
    * exact by construction.
    */
  private def hostilize(name: String, df: DataFrame,
      nullIds: Boolean): DataFrame = name match {
    case "customer" =>
      val s = slot(col("c_custkey"))
      // customer 0 is the order-skew target — it must stay a joinable,
      // fully-populated row
      val protect = col("c_custkey") === 0L
      df.withColumn("c_name",
          when(protect, col("c_name"))
            .when(s < 10, nullStr)
            .when(s < 20, lit(""))
            // one shared unicode name: an exact-dup cluster for the
            // record-linkage family, multi-byte + astral-plane for every
            // byte-vs-codepoint length assumption
            .when(s < 30, lit("Ünïcødé🦄名前"))
            .when(s < 35, lit("   "))
            .otherwise(col("c_name")))
        .withColumn("c_acctbal",
          when(!protect && s >= 35 && s < 55, lit(null).cast("double"))
            .otherwise(col("c_acctbal")))
        .withColumn("c_mktsegment",
          when(!protect && s >= 55 && s < 75, nullStr)
            .otherwise(col("c_mktsegment")))
    case "orders" =>
      val s = slot(col("o_orderkey"))
      // Zipf-grade skew: ~30% of all orders belong to customer 0
      val zipf = pmod(hash(col("o_orderkey"), lit(77)), lit(10)) < 3
      df.withColumn("o_custkey",
          when(s >= 80 && s < 90, lit(null).cast("long"))
            .when(zipf, lit(0L))
            .otherwise(col("o_custkey")))
        .withColumn("o_orderstatus",
          when(s < 20, nullStr).otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(s >= 20 && s < 40, lit(null).cast("double"))
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(s >= 40 && s < 60, nullStr).otherwise(col("o_orderpriority")))
        .withColumn("o_orderdate",
          when(s >= 60 && s < 80, lit(null).cast(df.schema("o_orderdate").dataType))
            .otherwise(col("o_orderdate")))
    case "lineitem" =>
      val s = slot(col("l_orderkey"), col("l_linenumber"))
      df.withColumn("l_quantity",
          when(s < 20, lit(null).cast("double")).otherwise(col("l_quantity")))
        .withColumn("l_discount",
          when(s >= 20 && s < 40, lit(null).cast("double"))
            .otherwise(col("l_discount")))
        .withColumn("l_returnflag",
          when(s >= 40 && s < 60, nullStr).otherwise(col("l_returnflag")))
        .withColumn("l_shipdate",
          when(s >= 60 && s < 80, lit(null).cast(df.schema("l_shipdate").dataType))
            .otherwise(col("l_shipdate")))
        .withColumn("l_extendedprice",
          when(s >= 80 && s < 95, lit(null).cast("double"))
            .otherwise(col("l_extendedprice")))
        .withColumn("l_partkey",
          when(s >= 995, lit(null).cast("long")).otherwise(col("l_partkey")))
    case "events" =>
      val s = slot(col("event_id"))
      val zipf = pmod(hash(col("event_id"), lit(77)), lit(10)) < 3
      // the skew target must be an EXISTING user: the source generator's
      // id range always contains its minimum
      val hot = df.agg(min(col("user_id"))).collect()(0).getLong(0)
      df.withColumn("user_id",
          when(zipf, lit(hot)).otherwise(col("user_id")))
        .withColumn("props",
          when(s < 30, lit("{\"k\": 1")) // truncated JSON
            .when(s >= 30 && s < 40, lit(""))
            .when(s >= 40 && s < 50, nullStr)
            .otherwise(col("props")))
        .withColumn("value",
          when(s >= 50 && s < 70, lit(null).cast("double"))
            .otherwise(col("value")))
        .withColumn("event_type",
          when(s >= 70 && s < 90, nullStr).otherwise(col("event_type")))
        .withColumn("ts",
          // [90, 110): a 2% NULL-ts slice. An open-ended `s >= 90` NULLed
          // 91% of all timestamps (slot buckets are 0..999) — adversarial
          // in the wrong way: it starved every time-window family down to
          // 9% of its data instead of peppering it with edge rows.
          when(s >= 90 && s < 110, lit(null).cast(df.schema("ts").dataType))
            .otherwise(col("ts")))
    case "documents" =>
      val s = slot(col("doc_id"))
      // doc_id < 50 is the catalog's pinned benchmark/query slice
      val protect = col("doc_id") < 50
      val unicodeText = "héllо wörld 🦄 unicorn 日本語 テキスト naïve café " +
        "étoile ΑΒΓ москва 🌍 emoji" // NFD accent + astral plane
      val dups = array(
        lit("the quick brown fox jumps over the lazy dog again and again"),
        lit("lorem ipsum dolor sit amet consectetur adipiscing elit sed do"),
        lit("to be or not to be that is the question whether tis nobler"))
      val text2 =
        when(protect, col("text"))
          .when(s < 20, lit(""))
          .when(s >= 20 && s < 30, lit("   "))
          .when(s >= 30 && s < 50, lit(unicodeText))
          .when(s >= 50 && s < 60, nullStr)
          .when(s >= 60 && s < 70, lit("x"))
          // duplicate-saturated band: ~5% of the corpus shares 3 texts
          .when(s >= 70 && s < 120, element_at(dups, (pmod(s, lit(3)) + 1).cast("int")))
          .otherwise(col("text"))
      df.withColumn("text", text2)
        .withColumn("lang",
          when(!protect && s >= 120 && s < 140, nullStr).otherwise(col("lang")))
        .withColumn("source",
          when(!protect && s >= 140 && s < 160, nullStr).otherwise(col("source")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        // NULL-id band (r13, verdict item 7), OPT-IN via the
        // `hostile-nullid` profile: ~0.8% of docs lose their id, pinning
        // the x2/x50 family's `id IS NOT NULL` ingestion contract against
        // the oracle on the DROPPED case too (the NULL-text drop already
        // had a band; the id twin did not). Opt-in, not default-hostile:
        // the r13 full-catalog sweep under this band measured 23
        // row-per-doc entries (x1/x27/x34/x2e/x42/x6e/... — NOT the pair
        // generators, which stay green) where the engine keeps each
        // NULL-id doc as its own output row while the DuckDB oracle's
        // GROUP BY doc_id collapses them into one — a pre-existing
        // declared-semantics-vs-oracle gap on hypothetical inputs,
        // recorded in OPTIMIZATION_r13.md, not repairable inside an
        // optimization round without editing 23 oracles in lockstep.
        // Applied LAST so every other band's slot routing still keys on
        // the original id.
        .withColumn("doc_id",
          when(lit(nullIds) && !protect && s >= 160 && s < 168,
            lit(null).cast("long"))
            .otherwise(col("doc_id")))
    case "embeddings" =>
      val s = slot(col("vec_id"))
      // vec_id < 50 plays the query/eval sets across the ANN family
      val protect = col("vec_id") < 50
      df.withColumn("embedding",
          when(protect, col("embedding"))
            .when(s < 20, transform(col("embedding"), _ => lit(0.0f)))
            .when(s >= 20 && s < 40, transform(col("embedding"), _ => lit(0.5f)))
            .when(s >= 40 && s < 50, array().cast("array<float>"))
            .when(s >= 50 && s < 60, lit(null).cast("array<float>"))
            .otherwise(col("embedding")))
        .withColumn("label",
          when(!protect && s >= 60 && s < 80, lit(null).cast("int"))
            .otherwise(col("label")))
    case _ => df // region/nation: fixed dimensions stay pristine
  }
}
