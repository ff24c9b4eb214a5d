package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Clustering, Multimodal, Relational, Sequences, Similarity, TextAnalysis}

/** Pins the adversarial-input contracts the round-11 hostile DevSynth
  * sweep forced into the engine (every case here crashed or silently
  * disagreed with the DuckDB oracle before the fix):
  *
  *  - [[Similarity.wellFormedVec]]: NULL / empty / zero-norm vectors are
  *    dropped at every embedding-family ingestion boundary (the vector
  *    analog of the reference serde's drop-on-malformed, KSA:64-70) —
  *    before the contract, ANSI divide-by-zero killed 10 catalog entries.
  *  - BPE trains and encodes over unicode CODEPOINTS, not UTF-16 units:
  *    astral-plane symbols must round-trip as single alphabet entries,
  *    never as lone surrogates.
  *  - Time-ordered operators (asofJoin, scd2, transitionCounts) drop
  *    records with a NULL primary time/ordinal — an unplaceable record
  *    has no position, like a timestampless event at a window operator.
  *  - Multimodal extraction drops NULL payloads instead of NPE-ing.
  *  - fingerprints: a NULL-text doc gets NULL digests, never the digest
  *    of the EMPTY string (which would alias genuinely empty docs).
  *  - x30's within-doc block trim is total: a NULL-text doc keeps its row
  *    with a NULL `clean_text`, and NULL-id docs never merge.
  */
class HostileDataSpec extends SparkSpec {
  import spark.implicits._

  private def vecDf(rows: Seq[(Long, Seq[Float])]) = {
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("vec", ArrayType(FloatType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) =>
        Row(i, if (v == null) null else v)
      }),
      schema)
  }

  private val degenerate = Seq[(Long, Seq[Float])](
    (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0f, 1f)),
    (4L, Seq(0f, 0f)),          // zero norm
    (5L, Seq.empty[Float]),     // zero length
    (6L, null))                 // NULL vector

  test("wellFormedVec drops NULL, empty and zero-norm vectors") {
    val kept = vecDf(degenerate)
      .filter(Similarity.wellFormedVec(col("vec")))
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L, 2L, 3L))
  }

  test("bruteForceTopK ignores malformed corpus and query vectors (no ANSI crash)") {
    val corpus = vecDf(degenerate)
    val queries = vecDf(degenerate)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val out = Similarity.bruteForceTopK(corpus, queries, 2).collect()
    // only the 3 valid queries emit, and no malformed id appears as a hit
    assert(out.map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    assert(out.map(_.getLong(2)).forall(Set(1L, 2L, 3L)))
  }

  test("k-means trains through a corpus containing malformed vectors") {
    val m = Clustering.trainKMeans(vecDf(degenerate), col("id"), col("vec"),
      k = 2, maxIter = 4)
    assert(m.centers.nonEmpty)
    assert(m.centers.forall(c =>
      math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9))
  }

  test("BPE alphabet is codepoints: astral-plane symbols round-trip unshredded") {
    val docs = Seq((1L, "ab ab 🦄x 🦄x 🦄x"), (2L, "ab 🦄x")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(col("text"), numMerges = 4)(docs)
    // no trained merge half may be a lone surrogate
    assert(merges.forall { case (a, b) =>
      !(a + b).exists(ch => Character.isSurrogate(ch) &&
        (a + b).codePointCount(0, (a + b).length) == (a + b).length)
    })
    val enc = docs.select(col("text"),
        graft.functions.BpeEncode(merges)(col("text")).as("toks"))
      .withColumn("joined", concat_ws("", col("toks")))
      .collect()
    enc.foreach { r =>
      assert(r.getString(2) === r.getString(0).replace(" ", ""))
      // every token is a valid string: surrogates only in proper pairs
      r.getSeq[String](1).foreach { t =>
        var i = 0
        while (i < t.length) {
          val cp = t.codePointAt(i)
          assert(!Character.isSurrogate(cp.toChar) || Character.charCount(cp) == 2,
            s"lone surrogate in token '$t'")
          i += Character.charCount(cp)
        }
      }
    }
  }

  test("asofJoin drops NULL-timestamp rows on both sides") {
    val left = Seq((1L, java.lang.Long.valueOf(10L)), (1L, null.asInstanceOf[java.lang.Long]))
      .toDF("k", "ts")
    val right = Seq(
      (1L, java.lang.Long.valueOf(5L), "early"),
      (1L, null.asInstanceOf[java.lang.Long], "timeless"))
      .toDF("k", "rts", "v")
    val out = Relational.asofJoin(right, Seq("k"), "ts", "rts", Seq("v"), "v")(left)
      .collect()
    // the NULL-ts left row is gone; the survivor matches the REAL right
    // row, never the timeless one
    assert(out.length === 1)
    assert(out.head.getAs[Long]("ts") === 10L)
    assert(out.head.getAs[String]("v") === "early")
  }

  test("scd2 drops NULL-ordinal changelog records") {
    val ch = Seq(
      (1L, "a", java.lang.Long.valueOf(1L)),
      (1L, "poison", null.asInstanceOf[java.lang.Long]),
      (1L, "b", java.lang.Long.valueOf(2L)))
      .toDF("k", "v", "ord")
    val out = Relational.scd2(Seq(col("k")), col("v"), col("ord"))(ch)
      .orderBy("valid_from").collect()
    assert(out.map(_.getAs[String]("value")).toSeq === Seq("a", "b"))
  }

  test("transitionCounts ignores rows with a NULL primary order key") {
    val ev = Seq(
      (1L, java.lang.Long.valueOf(1L), "view"),
      (1L, null.asInstanceOf[java.lang.Long], "poison"),
      (1L, java.lang.Long.valueOf(2L), "click"))
      .toDF("u", "t", "s")
    val out = Sequences.transitionCounts(col("u"), Seq(col("t")), col("s"))(ev)
      .collect()
    assert(out.length === 1)
    assert(out.head.getString(0) === "view" && out.head.getString(1) === "click")
  }

  test("multimodal extraction drops NULL payloads instead of decoding them") {
    val df = Seq((1L, "abc"), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val payloads = Multimodal.attachPayload("doc_id", "text")(df)
    val feats = Multimodal.extractFeatures(spark, payloads).collect()
    assert(feats.map(_.doc_id).toSeq === Seq(1L))
    val batched = Multimodal.extractFeaturesBatched(spark, payloads, 2).collect()
    assert(batched.map(_.doc_id).toSeq === Seq(1L))
  }

  test("fingerprints of a NULL-text doc are NULL, not the empty-string digest") {
    val df = Seq((1L, null.asInstanceOf[String]), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprints(col("doc_id"), col("text"), 10)(df)
      .orderBy("doc_id").collect()
    assert(out(0).isNullAt(1) && out(0).isNullAt(2)) // NULL text -> NULL digests
    assert(!out(1).isNullAt(1))                      // empty text -> a real digest
    assert(out(0).getAs[String]("prefix_fp") != out(1).getAs[String]("prefix_fp"))
  }

  test("NULL-id docs are dropped by the pair generators (the id twin of the NULL-text drop)") {
    // the r12 `id IS NOT NULL` ingestion contract, pinned on the DROPPED
    // case (r13, verdict item 7): a keyless doc — even an exact duplicate
    // of a keyed one — contributes neither pairs nor shingle document
    // frequency. Both generators and their naive twins must equal the
    // same corpus with NULL-id rows pre-filtered (the oracle CTEs' WHERE
    // doc_id IS NOT NULL).
    import graft.ops.Dedup
    val dup = "the same exact text repeated here for pairing purposes ok"
    val rows = Seq[(java.lang.Long, String)](
      (1L, dup), (2L, dup),
      (3L, "an unrelated document with different tokens entirely today"),
      (null, dup),                     // NULL-id exact dup of 1/2
      (null, "another keyless document sharing nothing with the rest"))
    val df = rows.toDF("doc_id", "text")
    val clean = df.filter(col("doc_id").isNotNull)
    def rows3(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    for ((name, fn) <- Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        ("jaccard", Dedup.ngramJaccardPairs(col("doc_id"), col("text"), 3, 0.3, 0L)(_)),
        ("jaccardNaive", Dedup.ngramJaccardPairsNaive(col("doc_id"), col("text"), 3, 0.3, 0L)(_)),
        ("containment", Dedup.containmentPairs(col("doc_id"), col("text"), 3, 0.5, 0L)(_)),
        ("containmentNaive", Dedup.containmentPairsNaive(col("doc_id"), col("text"), 3, 0.5, 0L)(_)))) {
      assert(rows3(fn(df)) === rows3(fn(clean)), s"$name diverged on NULL-id rows")
      assert(rows3(fn(df)).nonEmpty, s"$name found no pairs at all")
    }
  }

  test("dedupBlocksWithinDoc keeps a NULL-text doc as a row with NULL clean_text") {
    val rows = Seq[(java.lang.Long, String)](
      (1L, "a b a b c"), (2L, null), (null, null), (null, "x y x y"))
    val out = TextAnalysis.dedupBlocksWithinDoc(col("doc_id"), col("text"), 2)(
        rows.toDF("doc_id", "text"))
      .collect().map(r => (Option(r.get(0)), Option(r.getString(1)))).toSeq
    assert(out.sortBy(_.toString) === Seq[(Option[Any], Option[String])](
      (None, None), (None, Some("x y")), (Some(1L), Some("a b c")), (Some(2L), None))
      .sortBy(_.toString))
  }
}
