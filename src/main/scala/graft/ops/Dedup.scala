package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-groupBy), n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB): every path is shuffle-on-key with map-side
  * combine — no driver-side collection anywhere. The LSH paths exist
  * precisely because all-pairs comparison is O(n²): banded MinHash buckets
  * Jaccard candidates and chunked SimHash buckets Hamming candidates, so
  * the expensive verify join touches only pairs sharing a bucket —
  * near-linear for realistic dup rates. Hot-shingle skew (stop-shingles
  * appearing in a large fraction of docs) is the classic blow-up of the
  * pair-generation join; [[ngramJaccardPairs]] takes a `maxShingleDf`
  * frequency cut for that, the standard mitigation in web-scale dedup.
  *
  * All bulk passes avoid lambda higher-order functions (CodegenFallback →
  * interpreted evaluation; see [[Texts]]): shingling is explode +
  * codegen'd expressions, signatures/fingerprints are hash-groupBy
  * aggregates with map-side partial aggregation.
  */
object Dedup {

  /** X1 exact dedup: keep one deterministic survivor per key group
    * (lowest `tiebreak`). `dropDuplicates` would keep an arbitrary row —
    * fine in production, not reproducible against an oracle.
    */
  def exact(keys: Seq[Column], tiebreak: Column)(df: DataFrame): DataFrame = {
    // an empty key list would plan a GLOBAL window — every row through one
    // reducer; that is never what a dedup caller means
    require(keys.nonEmpty, "exact dedup requires at least one key column")
    df.withColumn("__rn", row_number().over(Window.partitionBy(keys: _*).orderBy(tiebreak)))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** INCREMENTAL exact dedup — the ingest-time variant of [[exact]]: drop
    * from `incoming` every row whose dedup key already exists in the
    * accumulated corpus, then dedup the batch against itself (deterministic
    * survivor, as [[exact]]). The corpus side needs only its DISTINCT keys
    * (in production: the fingerprint side table a streaming ingest
    * maintains), aggregated before the join so the anti join carries one
    * row per known key — never the corpus itself. This is how per-batch
    * dedup composes with history without re-scanning accumulated data:
    * corpus keys are a stable, compact, bucketable table.
    */
  def exactIncremental(keys: Seq[Column], tiebreak: Column, corpus: DataFrame)(
      incoming: DataFrame): DataFrame = {
    require(keys.nonEmpty, "exact dedup requires at least one key column")
    val names = keys.zipWithIndex.map { case (_, i) => s"__k$i" }
    val known = corpus.select(keys.zip(names).map { case (k, n) => k.as(n) }: _*)
      .distinct()
    // null-SAFE equality: exact()'s window groups NULL keys together, so
    // the corpus screen must treat them the same way — a plain === would
    // re-admit corpus-known null-keyed rows through the anti join
    val cond = names.zip(keys).map { case (n, k) => k <=> col(n) }.reduce(_ && _)
    exact(keys, tiebreak)(incoming.join(known, cond, "left_anti"))
  }

  /** All candidate pairs (a < b) with shingle-set Jaccard >= `threshold`.
    *
    * PREFIX-FILTERED set-similarity join (the AllPairs/PPJoin family,
    * Bayardo et al. WWW'07) — exact, not approximate: every output pair
    * and every jaccard value is identical to the naive shingle self-join
    * (pinned by a differential twin in DedupSpec). Plan shape:
    *
    *  1. exploded distinct shingles → per-shingle document frequency on
    *     one s-exchange; the optional `maxShingleDf` hot cut rides the
    *     same aggregate.
    *  2. past the df join each shingle drops to its xxhash64 long
    *     FINGERPRINT h (identity, order and intersection are all the
    *     string ever contributes downstream — see the inline caveat on
    *     collision odds). Per-doc shingle set, ONCE, as two sorted
    *     arrays: by (df, h) — the global rarest-first total order — and
    *     by plain h. The PREFIX of the (df,h)-order array (length
    *     ⌊(1-t)·|A|⌋+1) is the only part that joins: two sets with
    *     J ≥ t MUST share their globally smallest common element inside
    *     both prefixes (pigeonhole on the ⌈t·|A|⌉ required overlap), so
    *     joining prefixes loses nothing, while the high-DF shingles —
    *     the ones generating Σdf² candidate blow-up — sort LAST and
    *     fall out of most prefixes. Measured at sf1: 33.6M candidate
    *     slots naive → prefix join + length filter cut (candidates must
    *     also satisfy t·|A| ≤ |B| ≤ |A|/t) leaves a fraction, each
    *     verified once.
    *  3. per-candidate exact |A∩B| via [[graft.functions.SortedIntersectCount]]
    *     — a codegen'd two-pointer merge over the h-sorted long arrays
    *     (no re-join against the corpus, no per-row hash set) — then
    *     |A∩B| / (|A|+|B|-|A∩B|). All integer arithmetic until the
    *     final division, so the result is bit-deterministic.
    *
    * At 100 TB this is the difference between a join whose volume is
    * Σ df² over ALL shingles and one bounded by the rare-prefix
    * collisions — the standard exact algorithm for corpus-scale
    * near-dup pair mining.
    *
    * INGESTION CONTRACT: rows with a NULL `id` are dropped at the source
    * (a keyless doc cannot pair — the id twin of the NULL-text drop), and
    * therefore contribute neither pairs nor shingle document frequency.
    * Same contract in [[containmentPairs]] and both naive twins; pinned
    * by HostileDataSpec and the hostile-nullid fixture sweep.
    *
    * @param id document key; must be non-NULL. A NULL-id row is dropped
    *        before the shingle document frequencies are counted, so it
    *        neither pairs nor counts toward `maxShingleDf`.
    * @param maxShingleDf drop shingles occurring in more than this many docs
    *        before pairing (0 = keep all). Still useful above the prefix
    *        filter: it bounds the worst surviving join group and shrinks
    *        every per-doc array. Set sizes (and hence the reported Jaccard)
    *        are computed over the PRUNED shingle sets, so the emitted
    *        similarity is exact on the pruned space — not an underestimate
    *        mixing pruned intersections with unpruned sizes.
    */
  def ngramJaccardPairs(id: Column, text: Column, n: Int, threshold: Double,
      maxShingleDf: Long = 0L)(df: DataFrame): DataFrame = {
    // EXPLICIT id-non-null ingestion contract (a keyless doc cannot pair —
    // the id twin of the NULL-text drop), applied to BOTH consumers of the
    // exploded stream. This is also the exchange-reuse enabler: the
    // candidate/verify joins infer `isnotnull(id)` and push it into THEIR
    // copy of the scan, so without the explicit filter the per-shingle DF
    // aggregate's copy canonicalizes differently and AQE cannot reuse the
    // corpus-wide scan→explode→s-exchange — the whole shingle stream was
    // scanned and shuffled TWICE per run (measured in the executed sf0.1
    // plan: two FileScans, two REPARTITION_BY_COL exchanges; one of each
    // after this filter). Mirrored in the oracle CTEs (`WHERE doc_id IS
    // NOT NULL`); no fixture (driver or hostile) carries NULL doc ids, so
    // results are bit-identical.
    val ex = Texts.explodedShingles(df, id, text, n)
      .filter(col("id").isNotNull)
      .repartition(col("s"))
      .dropDuplicates("id", "s")
    // DF per shingle as a hash AGGREGATE on the same s-exchange (never a
    // Window over s — that would sort-buffer every occurrence of a
    // stop-shingle in one task); the hot cut is a filter on the joined
    // counts. The join adds the df each (id, s) row needs for the global
    // rarest-first order.
    val dfc = ex.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val dfKept = if (maxShingleDf <= 0) dfc else dfc.filter(col("__df") <= maxShingleDf)
    // Past the df join the shingle STRING never matters again — only
    // identity, a global total order, and set intersection do. So each
    // (id, s) row drops to the xxhash64 FINGERPRINT of its shingle:
    // candidate equi-join keys and the per-doc verification arrays are
    // 8-byte longs instead of ~30-byte UTF8 strings (4× less candidate
    // payload through the exchanges, primitive compares in the
    // two-pointer kernel — measured 2.4× on the whole query at the 100×
    // rehearsal SF, where verification dominates). The (df, h)-ascending
    // order is exactly as valid a global rarest-first order as (df, s):
    // the prefix pigeonhole bound holds for ANY fixed total order.
    // Exactness caveat: two DISTINCT shingles of one doc colliding in
    // xxhash64 would merge set elements (P ≈ |doc-shingles|²/2⁶⁵ per
    // doc ~ 1e-16; deterministic given the corpus, re-checked by the
    // exact-oracle gate and the string-based naive differential twin).
    val kept = ex.join(dfKept, "s")
      .select(col("id"), col("__df"), xxhash64(col("s")).as("h"))
    // ONE id-exchange builds the whole per-doc state: the (df, h)-sorted
    // set (prefix source), the h-sorted set (verification source) and the
    // size. Prefix length ⌊(1-t)·sz⌋+1 = sz - ⌈t·sz⌉ + 1.
    val docsArr = kept
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(struct(col("__df"), col("h")))).as("byDf"),
        sort_array(collect_list(col("h"))).as("bys"),
        count(lit(1)).as("sz"))
      .withColumn("prefix",
        // +1e-9 slack: fp rounding may only ever LENGTHEN the prefix /
        // WIDEN the length filter (extra candidates are re-verified
        // exactly), never shorten them below the real-arithmetic bound
        transform(
          slice(col("byDf"), lit(1),
            (floor(lit(1.0 - threshold) * col("sz") + lit(1e-9)) + 1).cast("int")),
          x => x.getField("h")))
      .drop("byDf")
    val pref = docsArr.select(col("id"), col("sz"), explode(col("prefix")).as("h"))
    // candidate generation: prefix ∩ prefix equi-join on h (both sides the
    // same frame — one reused exchange), with the length filter inline so
    // size-incompatible pairs never reach the dedup aggregate
    val cand = pref.as("l")
      .join(pref.as("r"),
        col("l.h") === col("r.h") && col("l.id") < col("r.id")
          && col("l.sz") * lit(threshold) <= col("r.sz") + lit(1e-9)
          && col("r.sz") * lit(threshold) <= col("l.sz") + lit(1e-9))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    // verification: fetch both h-sorted arrays, one codegen'd two-pointer
    // intersection per surviving candidate. The doc-array side is
    // hinted SHUFFLE_HASH: above broadcast size it would otherwise plan
    // sort-merge, and sorting the (much larger) candidate stream with
    // both ~|doc| fingerprint arrays in flight is what made verification
    // superlinear at the 100× rehearsal (3.5 s → 110 s of a 141 s query
    // while candidates grew exactly 9× at 10× data); hashing the bounded
    // doc-array side and streaming candidates, plus the long
    // fingerprints above, brings sf10 to 42 s — 6× sf1 at 10× the data.
    cand
      .join(docsArr.select(col("id").as("a"), col("bys").as("sa"), col("sz").as("sza"))
        .hint("shuffle_hash"), "a")
      .join(docsArr.select(col("id").as("b"), col("bys").as("sb"), col("sz").as("szb"))
        .hint("shuffle_hash"), "b")
      .withColumn("common", graft.functions.SortedIntersectCount(col("sa"), col("sb")).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sza") + col("szb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Directed near-SUPERSET pairs: containment C(src→dst) =
    * |S(src) ∩ S(dst)| / |S(src)| over distinct n-token shingles, emitted
    * for every ordered pair with C ≥ threshold. The curation case Jaccard
    * structurally misses: a short document quoted whole inside a much
    * larger one has containment 1.0 while the size imbalance drags
    * Jaccard to |A|/|B| — so a symmetric near-dup pass keeps both copies.
    *
    * [[ngramJaccardPairs]]'s machinery with the ASYMMETRIC prefix bound:
    * C ≥ t requires overlap o = ⌈t·sz_src⌉, which depends on the source
    * side only — so only the SOURCE prefixes (first sz − o + 1 of the
    * rarest-first (df, h) order; pigeonhole: if no common fingerprint is
    * in the prefix, at most o − 1 exist at all), while the destination
    * side must expose its FULL fingerprint set (the common elements can
    * hide anywhere in a superset). Candidates = source-prefix ⋈ full
    * index on the fingerprint with the one valid length cut
    * (sz_dst ≥ t·sz_src, since overlap ≤ sz_dst), both frames derived
    * from the SAME per-doc aggregate (one id-exchange); verification is
    * the same codegen two-pointer intersect over the h-sorted arrays,
    * doc-array sides SHUFFLE_HASH-hinted like the Jaccard pass.
    *
    * INGESTION CONTRACT: NULL-`id` rows are dropped at the source — see
    * [[ngramJaccardPairs]].
    *
    * Cost envelope: containment candidates are inherently heavier than
    * Jaccard's — per shingle they are (prefix rows)×(ALL rows), not
    * (prefix rows)², because the superset side cannot be prefixed. The
    * DF cut is the design bound (candidates ≤ Σ_kept df², same cap as
    * the Jaccard pass but with the full factor realized). Measured
    * 15.8 s at sf1 → 56.9 s at sf3 (3.6× at 3× data, sub-quadratic) on
    * the dup-dense DevSynth rehearsal corpus; the exact-oracle gate
    * re-verifies every emitted pair at each SF.
    *
    * @param id document key; must be non-NULL. A NULL-id row is dropped
    *        before the shingle document frequencies are counted, so it
    *        neither pairs nor counts toward `maxShingleDf`.
    */
  def containmentPairs(id: Column, text: Column, n: Int, threshold: Double,
      maxShingleDf: Long = 0L)(df: DataFrame): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0, 1], got $threshold")
    // id-non-null contract + exchange-reuse enabler — see ngramJaccardPairs
    val ex = Texts.explodedShingles(df, id, text, n)
      .filter(col("id").isNotNull)
      .repartition(col("s"))
      .dropDuplicates("id", "s")
    val dfc = ex.groupBy(col("s")).agg(count(lit(1)).as("__df"))
    val dfKept = if (maxShingleDf <= 0) dfc else dfc.filter(col("__df") <= maxShingleDf)
    val kept = ex.join(dfKept, "s")
      .select(col("id"), col("__df"), xxhash64(col("s")).as("h"))
    val docsArr = kept
      .groupBy(col("id"))
      .agg(
        sort_array(collect_list(struct(col("__df"), col("h")))).as("byDf"),
        sort_array(collect_list(col("h"))).as("bys"),
        count(lit(1)).as("sz"))
      .withColumn("prefix",
        // sz − ⌈t·sz⌉ + 1 elements; the 1e-9 slack can only LENGTHEN the
        // prefix (extra candidates are exactly re-verified), never lose one
        transform(
          slice(col("byDf"), lit(1),
            (floor(lit(1.0 - threshold) * col("sz") + lit(1e-9)) + 1).cast("int")),
          x => x.getField("h")))
      .drop("byDf")
    val pref = docsArr.select(col("id").as("src"), col("sz").as("ssz"),
      explode(col("prefix")).as("h"))
    val idx = docsArr.select(col("id").as("dst"), col("sz").as("dsz"),
      explode(col("bys")).as("h"))
    val cand = pref
      .join(idx,
        pref("h") === idx("h") && col("src") =!= col("dst")
          && col("dsz").cast("double") >= lit(threshold) * col("ssz") - lit(1e-9))
      .select(col("src"), col("dst"))
      .distinct()
    cand
      .join(docsArr.select(col("id").as("src"), col("bys").as("sa"), col("sz").as("sza"))
        .hint("shuffle_hash"), "src")
      .join(docsArr.select(col("id").as("dst"), col("bys").as("sb"))
        .hint("shuffle_hash"), "dst")
      .withColumn("common",
        graft.functions.SortedIntersectCount(col("sa"), col("sb")).cast("long"))
      .withColumn("containment",
        col("common").cast("double") / col("sza").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("src"), col("dst"), col("containment"))
  }

  /** The naive formulation of [[containmentPairs]] — differential twin
    * only (DedupSpec pins exact set-equality against the prefix-filtered
    * implementation, the same role [[ngramJaccardPairsNaive]] plays).
    */
  private[graft] def containmentPairsNaive(id: Column, text: Column, n: Int,
      threshold: Double, maxShingleDf: Long = 0L)(df: DataFrame): DataFrame = {
    val ex = Texts.explodedShingles(df, id, text, n)
      .filter(col("id").isNotNull) // same id contract as the prefix twin
      .repartition(col("s"))
      .dropDuplicates("id", "s")
    val kept =
      if (maxShingleDf <= 0) ex
      else {
        val hot = ex.groupBy(col("s")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf)
          .select(col("s"))
        ex.join(hot, Seq("s"), "left_anti")
      }
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    kept.as("l")
      .join(kept.as("r"), col("l.s") === col("r.s") && col("l.id") =!= col("r.id"))
      .groupBy(col("l.id").as("src"), col("r.id").as("dst"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("src"), col("sz").as("sza")), "src")
      .withColumn("containment",
        col("common").cast("double") / col("sza").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("src"), col("dst"), col("containment"))
  }

  /** The naive formulation of [[ngramJaccardPairs]] — shingle self-join +
    * per-pair match counting — kept ONLY as the differential-testing twin
    * of the prefix-filtered implementation (DedupSpec pins exact
    * equality); its candidate volume is Σ df² over all shingles, which is
    * what the prefix filter exists to avoid.
    */
  private[graft] def ngramJaccardPairsNaive(id: Column, text: Column, n: Int,
      threshold: Double, maxShingleDf: Long = 0L)(df: DataFrame): DataFrame = {
    val ex = Texts.explodedShingles(df, id, text, n)
      .filter(col("id").isNotNull) // same id contract as the prefix twin
      .repartition(col("s"))
      .dropDuplicates("id", "s")
    val kept =
      if (maxShingleDf <= 0) ex
      else {
        val hot = ex.groupBy(col("s")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxShingleDf)
          .select(col("s"))
        ex.join(hot, Seq("s"), "left_anti")
      }
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val pairs = kept.as("l")
      .join(kept.as("r"), col("l.s") === col("r.s") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("sza") + col("szb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Benchmark DECONTAMINATION — the cross-set variant of near-dup removal
    * every LLM training pipeline runs before training: drop from `docs`
    * any document sharing at least one n-token shingle with the
    * `benchmark` set (eval questions, test splits), so the training corpus
    * cannot leak evaluation data.
    *
    * Plan shape: benchmark shingles are DISTINCT and small by construction
    * (benchmarks are thousands of docs, the corpus is billions) — they
    * broadcast under AQE, so the corpus-side shingle explode is scanned
    * map-only into a semi join; contaminated ids then reduce to a small
    * distinct set that anti-joins back against the full rows. The corpus
    * is never shuffled on the shingle axis: the only wide ops are over
    * (small) Σ benchmark-matching ids. Docs shorter than n tokens have no
    * shingles and are trivially clean.
    */
  def decontaminate(id: Column, text: Column, n: Int)(
      docs: DataFrame, benchmark: DataFrame): DataFrame = {
    val benchShingles = Texts.explodedShingles(benchmark, id, text, n)
      .select(col("s")).distinct()
    val contaminated = Texts.explodedShingles(docs, id, text, n)
      .join(benchShingles, Seq("s"), "left_semi")
      .select(col("id")).distinct()
      .withColumnRenamed("id", "__contaminated_id")
    docs.join(contaminated, id === col("__contaminated_id"), "left_anti")
  }

  /** Serialized Bloom filter of the benchmark's distinct n-token shingles —
    * the reusable index artifact of [[decontaminateBloom]]: built once per
    * eval-set release (two Spark jobs: a distinct count to size the filter,
    * then `stat.bloomFilter`'s treeAggregate build), then shipped to every
    * ingest job. Deterministic for a given shingle set and `fpp`.
    *
    * Keying contract: the filter holds `xxhash64(shingle)` LONGS (Spark's
    * `xxhash64`, seed 42), not strings — so [[decontaminateBloom]] can
    * probe it with the BUILT-IN `might_contain` expression (codegen'd,
    * `mightContainLong`) instead of a per-row UDF. A filter populated via
    * `putString` will NOT match this probe.
    */
  def buildBenchBloom(id: Column, text: Column, n: Int, fpp: Double)(
      benchmark: DataFrame): org.apache.spark.util.sketch.BloomFilter = {
    val benchHashes = Texts.explodedShingles(benchmark, id, text, n)
      .select(xxhash64(col("s")).as("h")).distinct()
    // exact sizing pass: an undersized filter degrades fpp, an oversized
    // one wastes plan bytes; the count is over the (small) eval set
    val expected = math.max(benchHashes.count(), 1L)
    benchHashes.stat.bloomFilter("h", expected, fpp)
  }

  /** [[decontaminate]] with a Bloom-filter prefilter — the runtime-filter
    * plan the exact semi-join grows into at corpus >> benchmark scale.
    *
    * Exactly the same result as [[decontaminate]] (Bloom filters have no
    * false negatives, and every Bloom-positive shingle is re-confirmed by
    * the exact semi join), but the plan changes where it matters at 100 TB:
    * the broadcast sketch probe runs MAP-SIDE on the corpus shingle stream,
    * so only the contaminated shingles plus the false-positive residue
    * (~`fpp` of the corpus stream) ever reach the semi join's hash lookup —
    * the join build/probe cost and any AQE fallback to a shuffled join are
    * bounded by the sketch, not by the corpus. This is the explicit,
    * cross-job form of Spark's own runtime row-level Bloom pushdown (which
    * only triggers inside a single plan): `bloom` is built ONCE per
    * benchmark release ([[buildBenchBloom]]) and reused by every ingest
    * batch against it.
    *
    * The probe is Spark's own `BloomFilterMightContain` expression — the
    * one the optimizer injects for runtime row-level Bloom pushdown —
    * over `xxhash64(s)`, with the serialized sketch riding the plan as a
    * binary literal (deserialized once per task, not per row). The whole
    * explode/probe/join pipeline is generated code: no UDF boundary, no
    * per-call broadcast to leak across a long-lived session.
    */
  def decontaminateBloom(id: Column, text: Column, n: Int,
      bloom: org.apache.spark.util.sketch.BloomFilter)(
      docs: DataFrame, benchmark: DataFrame): DataFrame = {
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal
          .create(bytes, org.apache.spark.sql.types.BinaryType),
        GraftSqlBridge.expression(xxhash64(col("s")))))
    val benchShingles = Texts.explodedShingles(benchmark, id, text, n)
      .select(col("s")).distinct()
    val contaminated = Texts.explodedShingles(docs, id, text, n)
      .filter(mightContain)
      .join(benchShingles, Seq("s"), "left_semi")
      .select(col("id")).distinct()
      .withColumnRenamed("id", "__contaminated_id")
    docs.join(contaminated, id === col("__contaminated_id"), "left_anti")
  }

  /** Cross-document duplicate-n-gram profile (the C4/RefinedWeb-style
    * corpus-duplication diagnostic): for every document with at least one
    * n-token shingle, the fraction of its DISTINCT shingles that also
    * appear in at least one OTHER document. High `dup_frac` docs are
    * boilerplate/template copies that pairwise dedup (which needs a
    * matching partner above a global threshold) can miss.
    *
    * Emits (doc_id, n_shingles, n_dup, dup_frac); dup_frac is ONE exact
    * integer division, bit-identical in any IEEE engine, so it is emitted
    * raw — rounding a bit-identical double can only lose equality on
    * rounding-algorithm tie disagreements (see qualityTiers).
    *
    * Scale: two hash-aggregates and one equi-join, all on the shingle
    * axis. `repartition(s)` once — the per-doc distinct, the
    * shingle-frequency aggregate and the join back all satisfy their
    * distribution from that single exchange (`HashPartitioning(s)`
    * satisfies every grouping that includes `s`), so the corpus is
    * shuffled once. The frequency side aggregates before joining
    * (map-side combine), so no doc-list blowup on hot shingles: a shingle
    * in 10M docs contributes ONE (s, in_others) row, not 10M pairs.
    * Counting "appears in >= 2 docs" needs no self-join at all.
    */
  def dupNgramStats(id: Column, text: Column, n: Int)(df: DataFrame): DataFrame = {
    val sh = Texts.explodedShingles(df, id, text, n)
      .repartition(col("s"))
      .dropDuplicates("id", "s")
    val dfreq = sh.groupBy(col("s"))
      .agg((count(lit(1)) >= 2).as("in_others"))
    sh.join(dfreq, "s")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("in_others"), lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .select(col("id").as("doc_id"), col("n_shingles"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_shingles").cast("double"))
          .as("dup_frac"))
  }

  /** X2 MinHash+LSH near-dup candidates, verified with exact Jaccard.
    *
    * exploded shingles → ONE hash-groupBy computing all `numBands *
    * rowsPerBand` min-hashes as aggregate columns (map-side partial min, so
    * the shuffle carries just `numHashes` longs per doc — round 1 computed
    * 64 separate interpreted array passes per row instead) → band
    * signatures → explode bands → shuffle on (band, signature) → pairs
    * within a bucket → distinct → verify ONLY the candidate pairs with an
    * exact shingle-intersection count. Emits (a, b, jaccard) for verified
    * pairs >= `threshold`.
    *
    * Seeded min-hashes use xxhash64 with the seed folded in as a prefix
    * column (Spark's xxhash64 has a fixed seed); xxhash64 is codegen'd.
    */
  /** The (id, shingle-fingerprint) side table: distinct n-token shingles
    * per doc, id-partitioned, each shingle carried as its xxhash64 LONG
    * fingerprint — the representation an incremental ingest persists
    * next to its [[lshIndex]] (both are compact, bucketable derivatives
    * of the corpus; 8-byte fingerprints make the persisted table ~4×
    * smaller than UTF8 shingles and every downstream hash/compare
    * primitive). Distinctness is taken on the STRING before hashing, so
    * set sizes are exact; as in [[ngramJaccardPairs]], a within-doc
    * fingerprint collision (P ~ 1e-16 per doc, deterministic) is the
    * only way a downstream Jaccard could differ from string arithmetic
    * — still gated by the family's oracle-checked completeness checks.
    */
  def shingleTable(id: Column, text: Column, n: Int)(df: DataFrame): DataFrame =
    Texts.explodedShingles(df, id, text, n)
      .repartition(col("id"))
      .dropDuplicates("id", "s")
      .select(col("id"), xxhash64(col("s")).as("s"))

  /** LSH band-bucket rows (id, band, sig) from a shingle table: ONE
    * hash-groupBy computes all `numBands * rowsPerBand` min-hashes as
    * aggregate columns (map-side partial min — the shuffle carries just
    * that many longs per doc), then each band's minhashes fold to one
    * 64-bit signature.
    */
  private[ops] def lshBuckets(ex: DataFrame, numBands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = numBands * rowsPerBand
    val minCols = (0 until numHashes).map(i => min(xxhash64(lit(i), col("s"))).as(s"mh$i"))
    val sig = ex.groupBy("id").agg(minCols.head, minCols.tail: _*)
    val bands = (0 until numBands).map { b =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("sig"))
    }
    sig.select(col("id"), explode(array(bands: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** The persisted-index form of [[lshBuckets]], from raw documents. */
  def lshIndex(id: Column, text: Column, n: Int, numBands: Int, rowsPerBand: Int)(
      df: DataFrame): DataFrame =
    lshBuckets(shingleTable(id, text, n)(df), numBands, rowsPerBand)

  /** [[lshIndex]] from an ALREADY-BUILT shingle table — the form an
    * incremental ingest uses when it maintains both corpus derivatives:
    * the shingle table is materialized once and the bucket index derives
    * from it, instead of each artifact re-shingling the raw corpus.
    */
  def lshIndexFromShingles(shingles: DataFrame, numBands: Int,
      rowsPerBand: Int): DataFrame =
    lshBuckets(shingles, numBands, rowsPerBand)

  def minhashLshPairs(id: Column, text: Column, n: Int, numBands: Int, rowsPerBand: Int,
      threshold: Double)(df: DataFrame): DataFrame =
    // Partition by id once: the (id, s) distinct, the signature groupBy(id)
    // and the per-doc sizes all reuse that single exchange.
    minhashLshPairsFromEx(shingleTable(id, text, n)(df),
      numBands, rowsPerBand, threshold)

  /** [[minhashLshPairs]] from an ALREADY-BUILT [[shingleTable]] — the form
    * a differential check uses to verify two pipelines from ONE
    * materialized shingle set (signatures are a pure function of it), so
    * the corpus is not re-scanned and re-shingled once per pipeline. The
    * explicit id repartition here re-establishes what a fresh
    * [[shingleTable]] already carries (a union of materialized halves
    * does not), so the signature aggregate and the size window still ride
    * one exchange.
    */
  def minhashLshPairsFromShingles(shingles: DataFrame, numBands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame =
    minhashLshPairsFromEx(shingles.repartition(col("id")),
      numBands, rowsPerBand, threshold)

  /** [[minhashLshPairsFromShingles]] with the band buckets ALREADY built
    * (and typically materialized) — the next rung of the same
    * differential-check ladder: [[lshBuckets]] is a pure per-doc aggregate
    * of the shingle table (groupBy id — ids never mix), so a check that
    * runs several LSH pipelines over one shingle set can materialize ONE
    * bucket table and feed every screen from it, paying the
    * numBands·rowsPerBand min-hash aggregate once instead of once per
    * pipeline [guide §2.4 remove passes]. `buckets` must equal
    * `lshBuckets(shingles, numBands, rowsPerBand)` for the result to be
    * the declared one; exact verification still computes from `shingles`.
    */
  def minhashLshPairsFromBuckets(buckets: DataFrame, shingles: DataFrame,
      threshold: Double): DataFrame =
    minhashLshScreenVerify(buckets, shingles.repartition(col("id")), threshold)

  /** Core of [[minhashLshPairs]]; `ex` must be an id-partitioned distinct
    * (id, fingerprint) shingle table.
    */
  private def minhashLshPairsFromEx(ex: DataFrame, numBands: Int,
      rowsPerBand: Int, threshold: Double): DataFrame =
    minhashLshScreenVerify(lshBuckets(ex, numBands, rowsPerBand), ex, threshold)

  /** Self-join screen + exact-Jaccard verify over pre-built buckets. */
  private def minhashLshScreenVerify(buckets: DataFrame, ex: DataFrame,
      threshold: Double): DataFrame = {
    // Explicit repartition on the bucket key: both self-join sides reuse
    // one exchange, so the signature aggregation runs once per corpus.
    val bucketed = buckets
      .repartition(col("band"), col("sig"))
    val candidates = bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
    // verify: exact Jaccard on the candidate pairs only, from the same
    // exploded shingle table (equi-joins on id and shingle — no array ops).
    // Sizes ride along via an id-window (free on the id-partitioned ex) so
    // no extra sizes subplan re-derives the shingle pipeline.
    val withSz = ex.withColumn("sz", count(lit(1)).over(Window.partitionBy("id")))
    candidates
      .join(withSz.as("ea"), col("ea.id") === col("a"))
      .join(withSz.as("eb"), col("eb.id") === col("b") && col("ea.s") === col("eb.s"))
      .groupBy(col("a"), col("b"), col("ea.sz").as("sza"), col("eb.sz").as("szb"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sza") + col("szb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** INCREMENTAL MinHash-LSH near-dup detection: screen an ingest batch
    * against an accumulated corpus WITHOUT recomputing the corpus — the
    * near-dup twin of [[exactIncremental]], and the shape a continuously
    * ingesting 100 TB pipeline actually runs (signatures for history are
    * write-once; only the delta is hashed per batch).
    *
    * Inputs are the two persisted corpus derivatives: the [[lshIndex]]
    * bucket table (id, band, sig) and the [[shingleTable]] (id, s) used
    * for exact verification. Incoming docs get signatures computed fresh
    * (the delta cost), then candidates come from TWO equi-joins — new
    * buckets against corpus buckets (cross pairs, emitted (new, old))
    * and new against new (in-batch pairs, emitted (min, max)) — followed
    * by exact-Jaccard verification of candidates only. Verification
    * shingles are semi-join-restricted to candidate ids BEFORE the pair
    * join, so corpus history beyond the matched docs is never shuffled.
    *
    * Signatures are a pure function of the shingle set, so the result is
    * EXACTLY the full-corpus [[minhashLshPairs]] restricted to pairs
    * touching the batch — the invariant the check query asserts.
    */
  def minhashLshIncremental(id: Column, text: Column, n: Int, numBands: Int,
      rowsPerBand: Int, threshold: Double, corpusIndex: DataFrame,
      corpusShingles: DataFrame)(incoming: DataFrame): DataFrame =
    // the batch's shingle table is MATERIALIZED once (localCheckpoint, the
    // same bounded-intermediate idiom as `candidates`/`allSh` below): it
    // feeds the signature pipeline here AND the verification union in
    // `allSh`, which live in different jobs once the candidate checkpoint
    // splits the plan — left as a view, the ingest batch was re-scanned
    // and re-shingled once per job. Batch-sized by contract (the delta,
    // not the corpus); A/B'd at sf0.1 (r5 min 1.45 s vs 1.54 s without,
    // faster at every warmed iteration).
    minhashLshIncrementalFromShingles(numBands, rowsPerBand, threshold,
      corpusIndex, corpusShingles,
      shingleTable(id, text, n)(incoming).localCheckpoint())

  /** [[minhashLshIncremental]] from an ALREADY-MATERIALIZED batch shingle
    * table — the form a differential check uses to feed the incremental
    * screen and its full-recompute twin from one batch materialization
    * (the batch is re-shingled once, not once per pipeline). `newShingles`
    * must be a materialized [[shingleTable]] of the ingest batch.
    */
  def minhashLshIncrementalFromShingles(numBands: Int,
      rowsPerBand: Int, threshold: Double, corpusIndex: DataFrame,
      corpusShingles: DataFrame, newShingles: DataFrame): DataFrame =
    minhashLshIncrementalFromBuckets(threshold, corpusIndex, corpusShingles,
      lshBuckets(newShingles, numBands, rowsPerBand), newShingles)

  /** [[minhashLshIncrementalFromShingles]] with the batch's band buckets
    * ALREADY built — see [[minhashLshPairsFromBuckets]]: a differential
    * check that materializes one bucket table over corpus∪batch can slice
    * it by id range and feed the incremental screen's batch side from the
    * same materialization as the full-recompute twin ([[lshBuckets]] is a
    * per-id aggregate, so the union-built slice is bit-identical to a
    * batch-only build). `newBuckets` must equal
    * `lshBuckets(newShingles, numBands, rowsPerBand)`.
    */
  def minhashLshIncrementalFromBuckets(threshold: Double,
      corpusIndex: DataFrame, corpusShingles: DataFrame,
      newBuckets: DataFrame, newShingles: DataFrame): DataFrame = {
    val newSh = newShingles
    val newB = newBuckets
      .repartition(col("band"), col("sig"))
    val cross = newB.as("l")
      .join(corpusIndex.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
    val inBatch = newB.as("l")
      .join(newB.as("r"),
        col("l.band") === col("r.band") && col("l.sig") === col("r.sig") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
    // Materialize the two frames every downstream branch re-reads.
    // `candidates` feeds candIds (twice) and the pair join; `allSh` feeds
    // sizes and BOTH verify sides — left as views, Catalyst re-derives the
    // 64-minhash bucket join ~3x and the shingle pipelines ~9x inside one
    // mega-plan (ReuseExchange can't fire: each reference projects
    // differently), measured 19 s vs ~2 s at sf0.1. Both frames are small
    // BY CONSTRUCTION — candidate pairs ∝ the batch's duplicates, and
    // allSh holds shingles of candidate-pair docs only (exactly the rows
    // verification must touch); this is the same bounded-intermediate
    // localCheckpoint idiom as [[canonicalize]].
    val candidates = cross.unionByName(inBatch).distinct().localCheckpoint()
    val candIds = candidates.select(col("a").as("id"))
      .unionByName(candidates.select(col("b").as("id"))).distinct()
    val allSh = newSh.unionByName(corpusShingles)
      .join(candIds, Seq("id"), "left_semi")
      .localCheckpoint()
    val sizes = allSh.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    candidates
      .join(allSh.as("ea"), col("ea.id") === col("a"))
      .join(allSh.as("eb"), col("eb.id") === col("b") && col("ea.s") === col("eb.s"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("id").as("b"), col("sz").as("szb")), "b")
      .withColumn("jaccard",
        col("common").cast("double") / (col("sza") + col("szb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Canonical duplicate-cluster assignment: given near-dup pairs (from
    * [[ngramJaccardPairs]], [[minhashLshPairs]] or [[simhashPairs]]),
    * assign every id the MINIMUM id of its connected component — the
    * survivor-selection step that turns pairwise similarity into an
    * actionable keep/drop decision.
    *
    * Algorithm: min-label propagation with pointer doubling — each round
    * every node takes the min label among itself, its neighbors, AND its
    * label's label (the shortcut halves remaining component diameter, so
    * convergence is O(log diameter) rounds, not O(diameter): a 1000-doc
    * duplication chain converges in ~10 rounds instead of silently
    * stopping un-converged at the iteration cap). Each round is ONE job:
    * the convergence count rides the `localCheckpoint` materialization
    * pass via `Dataset.observe` (a CollectMetrics node counting
    * `label != prev` in-plan), instead of a second join+count action —
    * at 100 TB that halves the per-round passes over the label frame.
    * `localCheckpoint` truncates the growing lineage (the standard Spark
    * idiom for driver-looped iterative algorithms — the loop is over
    * ACTIONS, never over collected data).
    *
    * SIZE-ADAPTIVE small path: after the edge materialization, if the pair
    * set fits comfortably on the driver (`driverMaxEdges`, counted on the
    * already-checkpointed edges — a cheap action) and the id type has a
    * natural ordering matching Catalyst's (`long`/`int`/`string`), the
    * components are solved with exact union-find locally and shipped back
    * as one small mapping frame — milliseconds instead of O(log diameter)
    * distributed rounds. This is the same play AQE makes when it downgrades
    * a shuffle join to broadcast: near-dup GRAPHS are tiny relative to the
    * corpus even at 100 TB (edges ∝ duplicates, not documents), so the
    * driver path is the common case; the distributed loop remains for
    * adversarially dense graphs.
    */
  def canonicalize(ids: DataFrame, pairs: DataFrame, maxIter: Int = 20,
      driverMaxEdges: Long = 1L << 20): DataFrame = {
    val edges = pairs.select(col("a").as("x"), col("b").as("y"))
      .unionByName(pairs.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint()
    val idType = edges.schema("x").dataType
    val orderable = idType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.StringType => true
      case _ => false
    }
    // edges is the direction-DOUBLED set (needed by the distributed loop);
    // union-find is direction-agnostic, so the driver path counts against
    // 2x the pair threshold and collects only one orientation — half the
    // transfer, each union exactly once
    if (orderable && edges.count() <= 2L * driverMaxEdges)
      return canonicalizeDriver(ids, edges.filter(col("x") < col("y")))
    // Iterate ONLY over edge-incident nodes: in a web-scale corpus almost
    // every doc is a singleton, and looping the full id set through every
    // round would re-shuffle the whole corpus per iteration for nothing.
    // Singletons are attached with one final left join.
    var labels = edges.select(col("x").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val neighborMin = edges.join(labels, col("y") === col("id"))
        .groupBy(col("x")).agg(min(col("label")).as("nlabel"))
      // carry the incoming label as `prev` so convergence is decidable
      // in-plan, on the same pass that materializes the checkpoint
      val viaNeighbors = labels.join(neighborMin, col("id") === col("x"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer doubling: follow the current label one more hop
      val hop = labels.select(col("id").as("lid"), col("label").as("llabel"))
      val obs = Observation(s"canonicalize_round_$i")
      val updated = viaNeighbors.join(hop, col("label") === col("lid"), "left")
        .select(col("id"), col("prev"),
          least(col("label"), coalesce(col("llabel"), col("label"))).as("label"))
        .observe(obs, count(when(col("label") =!= col("prev"), 1)).as("changed"))
        .select(col("id"), col("label"))
        .localCheckpoint()
      // localCheckpoint is an eager Dataset action (withAction), so the
      // CollectMetrics result is available as soon as it returns
      changed = obs.get("changed").asInstanceOf[Long]
      labels = updated
      i += 1
    }
    ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("canonical"))
  }

  /** Driver-side exact union-find for [[canonicalize]]'s small path: the
    * component root is kept at the MINIMUM member (union by order, path
    * compression), matching the distributed min-label semantics exactly.
    * The mapping ships back as one broadcast frame; singletons fall out of
    * the left join as themselves, same as the distributed path.
    */
  private def canonicalizeDriver(ids: DataFrame, edges: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType}
    val spark = ids.sparkSession
    val idType = edges.schema("x").dataType
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(v: Any): Any = {
      var r = v
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = v
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long)     => x < y
      case (x: Int, y: Int)       => x < y
      case (x: String, y: String) => x < y
      case _ => throw new IllegalStateException(s"unorderable id type $idType")
    }
    val rows = edges.collect()
    rows.foreach { r =>
      val (ra, rb) = (find(r.get(0)), find(r.get(1)))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    val nodes = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
    val mapping = nodes.toSeq.map(k => Row(k, find(k)))
    val schema = StructType(Seq(
      StructField("id", idType), StructField("__canon", idType)))
    val mapDf = spark.createDataFrame(
      spark.sparkContext.parallelize(mapping, 1), schema)
    ids.join(broadcast(mapDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("__canon"), col("id")).as("canonical"))
  }

  /** X2 SimHash: 64-bit locality-sensitive fingerprint per document.
    * Scalar (per-row) form: per bit b, sum +1/-1 over token hashes' bit b;
    * the sign becomes bit b of the fingerprint. Near-dups have small
    * Hamming distance. Lambda-HOF based → interpreted; use [[simhashByDoc]]
    * for corpus-scale fingerprinting (identical output, generated code).
    */
  def simhash(toksCol: String): Column =
    expr(
      s"""aggregate(
         |  transform(sequence(0, 63), b ->
         |    CASE WHEN aggregate(transform($toksCol, t -> xxhash64(t)), 0L,
         |                        (acc, h) -> acc + CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
         |         THEN shiftleft(1L, cast(b AS int)) ELSE 0L END),
         |  0L, (acc, x) -> acc | x)""".stripMargin)

  /** Corpus-scale SimHash: explode tokens, hash once per token, aggregate
    * the 64 per-bit ±1 sums with map-side partial aggregation (shuffle = 64
    * longs per doc), then assemble the fingerprint from the sum signs. Same
    * output as [[simhash]], but every per-token bit test is generated code
    * instead of an interpreted nested lambda.
    */
  def simhashByDoc(id: Column, text: Column)(df: DataFrame): DataFrame = {
    val hashed = df.select(id.as("id"), explode(split(text, " ")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val bitSums = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"b$b")
    }
    val summed = hashed.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((a, c) => a.bitwiseOR(c))
    summed.select(col("id"), fp.as("simhash"))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Fuzzy RECORD linkage under bounded single-character corruption: all
    * (a, b) id pairs whose string key differs in at most `maxDist`
    * character POSITIONS (Hamming distance over equal-length keys — the
    * substitution-only corruption model of OCR noise, fat-finger typos,
    * and bit-rot in structured identifiers; same-length is part of the
    * match definition, so an insertion/deletion is "not the same record").
    *
    * Scale shape — pigeonhole position-class blocking, the string twin of
    * [[simhashPairs]]'s chunked-fingerprint index: split character
    * positions into `maxDist + 1` interleaved classes (position p →
    * class p mod n). A pair within Hamming ≤ maxDist has at most maxDist
    * corrupted positions, so at least one whole class is corruption-free
    * — equi-joining on (class index, class substring, key length) is
    * LOSSLESS. Interleaved classes (not contiguous halves) keep blocks
    * selective when keys share a long common prefix ("Customer#0000…"):
    * every class gets its share of the high-entropy tail characters.
    * Candidate generation is equi-join-shaped (n rows per record, one
    * shuffle on the block key), never all-pairs; a pair agreeing on k
    * clean classes surfaces k times → distinct before the verify filter.
    * Verification computes the exact Hamming distance per candidate.
    *
    * Skew hardening (two layers, both exact):
    *
    *  1. Exact-duplicate keys are PRE-COLLAPSED: blocking and Hamming
    *     verification run over DISTINCT key strings only, and the result
    *     is re-expanded to record ids afterwards (within-key pairs are
    *     emitted directly at dist 0; cross-key pairs join each verified
    *     key pair back to its id groups). A corpus where one key repeats
    *     m times therefore costs O(m) in candidate generation instead of
    *     O(m²) — the C(m,2) dist-0 pairs still appear in the OUTPUT
    *     (they are the answer; that cost is output-bound and
    *     irreducible), but no longer multiply through the block join and
    *     the per-candidate Hamming verify.
    *  2. A loud hot-block guard: if any (class, substring, length) block
    *     holds more than `maxBlockKeys` DISTINCT keys — candidate pairs
    *     per block grow as C(pop, 2) — the query FAILS with the block's
    *     population rather than silently going quadratic (thinning, the
    *     [[graft.ops.Similarity]] knnGraph play, would break this
    *     operator's exact contract; a blocked corpus that trips the
    *     guard needs a larger `maxDist`-budgeted key or a different
    *     blocking scheme, and that should be a visible decision).
    *     Degenerate-length note: keys shorter than `maxDist + 1` leave
    *     some classes empty (every same-length key shares the "" block),
    *     but such keys have length ≤ maxDist, so ALL same-length pairs
    *     are true matches — the block is output-bound, not wasted work.
    *
    * Candidate envelope: per distinct key, candidates = Σ over its
    * `maxDist + 1` blocks of (block population − 1); the guard bounds any
    * single block at `maxBlockKeys`. Measured curve (DevSynth, BASELINE
    * "hammingLinkage scale" note): candidate count and wall-clock ≤ linear
    * in corpus rows at sf1→sf3→sf10.
    */
  def hammingLinkage(id: Column, key: Column, maxDist: Int,
      maxBlockKeys: Int = 100000)(df: DataFrame): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(maxBlockKeys >= 1, s"maxBlockKeys must be >= 1, got $maxBlockKeys")
    val nSeg = maxDist + 1
    val base = df.select(id.as("id"), key.as("k"))
    // (1) within-key pairs: exact duplicates are Hamming 0 — emitted
    // directly from one key-partitioned exchange reused by both sides
    val byKey = base.repartition(col("k"))
    val withinKey = byKey.as("l")
      .join(byKey.as("r"), col("l.k") === col("r.k") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        lit(0).as("dist"))
    // (2) cross-key pairs: block + verify over DISTINCT keys only
    val keys = base.select(col("k")).distinct()
    val chars = split(col("k"), "")
    val segs = (0 until nSeg).map { c =>
      struct(lit(c).as("si"),
        array_join(filter(chars, (ch, i) => pmod(i, lit(nSeg)) === c), "").as("sv"))
    }
    // one reused exchange for both self-join sides (see simhashPairs)
    val blocked = keys
      .select(col("k"), length(col("k")).as("len"),
        explode(array(segs: _*)).as("s"))
      .select(col("k"), col("len"), col("s.si").as("si"), col("s.sv").as("sv"))
      .repartition(col("si"), col("sv"))
    // hot-block guard: population count per block reuses the repartition
    // exchange (hash on (si, sv) co-locates every (si, sv, len) group);
    // assert_true returns NULL on pass, so coalesce keeps it un-prunable
    val guarded = blocked
      .withColumn("__pop",
        count(lit(1)).over(Window.partitionBy(col("si"), col("sv"), col("len"))))
      .filter(coalesce(
        assert_true(col("__pop") <= lit(maxBlockKeys),
          concat(lit(s"hammingLinkage: block population exceeds maxBlockKeys=$maxBlockKeys "),
            lit("(class="), col("si"), lit(", len="), col("len"),
            lit(", pop="), col("__pop"),
            lit(") — candidate generation would go quadratic in this block"))),
        lit(true)))
      .drop("__pop")
    // native codegen'd verify kernel: the zip_with(split, split) HOF form
    // is interpreted per candidate pair (CodegenFallback) and dominated
    // the entry's cost — see functions/HammingDistance
    val hammingDist =
      graft.functions.HammingDistance(col("k1"), col("k2"))
    // distinct on the (k1, k2) key pair BEFORE the Hamming verify: a pair
    // agreeing on j clean classes surfaces j times; verifying once per
    // unordered pair, not per surfacing, cuts verify work by up to nSeg×
    val keyPairs = guarded.as("l")
      .join(guarded.as("r"),
        col("l.si") === col("r.si") && col("l.sv") === col("r.sv") &&
          col("l.len") === col("r.len") && col("l.k") < col("r.k"))
      .select(col("l.k").as("k1"), col("r.k").as("k2"))
      .distinct()
      .select(col("k1"), col("k2"), hammingDist.as("dist"))
      .filter(col("dist") <= maxDist)
    val crossKey = keyPairs
      .join(base.as("l"), col("k1") === col("l.k"))
      .join(base.as("r"), col("k2") === col("r.k"))
      .select(least(col("l.id"), col("r.id")).as("a"),
        greatest(col("l.id"), col("r.id")).as("b"), col("dist"))
    withinKey.unionByName(crossKey)
  }

  /** X2 SimHash near-dup pairs at scale: pigeonhole-bucketed Hamming join.
    * Split the 64-bit fingerprint into `maxHamming + 1` chunks — any pair
    * within Hamming distance `maxHamming` must agree on at least one whole
    * chunk — bucket-join on (chunk index, chunk value), then verify the
    * exact Hamming distance on the (small) candidate set. This is the
    * standard simhash dedup index (Manku et al.'s chunked fingerprint
    * scheme): candidate generation is equi-join-shaped, never all-pairs.
    */
  def simhashPairs(id: Column, text: Column, maxHamming: Int)(df: DataFrame): DataFrame = {
    // >= 64 would make the chunk width 0 and every fingerprint share one
    // bucket — an accidental all-pairs join
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val nChunks = maxHamming + 1
    val bits = 64 / nChunks // last chunk absorbs the remainder bits
    val fps = simhashByDoc(id, text)(df)
    val chunks = (0 until nChunks).map { c =>
      val width = if (c == nChunks - 1) 64 - c * bits else bits
      val mask = if (width >= 64) -1L else (1L << width) - 1
      struct(lit(c).as("ci"),
        shiftrightunsigned(col("simhash"), c * bits).bitwiseAND(lit(mask)).as("cv"))
    }
    // Explicit repartition on the bucket key: both self-join sides then
    // hang off ONE reused exchange, so the simhash pipeline (explode +
    // 64-column aggregate) runs once, not once per join side.
    val bucketed = fps.select(col("id"), col("simhash"), explode(array(chunks: _*)).as("ck"))
      .select(col("id"), col("simhash"), col("ck.ci").as("ci"), col("ck.cv").as("cv"))
      .repartition(col("ci"), col("cv"))
    bucketed.as("l")
      .join(bucketed.as("r"),
        col("l.ci") === col("r.ci") && col("l.cv") === col("r.cv") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"),
        hamming(col("l.simhash"), col("r.simhash")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
