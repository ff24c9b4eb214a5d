package graft

import org.apache.spark.sql.functions._
import graft.Queries.Q
import graft.functions.L2Normalize
import graft.ops.{Classifier, Clustering, Dedup, Graph, Multimodal, Pca, Search, Similarity, TextAnalysis, Texts}

/** Extension operators (SURVEY.md §2.6 X1-X4 + the large-scale training-data
  * pipeline surface): deduplication, similarity search, text analysis,
  * multimodal plumbing. Registered alongside the reference-parity queries.
  */
object ExtensionQueries {

  private[graft] def docs(s: org.apache.spark.sql.SparkSession, dir: String) = Tables.documents(s, dir)

  /** DuckDB body of the x55 per-document Gopher stats (one definition,
    * shared by the x55 oracle and the v5 composition's gate — no drift).
    * Columns: doc_id, source, n_words, mean_word_len, alpha_ratio,
    * symbol_ratio, stop_hits — the exact mirrors of
    * [[graft.ops.TextAnalysis.gopherRules]]'s expressions.
    */
  private[graft] def gopherStatsSql: String = {
    val stopChain = Texts.enStopwords
      .map(w => s"(CASE WHEN contains(' ' || text || ' ', ' $w ') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""SELECT doc_id, source,
       |    len(string_split(text, ' ')) AS n_words,
       |    round(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |      / len(string_split(text, ' ')), 4) AS mean_word_len,
       |    round(CAST(len(regexp_extract_all(' ' || text, ' [^ ]*[a-zA-Z][^ ]*')) AS DOUBLE)
       |      / len(string_split(text, ' ')), 4) AS alpha_ratio,
       |    round(CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE)
       |      / len(string_split(text, ' ')), 4) AS symbol_ratio,
       |    CAST(CASE WHEN text IS NULL THEN NULL ELSE $stopChain END AS BIGINT) AS stop_hits
       |  FROM documents""".stripMargin
  }

  /** Shared oracle CTE chain producing the DF-cut 3-shingle Jaccard pairs
    * (`jp(a, b, jaccard)`), mirrored by `Dedup.ngramJaccardPairs(..., 1000)`.
    * Used by both the pairs query and the canonicalization closure.
    */
  private[graft] val ngramPairsCte: String =
    // doc_id IS NOT NULL mirrors the engine's id-non-null ingestion
    // contract (Dedup.ngramJaccardPairs); no fixture carries NULL doc ids
    """toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |         WHERE doc_id IS NOT NULL),
      |ex AS (SELECT DISTINCT doc_id,
      |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |                 for i in range(1, len(toks) - 1)]) AS s
      |       FROM toks WHERE len(toks) >= 3),
      |kept AS (SELECT doc_id, s FROM ex
      |         QUALIFY count(*) OVER (PARTITION BY s) <= 1000),
      |sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS common
      |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |jp AS (SELECT p.a, p.b,
      |         CAST(p.common AS DOUBLE) / CAST(sa.sz + sb.sz - p.common AS DOUBLE) AS jaccard
      |       FROM pairs p
      |       JOIN sz sa ON sa.doc_id = p.a
      |       JOIN sz sb ON sb.doc_id = p.b
      |       WHERE CAST(p.common AS DOUBLE) / CAST(sa.sz + sb.sz - p.common AS DOUBLE) >= 0.3)""".stripMargin

  /** Deterministic PQ codebooks for the catalog query: 4 subvectors of
    * dim 16 over the 64-dim embeddings, each codebook = the matching
    * slices of vec_id 0..7 (the same planner-side seed-vector role as
    * x3b's IVF centroids — in production these are k-means output).
    */
  private[graft] def pqCodebooks(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Float]]] = {
    val seeds = Tables.embeddings(s, dir).filter(col("vec_id") < 8)
      .orderBy(col("vec_id")).select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toArray)
    require(seeds.nonEmpty, "pq codebooks need seed vectors")
    val sub = seeds.head.length / 4
    Array.tabulate(4)(j => seeds.map(v => v.slice(j * sub, (j + 1) * sub)))
  }

  /** One trained k-means model per sf dir: an ANN index is trained once
    * and then served by many queries, so the catalog mirrors that — the
    * `x7_kmeans_train` entry pays the full training cost every call (it IS
    * the trainer benchmark), while the trained-index consumers (`x3f_*`,
    * the check queries) share this memo. Training is deterministic
    * (md5-seeded, fixed iteration count/tolerance), so memoization does
    * not change any result.
    */
  private val kmeansMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Clustering.KMeansModel]()
  private[graft] def trainedModel(s: org.apache.spark.sql.SparkSession,
      dir: String): Clustering.KMeansModel =
    kmeansMemo.computeIfAbsent(dir, _ =>
      Clustering.trainKMeans(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), k = 8, maxIter = 10))

  /** SemDeDup's OWN clustering, k scale-derived as ~sqrt(N) (clamped to
    * [8, 2048]): SemDeDup's cost is Σ|cluster|² ≈ N²/k, so a FIXED k
    * makes the per-cluster pairwise pass quadratic in the corpus
    * (measured 16× time for 10× rows at k=8 in the sf1 rehearsal) while
    * k ~ sqrt(N) holds both the assignment cost (N·k) and the pairwise
    * cost (N²/k) at N^1.5 — the regime the SemDeDup paper runs (its
    * 100M-scale config keeps clusters near-constant size). Memoized per
    * dir like [[trainedModel]]; the 8-center model stays the shared
    * index for the IVF/mixture consumers whose nprobe/rebalance math
    * expects a small nlist.
    */
  private val semdedupMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Clustering.KMeansModel]()
  private[graft] def semdedupModel(s: org.apache.spark.sql.SparkSession,
      dir: String): Clustering.KMeansModel =
    semdedupMemo.computeIfAbsent(dir, _ => {
      val emb = Tables.embeddings(s, dir)
      val k = math.min(2048L, math.max(8L,
        math.ceil(math.sqrt(emb.count().toDouble)).toLong)).toInt
      Clustering.trainKMeans(emb, col("vec_id"), col("embedding"),
        k = k, maxIter = 10)
    })

  /** Trained PQ codebooks, memoized like [[trainedModel]] (train once,
    * serve many): 4 subvectors of dim 16, 16 entries each, spherical
    * k-means per slice — the in-engine replacement for the seed-slice
    * [[pqCodebooks]] (which stays as the deterministic twin for x3e).
    */
  /** Driver-held eval-set embeddings for x16 (vec_id < 50 plays the
    * benchmark, as in x8) — memoized per sf dir like [[trainedModel]]:
    * an eval set is loaded once and screened against for the life of the
    * pipeline, so per-query re-collection would charge every plan build
    * an extra Spark job. No ordering: max-of-cosines is order-insensitive.
    */
  private val evalVecMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Float]]]()
  private[graft] def evalVectors(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Float]] =
    evalVecMemo.computeIfAbsent(dir, _ =>
      Tables.embeddings(s, dir).filter(col("vec_id") < 50)
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray))

  /** One trained BPE merge table per sf dir, memoized like [[trainedModel]]
    * (a tokenizer is trained once per corpus and applied everywhere).
    * Training is deterministic (count-desc/lex tie-breaks all the way
    * down), so memoization changes no result.
    */
  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()
  private[graft] def trainedBpe(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] =
    bpeMemo.computeIfAbsent(dir, _ =>
      TextAnalysis.bpeTrain(col("text"), numMerges = 200)(docs(s, dir)))

  /** One trained quality classifier per sf dir (teacher labels = the x4c
    * heuristic at its corpus median ~0.47 — the public distill-a-heuristic
    * pattern), memoized like [[trainedModel]]. 40 full-gradient steps at
    * lr 0.1 — the rate is sized to the unscaled mean_token_len feature
    * (~5), where 0.5 visibly oscillates on the fixture.
    */
  /** The x8/x25 decontamination oracle, shared verbatim so the Bloom-planned
    * variant is checked against EXACTLY the exact plan's contract: mirror
    * of Texts.explodedShingles at n=8 (1-indexed starts 1..len-7,
    * space-joined; docs shorter than 8 tokens have no shingles and are
    * trivially clean); doc_id < 50 plays the benchmark set.
    */
  private[graft] val decontOracleSql: String =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id,
      |         unnest([array_to_string(toks[i:i+7], ' ')
      |                 for i in range(1, len(toks) - 6)]) AS s
      |       FROM toks WHERE len(toks) >= 8),
      |bs AS (SELECT DISTINCT s FROM sh WHERE doc_id < 50),
      |bad AS (SELECT DISTINCT sh.doc_id FROM sh JOIN bs USING (s)
      |        WHERE sh.doc_id >= 50)
      |SELECT doc_id, lang, source FROM documents
      |WHERE doc_id >= 50 AND doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin

  /** One benchmark-shingle Bloom filter per sf dir, memoized like
    * [[trainedModel]] (an eval-set index is built once per release and
    * probed by every ingest batch). Deterministic build, so memoization
    * changes no result.
    */
  private val bloomMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.util.sketch.BloomFilter]()
  private[graft] def benchBloom(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.util.sketch.BloomFilter =
    bloomMemo.computeIfAbsent(dir, _ =>
      Dedup.buildBenchBloom(col("doc_id"), col("text"), 8, fpp = 0.01)(
        docs(s, dir).filter(col("doc_id") < 50)))

  /** One corpus token count-min sketch (plus the exact total-token count
    * that sizes the heavy-hitter threshold) per sf dir, memoized like
    * [[trainedModel]]. Seeded build — deterministic. The memo holds the
    * raw sketch: the codegen probe ([[graft.functions.CmsEstimateCount]])
    * ships it with the stage's broadcast task binary, so the session
    * never allocates a `SparkContext.broadcast` handle for it at all
    * (per-call broadcasts only free on driver GC and accumulated across
    * a 140-query catalog run twice by Bench).
    */
  private val cmsMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.util.sketch.CountMinSketch, Long)]()
  private[graft] def tokenCms(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.util.sketch.CountMinSketch, Long) =
    cmsMemo.computeIfAbsent(dir, _ => {
      val d = docs(s, dir)
      val total = d.select(sum(size(Texts.tokens(col("text")))).cast("long"))
        .head().getLong(0)
      (TextAnalysis.buildTokenCms(col("text"), eps = 1e-4, confidence = 0.99)(d),
        math.ceil(total * 0.02).toLong)
    })

  /** One PCA model per sf dir over the embeddings table, memoized like
    * [[trainedModel]] (fit once, project everywhere). The fit is
    * deterministic: one exact moment pass + cyclic Jacobi with canonical
    * sign fix.
    */
  private val pcaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Pca.PcaModel]()
  private[graft] def pcaModel(s: org.apache.spark.sql.SparkSession,
      dir: String): Pca.PcaModel =
    pcaMemo.computeIfAbsent(dir, _ =>
      Pca.fit(Tables.embeddings(s, dir), col("embedding"), k = 4))

  private val lrMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Classifier.LogRegModel]()
  private[graft] def trainedLr(s: org.apache.spark.sql.SparkSession,
      dir: String): Classifier.LogRegModel =
    lrMemo.computeIfAbsent(dir, _ => {
      val q = TextAnalysis.qualityScore(col("doc_id"), col("text"))(docs(s, dir))
      Classifier.trainLogReg(
        Seq(col("diversity"), col("stop_ratio"), col("mean_token_len")),
        col("quality") >= 0.47, iters = 40, lr = 0.1)(q)
    })

  /** Symmetrized part co-purchase graph: distinct part pairs sharing an
    * order, both directions. The orderkey self-join rides ONE reused
    * exchange (both sides repartitioned identically); pair fan-out is
    * bounded by items-per-order (≤ 7 in the fixture, so ≤ 21 pairs/order).
    * Symmetrization is a map-side EXPLODE of each distinct pair into both
    * orientations, not a self-union: the union form re-ran the final
    * distinct aggregate once per orientation (the exchange under it is
    * reused, the agg above it is not) — one aggregate pass and 2 rows out
    * per pair is the same row set for half the aggregate work (r13).
    */
  private[graft] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .repartition(col("o"))
    li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("src"), col("b.p").as("dst")).distinct()
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  /** The x24 rank vector, memoized per sf dir for its consumers (the
    * check query): like the k-means index, a rank vector is computed once
    * per graph and served — `x24_pagerank` itself pays the full iteration
    * cost every call (it IS the PageRank benchmark). Deterministic (fixed
    * iteration count, deterministic edge build), so memoization changes
    * no result.
    *
    * The memo holds the COLLECTED (id, rank) array — |V|-sized, two words
    * per node — and rebuilds a DataFrame per call via `createDataset`.
    * Never a checkpointed Dataset: a `localCheckpoint` is unrecoverable
    * once any housekeeping (Bench/Verify inter-query unpersist) drops its
    * blocks, whereas a parallelized local array is always rebuildable.
    */
  private val prMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Double)]]()
  private[graft] def pagerankRanks(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val ranks = prMemo.computeIfAbsent(dir, _ =>
      Graph.pageRank(coPurchaseEdges(s, dir), iters = 8)
        .select(col("id").cast("long"), col("rank").cast("double"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))))
    import s.implicits._
    s.createDataset(ranks.toIndexedSeq).toDF("id", "rank")
  }

  /** Near-dup pair set of the documents corpus (x2's generator with the
    * catalog's canonical parameters), memoized per dir: the pair set is
    * the shared input artifact of the whole dedup-downstream family —
    * canonicalization (x2e), the leakage audit (x38), the leakage-free
    * split (x42), recall checks — and a real pipeline computes it ONCE
    * and serves every consumer, exactly like the k-means/pagerank memos
    * above ("train once, serve many"). `x2_ngram_jaccard` itself does
    * NOT ride the memo — it IS the pair-generation benchmark and pays
    * the full pipeline every call.
    *
    * The artifact lives on the FILESYSTEM as parquet, never on the
    * driver heap (round-7 verdict task #6): the first call per dir runs
    * the distributed pipeline once and writes the pair set to a
    * session-scoped temp parquet; the memo holds only the path, and
    * every consumer gets a plain parquet scan — exactly how a 100 TB
    * pipeline publishes an intermediate artifact. No size guard is
    * needed: a pair set of ANY size stays distributed end-to-end
    * (write and re-read), so the memo cannot become a driver-heap
    * hazard at scale.
    */
  private val pairsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  // Build/consume tallies for the artifact contract ("written once, read
  // N times"), asserted by ArtifactReuseSpec and reported by scale
  // rehearsals. Counters, not behavior: the memo itself is the mechanism.
  private[graft] val pairsBuilds = new java.util.concurrent.atomic.AtomicInteger
  private[graft] val pairsReads = new java.util.concurrent.atomic.AtomicInteger
  /** The schema the artifact is written with, so reading it back infers nothing. */
  private[graft] val pairsSchema =
    org.apache.spark.sql.types.StructType.fromDDL("a bigint, b bigint, jaccard double")
  private[graft] def nearDupPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val path = pairsMemo.computeIfAbsent(dir, _ => {
      val out = new java.io.File(
        new java.io.File(System.getProperty("java.io.tmpdir"),
          s"graft-artifacts-${s.sparkContext.applicationId}"),
        "near_dup_pairs_" + Integer.toHexString(dir.hashCode)).getAbsolutePath
      Dedup.ngramJaccardPairs(col("doc_id"), col("text"), 3, 0.3,
          maxShingleDf = 1000L)(docs(s, dir))
        .select(col("a").cast("long"), col("b").cast("long"), col("jaccard"))
        .write.mode("overwrite").parquet(out)
      pairsBuilds.incrementAndGet()
      System.err.println(s"[graft] near-dup pair artifact built: $out")
      out
    })
    pairsReads.incrementAndGet()
    s.read.schema(pairsSchema).parquet(path)
  }

  private val pqMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Float]]]]()
  private[graft] def trainedPqCodebooks(s: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Array[Float]]] =
    pqMemo.computeIfAbsent(dir, _ =>
      Clustering.trainPqCodebooks(Tables.embeddings(s, dir),
        col("vec_id"), col("embedding"), m = 4, k = 16, dim = 64, maxIter = 5))

  /** Shared oracle CTE chain for the UniMax water-filling derivation
    * (mirrors `TextAnalysis.unimaxWeights` at E = 2, budget = 1.5× total):
    * expects a prior CTE `toks(doc_id, lang, n_tokens)`; yields `cp(doc_id,
    * lang, n_copies)` consumed by [[unimaxSelect]]. Cap decision in BIGINT,
    * uncapped weight = two fixed-order IEEE divisions, copy thresholds on
    * the same md5 grid as `epochsByWeight` — all engine-identical.
    */
  private[graft] val unimaxChainCte: String =
    """tot AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS total
      |        FROM toks WHERE lang IS NOT NULL
      |        GROUP BY 1 HAVING sum(n_tokens) > 0),
      |b AS (SELECT CAST(floor(1.5 * CAST(sum(total) AS DOUBLE)) AS BIGINT) AS budget,
      |             count(*) AS n FROM tot),
      |ord AS (SELECT lang, total, 2 * total AS c,
      |          row_number() OVER (ORDER BY 2 * total, lang) AS i,
      |          coalesce(sum(2 * total) OVER (ORDER BY 2 * total, lang
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      |        FROM tot),
      |pref AS (SELECT ord.*, bool_and(c * (b.n - i + 1) + cum <= b.budget)
      |                 OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND CURRENT ROW) AS capped
      |         FROM ord, b),
      |agg AS (SELECT coalesce(sum(CASE WHEN capped THEN c END), 0) AS cumcap,
      |               count(*) FILTER (WHERE NOT capped) AS nun FROM pref),
      |w AS (SELECT p.lang,
      |        CASE WHEN p.capped THEN CAST(2 AS DOUBLE)
      |             ELSE CAST(b.budget - a.cumcap AS DOUBLE)
      |                  / CAST(a.nun AS DOUBLE) / CAST(p.total AS DOUBLE)
      |        END AS w
      |      FROM pref p, agg a, b),
      |cp AS (SELECT d.doc_id, d.lang,
      |         CAST(floor(w.w) AS INT)
      |         + CASE WHEN CAST(floor((w.w - floor(w.w)) * 16777216) AS BIGINT) > 0
      |                 AND md5(CAST(d.doc_id AS VARCHAR) || ':epoch')
      |                   < lower(lpad(to_hex(CAST(floor((w.w - floor(w.w))
      |                                  * 16777216) AS BIGINT)), 6, '0'))
      |                THEN 1 ELSE 0 END AS n_copies
      |       FROM toks d JOIN w ON d.lang = w.lang)""".stripMargin

  private[graft] val unimaxSelect: String =
    """SELECT doc_id, lang AS part, CAST(unnest(range(1, n_copies + 1)) AS INT) AS copy
      |FROM cp WHERE n_copies >= 1""".stripMargin

  /** All extension entries — the five family files (r8 task #8).
    * A `def` (not val) so object initialization stays one-way:
    * family objects read this object's artifact vals at their own
    * init; nothing here touches them until first call.
    */
  def all: Seq[Q] =
    XDedupQueries.all ++ XSimilarityQueries.all ++ XTextQueries.all ++
      XMixtureQueries.all ++ XPipelineQueries.all
}
