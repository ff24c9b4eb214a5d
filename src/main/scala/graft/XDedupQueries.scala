package graft

import org.apache.spark.sql.functions._
import graft.Queries.Q
import graft.functions.L2Normalize
import graft.ops.{Classifier, Clustering, Dedup, Graph, Multimodal, Pca, Search, Similarity, TextAnalysis, Texts}
import graft.ExtensionQueries._

/** Deduplication & decontamination catalog entries (X1/X2 + the dedup-adjacent fingerprint/span/block surface), split from ExtensionQueries (r8 task #8). Shared artifacts (pair memos, CTEs, trained models) stay in [[ExtensionQueries]]. */
object XDedupQueries {

  val all: Seq[Q] = Seq(

    Q("x1_dedup_exact",
      (s, dir) => Dedup.exact(Seq(col("lang"), col("source")), col("doc_id"))(docs(s, dir))
        .select(col("doc_id"), col("lang"), col("source")),
      Some("""SELECT doc_id, lang, source FROM documents
             |QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1""".stripMargin),
      "X1 exact dedup with deterministic survivor (hash-groupBy per key)"),

    Q("x2_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(col("doc_id"), col("text"), 3, 0.3,
        maxShingleDf = 1000L)(docs(s, dir)),
      // The DF cut (1000) is mirrored in the shared CTE: both engines prune
      // hot shingles before pairing and compute sizes from the PRUNED sets,
      // so the emitted Jaccard is self-consistent. Pairs are generated from
      // exploded shingles (no NaN possible for shingle-less docs — they
      // simply produce no rows).
      Some(s"WITH $ngramPairsCte\nSELECT a, b, jaccard FROM jp"),
      "X2 n-gram (3-token shingle) Jaccard near-dup pairs with hot-shingle DF cut, all-integer until final division"),

    Q("x2e_dedup_canonical",
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = nearDupPairs(s, dir) // shared pair artifact (see memo)
        Dedup.canonicalize(d.select(col("doc_id").as("id")), pairs)
          .select(col("id").as("doc_id"), col("canonical"))
      },
      // Oracle: transitive closure of the near-dup graph via recursive CTE;
      // canonical = min id reachable (or self for singletons).
      Some(s"""WITH RECURSIVE $ngramPairsCte,
              |edges AS (SELECT a AS x, b AS y FROM jp UNION SELECT b, a FROM jp),
              |reach AS (SELECT x, y FROM edges
              |          UNION
              |          SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x)
              |SELECT d.doc_id, least(d.doc_id, coalesce(min(r.y), d.doc_id)) AS canonical
              |FROM documents d LEFT JOIN reach r ON r.x = d.doc_id
              |GROUP BY d.doc_id""".stripMargin),
      "X1/X2 duplicate-cluster canonicalization: connected components by min-label propagation"),

    Q("x21_incremental_dedup",
      (s, dir) => {
        // doc_id >= 400 plays the incoming ingest batch; the rest is the
        // accumulated corpus, represented at the join only by its distinct
        // content fingerprints (the side table a streaming ingest keeps)
        val d = docs(s, dir)
        Dedup.exactIncremental(Seq(md5(col("text"))), col("doc_id"),
            d.filter(col("doc_id") < 400))(d.filter(col("doc_id") >= 400))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      // NOT EXISTS + IS NOT DISTINCT FROM, never NOT IN: one NULL
      // fingerprint in the corpus (a NULL-text doc) turns `fp NOT IN`
      // into never-true and empties the whole result; the null-safe form
      // mirrors the engine's <=> screen, which groups NULL fingerprints
      // as one dedup class like exact() does
      Some("""SELECT doc_id, lang, source FROM (
             |  SELECT doc_id, lang, source, md5(text) AS fp
             |  FROM documents WHERE doc_id >= 400) i
             |WHERE NOT EXISTS (SELECT 1 FROM documents c WHERE c.doc_id < 400
             |                  AND md5(c.text) IS NOT DISTINCT FROM i.fp)
             |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1""".stripMargin),
      "X1 incremental exact dedup: anti join of the ingest batch against the " +
        "corpus's distinct-fingerprint side table, then in-batch dedup — " +
        "history is never re-scanned"),

    Q("x21b_lsh_incremental",
      (s, dir) => {
        // the near-dup half of the x21 ingest story: the corpus (< 400)
        // is represented ONLY by its two persisted derivatives — the LSH
        // bucket index and the shingle side table; signatures are computed
        // for the ingest batch alone. Sketch-based → no_oracle;
        // x21b_lsh_incr_check pins equality with the full recompute.
        val d = docs(s, dir)
        val corpus = d.filter(col("doc_id") < 400)
        // the corpus's two persisted derivatives are built from ONE
        // materialized shingle table (how a real ingest maintains them):
        // derived independently from raw docs, the corpus was re-scanned
        // and re-shingled once per consuming job (optimization r12 —
        // executed-plan audit counted 2 corpus document scans per run)
        // EAGER checkpoint, deliberately (r13 A/B): eager=false would
        // fold the materialization job into the first consumer, but a
        // lazy checkpoint reports no size stats, so every downstream
        // broadcast decision degrades to a shuffle plan — measured 2.6 s
        // vs 1.4 s warmed at sf0.1/32t. The dedicated job buys the
        // planner exact stats (the x3c lesson).
        val corpusSh = Dedup.shingleTable(col("doc_id"), col("text"), 3)(corpus)
          .localCheckpoint()
        Dedup.minhashLshIncremental(col("doc_id"), col("text"), 3, 16, 4, 0.3,
            Dedup.lshIndexFromShingles(corpusSh, 16, 4), corpusSh)(
            d.filter(col("doc_id") >= 400))
      },
      None,
      "X2 incremental MinHash-LSH: ingest batch screened against the " +
        "corpus's persisted bucket index + shingle table — history is " +
        "never re-hashed"),

    Q("x8_decontaminate",
      (s, dir) => {
        val d = docs(s, dir)
        // doc_id < 50 plays the benchmark/eval set; the rest is the corpus
        Dedup.decontaminate(col("doc_id"), col("text"), 8)(
            d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(decontOracleSql),
      "X1/X2 benchmark decontamination: drop corpus docs sharing any 8-token " +
        "shingle with the eval set (broadcast semi-join, corpus never shuffled)"),

    Q("x2b_minhash_lsh",
      (s, dir) => Dedup.minhashLshPairs(col("doc_id"), col("text"), 3, 16, 4, 0.3)(docs(s, dir)),
      None, // xxhash64-based signatures are not reproducible in DuckDB SQL
      "X2 MinHash(64)+LSH(16 bands x 4) candidates, verified with exact Jaccard"),

    Q("x2c_simhash",
      (s, dir) => Dedup.simhashByDoc(col("doc_id"), col("text"))(docs(s, dir))
        .withColumnRenamed("id", "doc_id"),
      None, // xxhash64-based fingerprint
      "X2 SimHash 64-bit LSH fingerprint per document (explode + one hash-groupBy, codegen'd)"),

    Q("x2d_simhash_pairs",
      (s, dir) => Dedup.simhashPairs(col("doc_id"), col("text"), 3)(docs(s, dir)),
      None, // xxhash64-based fingerprint
      "X2 SimHash near-dup pairs: pigeonhole chunk buckets (Hamming<=3), equi-join candidates, exact verify"),

    Q("x16_semantic_decon",
      (s, dir) => Similarity.semanticDecontaminate(
          Tables.embeddings(s, dir).filter(col("vec_id") >= 50)
            .select(col("vec_id").as("id"), col("embedding").as("vec")),
          evalVectors(s, dir), 0.35)
        .select(col("id")),
      // FP-safe oracle: the nearest corpus-eval cosine sits 2.3e-5 from the
      // 0.35 threshold at sf0.1 (4.8e-4 at sf0.01) — 10 orders above any
      // cross-engine double noise
      // the len/sum WHERE mirrors the op's malformed-vector drop
      // (zero-norm corpus rows cannot be scored and are not emitted);
      // join-shaped rather than a correlated NOT EXISTS so the cosine
      // consumes CTE projections — the correlated form made DuckDB
      // evaluate it inside the parquet scan on the unfiltered (NULL-
      // bearing) embedding column
      Some("""WITH corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
             |        WHERE vec_id >= 50 AND len(embedding) > 0
             |          AND list_sum(list_transform(embedding, x -> x*x)) > 0),
             |ev AS (SELECT embedding::DOUBLE[] AS bv FROM embeddings WHERE vec_id < 50),
             |hit AS (SELECT DISTINCT c.vec_id FROM corp c
             |        JOIN ev ON list_cosine_similarity(c.v, ev.bv) > 0.35)
             |SELECT vec_id AS id FROM corp
             |WHERE NOT EXISTS (SELECT 1 FROM hit h WHERE h.vec_id = corp.vec_id)""".stripMargin),
      "X2 semantic benchmark decontamination: drop corpus vectors within " +
        "cosine 0.35 of any eval vector — driver-held eval literals, " +
        "map-only corpus pass, zero shuffle"),

    Q("x25_bloom_decon",
      (s, dir) => {
        val d = docs(s, dir)
        Dedup.decontaminateBloom(col("doc_id"), col("text"), 8, benchBloom(s, dir))(
            d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50))
          .select(col("doc_id"), col("lang"), col("source"))
      },
      Some(decontOracleSql),
      "x8's decontamination re-planned through a broadcast Bloom prefilter: " +
        "the map-side sketch probe drops clean shingles before the semi join, " +
        "so join traffic is bounded by contamination + fpp, not corpus size; " +
        "no false negatives + exact confirm = same oracle as x8"),

    Q("x40_contamination_score",
      // graded contamination, where x8 is a boolean drop: per corpus doc,
      // the fraction of its DISTINCT 8-token shingles present in the eval
      // set — the audit that decides between dropping a doc and trimming
      // the contaminated span. Docs with < 8 tokens have no shingles and
      // no row (x2's convention). Integer counts + one final IEEE double
      // division, bit-equal in both engines.
      (s, dir) => {
        val d = docs(s, dir)
        val docSh = Texts.explodedShingles(
          d.filter(col("doc_id") >= 50), col("doc_id"), col("text"), 8).distinct()
        val benchSh = Texts.explodedShingles(
            d.filter(col("doc_id") < 50), col("doc_id"), col("text"), 8)
          .select(col("s")).distinct()
        docSh.join(broadcast(benchSh.withColumn("hit", lit(1L))), Seq("s"), "left")
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"))
          .select(col("id").as("doc_id"), col("n_shingles"), col("n_contaminated"),
            (col("n_contaminated").cast("double") / col("n_shingles"))
              .as("contamination"))
      },
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh0 AS (SELECT doc_id,
             |          unnest([array_to_string(toks[i:i+7], ' ')
             |                  for i in range(1, len(toks) - 6)]) AS s
             |        FROM toks WHERE len(toks) >= 8),
             |sh AS (SELECT DISTINCT doc_id, s FROM sh0 WHERE doc_id >= 50),
             |bs AS (SELECT DISTINCT s FROM sh0 WHERE doc_id < 50)
             |SELECT sh.doc_id, count(*) AS n_shingles,
             |       CAST(sum(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             |         AS n_contaminated,
             |       CAST(sum(CASE WHEN bs.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             |         / count(*) AS contamination
             |FROM sh LEFT JOIN bs ON sh.s = bs.s
             |GROUP BY sh.doc_id""".stripMargin),
      "X2 graded contamination score (x8's boolean drop refined to a " +
        "fraction): per corpus doc, share of its distinct 8-token shingles " +
        "in the eval set — broadcast hit-set onto the corpus shingle " +
        "stream, integer counts, one final IEEE division"),

    Q("x10_dup_ngrams",
      (s, dir) => Dedup.dupNgramStats(col("doc_id"), col("text"), 5)(docs(s, dir)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |sh AS (SELECT DISTINCT doc_id,
             |         unnest([array_to_string(toks[i:i+4], ' ')
             |                 for i in range(1, len(toks) - 3)]) AS s
             |       FROM toks WHERE len(toks) >= 5),
             |dfreq AS (SELECT s, count(*) >= 2 AS in_others FROM sh GROUP BY s)
             |SELECT doc_id, count(*) AS n_shingles,
             |       CAST(sum(CASE WHEN in_others THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
             |       CAST(sum(CASE WHEN in_others THEN 1 ELSE 0 END) AS DOUBLE)
             |             / CAST(count(*) AS DOUBLE) AS dup_frac
             |FROM sh JOIN dfreq USING (s) GROUP BY doc_id""".stripMargin),
      "X1/X2 corpus-duplication profile: per-doc fraction of 5-gram shingles " +
        "shared with other docs (one shuffle on s, aggregate-then-join, no pair blowup)"),

    Q("x11_semdedup",
      (s, dir) => Similarity.semDedup(
        Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        semdedupModel(s, dir).centers, 0.35),
      None, // cluster ids come from in-engine k-means (not SQL-reproducible);
            // the keep/drop rule is re-verified by x11_semdedup_check
      "X2 SemDeDup: drop vectors with a lower-id cluster-mate above cosine " +
        "0.35 — per-cluster pairwise only, one reused exchange on cid, " +
        "k ~ sqrt(N) clustering so the pairwise pass stays near-linear"),

    Q("x30_dedup_blocks",
      // blockTokens=2 is the granularity at which the fixture's docs
      // actually repeat (174/500 docs trim at sf0.001) — the op must
      // demonstrably cut, not just round-trip
      (s, dir) => TextAnalysis.dedupBlocksWithinDoc(
        col("doc_id"), col("text"), blockTokens = 2)(docs(s, dir)),
      // blocks via zipped unnest + subscripts, NOT range-unnest with the
      // token array carried per row: the carried-array form duplicated
      // each doc's whole token list onto every block row and OOM'd
      // DuckDB's 100 GiB limit at sf10; this form is linear in tokens.
      // Per-row and total like the engine: aggregates key on a row
      // surrogate (NULL doc_ids must not merge) and every document is
      // outer-joined back, so a NULL-text doc keeps a NULL clean_text
      Some("""WITH d AS MATERIALIZED (SELECT row_number() OVER () AS rid,
             |         doc_id, string_split(text, ' ') AS t FROM documents),
             |tok AS (SELECT rid, unnest(t) AS tok,
             |          generate_subscripts(t, 1) AS pos FROM d),
             |blk AS (SELECT rid, idx, string_agg(tok, ' ' ORDER BY pos) AS b
             |        FROM (SELECT rid, tok, pos,
             |                CAST((pos - 1) // 2 AS INT) AS idx FROM tok)
             |        GROUP BY rid, idx),
             |firsts AS (SELECT rid, b, min(idx) AS idx FROM blk
             |           GROUP BY rid, b),
             |ct AS (SELECT rid, string_agg(b, ' ' ORDER BY idx) AS clean_text
             |       FROM firsts GROUP BY rid)
             |SELECT d.doc_id, ct.clean_text FROM d LEFT JOIN ct USING (rid)""".stripMargin),
      "X1 intra-document repeated-block trim: first occurrence of each " +
        "distinct 2-token block survives, in order — the within-doc cut for " +
        "looping/template pages; per-doc aggregates only, no join, no window"),

    Q("x34_dedup_spans",
      (s, dir) => TextAnalysis.dedupSpansAcrossDocs(
        col("doc_id"), col("text"), spanTokens = 3)(docs(s, dir)),
      // mirror of dedupSpansAcrossDocs: sliding 3-token spans, a span in
      // >= 2 distinct docs is cut everywhere except min(doc_id); DuckDB
      // slices are 1-based inclusive, range() is exclusive-end
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             |occ AS (SELECT doc_id, CAST(i AS INT) AS i,
             |          array_to_string(t[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS sp
             |        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
             |              FROM toks WHERE len(t) >= 3)),
             |owners AS (SELECT sp, min(doc_id) AS owner FROM occ
             |           GROUP BY sp HAVING count(DISTINCT doc_id) >= 2),
             |cut AS (SELECT DISTINCT o.doc_id, o.i + j.r AS pos
             |        FROM occ o JOIN owners w USING (sp)
             |        CROSS JOIN (SELECT unnest(range(0, 3)) AS r) j
             |        WHERE o.doc_id <> w.owner),
             |alltok AS (SELECT doc_id, CAST(p AS INT) AS pos, t[CAST(p AS INT)] AS tok
             |           FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS p FROM toks)),
             |kept AS (SELECT a.doc_id, a.pos, a.tok FROM alltok a
             |         LEFT JOIN cut c ON a.doc_id = c.doc_id AND a.pos = c.pos
             |         WHERE c.pos IS NULL)
             |SELECT t.doc_id,
             |       coalesce(string_agg(k.tok, ' ' ORDER BY k.pos), '') AS clean_text
             |FROM toks t LEFT JOIN kept k USING (doc_id)
             |GROUP BY t.doc_id""".stripMargin),
      "X1 cross-document exact-substring dedup (the ExactSubstr cut of Lee " +
        "et al. ACL 2022, at shingle granularity): any 3-token span " +
        "appearing verbatim in >= 2 docs survives only in its min-doc_id " +
        "owner — sliding spans catch duplicated passages at any alignment, " +
        "overlaps merge by position union, and exactly one copy survives " +
        "the corpus; ownership is one hash aggregate, never a pair join"),

    Q("x50_containment_pairs",
      // directed near-superset detection at C >= 0.5 over 3-shingles,
      // same DF cut as x2; containment = common/sz_src is one exact IEEE
      // division of two ints — engine-identical, no rounding needed
      (s, dir) => Dedup.containmentPairs(col("doc_id"), col("text"), 3, 0.5,
        maxShingleDf = 1000L)(docs(s, dir)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
             |               WHERE doc_id IS NOT NULL),
             |ex AS (SELECT DISTINCT doc_id,
             |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
             |                 for i in range(1, len(toks) - 1)]) AS s
             |       FROM toks WHERE len(toks) >= 3),
             |kept AS (SELECT doc_id, s FROM ex
             |         QUALIFY count(*) OVER (PARTITION BY s) <= 1000),
             |sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
             |dp AS (SELECT a.doc_id AS src, b.doc_id AS dst, count(*) AS common
             |       FROM kept a JOIN kept b
             |         ON a.s = b.s AND a.doc_id <> b.doc_id
             |       GROUP BY 1, 2)
             |SELECT src, dst,
             |       CAST(common AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment
             |FROM dp JOIN sz sa ON sa.doc_id = dp.src
             |WHERE CAST(common AS DOUBLE) / CAST(sa.sz AS DOUBLE) >= 0.5""".stripMargin),
      "X2 directed near-superset pairs (containment |A∩B|/|A|): catches a " +
        "doc quoted whole inside a larger one, where the size imbalance " +
        "drags Jaccard below any symmetric threshold — asymmetric " +
        "source-prefix filter against the full fingerprint index, exact " +
        "two-pointer verification"),

    Q("x51_winnow_fp",
      // robust winnowing (MOSS) over 8-token grams, window 4: the sparse
      // position-robust fingerprint set — same md5 grain as x4g's dense
      // stream, ~2/(w+1) the rows; rightmost-min tie rule is encoded in
      // the comparison key so both engines select identically
      (s, dir) => TextAnalysis.winnowFingerprints(
        col("doc_id"), col("text"), 8, 4)(docs(s, dir)),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
             |           WHERE len(string_split(text, ' ')) >= 8),
             |g AS (SELECT doc_id, len(toks) - 7 AS n_grams,
             |             unnest(range(1, len(toks) - 6)) AS pos, toks
             |      FROM t),
             |h AS (SELECT doc_id, n_grams, CAST(pos AS INT) AS pos,
             |             md5(array_to_string(toks[pos:pos+7], ' ')) AS fp
             |      FROM g),
             |m AS (SELECT doc_id, n_grams, pos,
             |             min(fp || lpad(CAST(9999999 - pos AS VARCHAR), 7, '0'))
             |               OVER (PARTITION BY doc_id ORDER BY pos
             |                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel_key
             |      FROM h)
             |SELECT DISTINCT doc_id,
             |       CAST(9999999 - CAST(substr(sel_key, 33, 7) AS INT) AS INT) AS pos,
             |       substr(sel_key, 1, 32) AS fp
             |FROM m WHERE pos <= greatest(1, n_grams - 3)""".stripMargin),
      "X2/X3 robust winnowing fingerprints (MOSS): per 4-gram window keep " +
        "the min 8-token md5, rightmost on ties — every shared 11-token " +
        "run still collides, at ~40% of the dense rolling-stream volume; " +
        "one per-doc ROWS frame, parallel across docs"),

    Q("x52_cross_source_dups",
      // data-card-level cross-corpus duplication exposure: for each
      // (unordered) source pair, how many near-dup pairs straddle them —
      // the mixing/licensing diagnostic ("src3 is mostly src0
      // re-crawled") that x37's per-source card cannot see. Pure
      // composition over the shared pair artifact; the |docs|-sized
      // source map joins onto the (tiny by construction) pair set.
      (s, dir) => {
        val src = docs(s, dir).select(col("doc_id"), col("source"))
        nearDupPairs(s, dir)
          .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), "a")
          .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), "b")
          .select(least(col("src_a"), col("src_b")).as("source_a"),
            greatest(col("src_a"), col("src_b")).as("source_b"))
          .groupBy("source_a", "source_b")
          .agg(count(lit(1)).as("n_pairs"))
      },
      Some(s"""WITH $ngramPairsCte
              |SELECT least(sa.source, sb.source) AS source_a,
              |       greatest(sa.source, sb.source) AS source_b,
              |       count(*) AS n_pairs
              |FROM jp
              |JOIN documents sa ON sa.doc_id = jp.a
              |JOIN documents sb ON sb.doc_id = jp.b
              |GROUP BY 1, 2""".stripMargin),
      "X2/X3 cross-source duplication matrix: near-dup pairs bucketed by " +
        "the unordered source pair — which corpora duplicate EACH OTHER; " +
        "composition over the shared near-dup pair artifact, all-integer"),

    Q("x60_clean_blocks",
      // the C4 "line without common words" cut adapted to 8-token
      // blocks: nav/keyword/tag-soup spans carry no stopwords and are
      // trimmed; docs whose every block fails emit no row
      (s, dir) => TextAnalysis.cleanBlocks(
        col("doc_id"), col("text"), blockTokens = 8)(docs(s, dir)),
      Some(s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |e AS (SELECT doc_id, t,
              |        unnest(range(0, CAST(ceil(len(t)/8.0) AS BIGINT))) AS i
              |      FROM toks),
              |blk AS (SELECT doc_id, CAST(i AS INT) AS idx,
              |          array_to_string(t[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ') AS b
              |        FROM e),
              |kept AS (SELECT * FROM blk
              |         WHERE len(list_filter(string_split(b, ' '),
              |                 x -> x IN ${Texts.enStopwordsSql})) >= 1)
              |SELECT doc_id, count(*) AS n_kept,
              |       string_agg(b, ' ' ORDER BY idx) AS clean_text
              |FROM kept GROUP BY doc_id""".stripMargin),
      "X3 block-level content cleaning (C4's no-stopword-span cut at " +
        "8-token blocks): codegen'd stopword-count gate per block, " +
        "in-order reassembly — per-doc work only, no join, no window"),

    Q("x3d_embedding_dups",
      (s, dir) => {
        val corpus = Tables.embeddings(s, dir)
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        // 0.35 ≈ the 99.9th percentile of pairwise cosine on this synthetic
        // corpus — "near-dup" relative to its random baseline. nBits = 0:
        // scale-derived bucket width (fixed 4 bits = 16 buckets made the
        // self-join quadratic in N); bands = 2 OR-amplifies recall back.
        Similarity.embeddingDupPairs(corpus, 0, 64, 0.35, bands = 2)
          .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
      },
      None, // LSH buckets are hash-derived; unit test bounds recall/precision
      "X2 embedding-cosine near-dup pairs: scale-derived hyperplane bucket " +
        "self-join (2-band OR-amplified, hot-bucket capped), exact cosine verify"),

    Q("x4d_fingerprint",
      (s, dir) => TextAnalysis.fingerprints(col("doc_id"), col("text"), 10)(docs(s, dir)),
      Some("""SELECT doc_id, md5(text) AS fp,
             |  md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS prefix_fp
             |FROM documents""".stripMargin),
      "X3 document fingerprinting: full digest + token-prefix digest"),

    Q("x64_record_linkage",
      (s, dir) => Dedup.hammingLinkage(col("c_custkey"), col("c_name"), 1)(
        Tables.customer(s, dir)),
      // Oracle is the DEFINITIONAL all-pairs form (fine at verify SF; the
      // Spark side is the blocked index). For equal-length strings a
      // cost-1 edit script can only be a substitution, so levenshtein <= 1
      // ≡ Hamming <= 1 — DuckDB's levenshtein stands in for the Hamming
      // verify exactly at maxDist = 1.
      Some("""SELECT a.c_custkey AS a, b.c_custkey AS b,
             |       levenshtein(a.c_name, b.c_name) AS dist
             |FROM customer a JOIN customer b
             |  ON a.c_custkey < b.c_custkey
             | AND length(a.c_name) = length(b.c_name)
             |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin),
      "X1 fuzzy record linkage: single-character-corruption (Hamming <= 1) " +
        "pairs over customer names via lossless interleaved position-class " +
        "blocking — candidate generation is an equi-join on (class, " +
        "substring, length), never all-pairs"),

    Q("x4g_rolling_fp",
      (s, dir) => TextAnalysis.rollingFingerprints(col("doc_id"), col("text"), 8)(docs(s, dir)),
      Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
             |             WHERE len(string_split(text, ' ')) >= 8)
             |SELECT doc_id, CAST(i AS INT) AS pos,
             |       md5(array_to_string(toks[i:i+7], ' ')) AS window_fp
             |FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i FROM toks)""".stripMargin),
      "X3 rolling window fingerprints (8-token sliding md5) for partial-overlap detection")
  )
}
