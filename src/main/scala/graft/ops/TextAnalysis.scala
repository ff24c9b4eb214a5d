package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X3 text-analysis operators for training-data curation: token statistics,
  * quality scoring, language-ID heuristic, document fingerprinting.
  * All row-local Column expressions — a single map-only pass at any scale.
  */
object TextAnalysis {

  /** Per-document token statistics (whitespace tokenizer). All-integer
    * outputs, so oracle comparison is exact.
    */
  def tokenStats(id: Column, text: Column)(df: DataFrame): DataFrame = {
    val toks = Texts.tokens(text)
    df.select(
      id.as("doc_id"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct"),
      array_max(transform(toks, t => length(t))).as("max_token_len"),
      // long, not int: DuckDB's list_sum yields HUGEINT, which the oracle
      // hash-compare does not width-normalize (round-1 hash mismatch).
      // Splitting on a single char means sum(token lengths) =
      // length(text) - (n_tokens - 1) exactly — pure codegen'd arithmetic
      // instead of an interpreted aggregate-over-transform lambda pass.
      (length(text) - (size(toks) - lit(1))).cast("long").as("sum_token_len"))
  }

  /** Language-ID heuristic: fraction of tokens in an English stopword
    * profile. Real n-gram language profiles plug in the same shape (one
    * score column per language, argmax); this keeps the scoring observable
    * and oracle-checkable.
    */
  def langIdEn(id: Column, text: Column)(df: DataFrame): DataFrame = {
    val toks = Texts.tokens(text)
    val hits = graft.functions.StopwordHits(text, Texts.enStopwords)
    df.select(
      id.as("doc_id"),
      hits.as("en_hits"),
      size(toks).as("n_tokens"),
      when(hits.cast("double") / size(toks).cast("double") >= 0.05, lit("en"))
        .otherwise(lit("other")).as("lang_guess"))
  }

  /** The three quality components, each a plain codegen'd expression (no
    * lambda HOFs — those are CodegenFallback and the optimizer duplicates
    * them into pushed-down filters, which made round 2's curation pipeline
    * re-run interpreted passes per derived column): stopword hits count via
    * the native single-pass [[graft.functions.StopwordHits]] (exactly the
    * token-equality count of [[Texts.stopwordCountPattern]], which the
    * DuckDB oracle still evaluates as a regex) and token-length sum via
    * the `length(text) - (n - 1)` identity for single-char splits.
    */
  private def qualityParts(text: Column): (Column, Column, Column) = {
    val toks = Texts.tokens(text)
    val n = size(toks).cast("double")
    val diversity = size(array_distinct(toks)).cast("double") / n
    val stopRatio =
      graft.functions.StopwordHits(text, Texts.enStopwords).cast("double") / n
    val meanLen = (length(text) - (size(toks) - lit(1))).cast("double") / n
    (diversity, stopRatio, meanLen)
  }

  /** Combined quality score as one scalar Column — for pipelines that only
    * route on the score and carry their own passthrough columns (no
    * re-derive-and-join; see the curation pipeline query).
    */
  def qualityExpr(text: Column): Column = {
    val (diversity, stopRatio, meanLen) = qualityParts(text)
    diversity * 0.5 + stopRatio * 0.25 + meanLen * 0.05
  }

  /** Quality score: deterministic linear combination of length, lexical
    * diversity, stopword ratio and mean token length — the standard cheap
    * filters applied before expensive model-based scoring in data pipelines.
    */
  def qualityScore(id: Column, text: Column)(df: DataFrame): DataFrame = {
    val (diversity, stopRatio, meanLen) = qualityParts(text)
    df.select(
      id.as("doc_id"),
      diversity.as("diversity"),
      stopRatio.as("stop_ratio"),
      meanLen.as("mean_token_len"),
      (diversity * 0.5 + stopRatio * 0.25 + meanLen * 0.05).as("quality"))
  }

  /** The published Gopher rule defaults (Rae et al. 2021, appendix A1.1):
    * word-count bounds, mean-word-length band, symbol-to-word and
    * alpha-word thresholds, and the required-stopword minimum. The
    * stopword list is a parameter of [[gopherRules]] because the rule is
    * defined over "common English words" — a corpus in another register
    * (or a synthetic fixture) supplies its own list. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style hard rule gate — the standard boolean pre-filter set
    * applied BEFORE model-based scoring in pretraining pipelines (the
    * complement of [[qualityScore]]'s soft linear score): per document,
    * one 0/1 flag per rule plus the conjunction. Rules (defaults from the
    * Gopher paper): word count in [minWords, maxWords]; mean word length
    * in [3, 10]; symbol-to-word ratio ('#' or '...') <= 0.1; >= 80% of
    * words contain an alphabetic character; >= 2 distinct required
    * stopwords present.
    *
    * Every rule is a plain codegen'd expression over the single scan —
    * word counts via `split`, the mean-length identity
    * `(length(text) - (n-1)) / n`, symbol and alpha-word counts via the
    * native single-pass byte-scan expressions
    * [[graft.functions.SymbolMarkCount]] /
    * [[graft.functions.AlphaWordCount]] (regex-equivalent by contract;
    * the DuckDB oracle still runs the regex form), stopword presence via
    * the one-pass [[graft.functions.StopwordPresence]] bitmask probe
    * (the old per-word padded-`contains` form re-scanned the text once
    * PER list word — N passes vs one).
    * Map-only: zero shuffle, zero UDFs — at 100 TB this is scan-bound,
    * fused into whole-stage codegen with whatever filter consumes `pass`.
    */
  /** The [[gopherRules]] conjunction as ONE boolean Column, rules ordered
    * cheapest-first — for pipelines that only gate on `pass` and carry
    * their own columns (the same role [[qualityExpr]] plays for the soft
    * score). Boolean `AND` short-circuits in generated code, so a row
    * that already failed the split-only word-count rule (or the
    * stopword-presence rule) never runs the symbol/alpha byte scans —
    * the `pass` COLUMN in [[gopherRules]] is an integer product and
    * cannot skip them. Same rounded-value rule semantics, bit-identical
    * verdicts (differential-tested).
    */
  def gopherPassExpr(text: Column,
      stopwords: Seq[String] = gopherStopwords,
      minWords: Int = 50, maxWords: Int = 100000): Column = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val toks = Texts.tokens(text)
    val nWords = size(toks)
    val n = nWords.cast("double")
    val meanLen = (length(text) - (nWords - lit(1))).cast("double") / n
    val stopHits = graft.functions.StopwordPresence(text, stopwords)
    val symbolRatio = graft.functions.SymbolMarkCount(text).cast("double") / n
    val alphaRatio = graft.functions.AlphaWordCount(text).cast("double") / n
    nWords.between(minWords, maxWords) &&
      round(meanLen, 4).between(3.0, 10.0) &&
      (stopHits >= 2) &&
      (round(symbolRatio, 4) <= 0.1) &&
      (round(alphaRatio, 4) >= 0.8)
  }

  def gopherRules(id: Column, text: Column,
      stopwords: Seq[String] = gopherStopwords,
      minWords: Int = 50, maxWords: Int = 100000)(df: DataFrame): DataFrame = {
    require(stopwords.nonEmpty, "stopwords must be non-empty")
    val toks = Texts.tokens(text)
    val nWords = size(toks)
    val n = nWords.cast("double")
    val meanLen = (length(text) - (nWords - lit(1))).cast("double") / n
    val alphaRatio = graft.functions.AlphaWordCount(text).cast("double") / n
    val symbolRatio = graft.functions.SymbolMarkCount(text).cast("double") / n
    val stopHits = graft.functions.StopwordPresence(text, stopwords)
    def flag(c: Column) = when(c, lit(1)).otherwise(lit(0))
    val base = df.select(id.as("doc_id"), nWords.cast("long").as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(alphaRatio, 4).as("alpha_ratio"),
      round(symbolRatio, 4).as("symbol_ratio"),
      stopHits.cast("long").as("stop_hits"))
    base.select(col("doc_id"), col("n_words"), col("mean_word_len"),
      col("alpha_ratio"), col("symbol_ratio"), col("stop_hits"),
      flag(col("n_words").between(minWords, maxWords)).as("r_word_count"),
      flag(col("mean_word_len").between(3.0, 10.0)).as("r_mean_len"),
      flag(col("alpha_ratio") >= 0.8).as("r_alpha"),
      flag(col("symbol_ratio") <= 0.1).as("r_symbol"),
      flag(col("stop_hits") >= 2).as("r_stop"))
      .withColumn("pass",
        col("r_word_count") * col("r_mean_len") * col("r_alpha")
          * col("r_symbol") * col("r_stop"))
  }

  /** Normalization pattern literals, shared by the Column API, the SQL
    * function builder ([[graft.functions.GraftFunctions]]) and (verbatim
    * in the oracle SQL strings) DuckDB — one definition, no drift.
    */
  val normalizeStripPattern: String = "[^a-z0-9 ]"
  val normalizeSqueezePattern: String = " +"

  /** Text normalization for curation pipelines: lowercase, strip
    * non-alphanumerics to spaces, squeeze runs of spaces, trim. Plain
    * codegen'd expressions; the same regexes run in DuckDB (with the 'g'
    * flag — Spark replaces all occurrences by default).
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), normalizeStripPattern, " "),
      normalizeSqueezePattern, " "))

  /** Deterministic hash sample: keep a row iff the md5 hex digest of its
    * key is lexicographically below `hexThreshold` (lowercase hex orders
    * numerically, so "1a" ≈ 10.2%, "80" = 50%). Unlike `rand()`-based
    * sampling this is reproducible across engines, runs and retries —
    * which is what a training-data pipeline needs for auditable splits —
    * and it is embarrassingly parallel (no RNG state, no seed plumbing).
    */
  def deterministicSample(key: Column, hexThreshold: String): Column = {
    // md5 emits LOWERCASE hex; an uppercase or non-hex threshold would
    // compare at the wrong collation point and silently skew the rate
    require(hexThreshold.nonEmpty && hexThreshold.matches("[0-9a-f]+"),
      s"hexThreshold must be non-empty lowercase hex, got '$hexThreshold'")
    md5(key.cast("string")) < hexThreshold
  }

  /** Hex threshold over the first 6 md5 digits for a keep-rate in (0, 1) —
    * shared between the sampling operators and their SQL oracles so both
    * engines compare against identical literals.
    */
  def rateThresholdHex(rate: Double): String = {
    require(rate > 0.0 && rate < 1.0, s"rate must be in (0, 1), got $rate")
    val bucket = math.floor(rate * 0x1000000).toLong
    // 6 hex digits quantize to 1/2^24 ≈ 6e-8 steps: a smaller positive rate
    // would floor to "000000" and silently drop the whole stratum
    require(bucket > 0,
      s"rate $rate is below the 6-hex-digit resolution (1/${0x1000000}); " +
        "it would keep nothing")
    f"$bucket%06x"
  }

  /** Deterministic STRATIFIED sample — the training-mixture primitive:
    * keep each row with the probability assigned to its stratum (source,
    * language, quality bucket), routed by md5 threshold like
    * [[deterministicSample]], so the sample is reproducible across
    * engines, runs and retries and is a single map-only expression (the
    * mixture weights ship as literals — no join against a rates table,
    * no RNG state). Strata absent from `rates` are DROPPED — mixture
    * specs are allowlists. A rate >= 1 keeps the whole stratum.
    */
  def stratifiedSample(key: Column, stratum: Column,
      rates: Map[String, Double]): Column = {
    require(rates.nonEmpty, "stratifiedSample requires at least one stratum rate")
    val digest = md5(key.cast("string"))
    rates.toSeq.sortBy(_._1).foldLeft(lit(false)) { case (acc, (s, rate)) =>
      val keep =
        if (rate >= 1.0) lit(true)
        else if (rate <= 0.0) lit(false)
        else digest < rateThresholdHex(rate)
      when(stratum === s, keep).otherwise(acc)
    }
  }

  /** Per-source keep-rates for a TOKEN-BUDGET mixture: given observed
    * per-source token totals, target mixture weights, and a total budget,
    * the rate that makes source `s` contribute ≈ `budget * weight(s)`
    * tokens: `budget * weight / total`. Rates above 1 mean the source is
    * smaller than its allocation — the whole source is kept (no
    * up-sampling here; see `upsampleStrata` for repetition). Rates that
    * quantize below the 6-hex-digit sampling resolution drop to 0 (the
    * source's allocation rounds to nothing). Sources absent from
    * `targets` get no rate — mixture specs are allowlists, matching
    * [[stratifiedSample]]. Pure function of the aggregated totals, so it
    * is unit-testable without a corpus; the rate arithmetic
    * (`budget * weight / total`, then floor-quantize) is mirrored
    * verbatim by the SQL oracle.
    */
  def mixtureRates(totals: Map[String, Long], targets: Map[String, Double],
      budgetTokens: Long): Map[String, Double] = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(targets.values.forall(w => w > 0.0),
      s"target weights must be positive, got $targets")
    targets.flatMap { case (s, w) =>
      totals.get(s).filter(_ > 0L).map { total =>
        val raw = budgetTokens.toDouble * w / total.toDouble
        val rate =
          if (raw >= 1.0) 1.0
          else if (math.floor(raw * 0x1000000).toLong <= 0L) 0.0
          else raw
        s -> rate
      }
    }
  }

  /** The pretraining DATA-MIXTURE step: down-sample each source so the
    * kept corpus approximates `budgetTokens` tokens distributed by
    * `targets` (e.g. 50% web / 30% books / 20% code). One small aggregate
    * pass computes per-source token totals (K rows collected to the
    * driver — K = number of sources, inherently tiny); the keep-decision
    * is then a single map-only [[stratifiedSample]] expression over the
    * corpus, deterministic across runs/engines (md5-routed, no RNG).
    * At 100 TB this is one cheap stats job plus one map-only filter pass
    * — the corpus itself is never shuffled.
    */
  def mixToTokenBudget(id: Column, source: Column, tokens: Column,
      targets: Map[String, Double], budgetTokens: Long)(df: DataFrame): DataFrame = {
    // a source whose every token count is NULL sums to NULL — treat as an
    // empty source (mixtureRates drops zero-total sources), not an NPE
    val totals = df.groupBy(source.as("__s")).agg(sum(tokens.cast("long")).as("__n"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    val rates = mixtureRates(totals, targets, budgetTokens)
    if (rates.isEmpty) df.filter(lit(false))
    else df.filter(stratifiedSample(id, source, rates))
  }

  /** Temperature-derived mixture weights: `w_s = t_s^alpha / sum_r t_r^alpha`
    * over observed per-source token totals — the standard pretraining
    * scheme for flattening a skewed source distribution (alpha = 1 keeps
    * the natural proportions, alpha = 0 is uniform, alpha in between
    * up-weights small sources relative to their share). Pure driver-side
    * arithmetic over the K-row totals map; summed in sorted-key order so
    * the weights are bit-identical across runs.
    */
  def temperatureWeights(totals: Map[String, Long], alpha: Double): Map[String, Double] = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0, 1], got $alpha")
    // null source keys carry no weight (a null stratum can never match the
    // md5-routed stratifiedSample) and would NPE the sortBy below
    val pows = totals.toSeq.filter { case (s, t) => s != null && t > 0L }
      .sortBy(_._1)
      // alpha = 0.5 routes through sqrt, which IEEE-754 requires to be
      // correctly rounded — bit-identical across JVMs AND across engines
      // (DuckDB's sqrt is exact-rounded too). pow carries no such
      // guarantee, so 0.5 is the alpha an exact cross-engine oracle uses.
      .map { case (s, t) =>
        s -> (if (alpha == 0.5) math.sqrt(t.toDouble)
              else math.pow(t.toDouble, alpha)) }
    val z = pows.foldLeft(0.0)(_ + _._2)
    pows.map { case (s, p) => s -> p / z }.toMap
  }

  /** [[mixToTokenBudget]] with the target weights DERIVED from the data by
    * [[temperatureWeights]] instead of supplied: one stats pass yields the
    * per-source token totals, the temperature transform sets each source's
    * share of the budget, and the keep-decision is the same deterministic
    * map-only [[stratifiedSample]] expression. Same 100 TB posture as the
    * fixed-weight mixture: one tiny aggregate, zero corpus shuffle.
    */
  def mixByTemperature(id: Column, source: Column, tokens: Column,
      alpha: Double, budgetTokens: Long)(df: DataFrame): DataFrame = {
    val totals = df.groupBy(source.as("__s")).agg(sum(tokens.cast("long")).as("__n"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    val weights = temperatureWeights(totals, alpha)
    if (weights.isEmpty) df.filter(lit(false))
    else df.filter(stratifiedSample(id, source,
      mixtureRates(totals, weights, budgetTokens)))
  }

  /** UniMax mixture weights (epoch-capped water-filling): allocate a token
    * budget `B` as UNIFORMLY across sources as a per-source repetition cap
    * allows. Sources whose full capacity `c_s = maxEpochs·t_s` fits under
    * the common water level are taken whole (weight = `maxEpochs`); the
    * rest split the remaining budget EQUALLY (weight = level / t_s) — the
    * published alternative to temperature sampling that never repeats a
    * small source past `maxEpochs` to flatten skew. Pure driver-side
    * arithmetic over the K-row totals map.
    *
    * Determinism contract (shared with the SQL oracle): the capped prefix
    * is decided in ALL-LONG arithmetic (`c_i·remaining + cum ≤ B` scanning
    * capacities ascending, source name as tie-break), and uncapped weights
    * are exactly two IEEE divisions of exact longs in fixed order
    * (`(B − cumCapped) / nUncapped / t_s`) — bit-identical across engines.
    */
  def unimaxWeights(totals: Map[String, Long], budgetTokens: Long,
      maxEpochs: Int): Map[String, Double] = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    require(maxEpochs >= 1 && maxEpochs <= 100,
      s"maxEpochs must be in [1, 100], got $maxEpochs")
    val sorted = totals.toSeq
      .filter { case (s, t) => s != null && t > 0L }
      .map { case (s, t) => (s, t, maxEpochs.toLong * t) }
      .sortBy { case (s, _, c) => (c, s) }
    val n = sorted.size
    var cum = 0L
    var nCapped = 0
    sorted.zipWithIndex.foreach { case ((_, _, c), i) =>
      if (nCapped == i && c * (n - i) + cum <= budgetTokens) {
        nCapped = i + 1; cum += c
      }
    }
    val uncapped = n - nCapped
    sorted.zipWithIndex.map { case ((s, t, _), i) =>
      if (i < nCapped) s -> maxEpochs.toDouble
      else s -> (budgetTokens - cum).toDouble / uncapped.toDouble / t.toDouble
    }.toMap
  }

  /** [[repeatByWeight]] with the per-source epoch weights DERIVED by
    * [[unimaxWeights]] from one stats pass: budget =
    * `floor(budgetFraction · total corpus tokens)`, then the same
    * deterministic map-only copy expansion as the fixed-weight epoch
    * mixture. One tiny aggregate, zero corpus shuffle.
    */
  def mixByUnimax(id: Column, source: Column, tokens: Column,
      maxEpochs: Int, budgetFraction: Double)(df: DataFrame): DataFrame = {
    require(budgetFraction > 0, s"budgetFraction must be positive, got $budgetFraction")
    val totals = df.groupBy(source.as("__s")).agg(sum(tokens.cast("long")).as("__n"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    val totalTokens = totals.collect { case (s, t) if s != null && t > 0 => t }.sum
    if (totalTokens <= 0L) df.filter(lit(false)).select(
      id.as("doc_id"), source.as("part"), lit(1).as("copy"))
    else {
      val budget = math.floor(budgetFraction * totalTokens.toDouble).toLong
      repeatByWeight(id, source, unimaxWeights(totals, budget, maxEpochs))(df)
    }
  }

  /** Hex thresholds over the first 6 md5 digits for cumulative split
    * fractions — shared between [[assignSplit]] and its SQL oracle so both
    * engines route on identical literals.
    */
  def splitThresholds(fractions: Seq[Double]): Seq[String] = {
    require(fractions.nonEmpty && fractions.forall(_ > 0)
      && math.abs(fractions.sum - 1.0) < 1e-9,
      s"fractions must be positive and sum to 1, got $fractions")
    fractions.scanLeft(0.0)(_ + _).tail.dropRight(1)
      .map(f => f"${math.floor(f * 0x1000000).toLong}%06x")
  }

  /** Deterministic train/val/test split assignment: route each key into a
    * named bucket by comparing its md5 digest against cumulative hex
    * thresholds (first match wins, last name is the remainder). Like
    * [[deterministicSample]] this is reproducible across engines, runs and
    * retries — auditable dataset splits with no RNG state — and is a pure
    * map-only expression.
    */
  def assignSplit(key: Column, fractions: Seq[Double], names: Seq[String]): Column = {
    require(names.size == fractions.size, "one name per fraction")
    val digest = md5(key.cast("string"))
    splitThresholds(fractions).zip(names.init)
      .foldRight(lit(names.last): Column) { case ((t, n), acc) =>
        when(digest < t, lit(n)).otherwise(acc)
      }
  }

  /** Leakage-free TEMPORAL train/eval split with an embargo gap (the
    * forecasting-eval protocol: rows inside [cut, cut+gap) are dropped
    * from both sides so label windows straddling the cut cannot leak
    * future information into training). Cut = the `frac` quantile of the
    * time column, computed in-plan and broadcast as one scalar row;
    * labeling is map-only.
    *
    * The quantile is SCALE-CONDITIONAL IN CODE (r8 — previously a
    * comment-only instruction): up to `exactMaxRows` rows the exact
    * `percentile` aggregate runs (oracle-reproducible; its buffer holds
    * per-distinct-timestamp counts, safe at this size); above it the op
    * switches itself to `percentile_approx` (KLL-style sketch, bounded
    * memory, map-side mergeable) — so at 100 TB nothing has to remember
    * to flip a flag, and no single reducer ever buffers every distinct
    * timestamp. The row count driving the switch is parquet-metadata
    * cheap. The approx cut moves the boundary within the sketch's rank
    * error, which an embargo protocol tolerates by construction (the gap
    * dwarfs the rank error's time width).
    */
  def temporalSplitEmbargo(id: Column, tsUs: Column, frac: Double, gapUs: Long,
      exactMaxRows: Long = 10000000L)(df: DataFrame): DataFrame = {
    val ev = df.select(id, tsUs.as("ts_us"))
    val exact = df.count() <= exactMaxRows
    val cutAgg =
      if (exact) percentile(col("ts_us"), lit(frac))
      else percentile_approx(col("ts_us"), lit(frac), lit(10000))
    val cut = ev.agg(cutAgg.as("t_cut"))
    ev.crossJoin(broadcast(cut))
      .select(col(ev.columns.head),
        when(col("ts_us") < col("t_cut"), lit("train"))
          .when(col("ts_us") < col("t_cut") + lit(gapUs), lit("embargo"))
          .otherwise(lit("eval")).as("split"))
  }

  /** CCNet-style language-model buckets: split the corpus into
    * head / middle / tail TERTILES of the corpus-trained unigram-LM
    * score ([[unigramLogProb]]; higher mean log-prob = more fluent =
    * "head") — the split CCNet publishes per language shard and
    * downstream pipelines consume as "keep head+middle". Same two-pass
    * shape as [[qualityTiers]]: one scoring pass, one scalar-aggregate
    * threshold row broadcast back into it; the bucket rule compares the
    * ROUND-4 emitted score against interpolated exact percentiles, both
    * reproducible cross-engine (the o11/x18-proven parity).
    */
  def lmBuckets(id: Column, text: Column)(df: DataFrame): DataFrame = {
    // materialized once: unlike qualityTiers' row-local score, the LM
    // score is an explode+join+aggregate pipeline, and both the tertile
    // aggregate and the bucket pass consume it — 2 narrow columns, the
    // curriculumOrder localCheckpoint play (scoped cleanup reclaims it)
    val scored = unigramLogProb(id, text)(df)
      .select(col("doc_id"), col("avg_logp"))
      .localCheckpoint()
    val qs = scored.agg(
      percentile(col("avg_logp"), lit(1.0 / 3)).as("t1"),
      percentile(col("avg_logp"), lit(2.0 / 3)).as("t2"))
    scored.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("avg_logp"),
        when(col("avg_logp") >= col("t2"), lit("head"))
          .when(col("avg_logp") >= col("t1"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Repetition ratio — the classic "repeated n-gram fraction" quality
    * filter for training corpora (a high ratio flags boilerplate, keyword
    * stuffing, decoding loops): 1 - distinct_ngrams / total_ngrams over
    * `n`-token shingles. Built on the exploded codegen shingle path +
    * ONE keyed aggregate with map-side combine (count + count-distinct per
    * doc), so the corpus pass is generated code and the shuffle carries
    * per-doc partials — no per-row interpreted shingle arrays. Docs
    * shorter than `n` tokens have no shingles and emit no row.
    */
  def repetitionRatio(id: Column, text: Column, n: Int)(df: DataFrame): DataFrame =
    Texts.explodedShingles(df, id, text, n)
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        countDistinct(col("s")).as("n_distinct"))
      .withColumn("rep_ratio",
        lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams").cast("double"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"), col("rep_ratio"))

  /** Quality-TIER assignment — bucket the corpus into quartiles of the
    * quality score (the curation move behind "train on the top tier,
    * downsample the middle, drop the bottom"): tier 0 = below Q1 …
    * tier 3 = at/above Q3. Thresholds are computed in-plan (one
    * scalar-aggregate row broadcast into the scoring pass) so the whole
    * operator is two passes and zero driver round-trips.
    *
    * `approx = false` uses the exact `percentile` aggregate —
    * oracle-reproducible, but its buffer holds per-distinct-value counts
    * (fine into the millions of distinct scores). At the 100 TB point pass
    * `approx = true`: `percentile_approx` (KLL-style sketch, bounded
    * memory, mergeable map-side) — tier boundaries then carry the
    * sketch's rank-error tolerance, which curation thresholds accept.
    */
  def qualityTiers(id: Column, text: Column, approx: Boolean = false)(
      df: DataFrame): DataFrame = {
    // `scored` feeds BOTH the quantile aggregate and the tier projection;
    // left as a bare view the two consumers each re-scan and re-score the
    // corpus text (executed-plan audit: 2 documents scans per call). The
    // explicit doc_id exchange is one canonical subtree both branches
    // reuse (ReusedExchange), so the text pass runs once and what is
    // re-read is the 16-byte (doc_id, quality) rows — the r12 x2
    // shared-exchange play [guide §2.4].
    val scored = df.select(id.as("doc_id"), qualityExpr(text).as("quality"))
      .repartition(col("doc_id"))
    def pct(p: Double): Column =
      if (approx) percentile_approx(col("quality"), lit(p), lit(10000))
      else percentile(col("quality"), lit(p))
    val qs = scored.agg(pct(0.25).as("q1"), pct(0.5).as("q2"), pct(0.75).as("q3"))
    // quality is ROW-LOCAL mirrored arithmetic — emitted raw. Rounding a
    // bit-identical double can only LOSE equality: Spark rounds the exact
    // binary value (BigDecimal HALF_UP) while other engines scale-then-
    // round the double, and the two disagree on ties (observed at sf0.001:
    // 0.53375 → 0.5338 vs 0.5337). Round only aggregate outputs, where
    // addition order genuinely varies.
    scored.crossJoin(broadcast(qs))
      .select(col("doc_id"), col("quality"),
        when(col("quality") < col("q1"), lit(0))
          .when(col("quality") < col("q2"), lit(1))
          .when(col("quality") < col("q3"), lit(2))
          .otherwise(lit(3)).cast("int").as("tier"))
  }

  /** Corpus-trained unigram language-model score per document: the mean
    * token log-probability under an add-1-smoothed unigram model fitted on
    * the corpus itself — the cheap stand-in for the perplexity filter of
    * CCNet-style curation (docs far below the corpus-typical logprob are
    * junk; far above are boilerplate). Emits (doc_id, n_tokens, avg_logp)
    * with avg_logp rounded to 4 decimals (sum-of-doubles addition order is
    * engine/partitioning-dependent; rounding makes it hash-stable).
    * Rounding stability is MEASURED, not asserted: the minimum distance
    * of any unrounded score to a round-4 boundary is 1.7e-7 (sf0.001) /
    * 4.6e-8 (sf0.01) — ≥4 orders of magnitude above the ~1e-12
    * reassociation noise (RoundingMarginSpec re-measures and gates this).
    *
    * p(t) = (count(t) + 1) / (T + V)  — T total tokens, V vocab size.
    *
    * Scale: everything is AGGREGATED BEFORE it is joined — the Zipf rule.
    * The raw token stream collapses to (doc, term, tf) cells first, so
    * the term-keyed scoring join carries one row per distinct (doc, term)
    * — a hot term like "the" contributes its DOCUMENT frequency to its
    * shuffle partition, not its ~5%-of-corpus occurrence count (joining
    * the raw stream on term would put that 5% in one task). The per-doc
    * score is then the tf-weighted mean. Vocab-side counts reduce to one
    * row per term (AQE broadcasts the side when it fits); the corpus
    * constants (T, V) are a one-row aggregate broadcast into the plan.
    * Training and scoring in one query is the honest cold-cost benchmark;
    * a production pipeline persists the count table once per corpus.
    */
  def unigramLogProb(id: Column, text: Column)(df: DataFrame): DataFrame =
    unigramLogProbRaw(id, text)(df)
      .withColumn("avg_logp", round(col("avg_logp"), 4))

  /** Unrounded twin of [[unigramLogProb]] — same plan, `avg_logp` emitted
    * raw. Exists so RoundingMarginSpec can measure the distance of every
    * score to its round-4 boundary in-engine (the public op is the raw
    * pipeline plus one final `round` projection, so the margin measured
    * here is exactly the margin the public op's rounding enjoys).
    */
  private[graft] def unigramLogProbRaw(id: Column, text: Column)(df: DataFrame): DataFrame = {
    val tok = df.select(id.as("doc_id"), explode(Texts.tokens(text)).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val totals = counts.agg(sum(col("c")).cast("double").as("t_tokens"),
      count(lit(1)).cast("double").as("vocab"))
    tf.join(counts, "term")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf").cast("double")
            * log((col("c").cast("double") + lit(1.0))
              / (col("t_tokens") + col("vocab"))))
          / sum(col("tf")).cast("double")).as("avg_logp"))
  }

  /** DSIR-style importance score (the ranking key of importance
    * resampling for pretraining data selection): per document, the
    * tf-weighted mean log-ratio between a TARGET-domain unigram LM and
    * the corpus unigram LM, both add-1 smoothed over the shared corpus
    * vocabulary. Positive means "closer to the target domain than the
    * corpus average" — with only a small in-domain seed set (the rows
    * where `isTarget`), this tilts a whole-crawl corpus toward a quality
    * domain; selection is then a threshold, a top-fraction via
    * [[qualityTiers]]'s in-plan quantile play, or a Gumbel-top-k sample.
    *
    * Scale: the same shape as [[unigramLogProb]] — ONE tokenize pass
    * serves both LMs (the target flag rides the token stream; the
    * counts side folds it as a conditional sum), hot terms reach the
    * scoring join pre-aggregated at (doc, term) grain (a term in 5% of
    * the corpus costs one count row, never 5% of the stream in one
    * task), and the three corpus constants (T, T_target, V) broadcast
    * as a one-row aggregate.
    */
  def dsirScore(id: Column, text: Column, isTarget: Column)(df: DataFrame): DataFrame =
    dsirScoreRaw(id, text, isTarget)(df)
      .withColumn("dsir", round(col("dsir"), 4))

  /** Unrounded twin of [[dsirScore]] for RoundingMarginSpec (same plan,
    * `dsir` raw; measured round-4 boundary margin: 1.1e-7 at sf0.001,
    * 7.9e-8 at sf0.01 — ≥4 orders above the ~1e-12 reassociation noise).
    */
  private[graft] def dsirScoreRaw(id: Column, text: Column, isTarget: Column)(
      df: DataFrame): DataFrame = {
    val tok = df.select(id.as("doc_id"), isTarget.as("tgt"),
      explode(Texts.tokens(text)).as("term"))
    val tf = tok.groupBy(col("doc_id"), col("tgt"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val counts = tf.groupBy(col("term")).agg(
      sum(col("tf")).as("c"),
      sum(when(col("tgt"), col("tf")).otherwise(lit(0L))).as("ct"))
    val totals = counts.agg(
      sum(col("c")).cast("double").as("t_all"),
      sum(col("ct")).cast("double").as("t_tgt"),
      count(lit(1)).cast("double").as("vocab"))
    tf.join(counts, "term")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        (sum(col("tf").cast("double")
            * (log((col("ct").cast("double") + lit(1.0)) / (col("t_tgt") + col("vocab")))
              - log((col("c").cast("double") + lit(1.0)) / (col("t_all") + col("vocab")))))
          / sum(col("tf")).cast("double")).as("dsir"))
  }

  /** BPE merge-candidate mining — the counting pass of one
    * byte-pair-encoding training round: the `topN` most frequent adjacent
    * token pairs across the corpus (ties broken lexicographically, so the
    * result is deterministic). A real tokenizer trainer repeats this
    * count-merge loop; each round is exactly this shape.
    *
    * Scale: pair extraction is the codegen'd explode pipeline
    * ([[Texts.explodedShingles]] at n=2), counting is a hash-aggregate
    * with map-side combine, and topN is TakeOrdered — no global sort,
    * no window.
    */
  def mergeCandidates(id: Column, text: Column, topN: Int)(df: DataFrame): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    Texts.explodedShingles(df, id, text, 2)
      .groupBy(col("s").as("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topN)
  }

  /** BPE merge-table training (Sennrich et al. 2016): the corpus pass is
    * ONE distributed word-frequency aggregate — the classic algorithm then
    * iterates on that table alone, because pair statistics are a function
    * of (distinct word, count), not of the raw token stream. Distinct
    * words grow sublinearly with corpus size (Heaps' law), so the
    * driver-held table is vocab-bounded even at 100 TB; `maxVocabWords`
    * caps it deterministically (count desc, word asc) the way real
    * trainers cap rare-word tails. Each merge round counts adjacent-pair
    * frequencies over the table (weighted by word count), takes the most
    * frequent pair (ties broken lexicographically, so training is fully
    * deterministic), and rewrites the affected words.
    *
    * Same driver/executor split as the k-means trainer: the heavy scan is
    * distributed once; the model loop runs where the model lives.
    */
  def bpeTrain(text: Column, numMerges: Int, maxVocabWords: Int = 65536)(
      df: DataFrame): Seq[(String, String)] = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val wordCounts: Array[(Array[String], Long)] =
      df.select(explode(split(text, " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w"))
        .limit(maxVocabWords)
        .collect()
        // codepoint alphabet, matching BpeCodec.encodeWord: a char map
        // would split astral-plane symbols into lone surrogates and train
        // merges the encoder can never produce
        .map { r =>
          val word = r.getString(0)
          val parts = new Array[String](word.codePointCount(0, word.length))
          var i = 0
          var k = 0
          while (i < word.length) {
            val cp = word.codePointAt(i)
            parts(k) = new String(Character.toChars(cp))
            k += 1
            i += Character.charCount(cp)
          }
          (parts, r.getLong(1))
        }
    val words = wordCounts.map(_._1)
    val counts = wordCounts.map(_._2)
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val pairCounts = new java.util.HashMap[(String, String), Long]()
      var w = 0
      while (w < words.length) {
        val parts = words(w)
        var i = 0
        while (i < parts.length - 1) {
          pairCounts.merge((parts(i), parts(i + 1)), counts(w), _ + _)
          i += 1
        }
        w += 1
      }
      if (pairCounts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestCount = 0L
        pairCounts.forEach { (p, c) =>
          if (c > bestCount || (c == bestCount &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestCount = c
          }
        }
        merges += best
        val joined = best._1 + best._2
        w = 0
        while (w < words.length) {
          val parts = words(w)
          if (parts.length >= 2) {
            var hit = false
            var i = 0
            while (!hit && i < parts.length - 1) {
              hit = parts(i) == best._1 && parts(i + 1) == best._2
              i += 1
            }
            if (hit) {
              val out = Array.newBuilder[String]
              i = 0
              while (i < parts.length) {
                if (i < parts.length - 1 && parts(i) == best._1 && parts(i + 1) == best._2) {
                  out += joined; i += 2
                } else { out += parts(i); i += 1 }
              }
              words(w) = out.result()
            }
          }
          w += 1
        }
        round += 1
      }
    }
    merges.result()
  }

  /** PII redaction patterns (Java and RE2 compatible — no backreferences,
    * so the same literals run in Spark and the DuckDB oracle): each class
    * is replaced with a stable tag so downstream tokenization stays sane.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "https?://[^ ]+" -> "<URL>",
    "\\+?[0-9][0-9 -]{7,}[0-9]" -> "<PHONE>")

  /** Redact PII-shaped spans (emails, URLs, phone-number-shaped digit
    * runs) — the standard scrub pass before training-data release. A
    * chain of codegen'd `regexp_replace`, applied in [[piiPatterns]]
    * order (emails before phones, so a digit-bearing local part is
    * tagged as EMAIL, not half-eaten as PHONE). Map-only at any scale.
    */
  def redactPii(text: Column): Column =
    piiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Document fingerprints: full-text digest + first-`prefixTokens` prefix
    * digest (cheap clustering key for exact / prefix dedup).
    */
  def fingerprints(id: Column, text: Column, prefixTokens: Int)(df: DataFrame): DataFrame =
    df.select(
      id.as("doc_id"),
      md5(text).as("fp"),
      // array_join, NOT concat_ws: concat_ws coalesces a NULL token array
      // to '' and a contentless doc would alias the md5 of the EMPTY doc —
      // a false exact-dup; array_join propagates the NULL like fp does
      md5(array_join(slice(Texts.tokens(text), 1, prefixTokens), " ")).as("prefix_fp"))

  /** Rolling window fingerprints: one digest per `window`-token sliding
    * position — the chunk-level fingerprint set used for partial-overlap
    * detection (quotes, boilerplate, near-containment), where a whole-doc
    * digest only catches exact dups. Built on the HOF-free exploded
    * shingle path (codegen'd); digests are md5 so the oracle can mirror
    * them.
    */
  def rollingFingerprints(id: Column, text: Column, window: Int)(df: DataFrame): DataFrame = {
    val toks = df.select(id.as("doc_id"), split(text, " ").as("toks"))
      .filter(size(col("toks")) >= window)
    toks
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (window - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(concat_ws(" ", slice(col("toks"), col("pos"), lit(window)))).as("window_fp"))
  }

  /** Robust winnowing fingerprint selection (the MOSS algorithm): over the
    * doc's `k`-token rolling digest stream, slide a `w`-gram window and
    * keep each window's MINIMUM hash, rightmost occurrence on ties. The
    * guarantee [[rollingFingerprints]]' dense stream buys with n digests,
    * winnowing buys with ~2n/(w+1): any shared token run of length
    * ≥ w+k−1 still yields a shared selected fingerprint, and the selected
    * POSITIONS are stable under edits outside the window — the standard
    * sparse fingerprint set for partial-overlap indexes.
    *
    * Shape: one per-doc ordered ROWS frame (a window over the DOC axis —
    * parallel across docs, never a corpus-wide sort). The rightmost-min
    * tie rule rides the comparison key itself: `fp ‖ lpad(10^7−1−pos)`
    * orders ascending by hash then DESCENDING by position, so a single
    * `min` over the frame selects hash and position together — no second
    * join-back pass against the frame's members. Docs are capped at 10^7
    * k-grams by the pad width (far beyond any real document). A doc
    * shorter than one full window (`n_grams < w`) contributes its global
    * minimum (the start-position filter keeps exactly window start 1,
    * whose frame truncates at the doc end).
    */
  def winnowFingerprints(id: Column, text: Column, k: Int, w: Int)(df: DataFrame): DataFrame =
    winnowSelected(id, text, k, w)(df)
      .select(col("doc_id"),
        (lit(9999999) - substring(col("sel_key"), 33, 7).cast("int")).as("pos"),
        substring(col("sel_key"), 1, 32).as("fp"))
      .distinct()

  /** [[winnowFingerprints]] without positions: the distinct (doc, fp) SET
    * — what a partial-overlap index or dedup pass consumes. Dropping the
    * position before the distinct narrows the dedup exchange and merges
    * same-hash selections at different positions (one row, not several).
    */
  def winnowFpSets(id: Column, text: Column, k: Int, w: Int)(df: DataFrame): DataFrame =
    winnowSelected(id, text, k, w)(df)
      .select(col("doc_id"), substring(col("sel_key"), 1, 32).as("fp"))
      .distinct()

  /** Shared winnowing core: the per-window `sel_key` stream (hash ‖
    * inverted position), one row per window start, BEFORE dedup.
    */
  private def winnowSelected(id: Column, text: Column, k: Int, w: Int)(
      df: DataFrame): DataFrame = {
    require(w >= 1, s"winnow window must be >= 1, got $w")
    val toks = df.select(id.as("doc_id"), split(text, " ").as("toks"))
      .filter(size(col("toks")) >= k)
    val grams = toks
      .select(col("doc_id"), (size(col("toks")) - (k - 1)).as("n_grams"), col("toks"),
        explode(sequence(lit(1), size(col("toks")) - (k - 1))).as("pos"))
      .select(col("doc_id"), col("n_grams"), col("pos"),
        md5(concat_ws(" ", slice(col("toks"), col("pos"), lit(k)))).as("fp"))
    val frame = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1L)
    val key = concat(col("fp"),
      lpad((lit(9999999) - col("pos")).cast("string"), 7, "0"))
    grams
      .withColumn("sel_key", min(key).over(frame))
      .filter(col("pos") <= greatest(lit(1), col("n_grams") - (w - 1)))
  }

  /** Fractional EPOCH WEIGHTING — the other half of mixture construction
    * (where [[stratifiedSample]] down-samples, this UP-samples): a stratum
    * with weight 2.3 contributes every document twice, plus a
    * deterministic 30% of documents a third time. `floor(w)` copies
    * always, one more iff `md5(key || ":epoch")` falls under the
    * fractional threshold — salted so the extra-epoch choice is
    * independent of [[deterministicSample]]'s keep/drop on the same key.
    * Strata absent from `weights` get 0 copies (allowlist, like the
    * sampling mixture). Returns the copy COUNT; [[repeatByWeight]]
    * explodes it.
    */
  def epochsByWeight(key: Column, stratum: Column,
      weights: Map[String, Double]): Column = {
    require(weights.nonEmpty, "epochsByWeight requires at least one stratum weight")
    require(weights.values.forall(w => w >= 0 && w <= 100),
      s"weights must be in [0, 100], got $weights")
    val digest = md5(concat(key.cast("string"), lit(":epoch")))
    weights.toSeq.sortBy(_._1).foldLeft(lit(0): Column) { case (acc, (s, w)) =>
      val whole = math.floor(w).toInt
      val frac = w - whole
      val copies =
        if (frac < 1.0 / 0x1000000) lit(whole) // below md5-threshold resolution
        else when(digest < rateThresholdHex(frac), lit(whole + 1)).otherwise(lit(whole))
      when(stratum === s, copies).otherwise(acc)
    }
  }

  /** Materialized epoch repetition: one output row per (document, copy),
    * `copy` in 1..n. Map-only (the weights ship as literals, the explode
    * is a generated-code sequence) — no join against a weights table, no
    * shuffle; rows with 0 copies vanish. This is the operator that turns a
    * mixture SPEC into the physical training list.
    */
  def repeatByWeight(id: Column, stratum: Column,
      weights: Map[String, Double])(df: DataFrame): DataFrame = {
    val n = epochsByWeight(id, stratum, weights)
    df.select(id.as("doc_id"), stratum.as("part"), n.as("n_copies"))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("part"),
        explode(sequence(lit(1), col("n_copies"))).as("copy"))
  }

  /** SLIDING-WINDOW CHUNKING — the RAG-ingestion step (and the other half
    * of the chunking story next to [[packSequences]], which concatenates
    * ACROSS documents): split each document into overlapping token windows
    * of `size` tokens advancing by `stride` (< size ⇒ overlap preserves
    * context across boundaries). Chunk k covers tokens
    * `[k*stride, k*stride + size)`; the last chunk is the first one whose
    * window reaches the document's end (possibly shorter than `size`), so
    * every token is covered and no chunk is fully contained in its
    * predecessor. Emits (doc_id, chunk_idx, chunk_text, n_tokens).
    *
    * Map-only: token split, a generated-code `sequence` explode sized by
    * arithmetic (chunks per doc = 1 + ceil((n-size)/stride), never a scan),
    * and `slice`/`concat_ws` reassembly — no shuffle, no lambda HOFs, row
    * counts bounded by tokens/stride per document.
    */
  def chunkSliding(id: Column, text: Column, chunkTokens: Int, strideTokens: Int)(
      df: DataFrame): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(strideTokens > 0 && strideTokens <= chunkTokens,
      s"strideTokens must be in [1, chunkTokens], got $strideTokens")
    val toks = Texts.tokens(text)
    val n = size(col("t"))
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(lit(1) +
        floor((n - chunkTokens + strideTokens - 1) / lit(strideTokens)).cast("int"))
    df.select(id.as("doc_id"), toks.as("t"))
      .filter(size(col("t")) >= 1)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        concat_ws(" ",
          slice(col("t"), col("chunk_idx") * strideTokens + 1, lit(chunkTokens)))
          .as("chunk_text"),
        least(lit(chunkTokens), size(col("t")) - col("chunk_idx") * strideTokens)
          .cast("long").as("n_tokens"))
  }

  /** SEQUENCE PACKING — the concat-and-chunk layout GPT-style pretraining
    * uses: documents are laid out back-to-back into one token stream per
    * `part` (source, shard, ...), and each document's context-window bin is
    * `floor(start_offset / windowTokens)`. Emits (doc_id, part, n_tokens,
    * start_offset, bin) — the manifest a loader needs to materialize packed
    * examples without re-scanning text.
    *
    * Order within a part is md5-deterministic (the engine's reproducible
    * shuffle idiom — same layout across engines, runs and retries), so the
    * packing is an auditable function of the data alone.
    *
    * Scale: ONE window per part (running token total) — partitioned by
    * `part`, so parts pack in parallel and nothing global-sorts; this is
    * the one operator family where a window is the right tool, because a
    * running offset is inherently sequential within its stream. A skewed
    * giant part should be pre-split into shard parts by the caller (the
    * md5 order makes any sharding deterministic too).
    */
  def packSequences(id: Column, text: Column, part: Column, windowTokens: Int)(
      df: DataFrame): DataFrame = {
    require(windowTokens >= 1, s"windowTokens must be >= 1, got $windowTokens")
    val w = Window.partitionBy(col("part"))
      .orderBy(col("__ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(id.as("doc_id"), part.as("part"),
        size(Texts.tokens(text)).cast("long").as("n_tokens"),
        md5(id.cast("string")).as("__ord"))
      .withColumn("start_offset", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("part"), col("n_tokens"), col("start_offset"),
        floor(col("start_offset") / windowTokens).as("bin"))
  }

  /** Count-min sketch over the corpus token stream — the heavy-hitter index
    * artifact: built in one treeAggregate pass (`stat.countMinSketch`),
    * merged associatively across partitions, a few hundred KB on the
    * driver at eps 1e-4. Deterministic for a given seed.
    */
  def buildTokenCms(text: Column, eps: Double, confidence: Double)(
      df: DataFrame): org.apache.spark.util.sketch.CountMinSketch =
    df.select(explode(Texts.tokens(text)).as("token"))
      .stat.countMinSketch(col("token"), eps, confidence, 42)

  /** Exact heavy hitters (tokens with >= `threshold` occurrences) with a
    * count-min-sketch prefilter — sketch-prune-then-confirm, the same
    * pattern as [[Dedup.decontaminateBloom]]:
    *
    *  - the broadcast CMS is probed MAP-SIDE per occurrence, and CMS never
    *    underestimates, so every true heavy hitter survives the cut;
    *  - the exact `groupBy(token).count` then runs over surviving
    *    occurrences only, and its final `>= threshold` filter removes the
    *    sketch's (bounded, one-sided) false positives.
    *
    * The result is therefore EXACTLY the tokens with true count >=
    * `threshold` — oracle-checkable — while the groupBy shuffle carries
    * only candidate occurrences instead of the whole token stream. At
    * 100 TB that is the difference between shuffling every token of the
    * corpus and shuffling the heavy tail the query is actually about
    * (plus eps*N sketch noise). The long tail — the overwhelming majority
    * of a web corpus's vocabulary — dies in the map stage.
    */
  def heavyHitters(text: Column, threshold: Long,
      cms: org.apache.spark.util.sketch.CountMinSketch)(
      df: DataFrame): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    // native codegen probe (the Bloom might_contain play, CMS flavor):
    // the sketch ships once per stage with the broadcast task binary and
    // the filter stays inside whole-stage codegen — no per-row Scala UDF
    // boundary on a pass that touches EVERY token of the corpus
    df.select(explode(Texts.tokens(text)).as("token"))
      .filter(graft.functions.CmsEstimateCount(col("token"), cms) >= threshold)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= threshold)
  }

  /** Corpus-frequent block removal — the C4-style boilerplate cut, at block
    * rather than line granularity (the fixture's documents are single-line):
    * split each document into fixed `blockTokens`-token blocks (ragged
    * tail kept), drop every block whose text occurs in >= `minDocs`
    * DISTINCT documents (navigation chrome, license banners, template
    * fragments — content that survives document-level dedup because the
    * surrounding text differs), and reassemble the remaining blocks in
    * order. Emits (doc_id, clean_text); a fully-boilerplate document
    * keeps its row with an empty string, so the op is total.
    *
    * Scale: one shuffle of the block stream for the block-frequency
    * aggregate (map-side combine — a block in 10M docs contributes one row
    * per partition, not 10M), one broadcastable anti-join against the hot
    * set (hot blocks are few BY CONSTRUCTION — each must recur across
    * `minDocs` docs), and one shuffle back on doc_id to reassemble. The
    * per-doc reassembly is an `array_sort(collect_list(struct(idx, b)))`
    * aggregate, not a window — no per-doc sort pass over the corpus.
    */
  def removeBoilerplate(id: Column, text: Column, blockTokens: Int,
      minDocs: Int)(df: DataFrame): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val toks = df.select(id.as("doc_id"), Texts.tokens(text).as("t"))
    val nBlocks = ceil(size(col("t")).cast("double") / blockTokens).cast("int")
    val blocksArr = transform(sequence(lit(0), nBlocks - 1),
      i => array_join(slice(col("t"), i * blockTokens + 1, lit(blockTokens)), " "))
    val blocks = toks
      .select(col("doc_id"), posexplode(blocksArr))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "b")
    // countDistinct(doc_id) compiled to a two-exchange expand plan; since
    // every within-doc repeat of a block lives in the SAME row, an in-row
    // array_distinct before the explode makes (doc, block) unique at the
    // source, so the distinct-doc count is a plain map-side-combined
    // count(*) on ONE block-keyed exchange — and the exchange rows carry
    // no doc_id (r13)
    val hot = toks
      .select(explode(array_distinct(blocksArr)).as("b"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("b"))
    val clean = blocks.join(hot, Seq("b"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("b")))),
          x => x.getField("b")), " ").as("clean_text"))
    toks.select(col("doc_id"))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Corpus-trained bigram language model with stupid backoff — the
    * KenLM-shaped upgrade of [[unigramLogProb]] for perplexity-style
    * quality filtering: per document, the mean log-probability of its
    * token bigrams under counts trained on the `isTrain` slice of the
    * corpus. A seen bigram scores `count(prev,cur)/count(prev)` (raw
    * counts, the stupid-backoff definition — no discounting); an unseen
    * bigram backs off to `alpha * (count(cur)+1)/(T+V)`, the same add-1
    * unigram estimate as [[unigramLogProb]], so out-of-vocabulary tokens
    * stay finite. Training on a split (rather than the scored corpus
    * itself) is what makes backoff reachable: a self-trained bigram table
    * contains every scored bigram by construction.
    *
    * Docs with fewer than two tokens have no bigrams and are absent from
    * the result (same contract as the shingle ops at n=2).
    *
    * Scale: the raw bigram stream collapses to (doc, prev, cur, tf) cells
    * before any scoring join — a hot bigram carries its document
    * frequency, not its occurrence count, through the bigram-keyed
    * shuffle (the same cell trick as [[unigramLogProb]]). Count tables
    * reduce to one row per bigram/term with map-side combine, AQE
    * broadcasts them when they fit, and the corpus constants (T, V) are a
    * one-row broadcast aggregate. Training and scoring in one query is
    * the honest cold-cost benchmark; a production pipeline persists the
    * count tables once per corpus release.
    */
  def bigramLogProb(id: Column, text: Column, isTrain: Column,
      alpha: Double = 0.4)(df: DataFrame): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    val base = df.select(id.as("doc_id"), isTrain.as("is_train"),
      Texts.tokens(text).as("t"))
    val uni = base.filter(col("is_train"))
      .select(explode(col("t")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val totals = uni.agg(sum(col("c")).cast("double").as("t_tokens"),
      count(lit(1)).cast("double").as("vocab"))
    // adjacent pairs via explode over start positions + element_at — the
    // codegen bulk-path idiom of Texts.explodedShingles, kept inline so
    // prev/cur stay separate columns (the backoff needs count(cur) alone)
    val pairs = base.filter(size(col("t")) >= 2)
      .select(col("doc_id"), col("is_train"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"))
      .select(col("doc_id"), col("is_train"),
        element_at(col("t"), col("i")).as("prev"),
        element_at(col("t"), col("i") + 1).as("cur"))
    val cells = pairs.groupBy(col("doc_id"), col("prev"), col("cur"))
      .agg(count(lit(1)).as("tf"))
    val trainBig = pairs.filter(col("is_train"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
    val cPrev = uni.select(col("term").as("prev"), col("c").as("c_prev"))
    val cCur = uni.select(col("term").as("cur"), col("c").as("c_cur"))
    // cb non-null implies prev was seen in training, so c_prev is non-null
    // exactly when the seen branch is taken
    val p = when(col("cb").isNotNull,
        col("cb").cast("double") / col("c_prev").cast("double"))
      .otherwise(lit(alpha)
        * (coalesce(col("c_cur"), lit(0L)).cast("double") + lit(1.0))
        / (col("t_tokens") + col("vocab")))
    cells.join(trainBig, Seq("prev", "cur"), "left")
      .join(cPrev, Seq("prev"), "left")
      .join(cCur, Seq("cur"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        round(sum(col("tf").cast("double") * log(p))
          / sum(col("tf")).cast("double"), 4).as("avg_logp"))
  }

  /** Intra-document repeated-block trimming — the within-doc complement of
    * [[removeBoilerplate]] (which cuts blocks hot ACROSS documents): split
    * each document into fixed `blockTokens`-token blocks, keep only the
    * FIRST occurrence of each distinct block within the document, and
    * reassemble survivors in order. This is the cheap trim for the
    * crawler/template pathology [[repetitionRatio]] measures — a page whose
    * content loops (repeated nav chrome, copy-pasted paragraphs, generator
    * stutter) shrinks to one copy per distinct block. Total: every input
    * doc keeps a row.
    *
    * Scale: MAP-ONLY — the whole rule is a per-document function, so it
    * runs in-row: build the block array, `array_distinct` (which keeps
    * first occurrences in encounter order — exactly the min-position
    * survivor rule), reassemble. The r12 form exploded the corpus and
    * paid two full shuffles (a (doc_id, block) first-occurrence aggregate
    * and a doc_id reassembly) to compute what never needed to leave the
    * row (r13); the block-array `transform` was already on the row path,
    * so no new interpreted work is introduced. Zero exchanges, no
    * corpus-wide state, no window, no join.
    */
  def dedupBlocksWithinDoc(id: Column, text: Column, blockTokens: Int)(
      df: DataFrame): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    val toks = df.select(id.as("doc_id"), Texts.tokens(text).as("t"))
    val nBlocks = ceil(size(col("t")).cast("double") / blockTokens).cast("int")
    val blocksArr = transform(sequence(lit(0), nBlocks - 1),
      i => array_join(slice(col("t"), i * blockTokens + 1, lit(blockTokens)), " "))
    toks.select(col("doc_id"),
      array_join(array_distinct(blocksArr), " ").as("clean_text"))
  }

  /** Block-level content cleaning — the C4-style "no-stopword span" cut
    * at block granularity (C4 drops lines without common English words;
    * single-line corpora adapt the rule to fixed token blocks): split
    * each document into `blockTokens`-token blocks, KEEP only blocks
    * containing at least `minStopHits` stopword tokens (nav menus,
    * keyword lists and tag soups have none), reassemble survivors in
    * order. Complements [[dedupBlocksWithinDoc]] (which cuts REPEATED
    * blocks): same split, same reassembly, a content gate instead of a
    * first-occurrence rule. Docs with zero surviving blocks emit no row
    * (the page is the pathology).
    *
    * The block gate is [[Texts.stopwordCountPattern]] via `regexp_count`
    * — the codegen'd token-membership count (spec-proven equal to the
    * interpreted filter HOF). Per-doc work only: one (doc_id, block)
    * aggregate-free filter and one doc_id reassembly shuffle.
    */
  def cleanBlocks(id: Column, text: Column, blockTokens: Int,
      minStopHits: Int = 1)(df: DataFrame): DataFrame = {
    require(blockTokens >= 1, s"blockTokens must be >= 1, got $blockTokens")
    require(minStopHits >= 1, s"minStopHits must be >= 1, got $minStopHits")
    val toks = df.select(id.as("doc_id"), Texts.tokens(text).as("t"))
    val nBlocks = ceil(size(col("t")).cast("double") / blockTokens).cast("int")
    val blocks = toks
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nBlocks - 1),
          i => array_join(slice(col("t"), i * blockTokens + 1, lit(blockTokens)), " "))))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "b")
    blocks
      .filter(regexp_count(col("b"), lit(Texts.stopwordCountPattern)) >= minStopHits)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("b")))),
            x => x.getField("b")), " ").as("clean_text"))
  }

  /** Cross-document exact-substring deduplication — the ExactSubstr cut of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), at shingle granularity: any `spanTokens`-token
    * span occurring verbatim in two or more documents is removed from
    * every document EXCEPT its owner (the minimum doc_id containing it —
    * one copy of every duplicated span survives the corpus, so no text is
    * globally lost). Sliding spans (stride 1), unlike
    * [[removeBoilerplate]]'s fixed non-overlapping blocks, so a duplicated
    * passage is caught at ANY alignment; overlapping duplicated spans
    * merge through position-set union. Total: every input doc keeps a row
    * (possibly empty).
    *
    * Spans are keyed by their token STRING — exact string-equality
    * semantics, no collision caveat, and what the DuckDB oracle can
    * mirror. At 100 TB the same plan runs with `xxhash64(span)` as the
    * shuffle key (8 bytes instead of ~spanTokens words; 2^-64 collision
    * odds); nothing else changes.
    *
    * Scale: the span table is one hash aggregate (map-side combine) with
    * an ownership row per DISTINCT duplicated span; the occurrence-side
    * join is an equi-join against that (small, AQE-broadcastable) side —
    * a span hot in a million docs contributes one owner row, not a pair
    * blowup. Coverage explodes to spanTokens rows per CUT occurrence
    * (bounded by duplication volume, not corpus size), and reassembly is
    * per-doc aggregates only.
    */
  def dedupSpansAcrossDocs(id: Column, text: Column, spanTokens: Int)(
      df: DataFrame): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val toks = df.select(id.as("doc_id"), Texts.tokens(text).as("t"))
    val occ = toks.filter(size(col("t")) >= spanTokens)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - (spanTokens - 1))).as("i"),
        col("t"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("t"), col("i"), lit(spanTokens)), " ").as("sp"))
    // "occurs in >= 2 DISTINCT docs" is exactly min(doc_id) != max(doc_id)
    // (both ignore NULLs like countDistinct): one plain map-side-combined
    // aggregate on the span stream instead of the two-exchange expand
    // plan countDistinct compiles to — the span stream is this operator's
    // largest intermediate, so the saved exchange is the heaviest one (r13)
    val owners = occ.groupBy(col("sp"))
      .agg(min(col("doc_id")).as("owner"), max(col("doc_id")).as("mx"))
      .filter(col("mx") > col("owner"))
      .select(col("sp"), col("owner"))
    // positions covered by a duplicated span in a non-owner doc
    val cut = occ.join(owners, Seq("sp"))
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (spanTokens - 1))).as("pos"))
      .distinct()
    val allTok = toks
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("tok"))
    val clean = allTok.join(cut, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"))
    toks.select(col("doc_id"))
      .join(clean, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-source dataset report ("data card"): doc and token counts, token
    * length extremes, language breadth, and the exact-duplicate exposure
    * (docs whose full-text fingerprint appears more than once CORPUS-wide,
    * so cross-source duplication is charged to every source carrying it).
    *
    * Shape at scale: one map-only pass derives (source, lang, fp,
    * n_tokens); the fingerprint frequency table reuses the SAME
    * HashPartitioning(fp) exchange for its aggregate and the join back
    * (the aggregate-then-join play of [[graft.ops.Dedup.dupNgramStats]]);
    * the final source-keyed rollup rides map-side partial aggregation, so
    * the second shuffle carries |sources| rows per mapper. Nothing here
    * is corpus² and nothing collects to the driver.
    */
  /** Length-bucketed inference batching: deterministic `batch_id` such
    * that consecutive batches hold docs of similar token length (minimal
    * intra-batch padding waste), defined as
    * `batch_id = (global rank by (n_tokens, doc_id)) div batchSize`.
    *
    * The global rank is computed WITHOUT a single-reducer sort — the
    * anti-pattern a naive `row_number() OVER (ORDER BY ...)` plans. Range
    * repartition on the sort key gives disjoint ordered key ranges per
    * partition; an in-partition sort orders each range; a
    * |partitions|-sized count job (model-sized, like k-means centers)
    * prefix-sums the offsets on the driver; global rank = partition
    * offset + in-partition position, all derived from ONE materialized
    * shuffle (see [[globalIndex]]). The (n_tokens, doc_id) key is
    * unique, so the assignment is total and reproducible.
    */
  def lengthBatches(id: Column, text: Column, batchSize: Int)(
      df: DataFrame): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val withLen = df.select(id.as("doc_id"),
      size(Texts.tokens(text)).cast("long").as("n_tokens"))
    globalIndex(withLen, Seq(col("n_tokens"), col("doc_id")))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"gidx div $batchSize").as("batch_id"))
  }

  /** Adds a dense 0-based `gidx` column: each row's global rank in the
    * total order of `sortCols` (which must be unique across rows),
    * WITHOUT a single-reducer sort — the anti-pattern a naive
    * `row_number() OVER (ORDER BY ...)` plans. Range repartition on the
    * sort key gives disjoint ordered key ranges per partition; an
    * in-partition sort orders each range; a |partitions|-sized count job
    * (model-sized, like k-means centers) prefix-sums the offsets on the
    * driver; global rank = partition offset + in-partition position.
    *
    * Both the count job and the rank pass run over the SAME RDD
    * instance, so the range exchange's sampled bounds are materialized
    * exactly once and every downstream action reuses that one shuffle
    * output (Spark's RangePartitioner seeds its reservoir sample with
    * the RDD id — re-executing an unpersisted range exchange can derive
    * DIFFERENT bounds per action, which would let rows shift partitions
    * between the counts collect and the rank pass and silently break
    * the dense/total contract at scale).
    */
  private def globalIndex(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    // one RDD instance shared by the count job and the rank pass: the
    // shuffle map stage runs once; later jobs reuse its output
    val rdd = sorted.rdd
    val counts = spark.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
      var n = 0L; while (it.hasNext) { it.next(); n += 1 }; n
    })
    val offsets = counts.scanLeft(0L)(_ + _).init
    val indexed = rdd.mapPartitionsWithIndex({ (pid, it) =>
      var i = offsets(pid) - 1L
      it.map { r => i += 1L; Row.fromSeq(r.toSeq :+ i) }
    }, preservesPartitioning = true)
    spark.createDataFrame(indexed,
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("gidx",
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** The SCAN counterpart of [[globalIndex]]: adds a `prefix` column =
    * the sum of `__v` (a long column the caller must have added) over
    * all rows STRICTLY BEFORE this row in the total order of `sortCols`.
    * Same one-materialized-shuffle play: per-partition sums are a
    * |partitions|-sized collect, the scan pass reuses the same shuffle
    * output, so no single reducer ever sees the whole frame.
    */
  private def globalPrefixSum(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val vIdx = sorted.schema.fieldIndex("__v")
    val rdd = sorted.rdd
    val sums = spark.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
      var s = 0L; while (it.hasNext) { s += it.next().getLong(vIdx) }; s
    })
    val offsets = sums.scanLeft(0L)(_ + _).init
    val scanned = rdd.mapPartitionsWithIndex({ (pid, it) =>
      var acc = offsets(pid)
      it.map { r =>
        val out = Row.fromSeq(r.toSeq :+ acc); acc += r.getLong(vIdx); out
      }
    }, preservesPartitioning = true)
    spark.createDataFrame(scanned,
      org.apache.spark.sql.types.StructType(sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("prefix",
          org.apache.spark.sql.types.LongType, nullable = false)))
  }

  /** GPT-style concat-and-chunk packing — the standard pretraining
    * layout (concatenate the corpus in a deterministic document order,
    * cut every `seqLen` tokens): each document learns its global token
    * offset and emits one row per training sequence it overlaps, with
    * the in-doc token range that lands there. Long documents SPLIT
    * across sequence boundaries (the case [[packSequences]]' whole-doc
    * bins refuse); every token lands in exactly one sequence slot.
    *
    * The global token offset is a distributed PREFIX SUM
    * ([[globalPrefixSum]] — the scan twin of the range-partition rank
    * play), NOT `sum(n) OVER (ORDER BY ...)`, whose global window is a
    * single-reducer sort. The oracle states the window form; results
    * match, plans differ.
    */
  def concatChunks(id: Column, text: Column, seqLen: Int)(
      df: DataFrame): DataFrame =
    concatChunksOrdered(id, text, seqLen, identity)(df)

  /** [[concatChunks]] in the seeded TRAINING order instead of doc_id
    * order: the corpus is concatenated in [[seededShuffle]]'s
    * `md5(seed‖id)` permutation before cutting, so the emitted layout is
    * the one an epoch actually streams — reproducible across engines/
    * runs, a new seed is a fresh epoch layout. Same prefix-sum plan;
    * only the total order changes.
    */
  def concatChunksShuffled(id: Column, text: Column, seqLen: Int,
      seed: String)(df: DataFrame): DataFrame =
    concatChunksOrdered(id, text, seqLen,
      d => d.withColumn("__h",
        md5(concat(lit(seed + ":"), col("doc_id").cast("string")))))(
      df, Seq(col("__h"), col("doc_id")))

  private def concatChunksOrdered(id: Column, text: Column, seqLen: Int,
      key: DataFrame => DataFrame)(
      df: DataFrame,
      sortCols: Seq[Column] = Seq(col("doc_id"))): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val withLen = key(df.select(id.as("doc_id"),
        size(Texts.tokens(text)).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("__v", col("n_tokens")))
    val pre = globalPrefixSum(withLen, sortCols)
      .select(col("doc_id"), col("n_tokens"), col("prefix").as("off"))
    val L = lit(seqLen.toLong)
    pre
      .select(col("doc_id"), col("n_tokens"), col("off"),
        explode(sequence(expr(s"off div $seqLen"),
          expr(s"(off + n_tokens - 1) div $seqLen"))).as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        greatest(lit(0L), col("seq_id") * L - col("off")).as("doc_tok_start"),
        (least((col("seq_id") + 1) * L, col("off") + col("n_tokens"))
          - greatest(col("seq_id") * L, col("off"))).as("n_toks"))
  }

  /** Deterministic seeded global shuffle — the training-data ordering
    * op: every row gets a pseudo-random but fully reproducible position
    * in a total order keyed by `md5(seed || id)` (ties, i.e. md5
    * collisions, broken by id), plus a round-robin shard assignment
    * (`shard` = position mod nShards — shard sizes differ by at most
    * one) and the within-shard position. Same seed + same data → the
    * same order on any engine, any run, any retry; a new seed is a
    * fresh independent shuffle. No RNG state, no driver-side ordering:
    * the total order materializes via [[globalIndex]]'s range-partition
    * rank play, so no single task ever sees more than its key range.
    */
  def seededShuffle(id: Column, seed: String, nShards: Int)(
      df: DataFrame): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val keyed = df.select(id.as("doc_id"),
      md5(concat(lit(seed + ":"), id.cast("string"))).as("h"))
    globalIndex(keyed, Seq(col("h"), col("doc_id")))
      .select(col("doc_id"),
        col("gidx").as("shuffle_pos"),
        expr(s"gidx % $nShards").as("shard"),
        expr(s"gidx div $nShards").as("shard_pos"))
  }

  /** Curriculum ordering for training: documents sorted best-tier-first
    * (the corpus-relative quartile tiers of [[qualityTiers]]) with a
    * DETERMINISTIC seeded shuffle inside each tier, emitting each doc's
    * dense 0-based `position` in the training order — anneal-style
    * curricula (clean data early, noisy tail late) need exactly this
    * total order, and reproducibility across engines/runs/retries is the
    * same requirement [[seededShuffle]] solves for the unordered case.
    *
    * Scale shape: one quality pass + the scalar quartile broadcast (the
    * [[qualityTiers]] plan unchanged), then the [[globalIndex]]
    * range-partition rank play over (3 − tier, md5(seed‖id), id) — no
    * single-reducer sort, no RNG state; each task ranks only its
    * disjoint key range. The sort key embeds the seed-hash so intra-tier
    * order is an independent permutation per seed, while tier boundaries
    * stay fixed by the data.
    */
  def curriculumOrder(id: Column, text: Column, seed: String)(
      df: DataFrame): DataFrame = {
    // materialized before ranking: globalIndex necessarily executes its
    // input once for the range-bound sample and once for the shuffle map
    // stage, and the quality pipeline upstream (full-text scoring + the
    // quantile aggregate) is the expensive side — the keyed frame is 4
    // narrow columns, the x21b localCheckpoint play (measured 5.5 s →
    // ~2 s at sf1; scoped block cleanup reclaims it per query)
    val keyed = qualityTiers(id, text)(df)
      .select(col("doc_id"), col("tier"),
        (lit(3) - col("tier")).as("rev"),
        md5(concat(lit(seed + ":"), col("doc_id").cast("string"))).as("h"))
      .localCheckpoint()
    globalIndex(keyed, Seq(col("rev"), col("h"), col("doc_id")))
      .select(col("doc_id"), col("tier"), col("gidx").as("position"))
  }

  /** Source-interleaved training order: strict round-robin across
    * sources — every source's 0th document (in a seeded per-source
    * shuffle) comes before any source's 1st, and so on — the mixing
    * order that stops a sequential reader from seeing long single-source
    * runs even when sources differ wildly in size (the tail of the order
    * degrades to the surviving big sources once small ones exhaust).
    *
    * Scale shape: per-source rank WITHOUT `Window.partitionBy(source)` —
    * a hot source would funnel into one task there. Instead the global
    * (source, h, id) rank from [[globalIndex]]'s range-partition play,
    * minus each source's first global rank (a |sources|-row broadcast),
    * gives the per-source position; a second range-rank over
    * (source_pos, source, id) materializes the interleaved total order.
    * Both ranks are range-exchanges over the full key space — no
    * single-reducer stage, no per-source hot partition, deterministic
    * for a given seed.
    */
  def interleaveSources(id: Column, source: Column, seed: String)(
      df: DataFrame): DataFrame = {
    val keyed = df.select(id.as("doc_id"), source.as("source"),
      md5(concat(lit(seed + ":"), id.cast("string"))).as("h"))
    val g1 = globalIndex(keyed, Seq(col("source"), col("h"), col("doc_id")))
    val offsets = g1.groupBy(col("source")).agg(min(col("gidx")).as("off"))
    val ranked = g1.join(broadcast(offsets), "source")
      .select(col("doc_id"), col("source"),
        (col("gidx") - col("off")).as("source_pos"))
    globalIndex(ranked, Seq(col("source_pos"), col("source"), col("doc_id")))
      .select(col("doc_id"), col("source"), col("source_pos"),
        col("gidx").as("position"))
  }

  /** Per-source exact-k sample — fixed-SIZE per-stratum carving (each
    * source contributes exactly `k` docs, or all of them if smaller):
    * the eval/holdout shape where [[stratifiedSample]]'s rate routing
    * gives binomial sizes and [[fixedSample]]'s global k ignores strata.
    * Selection key is the seeded md5 order (engine/run/retry
    * reproducible, a new seed is a fresh independent draw).
    *
    * Scale: the per-source rank is [[interleaveSources]]' first half —
    * a global range-rank over (source, h, id) minus the source's first
    * rank (|sources|-row broadcast) — NOT `row_number() OVER (PARTITION
    * BY source)`, whose hottest source would funnel into one task. The
    * oracle states the window form; the plans differ, the results
    * match (asserted in TextAnalysisSpec's differential).
    */
  def samplePerSource(id: Column, source: Column, seed: String, k: Int)(
      df: DataFrame): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    perSourceRank(id, source, seed)(df).filter(col("source_pos") < k)
  }

  /** The seeded per-source dense rank behind [[samplePerSource]] (and the
    * first half of [[interleaveSources]]), exposed for pipelines that
    * need the rank for EVERY row — e.g. an eval/train split that carves
    * the first k per source and keeps the rest. Same scale posture: one
    * global range-rank + a |sources|-row broadcast, no per-source window.
    */
  def perSourceRank(id: Column, source: Column, seed: String)(
      df: DataFrame): DataFrame = {
    val keyed = df.select(id.as("doc_id"), source.as("source"),
      md5(concat(lit(seed + ":"), id.cast("string"))).as("h"))
    val g1 = globalIndex(keyed, Seq(col("source"), col("h"), col("doc_id")))
    val offsets = g1.groupBy(col("source")).agg(min(col("gidx")).as("off"))
    g1.join(broadcast(offsets), "source")
      .select(col("doc_id"), col("source"),
        (col("gidx") - col("off")).as("source_pos"))
  }

  def dataCard(source: Column, lang: Column, text: Column)(
      df: DataFrame): DataFrame = {
    val perDoc = df.select(source.as("source"), lang.as("lang"),
      md5(text).as("fp"),
      size(Texts.tokens(text)).cast("long").as("n_tokens"))
    val fpCounts = perDoc.groupBy(col("fp")).agg(count(lit(1)).as("fp_c"))
    perDoc.join(fpCounts, "fp")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("fp_c") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup_docs"))
  }
}
