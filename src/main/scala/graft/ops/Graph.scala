package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.Row

/** Iterative graph analytics over edge DataFrames — the second graph
  * operator family next to [[Dedup.canonicalize]]'s connected components.
  * PageRank is the canonical "driver-looped DataFrame iterations" shape:
  * per-iteration work is joins and aggregates Catalyst plans like any
  * other query; the driver only sequences rounds and holds scalars.
  *
  * Size-adaptive like [[Dedup.canonicalize]]: below `driverMaxEdges` the
  * edge list fits comfortably in driver memory and the power iteration
  * runs there over primitive arrays (collect once, no per-round job
  * scheduling); above it, the distributed loop runs. The distributed
  * shape is the one that must survive 100 TB: edges are cached as BARE
  * `(src, dst)` long pairs repartitioned by `src` — the contribution
  * weight `1/outdeg(src)` is folded in on the |V|-sized rank side at
  * join time, so the |E|-sized cache carries no per-edge weight column
  * (a third off its bytes/row; at sf30 the weighted cache was 17 GB and
  * thrashed a 16 GB heap into 662 GB of cumulative re-read spill).
  * Every round shuffles the |V|-sized `rank/outdeg` vector into the
  * stationary edge partitions (a SHUFFLE_HASH build against the
  * co-partitioned edge cache), and the only other per-round shuffle is
  * the |V|-sized contribution aggregate on `dst`.
  * `localCheckpoint` cuts lineage every round (same discipline as
  * the k-means and canonicalize loops). Dangling-node mass (rank on
  * nodes with no out-edges) is redistributed uniformly per the public
  * PageRank formulation; the dangling id set is static, computed once,
  * and its per-round aggregate is skipped when the set is empty (e.g. on
  * symmetrized co-occurrence graphs).
  */
object Graph {

  /** PageRank over a directed edge list (`src`, `dst` columns, integral
    * node ids), with the sum-preserving convention: ranks sum to |V|
    * every round (`rank = (1-d) + d * (inbound + danglingMass/|V|)`), so
    * an invariant checker needs no normalization pass. Returns
    * (`id` long, `rank` double).
    *
    * `broadcastMaxNodes` picks the distributed rank-join regime (see
    * [[pageRankDistributed]]). The default is 0 — the co-partitioned
    * SHUFFLE_HASH regime always — because the broadcast regime LOST the
    * A/B at both measured scales (BASELINE.md "Round 11: PageRank
    * regimes A/B at scale", idle local[32]: 18.1 s vs 12.6 s at 200k
    * nodes / 23.9M edges; 307 s vs 256 s at 2M nodes / 239M edges, 8
    * iterations each): a per-round broadcast
    * re-collects the |V|-sized rank vector to the driver and rebuilds
    * the hash table on every executor, while the shuffle regime pays one
    * partitioned |V| exchange and streams the stationary edge cache. On
    * a real cluster the gap widens — broadcast ships |V| × executors
    * bytes per round, the exchange ships |V| once. The parameter stays
    * so tests and probes can A/B the broadcast regime.
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      driverMaxEdges: Long = 4000000L,
      broadcastMaxNodes: Long = 0L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    // ONE probe job replaces the old persist → count → collect triple pass
    // (build + cache write + count + cache read + per-row Row boxing):
    // every partition ships its edges as primitive long arrays IFF it
    // holds at most ⌈driverMaxEdges / nParts⌉ of them, a bare count
    // otherwise — so the driver receives at most ~driverMaxEdges + nParts
    // edges even when the probe touches a billion-edge graph (pigeonhole:
    // a graph over the cap in total has at least one over-cap partition
    // once every partition is under the per-partition cap). The small
    // path (the common case — co-purchase graphs at bench SFs) therefore
    // pays exactly one pass over the edge pipeline; the big path pays the
    // probe as one extra |E| pass, noise against `iters` rounds of
    // |V|-sized exchanges, and re-persists in its own bare layout as
    // before.
    val probeRdd = e.rdd
    val nParts = math.max(1, probeRdd.getNumPartitions)
    val cap = driverMaxEdges / nParts + 1
    val chunks = probeRdd.mapPartitions { it =>
      val sb = Array.newBuilder[Long]
      val db = Array.newBuilder[Long]
      var n = 0L
      var over = false
      it.foreach { r =>
        n += 1
        if (!over) {
          if (n > cap) { over = true; sb.clear(); db.clear() }
          else { sb += r.getLong(0); db += r.getLong(1) }
        }
      }
      Iterator((n, if (over) null else (sb.result(), db.result())))
    }.collect()
    val m = chunks.map(_._1).sum
    if (m <= driverMaxEdges && chunks.forall(_._2 != null))
      pageRankDriver(spark, chunks.iterator.map(_._2), m.toInt, iters, damping)
    else {
      val ep = e.persist()
      try {
        // materialize before the verts union scans it twice (same
        // discipline as the old count-based path decision)
        ep.count()
        pageRankDistributed(ep, iters, damping, broadcastMaxNodes)
      } finally ep.unpersist()
    }
  }

  /** Driver path: one collect of the edge list as PRIMITIVE long arrays
    * (one pair of arrays per partition, assembled on the executors — no
    * boxed Row or tuple ever reaches the driver heap), then the
    * iteration over primitive arrays — the same "the model is small,
    * move it to the loop" play as the k-means/BPE trainers. At the
    * default `driverMaxEdges` (4M) the transfer is bounded at 64 MB of
    * longs — the round-5 version collected the same edges as
    * GenericRows (~50 B each, ~hundreds of MB + GC churn in a shared
    * session), which is the difference between a model-sized collect
    * and a driver-heap incident.
    */
  private def pageRankDriver(spark: SparkSession,
      chunks: Iterator[(Array[Long], Array[Long])], m: Int,
      iters: Int, d: Double): DataFrame = {
    // primitive open-addressing long→int interner: the boxed
    // HashMap[Long, Integer] form allocated a Long key box per probe
    // (2·|E| probes) — pure driver-side GC churn on the hot path
    var cap = java.lang.Integer.highestOneBit(math.max(16, m)) * 4
    if (cap <= 0) cap = 1 << 30
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val vals = new Array[Int](cap)
    val ids = Array.newBuilder[Long]
    var nIds = 0
    def intern(id: Long): Int = {
      // splitmix64 finalizer — full-width avalanche before the mask
      var z = id + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      var h = ((z ^ (z >>> 31)).toInt) & (cap - 1)
      while (used(h) && keys(h) != id) h = (h + 1) & (cap - 1)
      if (used(h)) vals(h)
      else {
        keys(h) = id; used(h) = true; vals(h) = nIds
        ids += id; nIds += 1; nIds - 1
      }
    }
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    var i = 0
    chunks.foreach { case (ss, ds) =>
      var j = 0
      while (j < ss.length) { src(i) = intern(ss(j)); dst(i) = intern(ds(j)); i += 1; j += 1 }
    }
    val nodeIds = ids.result()
    val n = nodeIds.length
    val deg = new Array[Double](n)
    i = 0; while (i < src.length) { deg(src(i)) += 1.0; i += 1 }
    var r = Array.fill(n)(1.0)
    var it = 0
    while (it < iters) {
      var dMass = 0.0
      var j = 0
      while (j < n) { if (deg(j) == 0.0) dMass += r(j); j += 1 }
      val acc = new Array[Double](n)
      i = 0; while (i < src.length) { acc(dst(i)) += r(src(i)) / deg(src(i)); i += 1 }
      val next = new Array[Double](n)
      j = 0
      while (j < n) { next(j) = (1.0 - d) + d * (acc(j) + dMass / n); j += 1 }
      r = next
      it += 1
    }
    val out = (0 until n).map(j => Row(nodeIds(j), r(j)))
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("rank", DoubleType, nullable = false))))
  }

  /** Distributed path. The rank-into-edges join has two regimes. The
    * DEFAULT (and the measured winner at every scale tried — see
    * [[pageRank]]) shuffles the |V|-sized `rank/outdeg` vector on `src`,
    * landing co-partitioned with the persisted bare `(src, dst)` edge
    * layout: a SHUFFLE_HASH build of the rank side, so the stationary
    * |E| side is neither re-shuffled nor re-sorted per round — the
    * billion-node path, exactly two |V|-sized exchanges per round
    * (rank-in on `src`, contribution aggregate out on `dst`). There is
    * NO round-closing node-table join: every node unions a zero
    * contribution carrying its static outdeg into the aggregate itself,
    * so no-inbound nodes surface with `sum(c) = 0` and the degree rides
    * back via `max(outdeg)` — all inside the one exchange the aggregate
    * already pays (a per-round join against the node table cost a third
    * |V| exchange, because a localCheckpoint under AQE reports unknown
    * partitioning and cannot promise co-partitioning to the join).
    * Dangling nodes are filtered OFF the rank-in exchange — they own no
    * edges, so shipping their rows into the edge partitions is pure
    * waste. Both explicit repartitions pin the partition COUNT to the
    * session shuffle partitions: a count-less `repartition(col)` is an
    * AQE coalesce candidate, and a round whose rank exchange coalesced
    * differently from the persisted edge layout would silently
    * re-shuffle the |E| side — the exact cost this layout exists to
    * avoid.
    *
    * At or below `broadcastMaxNodes` the rank vector instead broadcasts,
    * making each round map-side against the edge cache — kept as a
    * parameterized alternative for A/B probes.
    *
    * Dangling-node mass rides the SAME per-round job as an observed
    * metric (`Dataset.observe` on the rank scan that feeds the
    * contribution join), not a separate driver-collected aggregate:
    * ranks are materialized as a PARTIAL (`(1-d) + d·inbound`) plus a
    * driver-held scalar `uniform = d·dMass/|V|` that every node receives
    * identically; the next round adds the scalar back wherever a true
    * rank is needed (the contribution scan, the dangling observation,
    * and the final projection). One action — the eager localCheckpoint —
    * per iteration, for dangling and dangling-free graphs alike.
    */
  private def pageRankDistributed(e0: DataFrame, iters: Int, d: Double,
      broadcastMaxNodes: Long): DataFrame = {
    val nParts = e0.sparkSession.sessionState.conf.numShufflePartitions
    // ONE aggregation pass over both edge endpoints derives the whole
    // vertex table — node set AND out-degree (dangling = outdeg 0) —
    // instead of separate distinct/anti-join passes over the edge list
    val verts = e0.select(col("src").as("id"), lit(1L).as("out"))
      .union(e0.select(col("dst").as("id"), lit(0L).as("out")))
      .groupBy(col("id")).agg(sum(col("out")).as("outdeg")).persist()
    // every JOB runs inside the try (persist() calls above are lazy), so
    // a failure anywhere — including the first verts.count() — still
    // unpersists both frames instead of leaking blocks into the
    // long-lived session
    var e: DataFrame = null
    try {
      val n = verts.count()
      val small = n <= broadcastMaxNodes
      // the edge cache is bare (src, dst) longs — no weights join, no
      // per-edge double — sorted by src WITHIN each partition so the
      // columnar cache's run-length/delta encodings bite on the src
      // column (hash-arrival order leaves longs incompressible; one
      // build-time sort is paid once, the cache is re-read every round).
      // co-partitioning by src only matters in the shuffle regime — in
      // broadcast mode the per-round rank join is map-side, so forcing
      // an up-front |E| exchange would be waste
      val bare = e0.select(col("src"), col("dst"))
      e = (if (small) bare else bare.repartition(nParts, col("src")))
        .sortWithinPartitions(col("src")).persist()
      val hasDangling =
        verts.filter(col("outdeg") === 0L).limit(1).count() > 0
      // materialize the iteration cache NOW and release the caller's
      // probe cache of the raw edge list before the loop: otherwise two
      // |E|-sized caches coexist through every iteration, and on a heap
      // sized for one the block manager thrashes both (the sf30/16 GB
      // rehearsal measured 662 GB of cumulative eviction/re-read spill
      // with exactly that double residency)
      e.count()
      e0.unpersist()
      // ranks holds the PARTIAL rank; true rank = rank + uniform. It also
      // carries the static per-node outdeg, so each round is
      // self-contained — no per-round join against a separate node table
      // (which cost a third |V| exchange per round in the old shape)
      var ranks = verts.select(col("id"), lit(1.0).as("rank"), col("outdeg"))
        .localCheckpoint()
      var uniform = 0.0
      var it = 0
      while (it < iters) {
        // the dangling mass of the CURRENT ranks is observed on the same
        // scan the contribution join consumes — no second pass, no
        // separate job; the metric is read after the round's one action
        val obs = if (hasDangling)
          Some(org.apache.spark.sql.Observation(s"pr_dangling_$it")) else None
        val base = obs match {
          case Some(o) => ranks.observe(o,
            coalesce(sum(when(col("outdeg") === 0L, col("rank") + lit(uniform))),
              lit(0.0)).as("dmass"))
          case None => ranks
        }
        // the contribution weight folds in HERE, on the |V|-sized side:
        // rw = rank/outdeg is what each out-edge of the node carries.
        // Dangling nodes (outdeg 0) own no edges — filtering them off the
        // exchange ships fewer rows and keeps the division well-formed.
        val rankBySrc = base.filter(col("outdeg") > 0L)
          .select(col("id").as("src"),
            ((col("rank") + lit(uniform)) / col("outdeg")).as("rw"))
        val rankSide =
          if (small) broadcast(rankBySrc)
          // SHUFFLE_HASH: build the |V|-sized rank side per partition so
          // the co-partitioned cached edge side streams with no per-round
          // sort (SMJ would re-sort |E| every iteration)
          else rankBySrc.repartition(nParts, col("src")).hint("shuffle_hash")
        // the round closes INSIDE the contribution aggregate: instead of a
        // per-round node-table join (whose co-partitioning a checkpoint
        // cannot promise under AQE — the adaptive plan reports unknown
        // partitioning, so the join re-shuffled the |V| node side every
        // round), each node contributes a zero row carrying its outdeg.
        // sum(c) then yields the true inbound total (0 for no-inbound
        // nodes) and max(outdeg) recovers the static degree — both ride
        // the ONE aggregate exchange the round already pays, map-side
        // combined.
        val contrib = e.join(rankSide, "src")
          .select(col("dst").as("id"), col("rw").as("c"),
            lit(null).cast("long").as("outdeg"))
        val next = contrib
          .union(ranks.select(col("id"), lit(0.0).as("c"), col("outdeg")))
          .groupBy(col("id"))
          .agg(sum(col("c")).as("c"), max(col("outdeg")).as("outdeg"))
          .select(col("id"),
            (lit(1.0 - d) + lit(d) * col("c")).as("rank"), col("outdeg"))
          .localCheckpoint()
        ranks.unpersist()
        ranks = next
        uniform = obs.map(o =>
          d * o.get.apply("dmass").asInstanceOf[Double] / n).getOrElse(0.0)
        it += 1
      }
      ranks.select(col("id"), (col("rank") + lit(uniform)).as("rank"))
    } finally {
      if (e != null) e.unpersist()
      verts.unpersist()
    }
  }
}
