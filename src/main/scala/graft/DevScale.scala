package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Graph}

/** Dev-only scale-rehearsal oracle for the SIZE-ADAPTIVE operators'
  * distributed twins (NOT part of the library surface). At every
  * driver-shipped SF the edge sets fit the driver regimes, so
  * `Dedup.canonicalize`'s pointer-doubling loop and
  * `Graph.pageRankDistributed` never carry a real catalog query; this
  * main forces each distributed path on DevSynth-scaled data and
  * oracle-checks it against the driver path on the SAME inputs (the two
  * regimes are specified to agree exactly — GraphSpec/DedupSpec pin that
  * on fixtures, this pins it at scale).
  *
  * Usage: `runMain graft.DevScale <bigSfDir> <midSfDir>`
  *  - canonicalize: near-dup pairs of <bigSfDir> documents, distributed
  *    (driverMaxEdges = 0) vs driver path — frames must match exactly.
  *  - pageRank: co-purchase edges of <midSfDir> (sized past the 4M
  *    default boundary but still driver-collectable), distributed vs
  *    driver — ranks must match within float tolerance, plus the mass
  *    and teleport-floor invariants on the distributed output.
  *
  * Prints one `[scale-check] name PASS/FAIL ...` line per check and
  * exits non-zero on any FAIL.
  */
object DevScale {
  def main(args: Array[String]): Unit = {
    val Array(bigDir, midDir) = args
    val spark = Engine.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, 32)
    var failed = false
    def report(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) failed = true
      println(s"[scale-check] $name ${if (ok) "PASS" else "FAIL"} $detail")
    }

    // ---- canonicalize: distributed pointer doubling == driver union-find
    {
      val d = Tables.documents(spark, bigDir)
      val ids = d.select(col("doc_id").as("id"))
      val pairs = Dedup.ngramJaccardPairs(col("doc_id"), col("text"), 3, 0.3,
        maxShingleDf = 1000L)(d).localCheckpoint()
      val nPairs = pairs.count()
      val driver = Dedup.canonicalize(ids, pairs)
      val dist = Dedup.canonicalize(ids, pairs, driverMaxEdges = 0L)
      val diff = driver.as("a")
        .join(dist.as("b"), col("a.id") === col("b.id"))
        .filter(col("a.canonical") =!= col("b.canonical"))
        .count()
      val nIds = ids.count()
      val nDist = dist.count()
      report("canonicalize_dist_vs_driver", diff == 0 && nDist == nIds,
        s"pairs=$nPairs ids=$nIds dist_rows=$nDist mismatches=$diff")
    }

    // ---- pageRank: distributed rounds == driver CSR on the same graph
    {
      val edges = ExtensionQueries.coPurchaseEdges(spark, midDir).localCheckpoint()
      val m = edges.count()
      val driver = Graph.pageRank(edges, iters = 8, driverMaxEdges = Long.MaxValue)
      val dist = Graph.pageRank(edges, iters = 8, driverMaxEdges = 0L)
      val joined = driver.select(col("id"), col("rank").as("ra"))
        .join(dist.select(col("id"), col("rank").as("rb")), Seq("id"), "full")
        .agg(count(lit(1)).as("n"),
          coalesce(max(abs(col("ra") - col("rb"))), lit(Double.MaxValue)).as("max_abs"),
          sum(when(col("ra").isNull || col("rb").isNull, 1L).otherwise(0L)).as("missing"))
        .head()
      val n = joined.getLong(0)
      val maxAbs = joined.getDouble(1)
      val missing = joined.getLong(2)
      report("pagerank_dist_vs_driver",
        missing == 0 && maxAbs < 1e-6,
        s"edges=$m nodes=$n max_abs_diff=$maxAbs missing=$missing")
      // invariants on the distributed output alone: total mass == |V|
      // (teleport + damping conserve it) and rank floor >= 1 - d
      val inv = dist.agg(sum(col("rank")).as("mass"), min(col("rank")).as("mn")).head()
      val mass = inv.getDouble(0)
      val mn = inv.getDouble(1)
      report("pagerank_dist_invariants",
        math.abs(mass - n) < 1e-4 * n && mn >= 0.1499999,
        f"mass=$mass%.6f n=$n min_rank=$mn%.6f")
    }

    spark.stop()
    if (failed) sys.exit(1)
  }
}
