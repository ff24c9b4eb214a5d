package graft

/** Dev-loop harness: time (and optionally explain) a subset of the query
  * catalog. Not part of the driver contract — `Bench` is the official
  * benchmark; this exists so a single query can be iterated on without
  * paying for the whole catalog.
  *
  * Usage: `sbt "runMain graft.DevBench [-explain] name1 name2 ..."`
  * (no names = all). Honors SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS.
  */
object DevBench {
  def main(args: Array[String]): Unit = {
    val explain = args.contains("-explain")
    val names = args.filterNot(_.startsWith("-"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Decoupled from the thread count for scale rehearsal: at sf10 a
    // 32-partition shuffle holds ~10x the per-partition bytes the configs
    // were sized for (spill-bound), while 128 THREADS on the same heap
    // OOMs — more partitions, same parallelism, is the cluster-correct
    // lever. The driver never sets this, so recorded benches use cpus.
    val shuffleParts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = Engine.local(cpus.toInt, shuffleParts.toInt)
    val sel = if (names.isEmpty) SparkEntry.queries
              else SparkEntry.queries.filter { case (n, _) => names.contains(n) }
    // -rN: run each query N times (first iteration carries janino-compile /
    // file-listing / AQE warmup; later iterations are the intrinsic time)
    val repeat = args.collectFirst { case a if a.matches("-r\\d+") => a.drop(2).toInt }
      .getOrElse(1)
    // -spill: per-query shuffle-spill telemetry from stage completions —
    // memory/disk bytes spilled and the heaviest single stage's execution
    // memory. This is the spill-pressure rehearsal's readout: which
    // operators fall back to UnsafeExternalSorter spill files when
    // (data × SF) outgrows the heap, and whether they stay ≤ linear when
    // they do. Index 2 is a MAX across stages (of the per-stage sum of
    // task peaks — the closest thing StageInfo exposes to concurrent
    // pressure), not a sum: summing per-task peaks across all stages of a
    // multi-stage query overstates memory pressure by the stage count.
    // -skew: after each query, report whether AQE's OptimizeSkewedJoin
    // split any partition in the EXECUTED plan (the "skew=true" join marks
    // and skewed AQEShuffleReads) — the readout for the hostile-data skew
    // rehearsal: does a Zipf-grade hot key actually trip the production
    // skew machinery at DEFAULT thresholds, and on which joins.
    // -finalplan: print each query's EXECUTED plan after it runs — the
    // AQE-final tree (ReusedExchange, AQEShuffleRead, runtime join
    // strategy), which the pre-execution explain("formatted") cannot show
    // (it prints isFinalPlan=false). The optimization loop's readout for
    // "did the duplicate exchanges actually reuse".
    if (args.contains("-finalplan")) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          println(s"----- executed plan -----\n${qe.executedPlan}")
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
      })
    }
    val skewPlans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // per-stage task-level shuffle-read sizes: max vs median is the raw
    // skew evidence (OptimizeSkewedJoin's own inputs are the compressed
    // per-partition map sizes, which these reads reflect), independent of
    // whether the 256 MB default threshold tripped
    val taskReads = new java.util.concurrent.ConcurrentHashMap[Int,
      java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    if (args.contains("-skew")) {
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
          val s = qe.executedPlan.toString
          if (s.contains("skew=true")) skewPlans.add(
            s.linesIterator.filter(l => l.contains("skew=true")
              || l.contains("AQEShuffleRead")).mkString("\n"))
        }
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
      })
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = e.taskMetrics
            if (m != null && m.shuffleReadMetrics != null) {
              val b = m.shuffleReadMetrics.totalBytesRead
              if (b > 0) taskReads.computeIfAbsent(e.stageId,
                _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]()).add(b)
            }
          }
        })
    }
    val spillStats = new java.util.concurrent.atomic.AtomicLongArray(3)
    if (args.contains("-spill")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val m = e.stageInfo.taskMetrics
            if (m != null) {
              spillStats.addAndGet(0, m.memoryBytesSpilled)
              spillStats.addAndGet(1, m.diskBytesSpilled)
              spillStats.accumulateAndGet(2, m.peakExecutionMemory, Math.max(_, _))
            }
          }
        })
    }
    sel.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (explain) {
        println(s"===== $name plan =====")
        fn(spark, sfDir).explain("formatted")
      }
      // -explain executes real jobs for iterative builders (build-time
      // checkpoints), and a prior query's stage events may still be in
      // flight: drain, then clear every telemetry buffer so it=1
      // measures only its own work. Same drain-before-reset discipline
      // as the per-iteration readout.
      if (args.contains("-spill") || args.contains("-skew")) {
        Thread.sleep(500)
        (0 until 3).foreach(spillStats.set(_, 0L))
        skewPlans.clear(); taskReads.clear()
      }
      // time construction + count together, like Bench: some operators
      // (iterative ones with checkpoints) do real work at build time.
      // -force: evaluate through the noop sink like Bench instead of
      // count() — count() lets Catalyst prune unreferenced Window/project
      // work entirely (o18 read 4.5 s and zero spill at sf30 under
      // count() while the forced plan is the actual heavy query), so
      // spill readouts MUST use -force to mean anything.
      val forceEval = args.contains("-force")
      for (it <- 1 to repeat) {
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val n = if (forceEval) {
          df.write.mode("overwrite").format("noop").save(); -1L
        } else df.count()
        val dt = (System.nanoTime() - t0) / 1e9
        val spill = if (args.contains("-spill")) {
          // listener events are async relative to job completion; the bus
          // drains in ms once the final stage lands — a short sleep is a
          // dev-probe-grade sync (and an undercount only hides spill).
          // Counters reset AFTER the drained read, never before a query:
          // resetting first let a prior query's late stage-completion
          // events land inside the NEXT query's window (an overcount).
          Thread.sleep(500)
          val line = f"  spill_mem_mb=${spillStats.get(0) / 1e6}%.0f " +
            f"spill_disk_mb=${spillStats.get(1) / 1e6}%.0f " +
            f"max_stage_peak_mb=${spillStats.get(2) / 1e6}%.0f"
          (0 until 3).foreach(spillStats.set(_, 0L))
          line
        } else ""
        println(f"[devbench] $name%-24s $dt%8.3f s  rows=$n  it=$it$spill")
        if (args.contains("-skew")) {
          Thread.sleep(500) // listeners are async; drain
          import scala.jdk.CollectionConverters._
          val hits = skewPlans.asScala.toSeq
          skewPlans.clear()
          if (hits.nonEmpty)
            println(s"[devbench] $name skew=true joins:\n${hits.mkString("\n---\n")}")
          else println(s"[devbench] $name skew=false")
          // top-3 most skewed stages by max/median shuffle-read bytes
          val stages = taskReads.asScala.toSeq.map { case (sid, q) =>
            val xs = q.asScala.toSeq.sorted
            (sid, xs.last, xs(xs.size / 2), xs.size)
          }.sortBy(-_._2)
          taskReads.clear()
          stages.take(3).foreach { case (sid, mx, med, n) =>
            println(f"[devbench] $name stage=$sid tasks=$n " +
              f"shuffle_read max=${mx / 1e6}%.1f MB median=${med / 1e6}%.1f MB " +
              f"ratio=${mx.toDouble / math.max(med, 1)}%.1f")
          }
        }
      }
    }
    spark.stop()
  }
}
