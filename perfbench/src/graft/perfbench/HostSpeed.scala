package graft.perfbench

import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Host speed probe.
  *
  * The benchmark runs on a share of a host whose speed drifts by a quarter
  * and more over minutes as other tenants load it: the same instructions
  * then take longer, CPU time included, so no statistic over one run can
  * hide it. The probe times a fixed piece of plain JVM work (a xorshift
  * fill, a sort, boxed hash-map counting) on every core at once, between
  * queries and between stream phases. It touches no library or Spark code,
  * so no change to the program under test moves it.
  *
  * Probes run only while the program under test is idle (between the
  * entries of the warm passes, after each warm drain of the stream and
  * after its live phase), so its own load does not slow them; none runs
  * in the cold part of a run, where the JIT compilers still work through
  * the program's code.
  *
  * End-to-end times are reported at reference speed: the raw time times
  * [[HostSpeed.ReferenceMs]] divided by the median probe time of the run.
  * One figure per run: a handful of probes reads the host's speed of the
  * moment too noisily to correct one phase by.
  */
final class HostSpeed(cores: Int) {
  private val pool = Executors.newFixedThreadPool(cores, (r: Runnable) => {
    val t = new Thread(r, "perfbench-probe")
    t.setDaemon(true)
    t
  })
  private val samplesMs = mutable.ArrayBuffer.empty[Double]
  @volatile private var sink = 0L

  /** One probe on every core at once; returns its wall milliseconds. */
  private def once(): Double = {
    val tasks = (0 until cores).map(i => (() => HostSpeed.kernel(i + 1L)): Callable[Long])
    val t0 = System.nanoTime()
    val sum = pool.invokeAll(tasks.asJava).asScala.map(_.get).sum
    val ms = (System.nanoTime() - t0) / 1e6
    sink += sum
    ms
  }

  /** Untimed probes, so the kernel is compiled before it is timed. */
  def warm(): Unit = (0 until HostSpeed.WarmupProbes).foreach(_ => once())

  /** `reps` timed probes; returns the wall milliseconds they took, which
    * callers keep out of the times they measure.
    */
  def probe(reps: Int = 1): Double = {
    val t0 = System.nanoTime()
    (0 until reps).foreach(_ => samplesMs += once())
    (System.nanoTime() - t0) / 1e6
  }

  def medianMs: Double = Stats.median(samplesMs.toSeq)
  def samples: Int = samplesMs.size

  /** Multiplier that brings a time measured in this run to reference speed. */
  def factor: Double = HostSpeed.ReferenceMs / medianMs

  def close(): Unit = {
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object HostSpeed {
  /** Median probe time on the reference host (4 vCPUs of a shared Xeon
    * host, 4 probe threads, calm). Changing it rescales every reported
    * time; it is fixed so that results of different commits compare.
    */
  val ReferenceMs = 8.0
  val WarmupProbes = 50

  private def kernel(seed: Long): Long = {
    val n = 1 << 15
    val a = new Array[Long](n)
    var x = seed * 0x9E3779B97F4A7C15L | 1L
    var i = 0
    while (i < n) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x
      i += 1
    }
    java.util.Arrays.sort(a)
    val counts = new java.util.HashMap[java.lang.Long, Integer]()
    val add: java.util.function.BiFunction[Integer, Integer, Integer] = (p, q) => p + q
    i = 0
    while (i < n) {
      counts.merge(a(i) & 2047L, 1, add)
      i += 1
    }
    counts.size.toLong + a(n / 2)
  }
}
