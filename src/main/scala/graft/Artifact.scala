package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** A value built once per sf dir and served to every later caller: the
  * catalog's "train once, serve many" artifacts (trained models, sketches,
  * driver-held eval sets, the near-dup pair parquet). Each artifact's own
  * benchmark entry (e.g. `x7_kmeans_train`) calls the operator directly
  * and pays the full build every time.
  *
  * Every builder is deterministic (seeded, fixed iteration counts, total
  * tie-breaks), so caching changes no result. Only rebuildable values are
  * held: driver-side models/arrays or a filesystem path, never a
  * checkpointed Dataset, whose blocks are lost for good once housekeeping
  * (Bench/Verify inter-query unpersist) drops them.
  *
  * The key is the sf dir alone: each JVM runs one session config. Each
  * instance owns its map, so a builder may read another artifact (one
  * shared map would throw `ConcurrentHashMap`'s "Recursive update"). A
  * build that throws leaves no entry, so the next call retries.
  */
private[graft] final class Artifact[T](val name: String)(
    build: (SparkSession, String) => T) {
  private val byDir = new ConcurrentHashMap[String, T]()
  /** Successful builds and calls. */
  val builds, reads = new AtomicInteger
  Artifact.registry.add(this)

  def apply(s: SparkSession, dir: String): T = {
    reads.incrementAndGet()
    byDir.computeIfAbsent(dir, _ => { val v = build(s, dir); builds.incrementAndGet(); v })
  }
}

private[graft] object Artifact {
  private val registry = new ConcurrentLinkedQueue[Artifact[_]]()

  def apply[T](name: String)(build: (SparkSession, String) => T): Artifact[T] =
    new Artifact(name)(build)

  /** `name builds=N reads=M` for every instance, in creation order. */
  def tallies: String = registry.asScala
    .map(a => s"${a.name} builds=${a.builds.get} reads=${a.reads.get}").mkString(", ")
}
