package graft

import org.apache.spark.sql.SparkSession

/** Inter-query block hygiene for the long-lived Bench/Verify sessions.
  *
  * Catalog entries leave `localCheckpoint`/persist blocks behind: those
  * only free when the DRIVER GCs the Dataset (ContextCleaner), so across
  * a 140+-query catalog they accumulate in the unified memory region and
  * starve execution memory for unrelated queries (measured in round 4:
  * a2_windowed_count 0.95 s isolated vs 37 s late in a full pass). Each
  * catalog entry is an independent job in production — its transient
  * blocks die with it there, and must here.
  *
  * The cleanup is SCOPED: only RDDs that became persistent during the
  * wrapped body are dropped. Round 5's blanket
  * `getPersistentRDDs.values.foreach(unpersist)` destroyed blocks other
  * components still owned — in particular memoized checkpointed
  * artifacts, which are unrecoverable once their blocks vanish (lineage
  * is truncated) — and silently broke every later consumer in the same
  * JVM. [[Artifact]]s now hold driver-side values only (rebuildable), but
  * the scoped discipline stays: housekeeping must never free what it did
  * not allocate.
  */
object Housekeeping {
  /** Run `body`, then unpersist exactly the RDDs that became persistent
    * during it. Returns `body`'s value; cleanup runs on failure too.
    */
  def scopedBlocks[T](spark: SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally spark.sparkContext.getPersistentRDDs.foreach {
      case (id, rdd) => if (!before.contains(id)) rdd.unpersist(blocking = false)
    }
  }
}
