package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series regularization over event streams: resample each key onto a
  * fixed grid and carry the last observation forward — the step that turns
  * irregular event data into model-ready regular series (and the batch
  * fixpoint of [[graft.streaming.Stateful.resampleTicks]], which emits each
  * cell once the watermark closes it).
  *
  * Scale shape: per-key grid bounds come from one hash aggregate; the grid
  * itself is `explode(sequence(...))` — rows bounded by `range / step` per
  * key, never by event count; the last-per-bucket reduction is an
  * aggregate (map-side combined, no window over raw events); the
  * forward-fill is ONE window partitioned by key — parallel across keys,
  * sequential only within a key's grid, which is the minimal sequential
  * structure the semantics allow.
  */
object Timeseries {

  /** Resample `(key, tsUs, value)` onto a `stepUs`-aligned grid from each
    * key's first observation (aligned down — so the first grid cell always
    * holds a value and the fill is total) to its last, forward-filling
    * gaps with the latest value. Among same-bucket ties the
    * lexicographically greatest `(tsUs, value)` wins — deterministic
    * across engines, runs and partitionings.
    */
  def resampleFfill(key: Column, tsUs: Column, value: Column, stepUs: Long)(
      df: DataFrame): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    val base = df.select(key.as("k"), tsUs.as("us"), value.as("v"))
    val grid = base.groupBy(col("k"))
      .agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      .select(col("k"),
        explode(sequence(
          col("mn") - pmod(col("mn"), lit(stepUs)),
          col("mx"), lit(stepUs))).as("grid_us"))
    val lastPerBucket = base
      .withColumn("bucket", col("us") - pmod(col("us"), lit(stepUs)))
      .groupBy(col("k"), col("bucket"))
      .agg(max(struct(col("us"), col("v"))).as("tv"))
      .select(col("k").as("ok"), col("bucket"), col("tv.v").as("bv"))
    val w = Window.partitionBy(col("k")).orderBy(col("grid_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lastPerBucket,
        col("k") === col("ok") && col("grid_us") === col("bucket"), "left")
      .select(col("k"), col("grid_us"), last(col("bv"), ignoreNulls = true).over(w).as("v"))
  }
}
