package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Meas

/** Continuous queries — the reference's subscription surface
  * [U: engines/engine.cpp — Engine::subscribe; network/libserver]
  * (SURVEY.md §2.1 O10), rebuilt on Structured Streaming.
  *
  * Semantics parity: a subscription is a standing filter (ids + flag)
  * over the append stream — at-least-once delivery of matching
  * measurements, no event-time windowing (the reference has none; its
  * out-of-order handling lives in storage merge, not the subscription).
  *
  * Scale: the filter is a stateless map-side predicate — a subscription
  * adds zero shuffle and zero state store. File-source used here because
  * the container has no Kafka jars; the plan is source-agnostic.
  */
object Subscribe {

  private def flagPred(flag: Long) = graft.core.Flags.matches(col("flag"), flag)

  /** The subscription plan: a streaming Meas source filtered to the
    * subscribed ids/flag — the SINGLE definition of the standing-filter
    * semantics (the engine facade delegates here). `dir` holds appended
    * Meas-schema parquet, either flat or day-partitioned (set
    * `dayPartitioned` for the clustered store layout). */
  def subscribe(spark: SparkSession, dir: String, ids: Seq[Long], flag: Long,
      dayPartitioned: Boolean = false): DataFrame = {
    val src =
      if (dayPartitioned)
        spark.readStream.schema(Meas.schema)
          .option("basePath", dir).parquet(s"$dir/day=*").drop("day")
      else spark.readStream.schema(Meas.schema).parquet(dir)
    val idPred = if (ids.isEmpty) lit(true) else col("id").isin(ids: _*)
    src.filter(idPred && flagPred(flag))
  }

  /** Start a subscription into an in-memory sink (`queryName` becomes a
    * queryable temp view) — the test/demo harness for callbacks; a real
    * deployment would point writeStream at its delivery sink. */
  def start(spark: SparkSession, dir: String, ids: Seq[Long], flag: Long,
      queryName: String, checkpoint: String, dayPartitioned: Boolean = false): StreamingQuery =
    MemorySink.start(subscribe(spark, dir, ids, flag, dayPartitioned), queryName, checkpoint)

  /** Windowed downsampling over the live stream — watermarked tumbling
    * aggregation (beyond-reference capability; the batch analog is the
    * `downsample` query). */
  def downsampleStream(spark: SparkSession, dir: String, bucket: String = "1 hour"): DataFrame =
    spark.readStream.schema(Meas.schema).parquet(dir)
      .withWatermark("time", "1 hour")
      .groupBy(col("id"), window(col("time"), bucket).as("w"))
      .agg(count(lit(1)).as("cnt"), avg("value").as("avg_value"))
      .select(col("id"), col("w.start").as("bucket"), col("cnt"), col("avg_value"))

  /** Live OHLC bars — the streaming form of the batch `series_bars`
    * query, same semantics: open/close are argmin/argmax of the
    * (time, seq) order within the bucket (seq = the store's freshness
    * rule for equal timestamps). Watermarked tumbling window, so state
    * is one partial bar per (id, open bucket) and a bar emits exactly
    * once when the watermark passes its window end (append mode). */
  def barsStream(spark: SparkSession, dir: String, bucket: String = "1 hour",
                 lateness: String = "1 hour"): DataFrame =
    spark.readStream.schema(Meas.schema).parquet(dir)
      .withWatermark("time", lateness)
      .groupBy(col("id"), window(col("time"), bucket).as("w"))
      .agg(
        min_by(col("value"), struct(col("time"), col("seq"))).as("open"),
        max_by(col("value"), struct(col("time"), col("seq"))).as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        count(lit(1)).as("cnt"))
      .select(col("id"), col("w.start").as("bucket"),
        col("open"), col("close"), col("high"), col("low"), col("cnt"))
}
