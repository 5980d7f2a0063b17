package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Streaming exact deduplication over a continuously-ingested document
  * corpus — the streaming form of the X1 batch operator
  * (SURVEY.md §2.3): first occurrence of a content hash passes, later
  * copies are dropped.
  *
  * The state-store design is the whole point at scale: a plain
  * `dropDuplicates` on an unbounded stream keeps every hash ever seen —
  * state grows with the corpus and the job eventually dies. Pairing an
  * event-time watermark with `dropDuplicatesWithinWatermark` bounds the
  * state to the watermark horizon, which is the only shape that
  * survives a continuous multi-TB/day feed (cross-horizon duplicates
  * are then the batch operator's job, e.g. a daily `dedup_exact` pass —
  * the standard streaming/batch split for this pipeline).
  */
object StreamingDedup {

  /** Ingest schema: a document plus its ingest event time. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ingest_ts", TimestampType)))

  /** Watermarked first-occurrence stream: one row per distinct content
    * hash within the watermark horizon. Map-side hash + one keyed
    * state-store lookup per row; no shuffle beyond the state-store
    * partitioning. */
  def dedupedDocs(spark: SparkSession, dir: String, watermark: String = "1 hour"): DataFrame =
    spark.readStream.schema(schema).parquet(dir)
      .withColumn("content_hash", sha2(col("text"), 256))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Run into a queryable in-memory sink. */
  def start(spark: SparkSession, dir: String, queryName: String, checkpoint: String,
            watermark: String = "1 hour"): StreamingQuery =
    MemorySink.start(dedupedDocs(spark, dir, watermark), queryName, checkpoint)
}
