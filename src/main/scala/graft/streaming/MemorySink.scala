package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

/** The queryable in-memory sink every streaming `start` runs into
  * (`queryName` becomes a temp view) — the test/demo harness; a
  * deployment points `writeStream` at its delivery sink instead.
  *
  * Spark's memory sink refuses to recover from an existing checkpoint
  * in Append and Update mode ("This query does not support recovering
  * from checkpoint location"), so a checkpoint serves ONE run: a
  * restart needs a fresh checkpoint, and a stream that must resume runs
  * its operator into a recoverable sink (parquet, foreachBatch). */
object MemorySink {
  def start(stream: DataFrame, queryName: String, checkpoint: String,
            mode: OutputMode = OutputMode.Append()): StreamingQuery =
    stream.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .option("checkpointLocation", checkpoint)
      .start()
}
