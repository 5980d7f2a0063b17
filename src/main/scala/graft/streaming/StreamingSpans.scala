package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming duplicated-window detection — the online form of the
  * round-6 span family (`dedup_spans`/`dedup_scrub`): as documents
  * stream in, every overlapping SPAN_K-token window whose content was
  * FIRST seen in an earlier document is emitted as a marked (doc, p)
  * position — exactly the covered-window input the keep-first scrub
  * policy consumes, so a downstream excision keeps one copy of each
  * duplicated region in its earliest document.
  *
  * Design for an unbounded feed (the StreamingDedup contract): state is
  * one tiny record per window hash (the first doc that carried it),
  * keyed by the same 60-bit window hash the batch operator computes
  * ([[graft.extensions.DedupQueries.spanWindowRows]] — shared
  * expressions, so streaming marks ≡ batch marks bit-for-bit for
  * in-order streams, StreamingSpansSpec). An event-time timeout evicts
  * hashes not seen within the watermark horizon — state is bounded by
  * the horizon's distinct windows, not the corpus; cross-horizon
  * duplicates are the batch pass's job (the standard streaming/batch
  * split, same as StreamingDedup).
  */
object StreamingSpans {

  /** One hashed window from the stream (`h` = the 60-bit md5-prefix
    * window hash, [[graft.extensions.DedupQueries.spanWindowRows]]). */
  case class SpanWin(doc_id: Long, p: Long, h: Long, ingest_ts: java.sql.Timestamp)

  /** Per-hash state: the first document that carried this content. */
  case class WinState(firstDoc: Long)

  /** A window in a LATER copy of duplicated content — a scrub target. */
  case class Marked(doc_id: Long, p: Long, h: Long)

  /** Marked-window stream over a parquet document feed
    * ([[StreamingDedup.schema]]: doc_id, text, ingest_ts). */
  def markedWindows(spark: SparkSession, dir: String,
                    watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    graft.extensions.DedupQueries.spanWindowRows(
      spark.readStream.schema(StreamingDedup.schema).parquet(dir)
        .withWatermark("ingest_ts", watermark),
      carry = Seq("ingest_ts"))
      .as[SpanWin]
      .groupByKey(_.h)
      .flatMapGroupsWithState[WinState, Marked](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (h: Long, batch: Iterator[SpanWin], state: GroupState[WinState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // doc order within the batch = keep-first within the batch
            // (for in-order streams doc order IS arrival order)
            val rows = batch.toSeq.sortBy(r => (r.doc_id, r.p))
            val first = state.getOption.map(_.firstDoc).getOrElse(rows.head.doc_id)
            state.update(WinState(first))
            state.setTimeoutTimestamp(rows.map(_.ingest_ts.getTime).max, watermark)
            rows.filter(_.doc_id != first).map(r => Marked(r.doc_id, r.p, r.h)).iterator
          }
      }
      .toDF()
  }

  /** Run the marked-window stream into a queryable in-memory sink. */
  def start(spark: SparkSession, dir: String, queryName: String,
            checkpoint: String, watermark: String = "1 hour"): StreamingQuery =
    MemorySink.start(markedWindows(spark, dir, watermark), queryName, checkpoint)
}
