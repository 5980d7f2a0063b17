package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.extensions.{CorpusIndex, CorpusMeta}

/** Online corpus admission, written once for every modality: as items
  * stream in, each one gets a verdict THE MOMENT IT ARRIVES —
  * a map-side drop (`pre`), `exact_dup`, `near_dup` or `kept` —
  * judged against the certified [[CorpusIndex]] of the corpus already
  * owned. [[StreamingClean]] (text against the TextIndex) and
  * [[StreamingEmbed]] (embeddings against the AnnIndex) supply only what
  * differs: the ingest schema, the id and payload columns, the content
  * hash, the map-side pre-verdict, the near-dup marker leg and its
  * reference frames.
  *
  * Stage semantics (batch-pipeline precedence, survivors-only):
  *   - `pre` — stateless map-side stages. An item dropped here never
  *     reaches the dedup stages: it does not reserve its content hash.
  *   - `exact_dup` — the first occurrence of a content hash within the
  *     watermark horizon passes, in (ingest_ts, id) order; later copies
  *     are dropped. State is one record per hash, evicted by event-time
  *     timeout: bounded by the horizon's distinct items, not the corpus
  *     ([[StreamingDedup]]'s contract; cross-horizon duplicates are the
  *     batch pass's job).
  *   - `near_dup` — the modality's marker leg flags a survivor that
  *     matches something the index covers. The static side is a
  *     bounded banding join — never a broadcast of the corpus, never
  *     driver state.
  *
  * One stateful operator suffices: the marker leg and the data leg are
  * stateless derivations of the SAME source micro-batch, so an item's
  * data row and its marker rows land in the same stateful group
  * invocation (markers carry their item's hash). For in-order streams the emitted verdicts equal
  * [[batchVerdicts]] row for row (StreamingCleanSpec, StreamingEmbedSpec).
  *
  * `R` is what the marker leg verifies against beyond the index: the
  * owned embeddings for vectors (the AnnIndex stores codes only), nothing
  * (`Unit`) for text (the TextIndex stores the signatures it verifies).
  */
abstract class Admission[M <: CorpusMeta, R](val index: CorpusIndex[M]) {
  import Admission._

  /** Ingest schema: id, payload, what the pre-verdict reads, `ingest_ts`. */
  val schema: StructType
  protected val idCol: String
  protected val payloadCol: String
  /** The exact-dup state key: a 256-bit hash of the payload (a 64-bit key
    * has ~n²/2⁶⁵ birthday odds of rejecting a novel item at 10⁹-scale
    * horizons). */
  protected def contentHash: Column
  /** The frame with `pre`: the first failing map-side stage, or "". */
  protected def withPre(df: DataFrame): DataFrame
  /** The reference frames of the index's current generation. */
  protected def referenceFrames(spark: SparkSession, indexDir: String, m: M): Seq[DataFrame]
  /** The same frames for an admitted delta only: what a re-derive over
    * the grown index would add, bit for bit. */
  protected def deltaFrames(spark: SparkSession, kept: DataFrame, m: M): Seq[DataFrame]
  /** (id, content_hash, ingest_ts) of the survivors that match the
    * reference; a survivor may appear more than once. */
  protected def markers(spark: SparkSession, surv: DataFrame, reference: Seq[DataFrame],
                        m: M, owned: R): DataFrame
  /** The verification side of the owned corpus at `ownedDir`. */
  protected def ownedSide(spark: SparkSession, ownedDir: String): R
  /** The default verification side of the verdict forms. */
  protected def noOwned: R

  /** `pre` and the content hash over the ingest columns. */
  private def staged(df: DataFrame): DataFrame =
    withPre(df).withColumn("content_hash", contentHash)
      .select((schema.fieldNames.toSeq ++ Seq("pre", "content_hash")).map(col): _*)

  /** The marker leg against the index's current generation. The static
    * side is derived ONCE per generation and cached ([[RefCache]]): a
    * stream-static join re-evaluates its static plan every micro-batch,
    * and re-banding the index per batch would make admission O(corpus)
    * per batch. The generation key leaves the txn cursor out, so an
    * admission that kept nothing re-derives nothing. */
  private def nearMarkers(spark: SparkSession, surv: DataFrame, indexDir: String,
                          owned: R): DataFrame = {
    val m = index.readMeta(spark, indexDir)
    val reference = RefCache.get(spark, indexDir, index.generation(m)) {
      referenceFrames(spark, indexDir, m)
    }
    markers(spark, surv, reference, m, owned)
  }

  /** The verdict stream over a parquet feed at `dir`. `indexDir` must
    * hold a CERTIFIED index of the owned corpus (checked at plan time: a
    * stream has no bounded corpus to recompute against). */
  def verdicts(spark: SparkSession, dir: String, indexDir: String,
               watermark: String = "1 hour", owned: R = noOwned): DataFrame = {
    import spark.implicits._
    index.certified(spark, indexDir)
    val pre = staged(spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ingest_ts", watermark))
    def rows(df: DataFrame, marker: Boolean): DataFrame =
      df.select(col(idCol).as("id"), col("content_hash"),
        (if (marker) lit("") else col("pre")).as("pre"), lit(marker).as("is_marker"),
        col("ingest_ts"))
    rows(pre, marker = false)
      .unionByName(rows(nearMarkers(spark, pre.filter(col("pre") === ""), indexDir, owned),
        marker = true))
      .as[Item]
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState[FirstSeen, Verdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(keepFirst(watermark) _)
      .toDF().withColumnRenamed("id", idCol)
  }

  /** Batch backfill form: the same verdicts over a bounded, ingest-stamped
    * frame — keep-first is arrival order, near-dups are resolved against
    * the same index. Operationally the nightly re-admission pass, which
    * also catches the cross-horizon duplicates the stream lets through. */
  def batchVerdicts(spark: SparkSession, batch: DataFrame, indexDir: String,
                    owned: R = noOwned): DataFrame = {
    index.certified(spark, indexDir)
    val pre = staged(batch)
    val surv = pre.filter(col("pre") === "")
    val firsts = surv.withColumn("rk", row_number().over(
      Window.partitionBy("content_hash").orderBy(col("ingest_ts"), col(idCol))))
    val nearIds = nearMarkers(spark, surv, indexDir, owned)
      .select(idCol).distinct().withColumn("near", lit(true))
    pre.join(firsts.select(idCol, "rk"), Seq(idCol), "left")
      .join(nearIds, Seq(idCol), "left")
      .select(col(idCol),
        when(col("pre") =!= "", col("pre"))
          .when(col("rk") > 1, "exact_dup")
          .when(coalesce(col("near"), lit(false)), "near_dup")
          .otherwise("kept").as("verdict"))
      .withColumn("kept", col("verdict") === "kept")
  }

  /** Run the verdict stream into a queryable in-memory sink. */
  def start(spark: SparkSession, dir: String, indexDir: String, queryName: String,
            checkpoint: String, watermark: String = "1 hour",
            owned: R = noOwned): StreamingQuery =
    MemorySink.start(verdicts(spark, dir, indexDir, watermark, owned), queryName, checkpoint)

  // -------------------------------------------------------------------
  // The CLOSED admission loop: verdict → append, one transaction.
  //
  // [[verdicts]]/[[start]] JUDGE a stream against a frozen owned corpus.
  // [[admitStream]] closes the loop: each micro-batch is judged against
  // the CURRENT certified index, then its kept items are appended to the
  // owned corpus AND the index in the same per-batch transaction, so the
  // next batch's marker leg sees this batch's admissions.
  //
  // Exactly-once under foreachBatch's at-least-once replay: the index
  // meta's PER-APP txn cursor map ([[graft.extensions.TxnCursors]]) is
  // the commit point for the WHOLE transaction. A replayed batch at or
  // behind its app's cursor returns before judging anything (judging it
  // against the post-append index would flag the batch's own admissions
  // as near-dups of themselves); a replay of a batch whose first attempt
  // crashed BEFORE the index commit re-derives identical verdicts and
  // overwrites its own deterministic outputs — idempotent in content.
  //
  // Owned-corpus contract: `ownedDir` holds (id, payload) parquet — the
  // seed corpus at the root, one subdir per admitted batch. Appends
  // create files, never rewrite them.
  // -------------------------------------------------------------------

  /** The owned corpus as one frame: the seed plus every admitted batch. */
  def ownedCorpus(spark: SparkSession, ownedDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(ownedDir)
      .select(idCol, payloadCol)

  /** One micro-batch through the closed loop (see the section note).
    * Callable directly as the nightly re-admission pass with a
    * caller-chosen (appId, batchId). */
  def admitBatch(spark: SparkSession, batch: DataFrame, ownedDir: String,
                 indexDir: String, verdictsDir: String,
                 appId: String, batchId: Long,
                 compactFloor: Int = CompactFloor): Unit = {
    index.certified(spark, indexDir)
    val m = index.readMeta(spark, indexDir)
    // PER-APP replay check: a nightly pass (or a second stream) must not
    // reset the stream's replay detection — a defeated replay would
    // re-judge a batch against its own admissions, flag them all
    // near_dup, and overwrite its corpus dir with an empty kept set
    if (m.appliedBatch(appId).exists(batchId <= _)) return // replayed txn
    if (batch.isEmpty) return // a dataless trigger admits nothing
    val tag = txnTag(appId)
    val v = batchVerdicts(spark, batch, indexDir, ownedSide(spark, ownedDir)).persist()
    try {
      v.withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(s"$verdictsDir/$tag/b$batchId")
      val kept = batch
        .join(v.filter(col("kept")).select(idCol), idCol)
        .select(idCol, payloadCol)
      kept.write.mode("overwrite").parquet(s"$ownedDir/admitted/$tag/b$batchId")
      // the commit point: advances the txn cursor (even for an empty
      // kept set) and rolls the fingerprint, hence the generation
      index.append(spark, kept, indexDir, txn = Some((appId, batchId)))
      // roll the cached reference forward INCREMENTALLY: frames for the
      // admitted delta only (O(batch)) instead of re-deriving the grown
      // index (O(corpus)) at the next batch
      RefCache.extend(spark, indexDir, index.generation(m),
        index.generation(index.readMeta(spark, indexDir)), deltaFrames(spark, kept, m))
      // SELF-TRIGGERING compaction (the measured 14→17 s/batch drift
      // over 36 appends was index file-count growth): past compactFloor
      // main-table fragments, fold the LSM. The floor amortizes the
      // O(corpus) rewrite over many batches; content and fingerprint are
      // preserved (ArtifactSwap crash-safe), so the cached generation and
      // exactly-once are untouched.
      if (index.fragmented(spark, indexDir, minFiles = compactFloor))
        index.compact(spark, indexDir)
    } finally v.unpersist()
  }

  /** The closed admission loop over a parquet feed: verdicts land under
    * `verdictsDir` (one subdir per batch), admitted items flow into
    * `ownedDir` and the index. `indexDir` must hold a CERTIFIED index of
    * the seed corpus at `ownedDir`. */
  def admitStream(spark: SparkSession, srcDir: String, ownedDir: String,
                  indexDir: String, verdictsDir: String, checkpoint: String): StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatch(batch.sparkSession, batch, ownedDir, indexDir, verdictsDir, checkpoint, bid)
      }
      .start()
}

object Admission {

  /** Main-table file count past which [[Admission.admitBatch]]
    * self-triggers the index's compact: ~a dozen batches of 4-file
    * deltas. */
  val CompactFloor = 48

  /** One row through the stateful stage: an item (is_marker = false,
    * pre = its map-side verdict or "") or a near-dup marker. */
  case class Item(id: Long, content_hash: String, pre: String, is_marker: Boolean,
                 ingest_ts: java.sql.Timestamp)

  /** Per-content-hash state: the hash was reserved within the horizon
    * by a map-side SURVIVOR. */
  case class FirstSeen(first: Long)

  /** The admission decision, emitted as the item arrives. */
  case class Verdict(id: Long, verdict: String, kept: Boolean)

  /** The keep-first state machine over one content hash's rows. */
  private def keepFirst(watermark: String)(hash: String, batch: Iterator[Item],
                                           state: GroupState[FirstSeen]): Iterator[Verdict] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val rows = batch.toSeq
      val marked = rows.filter(_.is_marker).map(_.id).toSet
      // arrival order within the batch (in-order streams: event time,
      // id tie-break — the StatefulStreams convention)
      val items = rows.filterNot(_.is_marker).sortBy(r => (r.ingest_ts.getTime, r.id))
      var seen = state.getOption
      val out = items.map { r =>
        val v =
          if (r.pre.nonEmpty) r.pre // dropped map-side: no hash reserved
          else if (seen.isDefined) "exact_dup"
          else {
            seen = Some(FirstSeen(r.id))
            if (marked(r.id)) "near_dup" else "kept"
          }
        Verdict(r.id, v, v == "kept")
      }
      seen.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(rows.map(_.ingest_ts.getTime).max, watermark)
      }
      out.iterator
    }

  /** Deterministic 8-hex tag for an appId (a checkpoint path): keeps
    * per-stream output subdirs disjoint and filesystem-safe. */
  private def txnTag(appId: String): String =
    java.util.UUID.nameUUIDFromBytes(appId.getBytes("UTF-8")).toString.take(8)
}
