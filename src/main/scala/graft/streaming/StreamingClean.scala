package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.extensions.{DedupQueries, TextIndex, TextQueries}

/** Online corpus admission control — the streaming form of the
  * `corpus_clean` pipeline ([[graft.extensions.PipelineQueries]]): as
  * documents stream in, each one gets a verdict THE MOMENT IT ARRIVES —
  * `lang` / `quality` / `exact_dup` / `near_dup` / `kept` — with the
  * same stage precedence and the same per-stage derivations as the
  * batch pipeline. This is the ingest-time filter a training-data
  * pipeline actually wants: decide whether a crawled document enters
  * the corpus BEFORE paying to store and reprocess it.
  *
  * Stage semantics (batch-pipeline precedence, survivors-only):
  *   - `lang` / `quality` — stateless map-side projections (the shared
  *     [[TextQueries.withQualityMetrics]] expressions). A document
  *     dropped here never reaches the dedup stages — it does not
  *     reserve its content hash (PipelineSpec's precedence contract).
  *   - `exact_dup` — first occurrence of a content hash within the
  *     watermark horizon passes, later copies are dropped. State is one
  *     record per hash, evicted by event-time timeout: bounded by the
  *     horizon's distinct documents, not the corpus
  *     ([[StreamingDedup]]'s contract; cross-horizon duplicates are the
  *     batch pass's job).
  *   - `near_dup` — the incoming document's MinHash signature (the
  *     shared [[DedupQueries.withMinhash]] derivation, bit-identical
  *     to what [[TextIndex]] persists) is LSH-banded against the
  *     CERTIFIED text index of the existing corpus in a stream-static
  *     join; banding survivors are verified by signature agreement
  *     (≥ [[MIN_SIG_MATCH]] of the 8 components equal). Minhash, NOT
  *     simhash, deliberately: a simhash band match is a hash-proximity
  *     event whose false-positive count grows with the reference
  *     corpus — at 10⁵ owned docs a 32-bit simhash finds a Hamming-≤6
  *     partner for essentially every probe (the `clean` smoke measured
  *     100% of novel docs flagging) — while a minhash band match
  *     requires md5-min values to agree exactly, so candidates arise
  *     from genuine Jaccard similarity at ANY corpus size. The static
  *     side is a bounded banding join — never a broadcast of the
  *     corpus, never driver state — so the reference index can be
  *     100 TB-scale.
  *
  * Plumbing note (why one stateful operator suffices): the marker leg
  * (banding join) and the data leg are both stateless derivations of
  * the SAME source micro-batch, so a document's data row and its
  * near-dup marker rows always land in the same
  * `flatMapGroupsWithState` invocation — the verdict is emitted
  * immediately, no second stateful reduction, no cross-batch marker
  * state. The group key is the content hash, which gives the exact-dup
  * state for free and still sees every marker (markers carry their
  * document's hash).
  *
  * For in-order streams the emitted verdicts equal
  * [[batchVerdicts]] — the batch backfill form over a bounded,
  * ingest-stamped corpus — row for row (StreamingCleanSpec).
  */
object StreamingClean {

  /** Ingest schema: a labeled document plus its ingest event time. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("ingest_ts", TimestampType)))

  private[graft] val KEEP_LANG = "en"

  /** One row through the stateful stage: a document (is_marker=false,
    * pre = its stateless verdict or "") or a near-dup marker
    * (is_marker=true) produced by the banding join. */
  case class CleanRow(doc_id: Long, content_hash: String, pre: String,
                      is_marker: Boolean, ingest_ts: java.sql.Timestamp)

  /** Per-content-hash state: the hash has been admitted to the exact
    * stage within the horizon (by a lang/quality SURVIVOR — dropped
    * documents do not reserve their hash). */
  case class HashState(firstDoc: Long)

  /** The admission decision, emitted as the document arrives. */
  case class Verdict(doc_id: Long, verdict: String, kept: Boolean)

  /** Stateless stage columns: `pre` = first failing map-side stage
    * ("" if the document reaches the dedup stages), plus the content
    * hash. Shared by the stream and the batch backfill. */
  private def withPreVerdict(df: DataFrame, keepLang: String): DataFrame =
    TextQueries.withQualityMetrics(df)
      .withColumn("pre",
        when(col("lang") =!= keepLang, "lang")
          .when(col("reasons") =!= "", "quality")
          .otherwise(""))
      .withColumn("content_hash", sha2(col("text"), 256))
      .select("doc_id", "text", "lang", "ingest_ts", "pre", "content_hash")

  /** Banding survivors must agree on this many of the 8 signature
    * components to flag. Each component is an md5-min over the
    * document's shingles, so for unrelated documents a single
    * agreement is already a shingle-space collision — the
    * false-positive rate is corpus-size-independent. At the J=0.8
    * near-dup boundary the expected agreement is 6.4 of 8. */
  private[graft] val MIN_SIG_MATCH = 6

  /** Near-dup marker rows for lang/quality survivors: LSH-band the
    * document's minhash signature against the index signatures (static
    * side), verify banding survivors by signature agreement — the
    * dedup_minhash banding scheme with the persisted index as the
    * right side. */
  private def markerLeg(spark: SparkSession, surv: DataFrame, indexDir: String): DataFrame = {
    val sig = DedupQueries.withMinhash(surv)
      .select(col("doc_id"), col("content_hash"), col("ingest_ts"), col("mhs"))
    val bands = sig.select(col("doc_id"), col("content_hash"), col("ingest_ts"), col("mhs"),
      posexplode(DedupQueries.minhashBandArray).as(Seq("band", "bucket")))
    // the static side is read ONCE per index GENERATION and cached
    // ([[RefCache]]): a stream-static join re-evaluates the static plan
    // every micro-batch, and at 10⁹ owned documents re-banding the
    // sigs table per batch would dominate the admission cost; keying
    // the cache by the index meta fingerprint (instead of persisting
    // per invocation) stops repeated batchVerdicts passes from leaking
    // cached frames AND retires the cache when the index grows. Two
    // cached shapes, both O(signatures): slim band rows for the
    // candidate join, (ref_id, signature) rows for verification.
    // generation key = the meta's CONTENT fields only (not the txn
    // cursor): an admitted batch that kept nothing advances the cursor
    // but leaves the served signatures unchanged — no re-derive
    val tm = TextIndex.readMeta(spark, indexDir)
    val Seq(refBands, refMhs) = RefCache.get(spark, indexDir, textGen(tm)) {
      refFrames(TextIndex.readSigs(spark, indexDir))
    }
    bands.join(refBands, Seq("band", "bucket"))
      .select(col("doc_id"), col("content_hash"), col("ingest_ts"), col("mhs"), col("ref_id"))
      .join(refMhs, "ref_id")
      .filter(expr(s"size(filter(zip_with(mhs, ref_mhs, (a, b) -> a = b), x -> x)) >= $MIN_SIG_MATCH"))
      .select(col("doc_id"), col("content_hash"), lit("").as("pre"),
        lit(true).as("is_marker"), col("ingest_ts"))
  }

  /** The verdict stream over a parquet document feed. `indexDir` must
    * hold a CERTIFIED [[TextIndex]] of the existing corpus (the
    * `_SYNCED` gate is checked at plan time; an uncertified index is a
    * hard error here rather than a silent recompute — a stream has no
    * bounded corpus to recompute against). */
  def verdicts(spark: SparkSession, dir: String, indexDir: String,
               watermark: String = "1 hour",
               keepLang: String = KEEP_LANG): DataFrame = {
    import spark.implicits._
    require(TextIndex.usable(spark, indexDir),
      s"text index at $indexDir is absent or uncertified — build() it from the owned corpus first")
    val src = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ingest_ts", watermark)
    val pre = withPreVerdict(src, keepLang)
    val data = pre.select(col("doc_id"), col("content_hash"), col("pre"),
      lit(false).as("is_marker"), col("ingest_ts"))
    val markers = markerLeg(spark, pre.filter(col("pre") === ""), indexDir)
    data.unionByName(markers)
      .as[CleanRow]
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState[HashState, Verdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, batch: Iterator[CleanRow], state: GroupState[HashState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rows = batch.toSeq
            val marked = rows.filter(_.is_marker).map(_.doc_id).toSet
            // arrival order within the batch (in-order streams: event
            // time, doc_id tie-break — the StatefulStreams convention)
            val docs = rows.filterNot(_.is_marker)
              .sortBy(r => (r.ingest_ts.getTime, r.doc_id))
            var seen = state.getOption
            val out = docs.map { r =>
              val v =
                if (r.pre.nonEmpty) r.pre // dropped map-side: no hash reserved
                else if (seen.isDefined) "exact_dup"
                else {
                  seen = Some(HashState(r.doc_id))
                  if (marked(r.doc_id)) "near_dup" else "kept"
                }
              Verdict(r.doc_id, v, v == "kept")
            }
            seen.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(rows.map(_.ingest_ts.getTime).max, watermark)
            }
            out.iterator
          }
      }
      .toDF()
  }

  /** Batch backfill form: the same verdicts over a bounded,
    * ingest-stamped corpus (doc_id, text, lang, ingest_ts) — keep-first
    * is arrival order, near-dups are resolved against the same index.
    * The streaming operator equals this row-for-row on in-order streams
    * (StreamingCleanSpec); operationally this is the nightly
    * re-admission pass that also catches cross-horizon duplicates the
    * watermark-bounded stream state lets through. */
  def batchVerdicts(spark: SparkSession, docs: DataFrame, indexDir: String,
                    keepLang: String = KEEP_LANG): DataFrame = {
    require(TextIndex.usable(spark, indexDir),
      s"text index at $indexDir is absent or uncertified — build() it from the owned corpus first")
    val pre = withPreVerdict(docs, keepLang)
    val surv = pre.filter(col("pre") === "")
    val firsts = surv.withColumn("rk",
        row_number().over(Window.partitionBy("content_hash")
          .orderBy(col("ingest_ts"), col("doc_id"))))
    val nearIds = markerLeg(spark, surv, indexDir)
      .select("doc_id").distinct().withColumn("near", lit(true))
    pre.join(firsts.select("doc_id", "rk"), Seq("doc_id"), "left")
      .join(nearIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("pre") =!= "", col("pre"))
          .when(col("rk") > 1, "exact_dup")
          .when(coalesce(col("near"), lit(false)), "near_dup")
          .otherwise("kept").as("verdict"))
      .withColumn("kept", col("verdict") === "kept")
  }

  /** Run the admission stream into a queryable in-memory sink. */
  def start(spark: SparkSession, dir: String, indexDir: String, queryName: String,
            checkpoint: String, watermark: String = "1 hour",
            keepLang: String = KEEP_LANG): StreamingQuery =
    verdicts(spark, dir, indexDir, watermark, keepLang).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .start()

  // -------------------------------------------------------------------
  // The CLOSED admission loop: verdict → append, one transaction.
  //
  // [[verdicts]]/[[start]] JUDGE a stream against a frozen owned corpus
  // — admitted survivors go nowhere, so batch N+1 cannot see batch N's
  // admissions without an external rebuild. [[admitStream]] closes the
  // loop: each micro-batch is judged against the CURRENT certified
  // index, then its kept documents are appended to the owned corpus
  // AND the TextIndex in the same per-batch transaction, so the next
  // batch's near-dup check banding-joins signatures that already
  // include this batch's admissions (the RefCache generation key rolls
  // with the index fingerprint).
  //
  // Exactly-once under foreachBatch's at-least-once replay: the
  // TextIndex meta's PER-APP txn cursor map ([[TxnCursors]]) is the
  // commit point for the WHOLE transaction. A replayed batch at-or-
  // behind its app's cursor returns before judging anything (judging it against the
  // post-append index would wrongly flag the batch's own admissions as
  // near-dups of themselves); a replay of a batch whose first attempt
  // crashed BEFORE the index commit re-derives identical verdicts
  // (the index never saw the batch) and overwrites its own
  // deterministic corpus/verdict outputs — idempotent in content.
  //
  // Owned-corpus contract: `ownedDir` holds (doc_id, text) parquet —
  // the seed corpus at the root, one subdir per admitted batch. At
  // 100 TB this is exactly the ingest layout the engine's day-bucketed
  // appends use: appends create files, never rewrite, and a periodic
  // compact (the artifact-maintenance cycle) pays the file-count debt.
  // -------------------------------------------------------------------

  /** Deterministic 8-hex tag for an appId (a checkpoint path) — keeps
    * per-stream output subdirs disjoint and filesystem-safe. */
  private[streaming] def txnTag(appId: String): String =
    java.util.UUID.nameUUIDFromBytes(appId.getBytes("UTF-8")).toString.take(8)

  /** Content-generation key of a text index (the [[RefCache]] key):
    * the meta's fingerprint fields, cursor excluded. */
  private def textGen(m: graft.extensions.TextMeta): String =
    s"${m.numHashes}:${m.corpusRows}:${m.idMin}:${m.idMax}:${m.idSum}:${m.contentXor}"

  /** The two marker-leg reference shapes from a sigs-shaped frame —
    * shared by the full-generation build and the per-batch delta so the
    * incremental cache extension is bit-identical to a re-derive. */
  private def refFrames(sigs: DataFrame): Seq[DataFrame] = Seq(
    sigs.select(col("doc_id").as("ref_id"), col("mhs"))
      .select(col("ref_id"), posexplode(DedupQueries.minhashBandArray).as(Seq("band", "bucket"))),
    sigs.select(col("doc_id").as("ref_id"), col("mhs").as("ref_mhs")))

  /** The owned corpus as one frame: the seed documents plus every
    * admitted batch (all (doc_id, text) parquet under `ownedDir`). */
  def ownedCorpus(spark: SparkSession, ownedDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(ownedDir)
      .select("doc_id", "text")

  /** One micro-batch through the closed loop (see the section note for
    * the transaction contract). Callable directly as the nightly
    * re-admission pass with a caller-chosen (appId, batchId). */
  def admitBatch(spark: SparkSession, batch: DataFrame, ownedDir: String,
                 indexDir: String, verdictsDir: String,
                 appId: String, batchId: Long,
                 keepLang: String = KEEP_LANG,
                 compactFloor: Int = CompactFloor): Unit = {
    require(TextIndex.usable(spark, indexDir),
      s"text index at $indexDir is absent or uncertified — build() it from the owned corpus first")
    val m = TextIndex.readMeta(spark, indexDir)
    // PER-APP replay check: the nightly re-admission pass (or a second
    // stream) must not reset the stream's replay detection — a defeated
    // replay here would re-judge a batch against its own admissions,
    // flag them all near_dup, and overwrite the batch's corpus dir with
    // an empty kept set (destroying admitted documents)
    if (m.appliedBatch(appId).exists(batchId <= _)) return // replayed txn
    if (batch.isEmpty) return // a dataless trigger admits nothing
    val tag = txnTag(appId)
    val v = batchVerdicts(spark, batch, indexDir, keepLang).persist()
    try {
      v.withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(s"$verdictsDir/$tag/b$batchId")
      val kept = batch
        .join(v.filter(col("kept")).select("doc_id"), "doc_id")
        .select("doc_id", "text")
      kept.write.mode("overwrite").parquet(s"$ownedDir/admitted/$tag/b$batchId")
      // the commit point: advances the txn cursor (even for an empty
      // kept set) and rolls the fingerprint so the next batch's
      // RefCache generation includes these admissions
      TextIndex.append(spark, kept, indexDir, txn = Some((appId, batchId)))
      // roll the cached reference forward INCREMENTALLY: derive frames
      // for the admitted delta only (O(batch)) instead of letting the
      // next batch re-band the whole grown corpus (O(corpus)) — the
      // property that keeps closed-loop admission viable at 10⁹ docs
      RefCache.extend(spark, indexDir, textGen(m),
        textGen(TextIndex.readMeta(spark, indexDir)),
        refFrames(DedupQueries.signatures(spark, kept, m.numHashes)))
      // SELF-TRIGGERING artifact compaction (the measured 14→17 s/batch
      // drift over 36 appends was index file-count growth): once the
      // sigs table carries compactFloor+ fragments — ~a dozen
      // batches of append deltas — fold the LSM. The floor keeps the
      // O(corpus) rewrite amortized over many batches instead of firing
      // every time the handful-of-files size target is doubled; content
      // and fingerprint are preserved (ArtifactSwap crash-safe), so the
      // RefCache generation stays valid and exactly-once is untouched
      // (StreamingCleanSpec pins the trigger; the `clean.loop` smoke
      // shows the flat steady state).
      if (TextIndex.fragmented(spark, indexDir, minFiles = compactFloor))
        TextIndex.compact(spark, indexDir)
    } finally v.unpersist()
  }

  /** Sigs file-count floor before [[admitBatch]] self-triggers
    * [[TextIndex.compact]]: ~a dozen batches of 4-file deltas. */
  val CompactFloor = 48

  /** The closed admission loop over a parquet document feed: verdicts
    * land under `verdictsDir` (one subdir per batch), admitted
    * documents flow into `ownedDir` + the index. `indexDir` must hold a
    * CERTIFIED [[TextIndex]] of the seed corpus at `ownedDir`. */
  def admitStream(spark: SparkSession, srcDir: String, ownedDir: String,
                  indexDir: String, verdictsDir: String, checkpoint: String,
                  keepLang: String = KEEP_LANG): StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatch(batch.sparkSession, batch, ownedDir, indexDir,
          verdictsDir, checkpoint, bid, keepLang)
      }
      .start()
}
