package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType, TimestampType}

import graft.extensions.{AnnIndex, DedupQueries, SimilarityQueries}

/** Online EMBEDDING admission — the [[StreamingClean]] of the vector
  * modality: as embeddings stream in, each one gets a verdict the
  * moment it arrives — `near_dup` (cosine-near something the corpus
  * already owns), `exact_dup` (an in-stream repeat within the
  * watermark horizon), or `kept`. Together the two operators close the
  * ingest gate for a multimodal training pipeline: text admission
  * consults the TextIndex, vector admission consults the AnnIndex.
  *
  * Stage shapes (all shared derivations):
  *   - candidates: the incoming vector is SRP-coded map-side WITH THE
  *     INDEX'S OWN PERSISTED SCHEME ([[AnnIndex]] `_meta` planes and
  *     bandBits — the sim_ann discipline: an index built wider buckets
  *     by its own parameters) and banded against the certified index's
  *     stored codes. Band rows are slim and cached once for the
  *     stream's lifetime — per-batch cost is O(batch), not O(corpus).
  *   - verification: banding survivors are scored EXACTLY (cosine ≥
  *     [[DefaultCosMin]] — see its scaladoc for why NOT the dedup
  *     query's looser gate) against
  *     the owned vectors, joined by candidate id only — the wide
  *     vectors never enter the band join (the `vector` smoke
  *     lesson). The owned side stays on parquet (column-pruned scan
  *     per batch); a 10⁹-vector deployment would bucket it by vec_id
  *     so the candidate join co-locates — the plan is unchanged.
  *   - exact-dup state: one record per sha2-256(embedding JSON) within
  *     the horizon, evicted by event-time timeout ([[StreamingDedup]]'s
  *     bounded-state contract). 256-bit like the text path's content
  *     hash — a 64-bit key has ~n²/2⁶⁵ birthday odds of silently
  *     rejecting a genuinely novel vector at 10⁹-scale horizons.
  *
  * For in-order streams the verdicts equal [[batchVerdicts]] (the
  * backfill form) row-for-row — StreamingEmbedSpec.
  */
object StreamingEmbed {

  /** Ingest schema: an embedding plus its ingest event time. */
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("ingest_ts", TimestampType)))

  case class EmbRow(vec_id: Long, vhash: String, is_marker: Boolean,
                    ingest_ts: java.sql.Timestamp)
  case class VecState(firstVec: Long)
  case class Verdict(vec_id: Long, verdict: String, kept: Boolean)

  /** Admission near-dup gate: cos ≥ this flags. Deliberately NOT
    * [[DedupQueries.COSINE_MIN]] (0.45, the dedup query's gate for its
    * synthetic corpus): admission asks "is this a near-COPY of
    * something owned", and for random 64-dim unit vectors cos reaches
    * 0.45 by chance across 10⁵+ partners — a corpus-size-dependent
    * false-positive rate, the same pathology the text path's simhash
    * draft had. At 0.9 the chance rate is ≈ exp(-64·0.81/2) per pair —
    * negligible at any corpus size. */
  val DefaultCosMin = 0.9

  /** Near-dup marker rows: SRP-band the incoming vectors against the
    * certified index's stored codes (the index's own scheme), verify
    * banding survivors with exact cosine against the owned vectors. */
  private def markerLeg(spark: SparkSession, in: DataFrame, indexDir: String,
                        owned: DataFrame, cosMin: Double): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val m = AnnIndex.readMeta(spark, indexDir)
    // everything stream-side threads through the map-side derivations
    // via `carry` — a join back to the source would be a stream-stream
    // join. Duplicate (vec, ref) candidates from multiple shared bands
    // re-verify (bounded ×bands) rather than paying a stateful
    // dropDuplicates before the verdict operator.
    val prepped = in
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val coded = SimilarityQueries.srpCoded(prepped, m.planes,
      carry = Seq("vhash", "ingest_ts"))
    val bands = SimilarityQueries.srpBands(coded, m.planes, m.bandBits,
      carry = Seq("vhash", "ingest_ts", "v", "norm"))
    // slim owned band rows, cached once per index generation
    // ([[RefCache]]: no per-invocation persist leak, and an index
    // append/rebuild re-keys the cache so later batches see it).
    // Generation key = content fields only, not the txn cursor (the
    // StreamingClean rule: a nothing-kept admission re-derives nothing)
    val Seq(refBands) = RefCache.get(spark, indexDir, embGen(m)) {
      Seq(AnnIndex.bandsFromIndex(spark, indexDir)
        .withColumnRenamed("vec_id", "ref_id"))
    }
    val ownedVecs = SimilarityQueries.prep(spark, owned)
      .select(col("vec_id").as("ref_id"), col("v").as("rv"), col("norm").as("rnorm"))
    bands.join(refBands, Seq("band", "bucket"))
      .select(col("vec_id"), col("vhash"), col("ingest_ts"), col("v"), col("norm"), col("ref_id"))
      .join(ownedVecs, "ref_id")
      .withColumn("cos_sim",
        call_function("graft_dot", col("v"), col("rv")) / (col("norm") * col("rnorm")))
      .filter(col("cos_sim") >= cosMin)
      .select(col("vec_id"), col("vhash"), lit(true).as("is_marker"), col("ingest_ts"))
  }

  /** The verdict stream over a parquet embedding feed. `indexDir` must
    * hold a CERTIFIED [[AnnIndex]] of `owned` (the existing corpus's
    * embeddings — the verification side). */
  def verdicts(spark: SparkSession, dir: String, indexDir: String, owned: DataFrame,
               watermark: String = "1 hour",
               cosMin: Double = DefaultCosMin): DataFrame = {
    import spark.implicits._
    require(AnnIndex.usable(spark, indexDir),
      s"ann index at $indexDir is absent or uncertified — build() it from the owned corpus first")
    val src = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ingest_ts", watermark)
      .withColumn("vhash", sha2(to_json(col("embedding")), 256))
    val data = src.select(col("vec_id"), col("vhash"),
      lit(false).as("is_marker"), col("ingest_ts"))
    val markers = markerLeg(spark, src, indexDir, owned, cosMin)
    data.unionByName(markers)
      .as[EmbRow]
      .groupByKey(_.vhash)
      .flatMapGroupsWithState[VecState, Verdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, batch: Iterator[EmbRow], state: GroupState[VecState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rows = batch.toSeq
            val marked = rows.filter(_.is_marker).map(_.vec_id).toSet
            val vecs = rows.filterNot(_.is_marker)
              .sortBy(r => (r.ingest_ts.getTime, r.vec_id))
            var seen = state.getOption
            val out = vecs.map { r =>
              val v =
                if (seen.isDefined) "exact_dup"
                else {
                  seen = Some(VecState(r.vec_id))
                  if (marked(r.vec_id)) "near_dup" else "kept"
                }
              Verdict(r.vec_id, v, v == "kept")
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

  /** Batch backfill form — same verdicts over a bounded, ingest-stamped
    * embedding set; keep-first is arrival order. */
  def batchVerdicts(spark: SparkSession, vecs: DataFrame, indexDir: String,
                    owned: DataFrame, cosMin: Double = DefaultCosMin): DataFrame = {
    require(AnnIndex.usable(spark, indexDir),
      s"ann index at $indexDir is absent or uncertified — build() it from the owned corpus first")
    val in = vecs.withColumn("vhash", sha2(to_json(col("embedding")), 256))
    val firsts = in.withColumn("rk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("vhash").orderBy(col("ingest_ts"), col("vec_id"))))
    val nearIds = markerLeg(spark, in, indexDir, owned, cosMin)
      .select("vec_id").distinct().withColumn("near", lit(true))
    in.join(firsts.select("vec_id", "rk"), Seq("vec_id"))
      .join(nearIds, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("rk") > 1, "exact_dup")
          .when(coalesce(col("near"), lit(false)), "near_dup")
          .otherwise("kept").as("verdict"))
      .withColumn("kept", col("verdict") === "kept")
  }

  /** Run the admission stream into a queryable in-memory sink. */
  def start(spark: SparkSession, dir: String, indexDir: String, owned: DataFrame,
            queryName: String, checkpoint: String,
            watermark: String = "1 hour",
            cosMin: Double = DefaultCosMin): StreamingQuery =
    verdicts(spark, dir, indexDir, owned, watermark, cosMin).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .start()

  // -------------------------------------------------------------------
  // The CLOSED admission loop, vector modality — [[StreamingClean]]'s
  // transaction contract verbatim: each micro-batch is judged against
  // the CURRENT certified AnnIndex, kept vectors append to the owned
  // corpus AND the index in the same per-batch transaction (the
  // AnnIndex meta txn cursor is the commit point), and the next batch
  // bands against codes that include this batch's admissions.
  // -------------------------------------------------------------------

  /** The owned vectors as one frame: the seed embeddings plus every
    * admitted batch (all (vec_id, embedding) parquet under `ownedDir`). */
  def ownedVectors(spark: SparkSession, ownedDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(ownedDir)
      .select("vec_id", "embedding")

  /** Content-generation key of an ann index (the [[RefCache]] key):
    * scheme + fingerprint fields, cursor excluded. */
  private def embGen(m: graft.extensions.AnnMeta): String =
    s"${m.planes}:${m.bandBits}:${m.corpusRows}:${m.idMin}:${m.idMax}:${m.idSum}:${m.contentXor}"

  /** The marker-leg reference shape for a raw embeddings frame, coded
    * with the index's own scheme — the delta form of what
    * [[AnnIndex.bandsFromIndex]] yields for the whole index, so the
    * incremental cache extension is bit-identical to a re-derive. */
  private def refBandsOf(spark: SparkSession, raw: DataFrame,
                         m: graft.extensions.AnnMeta): DataFrame =
    SimilarityQueries.srpBands(
      SimilarityQueries.srpCoded(SimilarityQueries.prep(spark, raw), m.planes)
        .select("vec_id", "code"),
      m.planes, m.bandBits)
      .withColumnRenamed("vec_id", "ref_id")

  /** One micro-batch through the closed loop ([[StreamingClean.admitBatch]]
    * semantics: replay at-or-behind the index cursor returns before
    * judging; outputs are overwrite-idempotent). */
  def admitBatch(spark: SparkSession, batch: DataFrame, ownedDir: String,
                 indexDir: String, verdictsDir: String,
                 appId: String, batchId: Long,
                 cosMin: Double = DefaultCosMin): Unit = {
    require(AnnIndex.usable(spark, indexDir),
      s"ann index at $indexDir is absent or uncertified — build() it from the owned corpus first")
    val m = AnnIndex.readMeta(spark, indexDir)
    // PER-APP replay check (the StreamingClean rationale verbatim)
    if (m.appliedBatch(appId).exists(batchId <= _)) return // replayed txn
    if (batch.isEmpty) return // a dataless trigger admits nothing
    val tag = StreamingClean.txnTag(appId)
    val v = batchVerdicts(spark, batch, indexDir,
      ownedVectors(spark, ownedDir), cosMin).persist()
    try {
      v.withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode("overwrite").parquet(s"$verdictsDir/$tag/b$batchId")
      val kept = batch
        .join(v.filter(col("kept")).select("vec_id"), "vec_id")
        .select("vec_id", "embedding")
      kept.write.mode("overwrite").parquet(s"$ownedDir/admitted/$tag/b$batchId")
      AnnIndex.append(spark, kept, indexDir, txn = Some((appId, batchId)))
      // roll the cached reference forward with the delta's band rows
      // (O(batch), the StreamingClean discipline)
      RefCache.extend(spark, indexDir, embGen(m),
        embGen(AnnIndex.readMeta(spark, indexDir)),
        Seq(refBandsOf(spark, kept, m)))
    } finally v.unpersist()
  }

  /** The closed admission loop over a parquet embedding feed.
    * `indexDir` must hold a CERTIFIED [[AnnIndex]] of the seed corpus
    * at `ownedDir`. */
  def admitStream(spark: SparkSession, srcDir: String, ownedDir: String,
                  indexDir: String, verdictsDir: String, checkpoint: String,
                  cosMin: Double = DefaultCosMin): StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        admitBatch(batch.sparkSession, batch, ownedDir, indexDir,
          verdictsDir, checkpoint, bid, cosMin)
      }
      .start()
}
