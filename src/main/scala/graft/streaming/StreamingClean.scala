package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

import graft.extensions.{DedupQueries, PipelineQueries, TextIndex, TextMeta, TextQueries}

/** Online corpus admission for text — the streaming form of the
  * `corpus_clean` pipeline ([[graft.extensions.PipelineQueries]]),
  * through the shared [[Admission]] loop against the [[TextIndex]]:
  * each document gets `lang` / `quality` / `exact_dup` / `near_dup` /
  * `kept` the moment it arrives, with the batch pipeline's stage
  * precedence and per-stage derivations — the ingest-time filter that
  * decides whether a crawled document enters the corpus BEFORE paying
  * to store and reprocess it.
  *
  * What text supplies:
  *   - `pre`: `lang` (anything but [[PipelineQueries.KEEP_LANG]]), then
  *     `quality` (the shared [[TextQueries.withQualityMetrics]] gates);
  *   - content hash: sha2-256 of the text;
  *   - marker leg: the document's MinHash signature (the shared
  *     [[DedupQueries.withMinhash]] derivation, bit-identical to what
  *     [[TextIndex]] persists) is LSH-banded against the index's
  *     signatures; banding survivors flag when ≥ [[MIN_SIG_MATCH]] of
  *     the 8 components agree. Minhash, NOT simhash, deliberately: a
  *     simhash band match is a hash-proximity event whose false-positive
  *     count grows with the reference corpus — at 10⁵ owned docs a
  *     32-bit simhash finds a Hamming-≤6 partner for essentially every
  *     probe (the `clean` smoke measured 100% of novel docs flagging) —
  *     while a minhash band match requires md5-min values to agree
  *     exactly, so candidates arise from genuine Jaccard similarity at
  *     ANY corpus size;
  *   - reference frames: slim band rows for the candidate join and
  *     (ref_id, signature) rows for verification, both O(signatures).
  */
object StreamingClean extends Admission[TextMeta, Unit](TextIndex) {

  /** Ingest schema: a labeled document plus its ingest event time. */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("ingest_ts", TimestampType)))

  protected val idCol = "doc_id"
  protected val payloadCol = "text"
  protected def contentHash: Column = sha2(col("text"), 256)
  protected def ownedSide(spark: SparkSession, ownedDir: String): Unit = ()
  protected def noOwned: Unit = ()

  protected def withPre(df: DataFrame): DataFrame =
    TextQueries.withQualityMetrics(df)
      .withColumn("pre",
        when(col("lang") =!= PipelineQueries.KEEP_LANG, "lang")
          .when(col("reasons") =!= "", "quality")
          .otherwise(""))

  /** Banding survivors must agree on this many of the 8 signature
    * components to flag. Each component is an md5-min over the
    * document's shingles, so for unrelated documents a single
    * agreement is already a shingle-space collision — the
    * false-positive rate is corpus-size-independent. At the J=0.8
    * near-dup boundary the expected agreement is 6.4 of 8. */
  private[graft] val MIN_SIG_MATCH = 6

  /** The two reference shapes from a sigs-shaped frame: the same
    * derivation for the full generation and for a delta. */
  private def refFrames(sigs: DataFrame): Seq[DataFrame] = Seq(
    sigs.select(col("doc_id").as("ref_id"), col("mhs"))
      .select(col("ref_id"), posexplode(DedupQueries.minhashBandArray).as(Seq("band", "bucket"))),
    sigs.select(col("doc_id").as("ref_id"), col("mhs").as("ref_mhs")))

  protected def referenceFrames(spark: SparkSession, indexDir: String, m: TextMeta): Seq[DataFrame] =
    refFrames(TextIndex.readSigs(spark, indexDir))

  protected def deltaFrames(spark: SparkSession, kept: DataFrame, m: TextMeta): Seq[DataFrame] =
    refFrames(DedupQueries.signatures(spark, kept, m.numHashes))

  protected def markers(spark: SparkSession, surv: DataFrame, reference: Seq[DataFrame],
                        m: TextMeta, owned: Unit): DataFrame = {
    val Seq(refBands, refMhs) = reference
    DedupQueries.withMinhash(surv)
      .select(col("doc_id"), col("content_hash"), col("ingest_ts"), col("mhs"),
        posexplode(DedupQueries.minhashBandArray).as(Seq("band", "bucket")))
      .join(refBands, Seq("band", "bucket"))
      .select(col("doc_id"), col("content_hash"), col("ingest_ts"), col("mhs"), col("ref_id"))
      .join(refMhs, "ref_id")
      .filter(expr(s"size(filter(zip_with(mhs, ref_mhs, (a, b) -> a = b), x -> x)) >= $MIN_SIG_MATCH"))
      .select("doc_id", "content_hash", "ingest_ts")
  }
}
