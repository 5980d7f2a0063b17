package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType, TimestampType}

import graft.extensions.{AnnIndex, AnnMeta, SimilarityQueries}

/** Online EMBEDDING admission — the vector modality of the shared
  * [[Admission]] loop, against the [[AnnIndex]]: each embedding gets
  * `near_dup` (cosine-near something the corpus already owns),
  * `exact_dup` (an in-stream repeat within the watermark horizon) or
  * `kept` the moment it arrives. With [[StreamingClean]] it closes the
  * ingest gate of a multimodal training pipeline.
  *
  * What vectors supply:
  *   - `pre`: none — every embedding reaches the dedup stages;
  *   - content hash: sha2-256 of the embedding's JSON;
  *   - marker leg: the incoming vector is SRP-coded map-side WITH THE
  *     INDEX'S OWN PERSISTED SCHEME (`_meta` planes and bandBits — the
  *     sim_ann discipline) and banded against the index's stored codes;
  *     banding survivors are scored EXACTLY (cosine ≥ [[CosMin]])
  *     against the owned vectors, joined by candidate id only — the wide
  *     vectors never enter the band join (the `vector` smoke lesson). A
  *     10⁹-vector deployment would bucket the owned side by vec_id so
  *     the candidate join co-locates; the plan is unchanged;
  *   - reference frames: the index's slim band rows.
  *
  * The owned vectors are the verification side: the verdict forms take
  * them as `owned`, the closed loop reads them from its owned dir.
  */
object StreamingEmbed extends Admission[AnnMeta, DataFrame](AnnIndex) {

  /** Ingest schema: an embedding plus its ingest event time. */
  val schema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("ingest_ts", TimestampType)))

  protected val idCol = "vec_id"
  protected val payloadCol = "embedding"
  protected def contentHash: Column = sha2(to_json(col("embedding")), 256)
  protected def withPre(df: DataFrame): DataFrame = df.withColumn("pre", lit(""))
  protected def ownedSide(spark: SparkSession, ownedDir: String): DataFrame =
    ownedCorpus(spark, ownedDir)
  protected def noOwned: DataFrame = throw new IllegalArgumentException(
    "vector admission verifies candidates against the owned vectors: pass `owned`")

  /** Admission near-dup gate: cos ≥ this flags. Deliberately NOT
    * [[graft.extensions.DedupQueries.COSINE_MIN]] (0.45, the dedup
    * query's gate for its synthetic corpus): admission asks "is this a
    * near-COPY of something owned", and for random 64-dim unit vectors
    * cos reaches 0.45 by chance across 10⁵+ partners — a
    * corpus-size-dependent false-positive rate, the same pathology the
    * text path's simhash draft had. At 0.9 the chance rate is
    * ≈ exp(-64·0.81/2) per pair — negligible at any corpus size. */
  val CosMin = 0.9

  protected def referenceFrames(spark: SparkSession, indexDir: String, m: AnnMeta): Seq[DataFrame] =
    Seq(AnnIndex.bandsFromIndex(spark, indexDir).withColumnRenamed("vec_id", "ref_id"))

  /** The delta's band rows, coded with the index's own scheme — what
    * [[AnnIndex.bandsFromIndex]] yields for these vectors. */
  protected def deltaFrames(spark: SparkSession, kept: DataFrame, m: AnnMeta): Seq[DataFrame] =
    Seq(SimilarityQueries.srpBands(
      SimilarityQueries.srpCoded(SimilarityQueries.prep(spark, kept), m.planes)
        .select("vec_id", "code"),
      m.planes, m.bandBits)
      .withColumnRenamed("vec_id", "ref_id"))

  protected def markers(spark: SparkSession, surv: DataFrame, reference: Seq[DataFrame],
                        m: AnnMeta, owned: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val Seq(refBands) = reference
    // everything stream-side threads through the map-side derivations
    // via `carry` — a join back to the source would be a stream-stream
    // join. Duplicate (vec, ref) candidates from multiple shared bands
    // re-verify (bounded ×bands) rather than paying a stateful
    // dropDuplicates before the verdict operator.
    val prepped = surv
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
    val coded = SimilarityQueries.srpCoded(prepped, m.planes,
      carry = Seq("content_hash", "ingest_ts"))
    val bands = SimilarityQueries.srpBands(coded, m.planes, m.bandBits,
      carry = Seq("content_hash", "ingest_ts", "v", "norm"))
    val ownedVecs = SimilarityQueries.prep(spark, owned)
      .select(col("vec_id").as("ref_id"), col("v").as("rv"), col("norm").as("rnorm"))
    bands.join(refBands, Seq("band", "bucket"))
      .select(col("vec_id"), col("content_hash"), col("ingest_ts"), col("v"), col("norm"),
        col("ref_id"))
      .join(ownedVecs, "ref_id")
      .filter(call_function("graft_dot", col("v"), col("rv")) / (col("norm") * col("rnorm"))
        >= CosMin)
      .select("vec_id", "content_hash", "ingest_ts")
  }
}
