package graft

import org.apache.spark.sql.functions._

import graft.extensions.AnnIndex
import graft.streaming.StreamingEmbed

/** Online embedding admission: stream ≡ batch backfill ≡ hand-derived
  * verdicts. Near-dup plants are SCALED copies of owned vectors —
  * scaling preserves every SRP projection sign (identical code →
  * guaranteed band match) and cosine is exactly 1.0, so the plant is
  * deterministic with no banding-recall caveat; the float values (and
  * hence the exact-dup hash) still differ from the original.
  */
class StreamingEmbedSpec extends SparkSpec with AdmissionCases {

  import spark.implicits._

  /** Deterministic pseudo-random vector from an id. A full avalanche
    * mix per (id, j) — a linear congruence makes every vector a phase
    * shift of one sawtooth sequence, and they all correlate. */
  private def vec(id: Long): Seq[Float] = (0 until 64).map { j =>
    var x = id * 6364136223846793005L + j * 1442695040888963407L
    x = (x ^ (x >>> 31)) * 0x9E3779B97F4A7C15L
    x ^= x >>> 27
    (x & 0xFFFFFF) / 16777216.0f - 0.5f
  }

  private val owned: Seq[(Long, Seq[Float], Long)] =
    (0L until 200L).map(i => (i, vec(i), i % 10))

  private def buildIndex(): String = {
    val dir = tmpDir("graft-semb-idx")
    AnnIndex.build(spark,
      owned.toDF("vec_id", "embedding", "label"), dir)
    dir
  }

  private def ownedDf = owned.toDF("vec_id", "embedding", "label")

  private val vectors = Modality("vector", StreamingEmbed, AnnIndex, "codes",
    () => owned.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding"),
    b => Seq((100300L + b, vec(8000L + b), new java.sql.Timestamp(b * 1000L)))
      .toDF("vec_id", "embedding", "ingest_ts"))

  // stream tranche: every verdict path carries at least one vector
  private val tranche: Seq[(Long, Seq[Float], Long)] = Seq(
    (100100L, vec(5000L), 1L),                  // novel             → kept
    (100101L, vec(7L).map(_ * 2.0f), 2L),       // scaled owned copy → near_dup
    (100102L, vec(11L), 3L),                    // exact owned copy  → near_dup
    (100103L, vec(5000L), 4L),                  // repeat of 100100  → exact_dup
    (100104L, vec(6000L), 5L),                  // novel             → kept
  )

  private val expected: Map[Long, String] = Map(
    100100L -> "kept", 100101L -> "near_dup", 100102L -> "near_dup",
    100103L -> "exact_dup", 100104L -> "kept")

  test("stream verdicts ≡ batch backfill ≡ hand-derived, across micro-batches") {
    val idx = buildIndex()
    val src = tmpDir("graft-semb-src")
    val ckpt = tmpDir("graft-semb-ckpt")
    def write(ids: Set[Long]): Unit =
      tranche.filter(t => ids(t._1))
        .map { case (id, v, ts) => (id, v, new java.sql.Timestamp(ts * 1000L)) }
        .toDF("vec_id", "embedding", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(src)

    write(Set(100100L, 100101L, 100102L)) // 100103 must hit CARRIED state
    val q = StreamingEmbed.start(spark, src, idx, "semb_sink", ckpt, owned = ownedDf)
    try {
      q.processAllAvailable()
      write(Set(100103L, 100104L))
      q.processAllAvailable()
      val got = spark.table("semb_sink")
        .select("vec_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected, "every verdict path, hand-derived")
      val batch = StreamingEmbed.batchVerdicts(spark,
          tranche.map { case (id, v, ts) => (id, v, new java.sql.Timestamp(ts * 1000L)) }
            .toDF("vec_id", "embedding", "ingest_ts"), idx, ownedDf)
        .select("vec_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batch === got, "batch backfill form agrees row-for-row")
    } finally q.stop()
  }

  test("closed admission loop: batch N+1 sees batch N's admissions; replay is a no-op") {
    val ownedDir = tmpDir("graft-semb-owned")
    owned.map { case (id, v, _) => (id, v) }.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(ownedDir)
    val idx = tmpDir("graft-semb-admit-idx")
    AnnIndex.build(spark, StreamingEmbed.ownedCorpus(spark, ownedDir), idx)
    val src = tmpDir("graft-semb-admit-src")
    val vdir = tmpDir("graft-semb-admit-verdicts")
    val ckpt = tmpDir("graft-semb-admit-ckpt")
    def write(rows: Seq[(Long, Seq[Float], Long)]): Unit =
      rows.map { case (id, v, ts) => (id, v, new java.sql.Timestamp(ts * 1000L)) }
        .toDF("vec_id", "embedding", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(src)
    // batch 0: a novel vector + a scaled copy of the SEED corpus
    write(Seq((100100L, vec(5000L), 1L), (100101L, vec(7L).map(_ * 2f), 2L)))
    val (builds0, extends0) =
      (graft.streaming.RefCache.buildCount.get(), graft.streaming.RefCache.extendCount.get())
    val q = StreamingEmbed.admitStream(spark, src, ownedDir, idx, vdir, ckpt)
    try {
      q.processAllAvailable()
      // batch 1: a scaled copy of batch 0's ADMISSION (not in the seed
      // corpus — identical SRP code, cosine exactly 1.0) + a novel one
      write(Seq((100200L, vec(5000L).map(_ * 2f), 3L), (100201L, vec(6000L), 4L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.streaming.RefCache.buildCount.get() === builds0 + 1,
      "one full reference derivation for the whole run — batch 1 rode the extended cache")
    assert(graft.streaming.RefCache.extendCount.get() === extends0 + 2,
      "each admitting batch rolled the cached generation forward incrementally")
    val got = spark.read.option("recursiveFileLookup", "true").parquet(vdir)
      .select("vec_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(100100L) === "kept")
    assert(got(100101L) === "near_dup", "seed-corpus copy caught")
    assert(got(100200L) === "near_dup",
      "batch 1's copy of a batch-0 admission is caught — the loop is closed")
    assert(got(100201L) === "kept")
    assert(StreamingEmbed.ownedCorpus(spark, ownedDir).select("vec_id").collect()
      .map(_.getLong(0)).toSet === ((0L until 200L).toSet + 100100L + 100201L))
    assert(AnnIndex.readCodes(spark, idx).count() === 202L)
    assert(AnnIndex.usable(spark, idx), "the loop leaves a certified index behind")
    // replay of batch 0: returns before judging — nothing re-appends
    StreamingEmbed.admitBatch(spark,
      Seq((100100L, vec(5000L), new java.sql.Timestamp(1000L)))
        .toDF("vec_id", "embedding", "ingest_ts"),
      ownedDir, idx, vdir, ckpt, 0L)
    assert(AnnIndex.readCodes(spark, idx).count() === 202L, "replayed batch appends nothing")
    assert(StreamingEmbed.ownedCorpus(spark, ownedDir).count() === 202L)
  }

  test("an interleaved second app (the nightly pass) does not reset the stream's replay detection") {
    val ownedDir = tmpDir("graft-semb-nightly-owned")
    vectors.seed().write.mode("overwrite").parquet(ownedDir)
    val idx = tmpDir("graft-semb-nightly-idx")
    AnnIndex.build(spark, StreamingEmbed.ownedCorpus(spark, ownedDir), idx)
    val vdir = tmpDir("graft-semb-nightly-verdicts")
    val batch0 = Seq((100100L, vec(5000L), new java.sql.Timestamp(1000L)))
      .toDF("vec_id", "embedding", "ingest_ts")
    StreamingEmbed.admitBatch(spark, batch0, ownedDir, idx, vdir, "stream-ckpt", 0L)
    assert(StreamingEmbed.ownedCorpus(spark, ownedDir).count() === 201L)
    nightlyKeepsReplay(vectors, ownedDir, idx, vdir, "stream-ckpt", batch0, admitted = 100100L,
      nightly = Seq((100300L, vec(7000L), new java.sql.Timestamp(9000L)))
        .toDF("vec_id", "embedding", "ingest_ts"),
      ownedAfter = 202L)
  }

  test("self-triggering compaction: the admit loop folds the codes LSM past the file floor, exactly-once intact") {
    selfCompaction(vectors)
  }

  test("an uncertified index is a hard error") {
    val err = intercept[IllegalArgumentException] {
      StreamingEmbed.verdicts(spark, tmpDir("graft-semb-nosrc"),
        tmpDir("graft-semb-noidx"), owned = ownedDf)
    }
    assert(err.getMessage.contains("uncertified"))
  }
}
