package graft

import org.apache.spark.sql.functions._

import graft.extensions.TextIndex
import graft.streaming.StreamingClean

/** Online corpus admission: the verdict stream must equal the batch
  * backfill form row-for-row on in-order streams — across micro-batch
  * boundaries — and the hand-derived verdicts pin every stage path
  * independently of the shared derivations.
  */
class StreamingCleanSpec extends SparkSpec with AdmissionCases {

  import spark.implicits._

  /** 40 distinct ~4-char tokens: passes every quality gate. */
  private def goodText(tag: String): String =
    (0 until 40).map(i => s"${tag}t$i").mkString(" ")

  private val baseCorpus: Seq[(Long, String)] =
    (0L until 20L).map(d => d -> goodText(s"b$d"))

  // near-variant of base doc 1: one interior token replaced out of 40 —
  // 37 of 40 3-gram shingles survive, so the simhash lands within
  // Hamming range of the indexed one (deterministic md5 derivation:
  // this either always passes or never does)
  private val nearVariant: String = {
    val toks = goodText("b1").split(" ")
    (toks.take(20) ++ Seq("changed") ++ toks.drop(21)).mkString(" ")
  }

  // the streamed tranche: every verdict path carries at least one doc
  private val tranche: Seq[(Long, String, String, Long)] = Seq(
    (100L, goodText("n100"), "en", 1L),   // novel                → kept
    (101L, goodText("n101"), "de", 2L),   // wrong language       → lang
    (102L, "tiny doc", "en", 3L),         // < 30 tokens          → quality
    (103L, goodText("b0"), "en", 4L),     // exact copy of owned  → near_dup (hamming 0)
    (104L, nearVariant, "en", 5L),        // near copy of owned   → near_dup
    (105L, goodText("n100"), "en", 6L),   // repeat of 100        → exact_dup
    (106L, goodText("n101"), "en", 7L),   // 101's text, right lang → kept (lang drop reserved no hash)
    (107L, "tiny doc", "en", 8L),         // repeat of the quality drop → quality (not exact_dup)
  )

  private val expected: Map[Long, String] = Map(
    100L -> "kept", 101L -> "lang", 102L -> "quality", 103L -> "near_dup",
    104L -> "near_dup", 105L -> "exact_dup", 106L -> "kept", 107L -> "quality")

  private val text = Modality("text", StreamingClean, TextIndex, "sigs",
    () => baseCorpus.toDF("doc_id", "text"),
    b => Seq((1000L + b, goodText(s"cpt$b"), "en", new java.sql.Timestamp(b * 1000L)))
      .toDF("doc_id", "text", "lang", "ingest_ts"))

  private def buildIndex(): String = {
    val dir = tmpDir("graft-sclean-idx")
    TextIndex.build(spark, baseCorpus.toDF("doc_id", "text"), dir)
    dir
  }

  private def writeTranche(src: String, ids: Set[Long]): Unit =
    tranche.filter(t => ids(t._1))
      .map { case (d, text, lang, ts) => (d, text, lang, new java.sql.Timestamp(ts * 1000L)) }
      .toDF("doc_id", "text", "lang", "ingest_ts")
      .coalesce(1).write.mode("append").parquet(src)

  test("stream verdicts ≡ batch backfill ≡ hand-derived, across micro-batches") {
    val idx = buildIndex()
    val src = tmpDir("graft-sclean-src")
    val ckpt = tmpDir("graft-sclean-ckpt")
    // batch 1 ends before the repeat docs: 105 must hit CARRIED state
    writeTranche(src, Set(100L, 101L, 102L, 103L))
    val q = StreamingClean.start(spark, src, idx, "sclean_sink", ckpt)
    try {
      q.processAllAvailable()
      writeTranche(src, Set(104L, 105L, 106L, 107L))
      q.processAllAvailable()
      val got = spark.table("sclean_sink")
        .select("doc_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected, "every stage path, hand-derived")
      val batch = StreamingClean.batchVerdicts(spark,
          tranche.map { case (d, t, l, ts) => (d, t, l, new java.sql.Timestamp(ts * 1000L)) }
            .toDF("doc_id", "text", "lang", "ingest_ts"), idx)
        .select("doc_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(batch === got, "batch backfill form agrees row-for-row")
      assert(spark.table("sclean_sink").filter(col("kept")).count() === 2L)
    } finally q.stop()
  }

  test("exact-dup state is watermark-bounded: a cross-horizon repeat is admitted again") {
    val idx = buildIndex()
    val src = tmpDir("graft-sclean-evict-src")
    val ckpt = tmpDir("graft-sclean-evict-ckpt")
    def write(d: Long, tsSec: Long, text: String = goodText("ev")): Unit =
      Seq((d, text, "en", new java.sql.Timestamp(tsSec * 1000L)))
        .toDF("doc_id", "text", "lang", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(src)
    write(0L, 1L)
    val q = StreamingClean.start(spark, src, idx, "sclean_evict_sink", ckpt,
      watermark = "1 second")
    try {
      q.processAllAvailable()
      write(1L, 2L) // in-horizon repeat → exact_dup
      q.processAllAvailable()
      // far-future docs advance the watermark past the hash's timeout,
      // then a dataless batch for that group fires the eviction (the
      // StreamingSpans timing contract)
      write(2L, 100000L, goodText("fa"))
      q.processAllAvailable()
      write(3L, 100001L, goodText("fb"))
      q.processAllAvailable()
      write(4L, 100002L) // same text as doc 0, far past the horizon
      q.processAllAvailable()
      val got = spark.table("sclean_evict_sink")
        .select("doc_id", "verdict").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got(0L) === "kept" && got(1L) === "exact_dup",
        "in-horizon repeat dropped")
      assert(got(4L) === "kept",
        "cross-horizon repeat re-admitted (bounded state; batch pass owns the rest)")
    } finally q.stop()
  }

  test("reference cache: one build per index generation, retired on index growth") {
    val idx = buildIndex()
    val docs = tranche.map { case (d, t, l, ts) => (d, t, l, new java.sql.Timestamp(ts * 1000L)) }
      .toDF("doc_id", "text", "lang", "ingest_ts")
    val before = graft.streaming.RefCache.buildCount.get()
    StreamingClean.batchVerdicts(spark, docs, idx).collect()
    StreamingClean.batchVerdicts(spark, docs, idx).collect()
    assert(graft.streaming.RefCache.buildCount.get() === before + 1,
      "repeated batch passes against an unchanged index share ONE cached generation")
    // growing the index re-keys the cache: the next pass derives fresh
    // reference frames that include the appended documents
    TextIndex.append(spark, Seq((200L, goodText("n100"))).toDF("doc_id", "text"), idx)
    val grown = StreamingClean.batchVerdicts(spark, docs, idx)
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(graft.streaming.RefCache.buildCount.get() === before + 2,
      "an index append retires the cached generation")
    assert(grown(100L) === "near_dup",
      "the fresh generation serves the appended document's signature")
  }

  test("closed admission loop: batch N+1 sees batch N's admissions; replay is a no-op") {
    val owned = tmpDir("graft-admit-owned")
    baseCorpus.toDF("doc_id", "text").write.mode("overwrite").parquet(owned)
    val idx = tmpDir("graft-admit-idx")
    TextIndex.build(spark, StreamingClean.ownedCorpus(spark, owned), idx)
    val src = tmpDir("graft-admit-src")
    val vdir = tmpDir("graft-admit-verdicts")
    val ckpt = tmpDir("graft-admit-ckpt")
    def write(rows: Seq[(Long, String, String, Long)]): Unit =
      rows.map { case (d, t, l, ts) => (d, t, l, new java.sql.Timestamp(ts * 1000L)) }
        .toDF("doc_id", "text", "lang", "ingest_ts")
        .coalesce(1).write.mode("append").parquet(src)
    // batch 0: a novel doc + a near-copy of the SEED corpus
    write(Seq((100L, goodText("n100"), "en", 1L), (103L, goodText("b0"), "en", 2L)))
    val (builds0, extends0) =
      (graft.streaming.RefCache.buildCount.get(), graft.streaming.RefCache.extendCount.get())
    val q = StreamingClean.admitStream(spark, src, owned, idx, vdir, ckpt)
    try {
      q.processAllAvailable()
      // batch 1: a duplicate of batch 0's ADMITTED doc — which is NOT
      // in the seed corpus — plus another novel doc
      write(Seq((200L, goodText("n100"), "en", 3L), (201L, goodText("n201"), "en", 4L)))
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.streaming.RefCache.buildCount.get() === builds0 + 1,
      "one full reference derivation for the whole run — batch 1 rode the extended cache")
    assert(graft.streaming.RefCache.extendCount.get() === extends0 + 2,
      "each admitting batch rolled the cached generation forward incrementally")
    val got = spark.read.option("recursiveFileLookup", "true").parquet(vdir)
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(100L) === "kept")
    assert(got(103L) === "near_dup", "seed-corpus copy caught")
    assert(got(200L) === "near_dup",
      "batch 1's duplicate of a batch-0 admission is caught — the loop is closed")
    assert(got(201L) === "kept")
    // the owned corpus grew by exactly the kept docs; the index covers it
    assert(StreamingClean.ownedCorpus(spark, owned).select("doc_id").collect()
      .map(_.getLong(0)).toSet === ((0L until 20L).toSet + 100L + 201L))
    assert(TextIndex.readSigs(spark, idx).count() === 22L)
    assert(TextIndex.usable(spark, idx), "the loop leaves a certified index behind")
    // replay of batch 0 (same appId = checkpoint path): returns before
    // judging — no re-append, no corpus growth, no verdict rewrite
    val batch0 = Seq((100L, goodText("n100"), "en", new java.sql.Timestamp(1000L)))
      .toDF("doc_id", "text", "lang", "ingest_ts")
    StreamingClean.admitBatch(spark, batch0, owned, idx, vdir, ckpt, 0L)
    assert(TextIndex.readSigs(spark, idx).count() === 22L, "replayed batch appends nothing")
    assert(StreamingClean.ownedCorpus(spark, owned).count() === 22L)
    // a SECOND writer under a different appId (the nightly re-admission
    // pass) must NOT reset the stream's replay detection: a defeated
    // replay would destroy doc 100
    nightlyKeepsReplay(text, owned, idx, vdir, ckpt, batch0, admitted = 100L,
      nightly = Seq((300L, goodText("n300"), "en", new java.sql.Timestamp(9000L)))
        .toDF("doc_id", "text", "lang", "ingest_ts"),
      ownedAfter = 23L)
  }

  test("an all-rejected batch advances the cursor without corrupting the fingerprint") {
    // seed ids start ABOVE zero — the case an all-zero empty-append
    // fingerprint (min(realMin, 0) = 0) would silently corrupt, leaving
    // verify() to uncertify the index on its next audit
    val owned = tmpDir("graft-admit-empty-owned")
    baseCorpus.map { case (d, t) => (d + 1000L, t) }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(owned)
    val idx = tmpDir("graft-admit-empty-idx")
    TextIndex.build(spark, StreamingClean.ownedCorpus(spark, owned), idx)
    val vdir = tmpDir("graft-admit-empty-verdicts")
    // every doc in the batch is a copy of an owned doc → kept is EMPTY
    StreamingClean.admitBatch(spark,
      Seq((5000L, goodText("b0"), "en", new java.sql.Timestamp(1000L)),
        (5001L, goodText("b1"), "en", new java.sql.Timestamp(2000L)))
        .toDF("doc_id", "text", "lang", "ingest_ts"),
      owned, idx, vdir, "app", 0L)
    assert(TextIndex.usable(spark, idx))
    assert(TextIndex.verify(spark, idx, StreamingClean.ownedCorpus(spark, owned)),
      "the meta fingerprint still matches the (unchanged) owned corpus")
    assert(TextIndex.readMeta(spark, idx).appliedBatch("app") === Some(0L),
      "…and the txn cursor advanced — the empty commit is still a commit")
  }

  test("self-triggering compaction: the admit loop folds the sigs LSM past the file floor, exactly-once intact") {
    selfCompaction(text)
  }

  test("an absent or uncertified index is a hard error, not a silent pass-through") {
    val err = intercept[IllegalArgumentException] {
      StreamingClean.verdicts(spark, tmpDir("graft-sclean-nosrc"),
        tmpDir("graft-sclean-noidx"))
    }
    assert(err.getMessage.contains("uncertified"))
  }
}
