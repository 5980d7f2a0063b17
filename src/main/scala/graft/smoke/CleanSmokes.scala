package graft.smoke

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Smoke.{Ctx, Entry, text, token}
import graft.extensions.TextIndex
import graft.streaming.{RefCache, StreamingClean}

/** Smoke entries for streaming admission: StreamingClean against an
  * owned corpus whose TextIndex is built once, measuring per-micro-batch
  * admission latency THROUGH THE PRODUCTION PATH (stream-static banding
  * join + stateful exact-dup) and asserting every planted verdict. */
object CleanSmokes {

  private def doc(src: Column): Column = text(token(src, _))
  /** The same doc with token 0 replaced — the near-dup plant. */
  private def nearDoc(src: Column): Column = concat(lit("zz0 "), text(token(src, _), from = 1))

  /** The owned corpus (`owned` docs at ids 0 until owned) and its
    * certified TextIndex: (docs path, index dir). */
  private def ownedCorpus(c: Ctx, owned: Long): (String, String) = {
    val docs = s"${c.dir("clean-owned")}/docs.parquet"
    c.time(f"materialize owned corpus ($owned%,d docs)") {
      c.spark.range(owned).select(col("id").as("doc_id"), doc(col("id")).as("text")).write.parquet(docs)
    }
    val idxDir = c.dir("clean-idx")
    c.time("TextIndex.build over the owned corpus (once at ingest)") {
      TextIndex.build(c.spark, c.spark.read.parquet(docs), idxDir)
    }
    (docs, idxDir)
  }

  private def verdicts(df: DataFrame): Map[String, Long] =
    df.groupBy("verdict").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def verdictsUnder(c: Ctx, dir: String): Map[String, Long] =
    verdicts(c.spark.read.option("recursiveFileLookup", "true").parquet(dir))

  /** Two stages over one owned corpus.
    *
    * Stage 1, the verdict operator: batch 2+ should cost less than batch
    * 1 (the banded static reference side is cached for the stream's
    * lifetime, so steady-state admission pays only the incoming batch's
    * work — what keeps the operator viable at 10⁹ owned documents), and
    * cost scales with the BATCH. Tranches per batch (by row position):
    * 25% exact copies of owned docs (→ near_dup, all 8 signature
    * components equal — the always-caught floor), 25% one-token-changed
    * copies (J≈0.98 → near_dup via minhash banding + ≥6-of-8 signature
    * agreement, asserted ≥ 90%), 10% wrong-lang, 10% short text
    * (→ quality), 30% novel (→ kept). Batches hit DISJOINT owned ranges
    * (a batch-2 copy of a batch-1 target would correctly score exact_dup
    * — precedence, not a bug). Batch 3 re-sends batch 2's novel segment
    * under new ids → exact_dup via carried state.
    *
    * Stage 2, the CLOSED loop: admitted survivors feed the owned corpus
    * + index inside the same per-batch transaction, so batch B judges
    * against batch A's admissions, with NO O(corpus) re-derive between
    * batches (the RefCache incremental extension) and replay a no-op. */
  val clean = Entry("clean", "[owned=100k] [batch=owned/5]", Seq(2000L)) { (c, sz) =>
    val spark = c.spark
    val nOwned = sz(0, 100000L)
    val nBatch = sz(1, nOwned / 5)
    val (owned, idxDir) = ownedCorpus(c, nOwned)

    // batch b covers owned range [(b-1)·nBatch, …) so stages stay
    // separable across batches; novel ids live in compact
    // per-(batch, segment) ranges above the owned id space (keeping the
    // hash multiply far from Long overflow)
    def tranche(batchNo: Long) = {
      val n = nBatch
      val i = col("i")
      spark.range(n)
        .select((col("id") + 5000000L * batchNo).as("doc_id"), col("id").as("i"),
          pmod(col("id") + (batchNo - 1) * nBatch, lit(nOwned)).as("src"))
        .select(col("doc_id"),
          when(i < n / 4, doc(col("src")))
            .when(i < n / 2, nearDoc(col("src")))
            .when(i < n * 6 / 10, doc(i + (nOwned + 2 * batchNo * n)))
            .when(i < n * 7 / 10, lit("tiny doc"))
            .otherwise(doc(i + (nOwned + (2 * batchNo + 1) * n))).as("text"),
          when(i >= n / 2 && i < n * 6 / 10, "de").otherwise("en").as("lang"),
          timestamp_seconds(lit(batchNo * 1000L) + i / lit(100000.0)).as("ingest_ts"))
    }

    val srcDir = c.dir("clean-src")
    def feed(batch: DataFrame): Unit = batch.coalesce(8).write.mode("append").parquet(srcDir)
    feed(tranche(1L))
    val q = StreamingClean.start(spark, srcDir, idxDir, "smoke_clean_sink", c.dir("clean-ckpt"))
    try {
      c.time(f"batch 1 admission ($nBatch%,d docs; bands + caches the reference side)") {
        q.processAllAvailable()
      }
      feed(tranche(2L))
      val b2 = c.timed(f"batch 2 admission ($nBatch%,d docs; cached reference)")(q.processAllAvailable())._2
      // batch 3: batch 2's novel texts under new ids → exact_dup
      feed(tranche(2L)
        .filter(col("i") >= nBatch * 7 / 10)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"), col("lang"),
          timestamp_seconds(lit(3000L)).as("ingest_ts")))
      c.time("batch 3 admission (replayed novel segment → exact_dup via carried state)") {
        q.processAllAvailable()
      }
      val v = verdicts(spark.table("smoke_clean_sink"))
      c.report("verdicts", "verdicts" -> v, "batch2_docs_per_s" -> nBatch / b2)
      val exactFloor = nBatch / 4 * 2        // Hamming-0 copies always flag
      val nearPlant = nBatch / 4 * 2         // one-token variants
      assert(v("near_dup") >= exactFloor + nearPlant * 9 / 10 &&
        v("near_dup") <= exactFloor + nearPlant,
        s"owned copies flag near_dup (exact floor + ≥90% of one-token variants): ${v("near_dup")}")
      assert(v("lang") == nBatch / 10 * 2, s"lang drops: ${v.get("lang")}")
      assert(v("quality") == nBatch / 10 * 2, s"quality drops: ${v.get("quality")}")
      assert(v("exact_dup") == nBatch * 3 / 10,
        s"batch 3's replayed novel segment → exact_dup: ${v.get("exact_dup")}")
      assert(v("kept") >= nBatch * 3 / 10 * 2,
        s"novel docs admitted: ${v.get("kept")}")
    } finally q.stop()

    // ---- stage 2: the closed admission loop
    val src2 = c.dir("clean-src2")
    val ckpt2 = c.dir("clean-ckpt2")
    val vdir2 = c.dir("clean-verdicts")
    val (novelA, novelB) = (100000000L, 200000000L)
    def loopBatch(idBase: Long, textOf: Column, tsBase: Long) =
      spark.range(nBatch).select((col("id") + idBase).as("doc_id"), textOf.as("text"),
          lit("en").as("lang"),
          timestamp_seconds(lit(tsBase) + col("id") / lit(100000.0)).as("ingest_ts"))
        .coalesce(8)
    // Each batch is written while no stream runs, then one stream run
    // (same checkpoint, so one appId) admits it. A running stream that
    // lists the source directory while a write is still moving its files
    // in admits that write as two micro-batches, each extending the
    // cached generation — seen for 2 of 30 four-file appends to a live
    // stream.
    def admitAll(label: String): Double = {
      val q2 = StreamingClean.admitStream(spark, src2, owned, idxDir, vdir2, ckpt2)
      try c.timed(label)(q2.processAllAvailable())._2 finally q2.stop()
    }
    val (builds0, extends0) = (RefCache.buildCount.get(), RefCache.extendCount.get())
    loopBatch(novelA, doc(col("id") + novelA), 10000L).write.mode("append").parquet(src2)
    val ba = admitAll(f"closed-loop batch A ($nBatch%,d novel docs: judged + admitted + indexed)")
    // batch B: half duplicates of batch A's ADMISSIONS (new ids, same
    // texts — none of them in the seed corpus), half novel
    loopBatch(novelB,
      when(col("id") < nBatch / 2, doc(col("id") + novelA)).otherwise(doc(col("id") + novelB)),
      20000L).write.mode("append").parquet(src2)
    val bb = admitAll(f"closed-loop batch B ($nBatch%,d docs; ${nBatch / 2}%,d copy batch-A admissions)")
    val v2 = verdictsUnder(c, vdir2)
    c.report("closed-loop verdicts", "verdicts" -> v2,
      "batch_a_docs_per_s" -> nBatch / ba, "batch_b_docs_per_s" -> nBatch / bb)
    assert(v2("near_dup") == nBatch / 2,
      s"batch B's copies of batch-A admissions flag near_dup — the loop is closed: ${v2.get("near_dup")}")
    assert(v2("kept") == nBatch + nBatch / 2, s"novel docs admitted: ${v2.get("kept")}")
    assert(RefCache.buildCount.get() == builds0,
      "no O(corpus) re-derive between batches: the cached reference rolled forward incrementally")
    assert(RefCache.extendCount.get() == extends0 + 2,
      "each admitting batch extended the cached generation")
    val sigsN = TextIndex.readSigs(spark, idxDir).count()
    assert(sigsN == nOwned + nBatch + nBatch / 2,
      s"index covers seed + admissions exactly once: $sigsN")
    // replay of batch A (same appId, batchId 0): returns before judging
    StreamingClean.admitBatch(spark, loopBatch(novelA, doc(col("id") + novelA), 10000L),
      owned, idxDir, vdir2, ckpt2, 0L)
    assert(TextIndex.readSigs(spark, idxDir).count() == sigsN, "replayed batch is a no-op")
    assert(StreamingClean.ownedCorpus(spark, owned).count() == sigsN,
      "owned corpus and index agree row-for-row")
  }

  /** The RefCache steady state at a segment count where the LSM
    * consolidation ACTUALLY TRIGGERS. Default batches = MaxSegments + 4:
    * each admitting batch extends the cached generation's segment lists
    * by one; past the ceiling they consolidate to one merged segment
    * (the amortized O(corpus / MaxSegments) merge), then growth resumes —
    * extends ≫ consolidations, and buildCount moves ONCE (batch 1
    * derives the seed generation; nothing afterwards re-bands the grown
    * corpus). Batch b: half copies of batch b-1's admitted novel segment
    * (batch 1 copies owned seeds) → near_dup against the ROLLED-FORWARD
    * reference, proving the loop stays closed across every extension
    * and through the consolidation; half novel → kept. */
  val loop = Entry("clean.loop", "[owned=100k] [batch=owned/5] [batches=RefCache.MaxSegments+4]",
    Seq(2000L, 200L)) { (c, sz) =>
    val spark = c.spark
    val nOwned = sz(0, 100000L)
    val nBatch = sz(1, nOwned / 5)
    val nBatches = sz(2, RefCache.MaxSegments + 4L).toInt
    // the entry measures steady-state cost AFTER the warm-up batch, so a
    // single-batch run has no steady state to report
    require(nBatches >= 2, s"clean.loop needs batches >= 2 (got $nBatches)")
    val (owned, idxDir) = ownedCorpus(c, nOwned)
    val half = nBatch / 2
    val src = c.dir("clean-lsrc")
    val vdir = c.dir("clean-lverd")
    // batch b's rows: doc_id disjoint per batch; copy leg reproduces the
    // TEXT of batch b-1's novel srcs (admitted last batch), novel leg
    // draws fresh src ids above the owned id space
    def batchOf(b: Int) = {
      val novelSrcBase = nOwned + b.toLong * nBatch        // this batch's fresh texts
      val prevNovelBase = nOwned + (b - 1).toLong * nBatch // last batch's admitted texts
      val id = col("id")
      spark.range(nBatch).select(
          (lit(10000000L) + lit(b.toLong) * nBatch + id).as("doc_id"),
          when(id < half, if (b == 1) doc(id) else doc(id + (prevNovelBase + half)))
            .otherwise(doc(id + novelSrcBase)).as("text"),
          lit("en").as("lang"),
          timestamp_seconds(lit(b.toLong * 1000L) + id / lit(100000.0)).as("ingest_ts"))
        .coalesce(4)
    }
    val (b0, e0, c0) = (RefCache.buildCount.get(), RefCache.extendCount.get(),
      RefCache.consolidateCount.get())
    val cpt0 = TextIndex.compactCount.get()
    val q = StreamingClean.admitStream(spark, src, owned, idxDir, vdir, c.dir("clean-lckpt"))
    val times = try (1 to nBatches).map { b =>
      batchOf(b).write.mode("append").parquet(src)
      val consBefore = RefCache.consolidateCount.get()
      val cptBefore = TextIndex.compactCount.get()
      val t = c.timed(f"loop batch $b%2d ($nBatch%,d docs)")(q.processAllAvailable())._2
      if (RefCache.consolidateCount.get() > consBefore) c.report("consolidation", "batch" -> b)
      if (TextIndex.compactCount.get() > cptBefore) c.report("self-triggered compaction", "batch" -> b)
      t
    } finally q.stop()
    val v = verdictsUnder(c, vdir)
    c.report("loop verdicts", "verdicts" -> v)
    // getOrElse so a missing verdict class fails with the informative
    // message, not a NoSuchElementException ahead of it
    assert(v.getOrElse("near_dup", 0L) == nBatches.toLong * half,
      s"every batch's copy leg flags near_dup against the rolled-forward reference: ${v.get("near_dup")}")
    assert(v.getOrElse("kept", 0L) == nBatches.toLong * (nBatch - half),
      s"every batch's novel leg admits: ${v.get("kept")}")
    assert(RefCache.buildCount.get() == b0 + 1,
      s"exactly ONE O(corpus) generation build (batch 1); extensions cover the rest: ${RefCache.buildCount.get() - b0}")
    // ≥, not ==: the stream runs CONTINUOUSLY between processAllAvailable
    // calls, and a trigger can list a parquet write's part files
    // mid-job-commit — one logical batch then splits into two admitting
    // micro-batches, each extending once (verdicts and exactly-once
    // index growth stay exact either way). Bounded above at one split
    // per write.
    val exts = RefCache.extendCount.get() - e0
    assert(exts >= nBatches && exts <= 2L * nBatches,
      s"every admitting micro-batch extended the cached generation: $exts for $nBatches writes")
    val cons = RefCache.consolidateCount.get() - c0
    assert(cons >= 2, s"the segment-list consolidation must trigger in a $nBatches-batch run: $cons")
    val cpts = TextIndex.compactCount.get() - cpt0
    assert(cpts >= 1,
      s"the loop must self-trigger artifact compaction past the file floor in a $nBatches-batch run: $cpts")
    val sigsN = TextIndex.readSigs(spark, idxDir).count()
    assert(sigsN == nOwned + nBatches.toLong * (nBatch - half),
      s"index covers seed + every admission exactly once: $sigsN")
    val post = times.drop(1).sorted
    val steady = post(post.size / 2)
    c.report("loop", "batches" -> nBatches, "steady_docs_per_s" -> nBatch / steady,
      "steady_s_per_batch" -> steady, "slowest_post_warm_s" -> post.last,
      "consolidations" -> cons, "compactions" -> cpts, "owned" -> nOwned)
  }

  val entries: Seq[Entry] = Seq(clean, loop)
}
