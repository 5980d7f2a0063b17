package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.extensions.TextIndex

/** Admission-stream scale smoke — StreamingClean against a 100k-doc
  * owned corpus: build the TextIndex once, then stream planted
  * tranches through the verdict operator and measure per-micro-batch
  * admission latency THROUGH THE PRODUCTION PATH (stream-static
  * banding join + stateful exact-dup), asserting every planted
  * verdict lands where it should.
  *
  * What the numbers demonstrate:
  *   - batch 2+ should cost less than batch 1: the banded static
  *     reference side is cached for the stream's lifetime, so
  *     steady-state admission pays only the incoming batch's work
  *     (signature derivation + slim joins), not a per-batch re-band
  *     of the owned corpus — the property that keeps the operator
  *     viable when the owned corpus is 10⁹ documents;
  *   - admission cost scales with the BATCH: the banding join probes
  *     4 bucket cells per incoming doc against the cached reference.
  *
  * Tranche layout per batch (fractions by row position): 25% exact
  * copies of owned docs (→ near_dup, all 8 signature components equal
  * — the always-caught floor), 25% one-token-changed copies (J≈0.98 →
  * near_dup via minhash banding + ≥6-of-8 signature agreement —
  * deterministic, asserted ≥ 90%), 10%
  * wrong-lang, 10% short text (→ quality), 30% novel (→ kept).
  * Batches hit DISJOINT owned ranges (a batch-2 copy of a batch-1
  * target would correctly score exact_dup instead — precedence, not
  * a bug — so the smoke keeps the stages separable). Batch 3
  * re-sends batch 2's novel segment under new ids → exact_dup via
  * carried state.
  *
  * Usage: runMain graft.streaming.CleanScaleSmoke [ownedDocs] [batchDocs]
  */
object CleanScaleSmoke {
  private val TOKENS = 120

  def main(args: Array[String]): Unit = {
    val nOwned = if (args.length > 0) args(0).toLong else 100000L
    val nBatch = if (args.length > 1) args(1).toLong else 20000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.PhaseLog.enable() // index-build phase timings

    def timed(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[cscale] $name: $sec%.2f s")
      sec
    }

    // deterministic doc text from a source-id column (lambda var `j`
    // deliberately distinct from any outer column name)
    def toksOf(srcCol: String) = expr(
      s"""concat_ws(' ', transform(sequence(0, ${TOKENS - 1}), j ->
         |  concat('t', pmod(($srcCol) * 2654435761 + j * 40503, 1000000000000))))""".stripMargin)
    // the same doc with token 0 replaced — the near-dup plant
    def nearOf(srcCol: String) = concat(lit("zz0 "), expr(
      s"""concat_ws(' ', transform(sequence(1, ${TOKENS - 1}), j ->
         |  concat('t', pmod(($srcCol) * 2654435761 + j * 40503, 1000000000000))))""".stripMargin))

    val ownedDir = java.nio.file.Files.createTempDirectory("graft-cscale-owned").toString
    timed(f"materialize owned corpus ($nOwned%,d docs)") {
      spark.range(nOwned).select(col("id").as("doc_id"), toksOf("id").as("text"))
        .write.parquet(s"$ownedDir/docs.parquet")
    }
    val idxDir = java.nio.file.Files.createTempDirectory("graft-cscale-idx").toString
    timed("TextIndex.build over the owned corpus (once at ingest)") {
      TextIndex.build(spark, spark.read.parquet(s"$ownedDir/docs.parquet"), idxDir)
    }

    // ---- "loop" mode: the RefCache steady-state demonstration at a
    // segment count where the LSM consolidation ACTUALLY TRIGGERS.
    // Default nBatches = MaxSegments + 4: each admitting batch extends
    // the cached generation's segment lists by one; at extend #32 the
    // lists exceed the ceiling and consolidate to one merged segment
    // (the amortized O(corpus / MaxSegments) merge), then growth
    // resumes — extends ≫ consolidations, and buildCount moves ONCE
    // (batch 1 derives the seed generation; nothing afterwards re-bands
    // the grown corpus). Batch b: half copies of batch b-1's admitted
    // novel segment (batch 1 copies owned seeds) → near_dup against the
    // ROLLED-FORWARD reference, proving the loop stays closed across
    // every extension and through the consolidation; half novel → kept.
    //   runMain graft.streaming.CleanScaleSmoke <owned> <batch> loop [nBatches]
    if (args.length > 2 && args(2) == "loop") {
      val nBatches = if (args.length > 3) args(3).toInt else RefCache.MaxSegments + 4
      // the mode measures steady-state cost AFTER the warm-up batch, so
      // a single-batch run has no steady state to report (and would
      // index into an empty post-warm list below)
      require(nBatches >= 2, s"loop mode needs nBatches >= 2 (got $nBatches)")
      val half = nBatch / 2
      val src = java.nio.file.Files.createTempDirectory("graft-cscale-lsrc").toString
      val ckptL = java.nio.file.Files.createTempDirectory("graft-cscale-lckpt").toString
      val vdir = java.nio.file.Files.createTempDirectory("graft-cscale-lverd").toString
      val owned = s"$ownedDir/docs.parquet"
      // batch b's rows: doc_id disjoint per batch; copy leg reproduces
      // the TEXT of batch b-1's novel srcs (admitted last batch), novel
      // leg draws fresh src ids above the owned id space
      def batchOf(b: Int) = {
        val novelSrcBase = nOwned + b.toLong * nBatch        // this batch's fresh texts
        val prevNovelBase = nOwned + (b - 1).toLong * nBatch // last batch's admitted texts
        spark.range(nBatch).select(
            (lit(10000000L) + lit(b.toLong) * nBatch + col("id")).as("doc_id"),
            when(col("id") < half,
              if (b == 1) toksOf("id") // copies of owned seeds
              else toksOf(s"id + $prevNovelBase + $half"))
              .otherwise(toksOf(s"id + $novelSrcBase")).as("text"),
            lit("en").as("lang"),
            timestamp_seconds(lit(b.toLong * 1000L) + col("id") / lit(100000.0)).as("ingest_ts"))
          .coalesce(4)
      }
      val (b0, e0, c0) = (RefCache.buildCount.get(), RefCache.extendCount.get(),
        RefCache.consolidateCount.get())
      val cpt0 = TextIndex.compactCount.get()
      val q = StreamingClean.admitStream(spark, src, owned, idxDir, vdir, ckptL)
      val times = new scala.collection.mutable.ArrayBuffer[Double]
      try {
        for (b <- 1 to nBatches) {
          batchOf(b).write.mode("append").parquet(src)
          val consBefore = RefCache.consolidateCount.get()
          val cptBefore = TextIndex.compactCount.get()
          times += timed(f"loop batch $b%2d ($nBatch%,d docs)") { q.processAllAvailable() }
          if (RefCache.consolidateCount.get() > consBefore)
            println(f"[cscale]   ^ consolidation fired in batch $b (segment lists merged)")
          if (TextIndex.compactCount.get() > cptBefore)
            println(f"[cscale]   ^ self-triggered artifact compaction in batch $b (sigs LSM folded)")
        }
      } finally q.stop()
      val v = spark.read.option("recursiveFileLookup", "true").parquet(vdir)
        .groupBy("verdict").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"[cscale] loop verdicts: $v")
      // getOrElse so a missing verdict class (e.g. zero near_dups on a
      // regression) fails with the informative message, not a
      // NoSuchElementException ahead of it
      assert(v.getOrElse("near_dup", 0L) == nBatches.toLong * half,
        s"every batch's copy leg flags near_dup against the rolled-forward reference: ${v.get("near_dup")}")
      assert(v.getOrElse("kept", 0L) == nBatches.toLong * (nBatch - half),
        s"every batch's novel leg admits: ${v.get("kept")}")
      assert(RefCache.buildCount.get() == b0 + 1,
        s"exactly ONE O(corpus) generation build (batch 1); extensions cover the rest: ${RefCache.buildCount.get() - b0}")
      // ≥, not ==: the stream runs CONTINUOUSLY between the loop's
      // processAllAvailable calls, and a trigger can list a parquet
      // write's part files mid-job-commit — one logical batch then
      // splits into two admitting micro-batches, each extending once
      // (measured: 37 extends / 36 writes in a round-12 run; verdicts
      // and exactly-once index growth stay exact either way — the
      // contract is "every admitting micro-batch extends, nothing
      // rebuilds", which buildCount==1 + the sigs total already pin).
      // Bounded above at one split per write.
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
      val consBatchCost = post.last
      println(f"[cscale] LOOP PASS: $nBatches batches, steady-state median ${nBatch / steady}%,.0f docs/s " +
        f"(${steady}%.2f s/batch), slowest post-warm batch $consBatchCost%.2f s, " +
        f"$cons consolidations, $cpts self-triggered compactions, builds=1, owned corpus $nOwned%,d docs")
      Seq(ownedDir, idxDir, src, ckptL, vdir).foreach(d =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
      spark.stop()
      return
    }

    // batch b covers owned range [(b-1)·nBatch, …) so stages stay
    // separable across batches (see scaladoc); novel ids live in
    // compact per-(batch, segment) ranges above the owned id space
    // (keeping the hash multiply far from Long overflow)
    def tranche(batchNo: Long) = {
      val n = nBatch
      val langBase = nOwned + (2 * batchNo) * n
      val novelBase = nOwned + (2 * batchNo + 1) * n
      spark.range(n)
        .select((col("id") + 5000000L * batchNo).as("doc_id"), col("id").as("i"),
          expr(s"pmod(id + ${(batchNo - 1) * nBatch}, $nOwned)").as("src"))
        .select(col("doc_id"),
          when(col("i") < n / 4, toksOf("src"))
            .when(col("i") < n / 2, nearOf("src"))
            .when(col("i") < n * 6 / 10, toksOf(s"i + $langBase"))
            .when(col("i") < n * 7 / 10, lit("tiny doc"))
            .otherwise(toksOf(s"i + $novelBase")).as("text"),
          when(col("i") >= n / 2 && col("i") < n * 6 / 10, "de").otherwise("en").as("lang"),
          timestamp_seconds(lit(batchNo * 1000L) + col("i") / lit(100000.0)).as("ingest_ts"))
    }

    val srcDir = java.nio.file.Files.createTempDirectory("graft-cscale-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cscale-ckpt").toString
    def feed(batchNo: Long): Unit =
      tranche(batchNo).coalesce(8).write.mode("append").parquet(srcDir)

    feed(1L)
    val q = StreamingClean.start(spark, srcDir, idxDir, "cscale_sink", ckpt)
    try {
      timed(f"batch 1 admission ($nBatch%,d docs; bands + caches the reference side)") {
        q.processAllAvailable()
      }
      feed(2L)
      val b2 = timed(f"batch 2 admission ($nBatch%,d docs; cached reference)") {
        q.processAllAvailable()
      }
      // batch 3: batch 2's novel texts under new ids → exact_dup
      tranche(2L)
        .filter(col("i") >= nBatch * 7 / 10)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"), col("lang"),
          timestamp_seconds(lit(3000L)).as("ingest_ts"))
        .coalesce(8).write.mode("append").parquet(srcDir)
      timed("batch 3 admission (replayed novel segment → exact_dup via carried state)") {
        q.processAllAvailable()
      }
      val v = spark.table("cscale_sink").groupBy("verdict").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"[cscale] verdicts: $v")
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
      println(f"[cscale] PASS: ${v.values.sum}%,d verdicts; batch-2 steady state " +
        f"${(nBatch / b2).toLong}%,d docs/s against a $nOwned%,d-doc owned corpus")
    } finally q.stop()

    // ---- phase 2: the CLOSED loop — admitted survivors feed the owned
    // corpus + index inside the same per-batch transaction, so batch B
    // judges against batch A's admissions (not just the seed corpus),
    // with NO O(corpus) re-derive between batches (the RefCache
    // incremental extension) and replay as a no-op.
    println("[cscale] phase 2: closed admission loop")
    val src2 = java.nio.file.Files.createTempDirectory("graft-cscale-src2").toString
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft-cscale-ckpt2").toString
    val vdir2 = java.nio.file.Files.createTempDirectory("graft-cscale-verdicts").toString
    val owned2 = s"$ownedDir/docs.parquet"
    val novelA = 100000000L
    val novelB = 200000000L
    def loopBatch(idBase: Long, textOf: org.apache.spark.sql.Column, tsBase: Long) =
      spark.range(nBatch).select((col("id") + idBase).as("doc_id"), textOf.as("text"),
          lit("en").as("lang"),
          timestamp_seconds(lit(tsBase) + col("id") / lit(100000.0)).as("ingest_ts"))
        .coalesce(8)
    val (builds0, extends0) = (RefCache.buildCount.get(), RefCache.extendCount.get())
    loopBatch(novelA, toksOf(s"id + $novelA"), 10000L).write.mode("append").parquet(src2)
    val q2 = StreamingClean.admitStream(spark, src2, owned2, idxDir, vdir2, ckpt2)
    try {
      val ba = timed(f"closed-loop batch A ($nBatch%,d novel docs: judged + admitted + indexed)") {
        q2.processAllAvailable()
      }
      // batch B: half duplicates of batch A's ADMISSIONS (new ids, same
      // texts — none of them in the seed corpus), half novel
      loopBatch(novelB,
        when(col("id") < nBatch / 2, toksOf(s"id + $novelA"))
          .otherwise(toksOf(s"id + $novelB")), 20000L).write.mode("append").parquet(src2)
      val bb = timed(f"closed-loop batch B ($nBatch%,d docs; ${nBatch / 2}%,d copy batch-A admissions)") {
        q2.processAllAvailable()
      }
      val v2 = spark.read.option("recursiveFileLookup", "true").parquet(vdir2)
        .groupBy("verdict").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"[cscale] closed-loop verdicts: $v2")
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
      StreamingClean.admitBatch(spark,
        loopBatch(novelA, toksOf(s"id + $novelA"), 10000L),
        owned2, idxDir, vdir2, ckpt2, 0L)
      assert(TextIndex.readSigs(spark, idxDir).count() == sigsN, "replayed batch is a no-op")
      assert(StreamingClean.ownedCorpus(spark, owned2).count() == sigsN,
        "owned corpus and index agree row-for-row")
      println(f"[cscale] PASS closed loop: batch A ${(nBatch / ba).toLong}%,d docs/s, " +
        f"batch B ${(nBatch / bb).toLong}%,d docs/s — admissions indexed in-loop, replay no-op")
    } finally q2.stop()
    Seq(ownedDir, idxDir, srcDir, src2, ckpt2, vdir2, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    spark.stop()
  }
}
