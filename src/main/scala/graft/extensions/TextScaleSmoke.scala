package graft.extensions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Text-signature scale smoke — the X2 analog of VectorScaleSmoke:
  * synthesize N documents (default 200k — 40× the sf0.1 documents
  * table) with planted near-duplicates, and measure the TextIndex
  * economics at a corpus size where the signature derivation is real
  * work: build cost (paid once at ingest), then `dedup_minhash` and
  * `dedup_ngram` recompute vs index-served THROUGH THE PRODUCTION
  * REGISTRY, asserting bit-identical results both ways.
  *
  * Corpus: unique integer-hash tokens everywhere except two planted
  * tranches — every id ≡ 1 (mod 50) near-duplicates its predecessor
  * (last 10 of 120 tokens replaced → 3-gram Jaccard = 108/128 =
  * 0.84375, where banding is near-lossless), and every id ≡ 26
  * (mod 50) MID-duplicates its predecessor (last 34 replaced →
  * J = 84/152 ≈ 0.5526, where the 4×2 banding theory predicts a
  * ~23 % candidate miss). The shared shingles have df=2, far under
  * the rare-blocking cap, so every planted pair is in dedup_ngram's
  * exact truth; the mid tranche exists to exercise `jaccard_recall`
  * where the measured catch rate is BINOMIALLY distinguishable from
  * both 0 and 1 — the smoke asserts measured ≈ theory per band.
  * Unique docs share no shingle, so candidate work scales with
  * PLANTED duplication, not with doc pairs — the property the smoke
  * exists to demonstrate.
  *
  * Usage: runMain graft.extensions.TextScaleSmoke [docs]
  */
object TextScaleSmoke {
  private val TOKENS = 120
  private val TAIL = 10  // replaced suffix in the near-dup copy (J = 0.84375 → band 8)
  private val TAIL2 = 34 // replaced suffix in the mid-dup copy (J ≈ 0.5526 → band 5)

  /** The 64-bit SimHash tier at scale: dedup_simhash's own raw pair
    * list past the gate must be BOUNDED by true near-dup mass.
    * Corpus ∪ verbatim re-id'd copies of id%5=0 (guaranteed Hamming-0
    * partners — the recall floor); the corpus size (1.2·nDocs) is past
    * EXACT_TIER_MAX_ROWS, so the unset route serves the 64-bit Manku
    * 20-table (C(6,3) three-block keys) Hamming-≤3 tier. The replaced
    * 4×16 banding measured ~n²/2¹⁶ false candidates here (4.5e8 /
    * 332 s at 3.84M docs); the 20-table list must stay ∝ plants and
    * the wall ~linear in the corpus. */
  private def sh64Phase(spark: SparkSession, dir: String, nDocs: Long,
                        planted: Long, planted2: Long): Unit = {
    val vplants = (nDocs - 1) / 5 + 1 // ids 0, 5, 10, … < nDocs
    val d64 = s"$dir/sh64"
    val baseDocs = spark.read.parquet(s"$dir/documents.parquet")
    baseDocs.union(
        baseDocs.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 100000000L))
      .write.parquet(s"$d64/documents.parquet")
    val t64 = System.nanoTime()
    val n64 = graft.SparkEntry.queries("dedup_simhash")(spark, d64).count()
    val sec64 = (System.nanoTime() - t64) / 1e9
    spark.sharedState.cacheManager.clearCache()
    println(f"[tscale] 64-bit simhash tier at ${(nDocs * 6) / 5}%,d docs: $n64%,d pairs in $sec64%.1f s " +
      f"(verbatim floor $vplants%,d; 32-bit form would flood ~${(nDocs * 1.2 * nDocs * 1.2 * 9e-5).toLong}%,d)")
    assert(n64 >= vplants,
      s"every verbatim copy is a Hamming-0 pair the 20-table Manku banding cannot miss: $n64 < $vplants")
    assert(n64 <= vplants + 2 * (planted + planted2),
      s"the 64-bit pair list stays bounded by true near-dup mass: $n64")
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 200000L
    // "retrieval" mode: only the BM25/hybrid phases (corpus + index
    // build + recompute/served timings) — the linearity probe one
    // decade past the full smoke's 200k default, where the dedup
    // phases' planted-pair assertions would just re-prove round-7 facts
    val retrievalOnly = args.length > 1 && args(1) == "retrieval"
    // "cascade" mode: dedup_cascade through the PRODUCTION REGISTRY at
    // corpus scale — the operator plants its own variants (verbatim /
    // re-encoded / one-token-prefixed at id%5 = 0/1/2), growing the
    // corpus 1.6×, and each tier must remove exactly its plant
    // population: this corpus's docs are near-dup-related ONLY inside
    // the id%50 tranches, which the prefix plants never touch, so
    // tier-1/2 counts are exact and tier 3 is bounded below by the
    // prefixed plants (118/119 shared shingles) and above by plants +
    // the verified near-dup tranche. This mode is ALSO the regression
    // gate for the near tier's candidate generator: the SimHash form
    // it replaced collapsed 239,999 of 240,000 survivors into one
    // false component here.
    val cascadeOnly = args.length > 1 && args(1) == "cascade"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.PhaseLog.enable() // index-build phase timings

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[tscale] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // "hot" mode: the template-flood worst case for the banding
    // self-joins — 90 % of the corpus is ONE template family (shared
    // 120-token boilerplate + a distinct per-doc stamp token, so the
    // copies survive BOTH the exact and normalized tiers and all land
    // in the same band buckets). Uncapped, that bucket contributes
    // (0.9·n)²/2 candidate pairs — 1.6e10 at the 200k default, a run
    // that never finishes; the hot-bucket guard
    // (spark.graft.dedup.maxBandBucket) must drop the flooded buckets,
    // account the dropped mass, and leave control pairs intact.
    if (args.length > 1 && args(1) == "hot") {
      val hotDir = java.nio.file.Files.createTempDirectory("graft-text-hot").toString
      val nFam = nDocs * 9 / 10
      val template = (0 until TOKENS).map(j => s"tpl$j").mkString(" ")
      time(f"materialize $nDocs%,d docs ($nFam%,d-copy template family + controls)") {
        val fam = spark.range(nFam).select(col("id").as("doc_id"),
          concat(lit(template + " stamp"), col("id")).as("text"))
        val ctl = spark.range(nFam, nDocs).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until TOKENS).map(j =>
            concat(lit("c"), pmod(col("id") * 2654435761L + lit(j * 40503), lit(1000000000000L)))): _*).as("text"))
        val verb = ctl.filter(col("doc_id") === nFam) // verbatim control pair
          .withColumn("doc_id", lit(nDocs))
        fam.union(ctl).union(verb)
          .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .write.parquet(s"$hotDir/documents.parquet")
      }
      val corpus = spark.read.parquet(s"$hotDir/documents.parquet")
      val hot = DedupQueries.minhashHotBuckets(spark, corpus).collect()
        .map(r => r.getLong(r.fieldIndex("bucket_size")))
      println(s"[tscale] hot-bucket accounting: ${hot.length} capped buckets, " +
        f"sizes ${hot.sorted.reverse.take(6).mkString(", ")} (cap ${DedupQueries.DefaultMaxBucket})")
      assert(hot.length >= 4 && hot.max >= nFam * 8 / 10,
        s"the template family floods its band buckets past the cap: ${hot.sorted.reverse.take(6).toSeq}")
      val mh = time(f"dedup_minhash CAPPED over the flood (uncapped would be ${nFam.toDouble * nFam / 2}%.1e candidates)") {
        graft.SparkEntry.queries("dedup_minhash")(spark, hotDir).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      spark.sharedState.cacheManager.clearCache()
      assert(mh.contains((nFam, nDocs)),
        "the verbatim control pair (bucket size 2) survives the guard")
      assert(!mh.exists { case (a, b) => a < nFam && b < nFam },
        s"every template pair lives in capped buckets only: ${mh.length} pairs")
      val ed = time("dedup_edit CAPPED over the flood (no O(len²) DP on the family)") {
        graft.SparkEntry.queries("dedup_edit")(spark, hotDir).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      spark.sharedState.cacheManager.clearCache()
      assert(ed.contains((nFam, nDocs)) && !ed.exists { case (a, b) => a < nFam && b < nFam },
        s"edit candidates ride the same capped buckets: ${ed.length} pairs")
      println(f"[tscale] HOT PASS at $nDocs%,d docs: template family ($nFam%,d copies) dropped with accounting, " +
        s"controls caught (minhash ${mh.length} pairs, edit ${ed.length} pairs)")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(hotDir))
      spark.stop()
      return
    }

    // copies derive their shared prefix from the BASE doc id (their
    // predecessor) and their replaced tail from their OWN id, so the
    // corpus is reproducible from ids alone; tail prefixes ('x'/'y')
    // keep the two tranches' replacement tokens disjoint from
    // everything else
    val base = expr("CASE WHEN id % 50 IN (1, 26) THEN id - 1 ELSE id END")
    val toks = expr(
      s"""transform(sequence(0, ${TOKENS - 1}), i ->
         |  CASE WHEN doc_id % 50 = 1 AND i >= ${TOKENS - TAIL}
         |       THEN concat('x', pmod(doc_id * 2654435761 + i * 40503, 1000000000000))
         |       WHEN doc_id % 50 = 26 AND i >= ${TOKENS - TAIL2}
         |       THEN concat('y', pmod(doc_id * 2654435761 + i * 40503, 1000000000000))
         |       ELSE concat('t', pmod(base_id * 2654435761 + i * 40503, 1000000000000)) END)
         |""".stripMargin)
    val dir = java.nio.file.Files.createTempDirectory("graft-text-smoke").toString
    time(f"materialize $nDocs%,d docs × $TOKENS tokens (parquet)") {
      spark.range(nDocs)
        .select(col("id").as("doc_id"), base.as("base_id"))
        .select(col("doc_id"), concat_ws(" ", toks).as("text"),
          lit("en").as("lang"), lit("src0").as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.parquet(s"$dir/documents.parquet")
    }
    val planted = (nDocs - 2) / 50 + 1   // ids 1, 51, 101, … < nDocs
    val planted2 = (nDocs - 27) / 50 + 1 // ids 26, 76, 126, … < nDocs

    def run(name: String): Array[org.apache.spark.sql.Row] = {
      val r = graft.SparkEntry.queries(name)(spark, dir).collect()
      spark.sharedState.cacheManager.clearCache() // queries persist internally
      r
    }

    if (cascadeOnly) {
      val t0 = System.nanoTime()
      val rows = run("dedup_cascade").map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      val sec = (System.nanoTime() - t0) / 1e9
      rows.foreach { case (no, tier, in, rm, tok, surv) =>
        println(f"[tscale] cascade tier $no ($tier%5s): in=$in%,d removed=$rm%,d tokens_removed=$tok%,d survivors=$surv%,d") }
      val Seq(t1, t2, t3) = rows.toSeq
      val plants = nDocs / 5
      assert(t1._3 == nDocs + 3 * plants, s"corpus grows by the three plant populations: ${t1._3}")
      assert(t1._4 == plants, s"tier 1 removes exactly the verbatim plants: ${t1._4}")
      assert(t2._4 == plants, s"tier 2 removes exactly the re-encoded plants: ${t2._4}")
      assert(t2._3 == t1._6 && t3._3 == t2._6, "tier chaining")
      // zq plants share 118 of 119 shingles with their source (J≈.992
      // — verified ≥.8, banding miss odds ≤(2/119)⁴ per doc); the
      // near-dup tranche (id%50=1, J=.84375, disjoint from id%5=2 by
      // arithmetic) can only ADD catches, and the mid tranche (J≈.55)
      // is excluded by the exact-Jaccard verification
      assert(t3._4 >= plants * 99 / 100 && t3._4 <= plants + planted,
        s"tier 3 = prefixed plants + verified tranche extras: ${t3._4} vs [${plants} * 0.99, ${plants + planted}]")
      println(f"[tscale] CASCADE PASS at ${t1._3}%,d docs (incl. plants): $sec%.1f s end-to-end, " +
        f"tier-3 removed ${t3._4}%,d (zq plants $plants%,d + tranche extras)")

      // ---- 64-bit SimHash tier at scale: dedup_simhash's own raw
      // pair list past the gate must be BOUNDED by true near-dup mass.
      sh64Phase(spark, dir, nDocs, planted, planted2)

      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      spark.stop()
      return
    }

    // "sh64" mode: ONLY the 64-bit Manku-banding tier, for decade
    // smokes past what the cascade's disk/time budget reaches in one
    // run — nDocs ≈ 8.33M gives a 10M-doc banded corpus (20 banded
    // rows/doc = 2×10⁸ rows), the round-11 verdict's linearity probe.
    if (args.length > 1 && args(1) == "sh64") {
      sh64Phase(spark, dir, nDocs, planted, planted2)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      spark.stop()
      return
    }

    if (retrievalOnly) {
      val bmRecompute = time("bm25_topk recompute (corpus explode+groupBy per query)")(run("bm25_topk"))
      val rrfRecompute = time("hybrid_rrf recompute (BM25 + cosine legs)")(run("hybrid_rrf"))
      val idxDir = java.nio.file.Files.createTempDirectory("graft-text-smoke-idx").toString
      val tBuild0 = System.nanoTime()
      time(s"TextIndex.build over $nDocs docs (the once-at-ingest cost)") {
        TextIndex.build(spark, spark.read.parquet(s"$dir/documents.parquet"), idxDir)
      }
      val buildSec = (System.nanoTime() - tBuild0) / 1e9
      println(f"[tscale] build throughput: ${nDocs / buildSec}%,.0f docs/s " +
        f"(${nDocs * TOKENS / buildSec / 1e6}%.1f M tokens/s) at $nDocs%,d docs")
      spark.conf.set(TextIndex.ConfKey, idxDir)
      try {
        val bmServed = time("bm25_topk index-served (stored postings + dfreq probe)")(run("bm25_topk"))
        assert(bmServed.map(_.toSeq).toSeq == bmRecompute.map(_.toSeq).toSeq,
          "index-served BM25 must be bit-identical to recompute")
        val rrfServed = time("hybrid_rrf index-served (BM25 leg from the index)")(run("hybrid_rrf"))
        assert(rrfServed.map(_.toSeq).toSeq == rrfRecompute.map(_.toSeq).toSeq,
          "index-served hybrid must be bit-identical to recompute")
        println(s"[tscale] RETRIEVAL PASS at $nDocs docs: served ≡ recompute for bm25_topk + hybrid_rrf")
      } finally spark.conf.unset(TextIndex.ConfKey)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
      spark.stop()
      return
    }

    val mhRecompute = time("dedup_minhash recompute")(run("dedup_minhash"))
    val ngRecompute = time("dedup_ngram recompute")(run("dedup_ngram"))
    val wnRecompute = time("text_winnow recompute")(run("text_winnow"))
    val bmRecompute = time("bm25_topk recompute (corpus explode+groupBy per query)")(run("bm25_topk"))
    assert(ngRecompute.length == planted + planted2,
      s"ngram must find exactly the planted pairs of both tranches: " +
        s"${planted + planted2} vs ${ngRecompute.length}")
    // dedup_minhash VERIFIES at J ≥ 0.8, so only the near-dup tranche
    // survives; banding at J=0.84375 catches ~99 % (1-(1-J²)^4)
    assert(mhRecompute.length <= planted && mhRecompute.length > planted * 9 / 10,
      s"minhash candidates ≈ planted: ${mhRecompute.length} of $planted")

    // X1c at scale: dedup_bloom's batch is the doc_id % 20 = 7 slice —
    // 10k docs against this 200k corpus. Measure the pruned path vs the
    // plain corpus join (identical verdicts by construction) and report
    // the prune selectivity the literal-array filter achieves.
    val bloomGot = time("dedup_bloom (bloom-pruned corpus scan)")(run("dedup_bloom"))
    val plainWant = time("dedup_bloom reference (plain corpus join)") {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
      val batch = DedupQueries.bloomBatch(corpus)
        .select(col("batch_id"), sha2(col("text"), 256).as("h"))
      val hits = corpus.select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .groupBy("h").agg(min("doc_id").as("dup_of"))
      batch.join(hits, Seq("h"), "left")
        .select(col("batch_id"),
          when(col("dup_of").isNull, lit("new")).otherwise(lit("dup")).as("verdict"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("batch_id").collect()
    }
    assert(bloomGot.map(_.toSeq).toSeq == plainWant.map(_.toSeq).toSeq,
      "bloom-pruned verdicts must equal the plain join at scale")
    locally {
      val corpus = spark.read.parquet(s"$dir/documents.parquet")
      val batchT = DedupQueries.bloomBatch(corpus)
      val bloom = DedupQueries.bloomArray(batchT, "text")
      val survivors = corpus.filter(DedupQueries.bloomMightContain(bloom, col("text"))).count()
      val total = corpus.count()
      println(f"[tscale] bloom prune: $survivors%,d of $total%,d corpus rows survive " +
        f"(${survivors * 1000 / total}%d permille reach the verification join)")
      assert(survivors < total / 4, "the prune must reject the bulk of the corpus")
    }

    val idxDir = java.nio.file.Files.createTempDirectory("graft-text-smoke-idx").toString
    time(s"TextIndex.build over $nDocs docs (the once-at-ingest cost)") {
      TextIndex.build(spark, spark.read.parquet(s"$dir/documents.parquet"), idxDir)
    }
    spark.conf.set(TextIndex.ConfKey, idxDir)
    try {
      val mhServed = time("dedup_minhash index-served (first resolve pays the content gate)") {
        run("dedup_minhash")
      }
      val ngServed = time("dedup_ngram index-served (memoized gate, stored shn)") {
        run("dedup_ngram")
      }
      assert(mhServed.map(_.toSeq).toSeq == mhRecompute.map(_.toSeq).toSeq,
        "index-served minhash must be bit-identical to recompute")
      assert(ngServed.map(_.toSeq).toSeq == ngRecompute.map(_.toSeq).toSeq,
        "index-served ngram must be bit-identical to recompute")
      val wnServed = time("text_winnow index-served (posexplodes stored swh)") {
        run("text_winnow")
      }
      assert(wnServed.map(_.toSeq).toSeq == wnRecompute.map(_.toSeq).toSeq,
        "index-served winnow must be bit-identical to recompute")
      // BM25 from the inverted-index components: tf/dl from stored
      // postings, df from the dfreq LSM — the corpus-sized tokenize +
      // groupBy never runs at query time
      val bmServed = time("bm25_topk index-served (stored postings + dfreq)") {
        run("bm25_topk")
      }
      assert(bmServed.map(_.toSeq).toSeq == bmRecompute.map(_.toSeq).toSeq,
        "index-served BM25 must be bit-identical to recompute")

      // the match step at scale: unique docs share no k-gram, so every
      // fingerprint's doc-frequency is ≤ 2 (no boilerplate cap hits)
      // and the match set must be EXACTLY the planted pairs of both
      // tranches — the copies share 110/86-token prefixes, far past the
      // W + k − 1 = 11-token guarantee threshold.
      val wm = time("winnow_matches index-served (fingerprint self-join)") {
        run("winnow_matches")
      }
      val gotPairs = wm.map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantPairs = ((1L until nDocs by 50L) ++ (26L until nDocs by 50L))
        .map(b => (b - 1, b)).toSet
      assert(gotPairs == wantPairs,
        s"winnow matches must be exactly the planted pairs: got ${gotPairs.size}, want ${wantPairs.size}")

      // the banding-recall audit at scale, index-served: with ~4k pairs
      // per band the binomial spread is ~±2 % at 3σ, so measured catch
      // must sit on the theory curve — near-lossless at J=0.84 (band 8),
      // ~23 % miss at J=0.55 (band 5). This is the number the audit
      // query exists to surface; the sf* corpora only populate the
      // lossless bands.
      val jr = time("jaccard_recall index-served (pays the exact truth + banding)") {
        run("jaccard_recall")
      }
      val byBand = jr.map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(4))).toMap // band -> (n, caught, theory)
      assert(byBand.keySet == Set(5L, 8L), s"bands: ${byBand.keySet}")
      assert(byBand(8L)._1 == planted && byBand(5L)._1 == planted2,
        s"per-band truth counts: ${byBand(8L)._1}/$planted, ${byBand(5L)._1}/$planted2")
      val caught8 = byBand(8L)._2 * 1000000L / byBand(8L)._1
      assert(caught8 >= 980000L, s"band-8 catch ppm $caught8 (theory ${byBand(8L)._3})")
      val caught5 = byBand(5L)._2 * 1000000L / byBand(5L)._1
      assert(math.abs(caught5 - byBand(5L)._3) <= 30000L,
        s"band-5 catch ppm $caught5 must sit within 3 % of theory ${byBand(5L)._3}")
      println(s"[tscale] jaccard_recall: band 8 catch ${caught8} ppm (theory ${byBand(8L)._3}), " +
        s"band 5 catch ${caught5} ppm (theory ${byBand(5L)._3})")

      println(s"[tscale] PASS: $planted + $planted2 planted pairs; ngram found ${ngRecompute.length}, " +
        s"minhash ${mhRecompute.length}; served ≡ recompute both ways")
    } finally spark.conf.unset(TextIndex.ConfKey)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
    spark.stop()
  }
}
