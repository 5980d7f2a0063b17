package graft.smoke

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.Smoke.{Ctx, Entry, Tokens, text, token}
import graft.extensions.{DedupQueries, TextIndex}

/** Smoke entries for the text-signature index and the dedup tiers.
  *
  * Corpus (all entries but `text.hot`): unique integer-hash tokens
  * everywhere except two planted tranches — every id ≡ 1 (mod 50)
  * near-duplicates its predecessor (last 10 of 120 tokens replaced →
  * 3-gram Jaccard = 108/128 = 0.84375, where banding is near-lossless),
  * and every id ≡ 26 (mod 50) MID-duplicates its predecessor (last 34
  * replaced → J = 84/152 ≈ 0.5526, where the 4×2 banding theory
  * predicts a ~23 % candidate miss). The shared shingles have df=2, far
  * under the rare-blocking cap, so every planted pair is in
  * dedup_ngram's exact truth; the mid tranche exercises
  * `jaccard_recall` where the measured catch rate is BINOMIALLY
  * distinguishable from both 0 and 1. Unique docs share no shingle, so
  * candidate work scales with PLANTED duplication, not with doc pairs.
  */
object TextSmokes {
  private val Tail = 10  // replaced suffix in the near-dup copy (J = 0.84375 → band 8)
  private val Tail2 = 34 // replaced suffix in the mid-dup copy (J ≈ 0.5526 → band 5)

  private final case class Corpus(dir: String, nDocs: Long) {
    val planted: Long = (nDocs - 2) / 50 + 1   // ids 1, 51, 101, … < nDocs
    val planted2: Long = (nDocs - 27) / 50 + 1 // ids 26, 76, 126, … < nDocs
  }

  private def corpus(c: Ctx, nDocs: Long): Corpus = {
    val dir = c.dir("text")
    // copies derive their shared prefix from the BASE doc id (their
    // predecessor) and their replaced tail from their OWN id, so the
    // corpus is reproducible from ids alone; tail prefixes ('x'/'y')
    // keep the two tranches' replacement tokens disjoint from
    // everything else
    val doc = col("doc_id")
    val base = when(doc % 50 === 1 || doc % 50 === 26, doc - 1).otherwise(doc)
    c.time(f"materialize $nDocs%,d docs × $Tokens tokens (parquet)")(
      CoreSmokes.writeDocs(c, nDocs, s"$dir/documents.parquet", text(i =>
        when(doc % 50 === 1 && i >= Tokens - Tail, token(doc, i, "x"))
          .when(doc % 50 === 26 && i >= Tokens - Tail2, token(doc, i, "y"))
          .otherwise(token(base, i)))))
    Corpus(dir, nDocs)
  }

  /** A registry query collected; its internal persists released. */
  private def run(c: Ctx, dir: String, name: String): Array[Row] = {
    val r = graft.SparkEntry.queries(name)(c.spark, dir).collect()
    c.spark.catalog.clearCache()
    r
  }

  private def same(a: Array[Row], b: Array[Row]): Boolean =
    a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq

  /** TextIndex economics: build cost (paid once at ingest), then
    * `dedup_minhash`, `dedup_ngram`, `text_winnow` and `bm25_topk`
    * recompute vs index-served THROUGH THE PRODUCTION REGISTRY,
    * bit-identical both ways; the bloom prune; the winnow match set and
    * the banding-recall audit against the planted tranches. */
  val full = Entry("text", "[docs=200k]", Seq(100000L)) { (c, sz) =>
    val spark = c.spark
    val cp = corpus(c, sz(0, 200000L))
    import cp.{dir, nDocs, planted, planted2}
    val mhRecompute = c.time("dedup_minhash recompute")(run(c, dir, "dedup_minhash"))
    val ngRecompute = c.time("dedup_ngram recompute")(run(c, dir, "dedup_ngram"))
    val wnRecompute = c.time("text_winnow recompute")(run(c, dir, "text_winnow"))
    val bmRecompute = c.time("bm25_topk recompute (corpus explode+groupBy per query)")(run(c, dir, "bm25_topk"))
    assert(ngRecompute.length == planted + planted2,
      s"ngram must find exactly the planted pairs of both tranches: " +
        s"${planted + planted2} vs ${ngRecompute.length}")
    // dedup_minhash VERIFIES at J ≥ 0.8, so only the near-dup tranche
    // survives; banding at J=0.84375 catches ~99 % (1-(1-J²)^4)
    assert(mhRecompute.length <= planted && mhRecompute.length > planted * 9 / 10,
      s"minhash candidates ≈ planted: ${mhRecompute.length} of $planted")

    // dedup_bloom's batch is the doc_id % 20 = 7 slice: the pruned path
    // vs the plain corpus join (identical verdicts by construction), and
    // the prune selectivity the literal-array filter achieves
    val bloomGot = c.time("dedup_bloom (bloom-pruned corpus scan)")(run(c, dir, "dedup_bloom"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plainWant = c.time("dedup_bloom reference (plain corpus join)") {
      val batch = DedupQueries.bloomBatch(docs)
        .select(col("batch_id"), sha2(col("text"), 256).as("h"))
      val hits = docs.select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .groupBy("h").agg(min("doc_id").as("dup_of"))
      batch.join(hits, Seq("h"), "left")
        .select(col("batch_id"),
          when(col("dup_of").isNull, lit("new")).otherwise(lit("dup")).as("verdict"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("batch_id").collect()
    }
    assert(same(bloomGot, plainWant), "bloom-pruned verdicts must equal the plain join at scale")
    val bloom = DedupQueries.bloomArray(DedupQueries.bloomBatch(docs), "text")
    val survivors = docs.filter(DedupQueries.bloomMightContain(bloom, col("text"))).count()
    c.report("bloom_prune", "survivors" -> survivors, "corpus" -> nDocs,
      "permille" -> survivors * 1000 / nDocs)
    assert(survivors < nDocs / 4, "the prune must reject the bulk of the corpus")

    val idxDir = c.dir("text-idx")
    c.time(s"TextIndex.build over $nDocs docs (the once-at-ingest cost)") {
      TextIndex.build(spark, docs, idxDir)
    }
    c.withConf(TextIndex.ConfKey, idxDir) {
      val mhServed = c.time("dedup_minhash index-served (first resolve pays the content gate)")(
        run(c, dir, "dedup_minhash"))
      val ngServed = c.time("dedup_ngram index-served (memoized gate, stored shn)")(
        run(c, dir, "dedup_ngram"))
      assert(same(mhServed, mhRecompute), "index-served minhash must be bit-identical to recompute")
      assert(same(ngServed, ngRecompute), "index-served ngram must be bit-identical to recompute")
      val wnServed = c.time("text_winnow index-served (posexplodes stored swh)")(
        run(c, dir, "text_winnow"))
      assert(same(wnServed, wnRecompute), "index-served winnow must be bit-identical to recompute")
      // BM25 from the inverted-index components: tf/dl from stored
      // postings, df from the dfreq LSM — the corpus-sized tokenize +
      // groupBy never runs at query time
      val bmServed = c.time("bm25_topk index-served (stored postings + dfreq)")(
        run(c, dir, "bm25_topk"))
      assert(same(bmServed, bmRecompute), "index-served BM25 must be bit-identical to recompute")

      // the match step: unique docs share no k-gram, so every
      // fingerprint's doc-frequency is ≤ 2 (no boilerplate cap hits)
      // and the match set must be EXACTLY the planted pairs of both
      // tranches — the copies share 110/86-token prefixes, far past the
      // W + k − 1 = 11-token guarantee threshold.
      val wm = c.time("winnow_matches index-served (fingerprint self-join)")(
        run(c, dir, "winnow_matches"))
      val gotPairs = wm.map(r => (r.getLong(0), r.getLong(1))).toSet
      val wantPairs = ((1L until nDocs by 50L) ++ (26L until nDocs by 50L))
        .map(b => (b - 1, b)).toSet
      assert(gotPairs == wantPairs,
        s"winnow matches must be exactly the planted pairs: got ${gotPairs.size}, want ${wantPairs.size}")

      // the banding-recall audit, index-served: measured catch must sit
      // on the theory curve — near-lossless at J=0.84 (band 8), ~23 %
      // miss at J=0.55 (band 5). This is the number the audit query
      // exists to surface; the sf* corpora only populate the lossless
      // bands.
      val jr = c.time("jaccard_recall index-served (pays the exact truth + banding)")(
        run(c, dir, "jaccard_recall"))
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
      c.report("jaccard_recall", "band8_ppm" -> caught8, "band8_theory_ppm" -> byBand(8L)._3,
        "band5_ppm" -> caught5, "band5_theory_ppm" -> byBand(5L)._3)
    }
    c.report("pairs", "planted" -> planted, "planted2" -> planted2,
      "ngram" -> ngRecompute.length, "minhash" -> mhRecompute.length)
  }

  /** Only the BM25/hybrid legs (corpus + index build + recompute/served
    * timings) — the linearity probe one decade past the `text` entry's
    * default, where its planted-pair assertions would just re-prove
    * known facts. */
  val retrieval = Entry("text.retrieval", "[docs=2M]", Seq(2000L)) { (c, sz) =>
    val spark = c.spark
    val cp = corpus(c, sz(0, 2000000L))
    import cp.{dir, nDocs}
    val bmRecompute = c.time("bm25_topk recompute (corpus explode+groupBy per query)")(run(c, dir, "bm25_topk"))
    val rrfRecompute = c.time("hybrid_rrf recompute (BM25 + cosine legs)")(run(c, dir, "hybrid_rrf"))
    val idxDir = c.dir("text-idx")
    val buildSec = c.timed(s"TextIndex.build over $nDocs docs (the once-at-ingest cost)") {
      TextIndex.build(spark, spark.read.parquet(s"$dir/documents.parquet"), idxDir)
    }._2
    c.report("build_throughput", "docs_per_s" -> nDocs / buildSec,
      "m_tokens_per_s" -> nDocs * Tokens / buildSec / 1e6)
    c.withConf(TextIndex.ConfKey, idxDir) {
      val bmServed = c.time("bm25_topk index-served (stored postings + dfreq probe)")(run(c, dir, "bm25_topk"))
      assert(same(bmServed, bmRecompute), "index-served BM25 must be bit-identical to recompute")
      val rrfServed = c.time("hybrid_rrf index-served (BM25 leg from the index)")(run(c, dir, "hybrid_rrf"))
      assert(same(rrfServed, rrfRecompute), "index-served hybrid must be bit-identical to recompute")
    }
  }

  /** The 64-bit SimHash tier: dedup_simhash's own raw pair list must be
    * BOUNDED by true near-dup mass. Corpus ∪ verbatim re-id'd copies of
    * id%5=0 (guaranteed Hamming-0 partners — the recall floor), served
    * by the 64-bit Manku 20-table (C(6,3) three-block keys) Hamming-≤3
    * tier. The replaced 4×16 banding measured ~n²/2¹⁶ false candidates
    * here (4.5e8 / 332 s at 3.84M docs); the 20-table list must stay
    * ∝ plants and the wall ~linear in the corpus. The route is pinned to
    * that tier (past 100k docs the size gate picks it anyway). */
  private def sh64Phase(c: Ctx, cp: Corpus): Unit = {
    import cp.{dir, nDocs, planted, planted2}
    val vplants = (nDocs - 1) / 5 + 1 // ids 0, 5, 10, … < nDocs
    val d64 = s"$dir/sh64"
    val baseDocs = c.spark.read.parquet(s"$dir/documents.parquet")
    baseDocs.union(
        baseDocs.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 100000000L))
      .write.parquet(s"$d64/documents.parquet")
    val n64 = c.time(f"dedup_simhash 64-bit tier at ${(nDocs * 6) / 5}%,d docs") {
      try DedupQueries.simhashRouted(c.spark, d64, exact = Some(false)).count()
      finally c.spark.catalog.clearCache()
    }
    c.report("sh64", "pairs" -> n64, "verbatim_floor" -> vplants,
      "flood_32bit_estimate" -> (nDocs * 1.2 * nDocs * 1.2 * 9e-5).toLong)
    assert(n64 >= vplants,
      s"every verbatim copy is a Hamming-0 pair the 20-table Manku banding cannot miss: $n64 < $vplants")
    assert(n64 <= vplants + 2 * (planted + planted2),
      s"the 64-bit pair list stays bounded by true near-dup mass: $n64")
  }

  /** dedup_cascade through the PRODUCTION REGISTRY: the operator plants
    * its own variants (verbatim / re-encoded / one-token-prefixed at
    * id%5 = 0/1/2), growing the corpus 1.6×, and each tier must remove
    * exactly its plant population: this corpus's docs are
    * near-dup-related ONLY inside the id%50 tranches, which the prefix
    * plants never touch, so tier-1/2 counts are exact and tier 3 is
    * bounded below by the prefixed plants (118/119 shared shingles) and
    * above by plants + the verified near-dup tranche. This entry is
    * ALSO the regression gate for the near tier's candidate generator
    * (verified MinHash pairs at every size): the SimHash form it replaced
    * collapsed 239,999 of 240,000 survivors into one false component. */
  val cascade = Entry("text.cascade", "[docs=200k]", Seq(5000L)) { (c, sz) =>
    val cp = corpus(c, sz(0, 200000L))
    import cp.{dir, nDocs, planted}
    val rows = c.time("dedup_cascade end-to-end") {
      run(c, dir, "dedup_cascade").map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    }
    rows.foreach { case (no, tier, in, rm, tok, surv) =>
      c.report(s"cascade tier $no", "tier" -> tier, "in" -> in, "removed" -> rm,
        "tokens_removed" -> tok, "survivors" -> surv)
    }
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
    sh64Phase(c, cp)
  }

  /** Only the 64-bit Manku-banding tier, for decade runs past what the
    * cascade's disk/time budget reaches — docs ≈ 8.33M gives a 10M-doc
    * banded corpus (20 banded rows/doc = 2×10⁸ rows). */
  val sh64 = Entry("text.sh64", "[docs=200k]", Seq(5000L)) { (c, sz) =>
    sh64Phase(c, corpus(c, sz(0, 200000L)))
  }

  /** The template-flood worst case for the banding self-joins: 90 % of
    * the corpus is ONE template family (shared 120-token boilerplate + a
    * distinct per-doc stamp token, so the copies survive BOTH the exact
    * and normalized tiers and all land in the same band buckets).
    * Uncapped, that bucket contributes (0.9·n)²/2 candidate pairs —
    * 1.6e10 at the 200k default, a run that never finishes; the
    * hot-bucket guard must drop the flooded buckets, account the
    * dropped mass, and leave control pairs intact. The cap is set
    * explicitly (spark.graft.dedup.maxBandBucket at its default), the
    * documented setting for standalone pair queries over raw
    * template-heavy corpora — it enforces the guard at every size; past
    * 100k docs the default conf enforces it anyway. */
  val hot = Entry("text.hot", "[docs=200k]", Seq(5000L)) { (c, sz) =>
    c.withConf(DedupQueries.MaxBucketKey, DedupQueries.DefaultMaxBucket.toString)(floodRun(c, sz))
  }

  private def floodRun(c: Ctx, sz: graft.Smoke.Sizes): Unit = {
    val spark = c.spark
    val nDocs = sz(0, 200000L)
    val hotDir = c.dir("text-hot")
    val nFam = nDocs * 9 / 10
    val template = (0 until Tokens).map(j => s"tpl$j").mkString(" ")
    c.time(f"materialize $nDocs%,d docs ($nFam%,d-copy template family + controls)") {
      val fam = spark.range(nFam).select(col("id").as("doc_id"),
        concat(lit(template + " stamp"), col("id")).as("text"))
      val ctl = spark.range(nFam, nDocs).select(col("id").as("doc_id"),
        text(token(col("id"), _, "c")).as("text"))
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
    c.report("hot_buckets", "capped" -> hot.length, "largest" -> hot.sorted.reverse.take(6).toSeq,
      "cap" -> DedupQueries.DefaultMaxBucket)
    assert(hot.length >= 4 && hot.max >= nFam * 8 / 10,
      s"the template family floods its band buckets past the cap: ${hot.sorted.reverse.take(6).toSeq}")
    def pairs(name: String) = run(c, hotDir, name).map(r => (r.getLong(0), r.getLong(1)))
    val mh = c.time(f"dedup_minhash CAPPED over the flood (uncapped would be ${nFam.toDouble * nFam / 2}%.1e candidates)")(
      pairs("dedup_minhash"))
    assert(mh.contains((nFam, nDocs)),
      "the verbatim control pair (bucket size 2) survives the guard")
    assert(!mh.exists { case (a, b) => a < nFam && b < nFam },
      s"every template pair lives in capped buckets only: ${mh.length} pairs")
    val ed = c.time("dedup_edit CAPPED over the flood (no O(len²) DP on the family)")(
      pairs("dedup_edit"))
    assert(ed.contains((nFam, nDocs)) && !ed.exists { case (a, b) => a < nFam && b < nFam },
      s"edit candidates ride the same capped buckets: ${ed.length} pairs")
    c.report("hot", "minhash_pairs" -> mh.length, "edit_pairs" -> ed.length)
  }

  val entries: Seq[Entry] = Seq(full, retrieval, cascade, hot, sh64)
}
