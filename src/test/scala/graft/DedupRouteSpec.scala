package graft

import org.apache.spark.sql.functions._

import graft.extensions.DedupQueries

/** The corpus-size gate on the exact all-pairs dedup tiers
  * (dedup_embed / dedup_docvec): under EXACT_TIER_MAX_ROWS the gated
  * QueryDef runs the exact block join (every oracle SF), past it the
  * build routes to SRP-LSH banding at scale-advised band width with
  * the SAME scoring predicate. These tests pin the routed builders'
  * contract: reported pairs are exactly verified (⊆ the exact tier's
  * output) and identical vectors — which share every band bucket by
  * construction — are never missed.
  */
class DedupRouteSpec extends SparkSpec {

  test("the gate sits above every oracle SF and below the smoke scale") {
    assert(DedupQueries.EXACT_TIER_MAX_ROWS >= 50000L,
      "gate must clear every oracle SF (sf0.1 ≈ 5k rows) with margin")
    assert(DedupQueries.EXACT_TIER_MAX_ROWS <= 1000000L,
      "gate must engage by the 1M-row smoke scale")
  }

  test("routed embed dedup: pairs are a verified subset of exact; an identical vector pair is always caught") {
    val d = tmpDir("graft-embedroute")
    // 60 deterministic vectors + one verbatim copy of vec 0 (id 60)
    val dimCols = (0 until 64).map { j =>
      (pmod(col("base") * lit(2654435761L) + lit(j) * lit(40503L), lit(2000L)) / 1000.0 - 1.0)
    }
    spark.range(61)
      .select(col("id").as("vec_id"), when(col("id") === 60L, 0L).otherwise(col("id")).as("base"))
      .select(col("vec_id"), array(dimCols: _*).as("embedding"))
      .write.parquet(s"$d/embeddings.parquet")
    val exact = DedupQueries.embedCosine.build(spark, d).collect() // 61 rows < gate → exact tier
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // force the routed scheme the gate would pick at 1M rows
    val routed = DedupQueries.embedCosineLshBuild(spark, d,
        DedupQueries.ROUTED_PLANES,
        graft.extensions.AnnIndex.advisedBandBits(1000000L, DedupQueries.ROUTED_PLANES))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(exact.contains((0L, 60L)) && exact((0L, 60L)) === 1.0, "exact tier must see the copy")
    assert(routed.contains((0L, 60L)), "identical vectors share every band bucket — never missed")
    routed.foreach { case (pair, cos) =>
      assert(exact.get(pair).contains(cos), s"routed pair $pair must carry the exact tier's score")
    }
  }

  test("routed docvec dedup: pairs are a verified subset of exact; a verbatim document copy is always caught") {
    val d = tmpDir("graft-docvecroute")
    val mkText = (i: Int) => (1 to 30).map(j => s"w${i}_$j").mkString(" ")
    val rows = (0 until 20).map(i => (i.toLong, mkText(i), "en", "s", 100L)) :+
      ((20L, mkText(0), "en", "s", 100L)) // verbatim copy of doc 0
    spark.createDataFrame(rows)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val exact = DedupQueries.docvecDedup.build(spark, d).collect() // 21 docs < gate → exact tier
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val routed = DedupQueries.docvecPairsLsh(spark, d, 1000000L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(exact.contains((0L, 20L)), "exact tier must pair the verbatim copy")
    assert(routed.contains((0L, 20L)), "identical hash vectors share every band bucket — never missed")
    routed.foreach { case (pair, ints) =>
      assert(exact.get(pair).contains(ints), s"routed pair $pair must carry the exact integer outputs")
    }
  }

  test("routed cluster pair source: verified MinHash route resolves the same clusters as the SimHash tier") {
    val d = tmpDir("graft-clusterroute")
    // 8 mutually-unrelated 120-token docs + a one-token-prefixed copy
    // of doc 0 (id 8, J ≈ 0.992) — the only true near-dup pair
    def text(seed: Long) = (0 until 120).map(j => s"t${seed * 131 + j * 7919}").mkString(" ")
    val rows = (0L until 8L).map(i => (i, text(i))) :+ ((8L, "zq " + text(0)))
    import spark.implicits._
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("src0")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$d/documents.parquet")
    def clustersUnder(exact: Boolean) = DedupQueries.clusterLabels(spark, d, Some(exact))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val exact = clustersUnder(true)   // the oracle-replayed SimHash tier
    val routed = clustersUnder(false) // the >100k-doc verified-MinHash route
    assert(exact === routed, "both routes resolve the identical components on true near-dups")
    assert(routed.count { case (id, c) => c != id } === 1L, "exactly the planted copy is clustered away")
    assert(routed.contains((8L, 0L)), "the prefixed copy labels to its source")
  }

  test("INTENDED route divergence: a Hamming<=6-but-Jaccard<0.8 pair clusters under the SimHash tier only") {
    // The two routes apply DIFFERENT near-dup criteria, not just
    // different candidate generators: the <=100k SimHash tier admits
    // Hamming-<=6 signature pairs, the routed tier admits exact-Jaccard-
    // >=0.8 verified pairs. The sets overlap but are unequal — this pair
    // (doc B = doc A + 10 appended tokens; J ~= 0.737, 32-bit Hamming 4
    // with a shared byte band so the banding join surfaces it,
    // found by exhaustive search over seeded token streams) exists on
    // the SimHash side only, so cluster membership CAN change when a
    // growing corpus crosses the gate. That discontinuity is the
    // documented contract (see nearPairsRouted's scaladoc), priced
    // against the alternative: the SimHash criterion itself floods past
    // ~10^5 docs (measured: 240k docs -> one component).
    val d = tmpDir("graft-divroute")
    val a = (0 until 30).map(j => s"s3x$j").mkString(" ")
    val b = a + " " + (0 until 10).map(j => s"e3y$j").mkString(" ")
    import spark.implicits._
    Seq((0L, a), (1L, b)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src0"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$d/documents.parquet")
    def clustersUnder(exact: Boolean) = DedupQueries.clusterLabels(spark, d, Some(exact))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(clustersUnder(true) === Seq((0L, 0L), (1L, 0L)),
      "SimHash tier: Hamming 4 <= 6 clusters the pair")
    assert(clustersUnder(false) === Seq((0L, 0L), (1L, 1L)),
      "verified-Jaccard route: J ~= 0.737 < 0.8 keeps them apart — the intended criterion difference")
  }

  test("dedup_simhash routed 64-bit tier: verbatim copy caught at Hamming 0, unrelated docs pair-free, bounded list") {
    val d = tmpDir("graft-sh64route")
    // 12 mutually-unrelated 120-token docs + a verbatim re-id'd copy of
    // doc 0 (id 12) — identical shingle set ⇒ identical 64-bit sig ⇒
    // Hamming 0, caught with probability 1 (shares every band)
    def text(seed: Long) = (0 until 120).map(j => s"u${seed * 131 + j * 7919}").mkString(" ")
    val rows = (0L until 12L).map(i => (i, text(i))) :+ ((12L, text(0)))
    import spark.implicits._
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("src0")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$d/documents.parquet")
    def pairsUnder(exact: Boolean) = DedupQueries.simhashRouted(spark, d, Some(exact))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val routed = pairsUnder(false) // forces the > 100k-doc 64-bit tier
    assert(routed === Seq((0L, 12L, 0L)),
      "the 64-bit tier reports exactly the verbatim pair — no false Hamming-<=3 edges among unrelated docs")
    val exact = pairsUnder(true) // the oracle-replayed 32-bit tier
    assert(exact.exists { case (a, b, h) => a == 0L && b == 12L && h == 0L },
      "the 32-bit tier also sees the verbatim pair at Hamming 0")
  }

  test("lean-shingle MinHash path (candidate-only verification) yields the identical verified pair set") {
    // Past LeanShingleMinRows the corpus-wide shingle cache is replaced
    // by candidate-only re-derivation (the 8M-doc disk budget). Same
    // shingle values → same exact Jaccard → same pairs; this pins it at
    // test scale by forcing the gate to 0.
    def pairs() = graft.SparkEntry.queries("dedup_minhash")(spark, sfDir).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_a")), r.getLong(r.fieldIndex("doc_b")),
        r.getDouble(r.fieldIndex("jaccard")))).toSeq.sorted
    val default = pairs()
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set(graft.extensions.DedupQueries.LeanShingleMinRowsKey, "0")
    val lean = try pairs()
    finally spark.conf.unset(graft.extensions.DedupQueries.LeanShingleMinRowsKey)
    spark.sharedState.cacheManager.clearCache()
    assert(lean === default, "lean path is a caching strategy, not a semantics change")
    assert(default.nonEmpty, "the SF corpus has verified near-dup pairs to compare")
  }

  test("lean ngram path (no corpus-wide explode persist) yields the identical pair set") {
    // Past LeanShingleMinRows ngramPairs stops persisting the exploded
    // corpus×shingles frame (strictly larger than the shingle arrays
    // behind the r11 8M-doc ENOSPC) and streams it per consumer,
    // caching only the tiny frequent-shingle set and the narrow
    // per-doc meta frame. Rare-blocking flips from inner-join-rare to
    // anti-join-frequent — same rows by the DF_MAX partition of dfx.
    def pairs() = graft.SparkEntry.queries("dedup_ngram")(spark, sfDir).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_a")), r.getLong(r.fieldIndex("doc_b")),
        r.getDouble(r.fieldIndex("jaccard")))).toSeq.sorted
    val default = pairs()
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set(graft.extensions.DedupQueries.LeanShingleMinRowsKey, "0")
    val lean = try pairs()
    finally spark.conf.unset(graft.extensions.DedupQueries.LeanShingleMinRowsKey)
    spark.sharedState.cacheManager.clearCache()
    assert(lean === default, "lean ngram path is a caching strategy, not a semantics change")
    assert(default.nonEmpty, "the SF corpus has ngram near-dup pairs to compare")
  }

  test("dedup_edit: long documents (max len >= 5369) do not overflow the banded-DP threshold") {
    // Round-13 regression guard (ADVICE r12 medium): the threshold
    // expr (EDIT_MAX_MICRO+1)*ml was INT*INT — at ml >= 5369 chars it
    // overflowed signed 32-bit (ANSI ARITHMETIC_OVERFLOW, or with ANSI
    // off a wrapped negative threshold silently dropping valid pairs).
    // ml is now widened to BIGINT first; an ~8 KB near-dup pair must
    // surface with its exact distance.
    val d = tmpDir("graft-editlong")
    val base = (0 until 1200).map(i => s"tok$i").mkString(" ") // ~8.2 KB
    val rows = Seq(
      (0L, base, "en", "s", base.length.toLong),
      (1L, base + " tail", "en", "s", (base.length + 5).toLong))
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    assert(base.length >= 5369, "fixture must sit past the 32-bit overflow point")
    val pairs = graft.SparkEntry.queries("dedup_edit")(spark, d).collect()
      .map(r => (r.getLong(r.fieldIndex("doc_a")), r.getLong(r.fieldIndex("doc_b")),
        r.getLong(r.fieldIndex("lev"))))
    assert(pairs.toSeq === Seq((0L, 1L, 5L)),
      "the long near-dup pair must survive with exact lev = 5 (appended ' tail')")
  }
}
