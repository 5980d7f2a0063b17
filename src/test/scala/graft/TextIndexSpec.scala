package graft

import org.apache.spark.sql.functions._

import graft.extensions.TextIndex

/** The persisted text-signature index: index-served dedup queries must
  * be IDENTICAL to the recompute path, appends must extend the index
  * exactly, and a stale/foreign/mis-schemed index must never serve.
  */
class TextIndexSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private def collect(name: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(spark, sfDir).collect().toSeq.map(_.toSeq)

  private def withIndex[T](dir: String)(body: => T): T = {
    spark.conf.set(TextIndex.ConfKey, dir)
    try body finally spark.conf.unset(TextIndex.ConfKey)
  }

  test("index-served dedup_minhash / dedup_simhash / dedup_clusters / dedup_ngram and the span family equal the recompute path") {
    val dir = tmpDir("graft-textidx")
    val recomputed = Seq("dedup_minhash", "dedup_simhash", "dedup_clusters", "dedup_ngram",
        "dedup_spans", "dedup_span_frac", "dedup_scrub", "dedup_edit")
      .map(n => n -> collect(n))
    TextIndex.build(spark, docs, dir)
    assert(TextIndex.usable(spark, dir))
    withIndex(dir) {
      assert(TextIndex.resolveFor(spark, docs) === Some(dir))
      recomputed.foreach { case (n, expected) =>
        assert(collect(n) === expected, s"$n index-served must equal recompute")
      }
    }
  }

  test("one-pass graft_token_tf postings ≡ the explode + groupBy(doc, tok) aggregation") {
    // the build's postings stage computes tf with the per-row expression
    // (no corpus-sized aggregate shuffle — the stage that OOM'd 16 GB
    // at 2M docs); its row SET must equal the round-10 groupBy form
    val dir = tmpDir("graft-textidx-tf")
    TextIndex.build(spark, docs, dir)
    val got = TextIndex.readPostings(spark, dir).select("doc_id", "tok", "tf", "dl")
    val toks = "filter(split(text, ' '), t -> t != '')"
    val expected = docs
      .select(col("doc_id"), size(expr(toks)).cast("long").as("dl"),
        explode(expr(toks)).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"), max("dl").as("dl"))
      .select("doc_id", "tok", "tf", "dl")
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "expression-derived postings must equal the aggregation form row for row")
  }

  test("stale, foreign-scheme, or uncertified indexes are never served") {
    val dir = tmpDir("graft-textidx-stale")
    TextIndex.build(spark, docs.filter(col("doc_id") >= 10), dir) // subset = stale
    val recomputed = collect("dedup_minhash")
    withIndex(dir) {
      assert(TextIndex.resolveFor(spark, docs) === None, "fingerprint mismatch")
      assert(collect("dedup_minhash") === recomputed, "falls back to recompute")
    }
    // growing the index to cover the corpus restores serving
    TextIndex.append(spark, docs.filter(col("doc_id") < 10), dir)
    withIndex(dir)(assert(TextIndex.resolveFor(spark, docs) === Some(dir)))
    // content identity: a corpus RE-TEXTED in place keeps every doc_id
    // (count/min/max/sum all agree) — only the content term can catch it
    val mutated = docs.withColumn("text", concat(col("text"), lit(" edited")))
    withIndex(dir)(assert(TextIndex.resolveFor(spark, mutated) === None,
      "re-texted corpus with unchanged ids must not be served"))
    // a different MinHash width must not band 8-hash queries
    val dirNarrow = tmpDir("graft-textidx-narrow")
    TextIndex.build(spark, docs, dirNarrow, numHashes = 4)
    withIndex(dirNarrow)(assert(TextIndex.resolveFor(spark, docs) === None,
      "signature-scheme mismatch must refuse to serve"))
    // uncertified (simulated crash) → not served
    graft.sources.TsdbStorage.markStatsOutOfSync(spark, dir)
    withIndex(dir)(assert(TextIndex.resolveFor(spark, docs) === None))
  }

  test("the content-check proof is memoized per (session, index, corpus identity)") {
    import graft.extensions.CorpusIndex
    val dir = tmpDir("graft-textidx-memo")
    // a sub-corpus no other test resolves: the memo key is (session,
    // index fingerprint, corpus identity) — NOT the index dir — so a
    // proof primed by an earlier test on the full corpus would
    // legitimately serve a second index with the identical fingerprint
    val corp = docs.filter(col("doc_id") < 400)
    TextIndex.build(spark, corp, dir)
    withIndex(dir) {
      val c0 = CorpusIndex.contentScanCount.get()
      assert(TextIndex.resolveFor(spark, corp) === Some(dir))
      val c1 = CorpusIndex.contentScanCount.get()
      assert(c1 === c0 + 1, "the first resolve pays the full content scan")
      assert(TextIndex.resolveFor(spark, corp) === Some(dir))
      assert(TextIndex.resolveFor(spark, corp) === Some(dir))
      assert(CorpusIndex.contentScanCount.get() === c1,
        "later resolves of the same corpus serve the session proof (id stats only)")
      // a transformed frame is a DIFFERENT corpus identity (plan hash):
      // memo miss → full re-proof → refused, never served on the proof
      // of the unmutated corpus
      val mutated = corp.withColumn("text", concat(col("text"), lit(" edited")))
      assert(TextIndex.resolveFor(spark, mutated) === None)
      assert(CorpusIndex.contentScanCount.get() === c1 + 1,
        "a mutated corpus misses the memo and is re-proved (and refused)")
      // a rewritten file set (same rows, new part files) is also a new
      // identity: re-proof happens, and — the corpus being genuinely
      // unchanged — serving resumes
      val copy = tmpDir("graft-textidx-memo-copy")
      corp.write.parquet(s"$copy/documents.parquet")
      val reread = spark.read.parquet(s"$copy/documents.parquet")
      assert(TextIndex.resolveFor(spark, reread) === Some(dir))
      assert(CorpusIndex.contentScanCount.get() === c1 + 2,
        "a new file listing misses the memo and re-proves")
    }
  }

  test("appends extend the index exactly; replayed (appId, batchId) is a no-op") {
    val dir = tmpDir("graft-textidx-append")
    val dirFull = tmpDir("graft-textidx-full")
    TextIndex.build(spark, docs.filter(col("doc_id") >= 50), dir)
    val batch = docs.filter(col("doc_id") < 50)
    TextIndex.append(spark, batch, dir, txn = Some(("ckpt", 0L)))
    val n = TextIndex.readSigs(spark, dir).count()
    assert(n === docs.count(), "one sigs row per document")
    TextIndex.append(spark, batch, dir, txn = Some(("ckpt", 0L))) // replay
    assert(TextIndex.readSigs(spark, dir).count() === n, "replay must not duplicate")
    // signatures are per-document deterministic: appended ≡ full build
    TextIndex.build(spark, docs, dirFull)
    assert(TextIndex.readSigs(spark, dir)
      .exceptAll(TextIndex.readSigs(spark, dirFull)).isEmpty,
      "appended signatures must match a from-scratch build bit-for-bit")
  }

  test("index-served bm25_topk / hybrid_rrf equal the recompute path; appended postings serve identically") {
    val dir = tmpDir("graft-textidx-bm25")
    val expectedB = collect("bm25_topk")
    val expectedH = collect("hybrid_rrf")
    TextIndex.build(spark, docs, dir)
    assert(TextIndex.hasPostings(spark, dir), "build creates the BM25 components")
    withIndex(dir) {
      assert(TextIndex.resolveFor(spark, docs) === Some(dir))
      assert(collect("bm25_topk") === expectedB, "served BM25 must equal recompute")
      assert(collect("hybrid_rrf") === expectedH, "served hybrid must equal recompute")
    }
    // postings appended batch-by-batch serve exactly like a full build
    val dir2 = tmpDir("graft-textidx-bm25-append")
    TextIndex.build(spark, docs.filter(col("doc_id") >= 50), dir2)
    TextIndex.append(spark, docs.filter(col("doc_id") < 50), dir2)
    withIndex(dir2) {
      assert(TextIndex.resolveFor(spark, docs) === Some(dir2))
      assert(collect("bm25_topk") === expectedB,
        "appended postings/dfreq must serve identical rankings")
    }
  }

  test("streamed maintenance (TextIndexStream) keeps the index exact") {
    val dir = tmpDir("graft-textidx-stream")
    TextIndex.build(spark, docs.filter(col("doc_id") >= 50), dir)
    val src = tmpDir("graft-textidx-stream-src")
    def write(cond: org.apache.spark.sql.Column): Unit =
      docs.filter(cond).coalesce(1).write.mode("append").parquet(src)
    write(col("doc_id") < 25)
    val q = TextIndex.appendStream(
      spark.readStream.schema(docs.schema).parquet(src),
      dir, tmpDir("graft-textidx-stream-ckpt"))
    try {
      q.processAllAvailable()
      write(col("doc_id") >= 25 && col("doc_id") < 50)
      q.processAllAvailable()
    } finally q.stop()
    assert(TextIndex.usable(spark, dir))
    assert(TextIndex.readSigs(spark, dir).count() === docs.count())
    withIndex(dir) {
      assert(TextIndex.resolveFor(spark, docs) === Some(dir))
      // the BM25 components grew inside the same micro-batch txns:
      // served rankings equal a from-scratch recompute
      assert(TextIndex.hasPostings(spark, dir))
      val served = collect("bm25_topk")
      spark.conf.unset(TextIndex.ConfKey)
      val recomputed = collect("bm25_topk")
      spark.conf.set(TextIndex.ConfKey, dir)
      assert(served === recomputed, "streamed postings must serve identical BM25 rankings")
    }
  }

  test("fsck uncertifies on corruption; compact rewrites without changing contents") {
    val dir = tmpDir("graft-textidx-fsck")
    TextIndex.build(spark, docs, dir)
    assert(TextIndex.fsck(spark, dir) === Seq.empty)
    java.nio.file.Files.write(
      new java.io.File(s"$dir/sigs/part-corrupt.parquet").toPath, "junk".getBytes)
    assert(TextIndex.fsck(spark, dir).nonEmpty)
    withIndex(dir)(assert(TextIndex.resolveFor(spark, docs) === None))
    assert(TextIndex.fsck(spark, dir, repair = true).nonEmpty)
    TextIndex.build(spark, docs, dir)
    val before = TextIndex.readSigs(spark, dir).collect().map(_.toSeq).toSet
    TextIndex.compact(spark, dir, rowsPerFile = 100)
    assert(TextIndex.usable(spark, dir))
    val after = TextIndex.readSigs(spark, dir)
    assert(after.collect().map(_.toSeq).toSet === before)
    assert(after.inputFiles.length === 5, "500 docs at 100 rows/file → 5 range files")
  }
}
