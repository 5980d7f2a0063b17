package graft.extensions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PhaseLog.timed
import graft.sources.TsdbStorage

/** What the persisted text-signature index knows about itself — the
  * [[AnnMeta]] analog: the MinHash width its signatures were computed
  * with (serving a differently-sized signature would mis-band every
  * query), the corpus fingerprint (count + doc_id min/max/sum + an
  * order-independent xor of xxhash64(doc_id, text) — the content term
  * catches a corpus re-texted in place with unchanged ids) binding it
  * to the documents it covers, and the idempotent-writer cursor for
  * streaming maintenance. */
case class TextMeta(numHashes: Int, corpusRows: Long, idMin: Long, idMax: Long,
                    idSum: Long, contentXor: Long, lastAppId: String, lastBatchId: Long,
                    txnCursors: String = "") {
  /** Per-app replay check ([[TxnCursors]]): the last applied batchId
    * for `app`, if any. */
  def appliedBatch(app: String): Option[Long] = TxnCursors.applied(txnCursors, app)
}

/** Persisted text-signature index — the [[AnnIndex]] of the dedup
  * family. A 100 TB document corpus computes its MinHash/SimHash
  * signatures ONCE at ingest (the md5 passes over every shingle are
  * the dominant cost of dedup_minhash/dedup_simhash), then every
  * near-dup query bands the STORED signatures.
  *
  * Layout under an index dir:
  *   sigs/    parquet (doc_id, mhs: array<string>[numHashes],
  *            simhash: long, shn: array<long>, swh: array<long>,
  *            ntk: long) — one row per document. `shn` (the 60-bit
  *            hashed shingle array) is dedup_ngram's whole working set;
  *            `swh` (the rolling SPAN_K-window hash array, element p =
  *            window at token p) + `ntk` (token count) are the span
  *            family's (dedup_spans/span_frac/scrub run on stored longs
  *            instead of re-tokenizing + re-hashing the corpus — the
  *            substring-dedup analog of a suffix-array artifact, sized
  *            ~8 bytes per corpus token). Parquet is columnar: each
  *            reader prunes to the columns it serves, so storing the
  *            arrays costs the other paths nothing
  *   _meta/   one row — see [[TextMeta]]
  *   _SYNCED  commit marker — same certify/fallback protocol as the
  *            engine's stats index and AnnIndex: queries serve a
  *            certified, fingerprint-matched index and recompute
  *            otherwise.
  *
  * Query integration: set `spark.graft.text.indexDir`;
  * `dedup_minhash` / `dedup_simhash` / `dedup_clusters` read signatures
  * from it when certified AND fingerprint-matched. Signatures are
  * per-document deterministic (the [[DedupQueries.signatures]]
  * expressions — no corpus-dependent state), so index-served results
  * are identical to recomputed ones and appends extend the index
  * exactly (TextIndexSpec pins both). Exact-Jaccard verification of
  * banding survivors still reads the shingles of the (few) surviving
  * docs — the index removes the corpus-wide signature derivation, the
  * part that grows with the corpus.
  */
object TextIndex {

  /** Session conf key pointing the dedup queries at a persisted index. */
  val ConfKey = "spark.graft.text.indexDir"

  private def sigsPath(dir: String) = s"$dir/sigs"
  private def vocabPath(dir: String) = s"$dir/vocab"
  private def postingsPath(dir: String) = s"$dir/postings"
  private def dfreqPath(dir: String) = s"$dir/dfreq"

  /** Tokenizer contract — lockstep with TextQueries/DedupQueries. */
  private val toksExpr = "filter(split(text, ' '), t -> t != '')"

  /** Does this index carry the round-7 vocabulary component? Older
    * artifacts don't; consumers fall back to deriving counts from the
    * corpus (rebuild to upgrade — a PARTIAL vocab covering only
    * post-upgrade appends would be a silently wrong LM, so append
    * never creates the component). */
  def hasVocab(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(vocabPath(dir)))

  /** The owned corpus's unigram counts (token, cnt), aggregated over
    * the build segment + every append delta. Output is vocab-sized;
    * the groupBy is the LSM consolidation read — [[compact]] folds the
    * segments so steady-state reads scan one. */
  def readVocab(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(vocabPath(dir))
      .groupBy("token").agg(sum("cnt").as("cnt"))

  /** Per-batch vocabulary delta — the identical derivation at build
    * and append, so summed deltas equal a from-scratch count. */
  private def vocabDelta(docs: DataFrame): DataFrame =
    docs.select(explode(expr(toksExpr)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** Does this index carry the BM25 inverted-index components
    * (postings + document frequencies)? Same upgrade rule as the
    * vocab: older artifacts fall back to corpus recompute; append
    * never creates the component (a partial posting table would score
    * pre-upgrade documents as if they had no terms). */
  def hasPostings(spark: SparkSession, dir: String): Boolean = {
    val f = fs(spark, dir)
    f.exists(new Path(postingsPath(dir))) && f.exists(new Path(dfreqPath(dir)))
  }

  /** Per-batch BM25 posting delta: one row per (doc, token) with the
    * in-document term frequency and the document length — per-document
    * deterministic, so appended deltas are exactly the rows a full
    * rebuild would derive. This is the classic inverted-index payload;
    * tf and dl are the two corpus-scan-derived inputs of the BM25
    * formula, computed once at ingest instead of per query. */
  private def postingsDelta(docs: DataFrame): DataFrame =
    postingsDeltaFromToks(docs.select(col("doc_id"), expr(toksExpr).as("toks")))

  /** [[postingsDelta]] over a pre-tokenized (doc_id, …, toks) frame.
    * (Sharing one PERSISTED tokenized view across the build's writes
    * was measured a net loss and reverted — see [[build]]'s comment;
    * the indirection stays for call sites that already hold tokens.)
    *
    * Term frequency is per-DOCUMENT-local (all of a doc's tokens live in
    * one array), so it is computed by the one-pass `graft_token_tf`
    * expression instead of explode → groupBy(doc_id, tok): the round-10
    * form shuffled every token occurrence of the corpus just to count
    * within rows, and its reduce-side hash aggregate over the (doc, tok)
    * keyspace is what OOM'd the 16 GB default heap at 2M docs (the
    * round-10 runs needed 48g). Row set identical to the groupBy's
    * (TextIndexSpec pins it); the only corpus-sized shuffle left in the
    * postings stage is the tok range-clustering the readers rely on. */
  private def postingsDeltaFromToks(toksDf: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(toksDf.sparkSession)
    toksDf.select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        explode(call_function("graft_token_tf", col("toks"))).as("p"))
      .select(col("doc_id"), col("p.tok").as("tok"), col("p.tf").as("tf"), col("dl"))
  }

  /** Per-batch document-frequency delta (token, df). Each document
    * lives in exactly one batch, so summed deltas equal the corpus df. */
  private def dfreqDelta(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array_distinct(expr(toksExpr))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))

  /** The stored posting rows (doc_id, tok, tf, dl) — disjoint across
    * build/append segments, no consolidation read needed. */
  def readPostings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(postingsPath(dir))

  /** Corpus document frequencies (tok, df), LSM-consolidated like the
    * vocab — [[compact]] folds append deltas. */
  def readDfreq(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dfreqPath(dir))
      .groupBy("tok").agg(sum("df").as("df"))

  /** df for ONLY the given (bounded) token set. The literal filter sits
    * BELOW the consolidating groupBy, so the tok-range-clustered LSM
    * files prune by parquet min/max and the aggregate touches matching
    * rows only — one probe, never a full-vocabulary aggregate. */
  def readDfreqFor(spark: SparkSession, dir: String, toks: Seq[String]): DataFrame =
    spark.read.parquet(dfreqPath(dir))
      .filter(col("tok").isin(toks: _*))
      .groupBy("tok").agg(sum("df").as("df"))

  private def metaPath(dir: String) = s"$dir/_meta"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def usable(spark: SparkSession, dir: String): Boolean =
    TsdbStorage.statsUsable(spark, dir)

  /** Enforced single-writer lease per writer entry — the AnnIndex
    * contract (see [[graft.sources.WriterLock]]). */
  private def locked[T](spark: SparkSession, dir: String)(body: => T): T =
    graft.sources.WriterLock.withLock(spark, dir, graft.sources.WriterLock.newOwner())(body)

  /** Marker-only resolution (conf set + certified). Query paths use
    * [[resolveFor]], which also proves corpus identity + scheme. */
  def resolve(spark: SparkSession): Option[String] =
    Option(spark.conf.get(ConfKey, null)).filter(usable(spark, _))

  /** The certified index dir IF its fingerprint matches `corpus` (a
    * documents-shaped frame) and its MinHash width matches the one the
    * caller bands with. Anything else — stale index, foreign corpus,
    * different signature scheme — is not served; recompute is always
    * correct. */
  def resolveFor(spark: SparkSession, corpus: DataFrame,
                 numHashes: Int = DedupQueries.NUM_HASHES): Option[String] =
    resolve(spark).filter { dir =>
      val m = readMeta(spark, dir)
      m.numHashes == numHashes && fingerprintMatches(spark, m, corpus)
    }

  private def fingerprintMatches(spark: SparkSession, m: TextMeta,
                                 corpus: DataFrame): Boolean =
    m.corpusRows >= 0 && {
      if (AnnIndex.contentCheck(spark)) // shared ContentCheckKey contract,
        // shared proof memo (see AnnIndex.contentProven: one content
        // scan per session per index fingerprint, not one per query)
        AnnIndex.contentProven(spark, "text",
          (m.corpusRows, m.idMin, m.idMax, m.idSum, m.contentXor),
          corpus, idStats(corpus), fingerprint(corpus))
      else
        idStats(corpus) == ((m.corpusRows, m.idMin, m.idMax, m.idSum))
    }

  /** Full-fingerprint audit, content term always included — uncertifies
    * on mismatch (the [[AnnIndex.verify]] contract). */
  def verify(spark: SparkSession, dir: String, corpus: DataFrame): Boolean = {
    if (!usable(spark, dir)) return false
    val m = readMeta(spark, dir)
    val ok = m.corpusRows >= 0 &&
      fingerprint(corpus) == ((m.corpusRows, m.idMin, m.idMax, m.idSum, m.contentXor))
    if (!ok) TsdbStorage.markStatsOutOfSync(spark, dir)
    ok
  }

  private def idStats(corpus: DataFrame): (Long, Long, Long, Long) = {
    val r = corpus.agg(
      count(col("doc_id")), coalesce(min("doc_id"), lit(0L)),
      coalesce(max("doc_id"), lit(0L)), coalesce(sum("doc_id"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  def readSigs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(sigsPath(dir))

  /** Content term = xor of xxhash64(doc_id, text): order-independent,
    * overflow-free (the reason it is not a sum), rolls forward under
    * append, and costs one cheap hash pass — tiny next to the md5
    * signature derivation the index exists to amortize. */
  private def fingerprint(corpus: DataFrame): (Long, Long, Long, Long, Long) = {
    val r = corpus.agg(
      count(col("doc_id")), coalesce(min("doc_id"), lit(0L)),
      coalesce(max("doc_id"), lit(0L)), coalesce(sum("doc_id"), lit(0L)),
      coalesce(bit_xor(xxhash64(col("doc_id"), col("text"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** Columns selected BY NAME (the AnnIndex lesson: positional reads
    * silently swap fields under schema evolution). A meta predating
    * `content_xor` reads as an UNKNOWN fingerprint (corpusRows = -1 —
    * an xor has no sentinel value), which resolveFor refuses to serve;
    * rebuild to upgrade. */
  def readMeta(spark: SparkSession, dir: String): TextMeta = {
    val df = spark.read.parquet(metaPath(dir))
    val names = df.columns.toSet
    val r = df.head()
    TextMeta(
      r.getInt(r.fieldIndex("num_hashes")),
      if (names("content_xor")) r.getLong(r.fieldIndex("corpus_rows")) else -1L,
      r.getLong(r.fieldIndex("id_min")), r.getLong(r.fieldIndex("id_max")),
      r.getLong(r.fieldIndex("id_sum")),
      if (names("content_xor")) r.getLong(r.fieldIndex("content_xor")) else 0L,
      r.getString(r.fieldIndex("last_app_id")),
      r.getLong(r.fieldIndex("last_batch_id")),
      // legacy single-cursor metas fold into a one-entry map
      if (names("txn_cursors")) r.getString(r.fieldIndex("txn_cursors"))
      else if (r.getString(r.fieldIndex("last_app_id")).nonEmpty)
        TxnCursors.render(Vector(
          r.getString(r.fieldIndex("last_app_id")) -> r.getLong(r.fieldIndex("last_batch_id"))))
      else "")
  }

  private def writeMeta(spark: SparkSession, dir: String, m: TextMeta): Unit = {
    import spark.implicits._
    Seq((m.numHashes, m.corpusRows, m.idMin, m.idMax, m.idSum, m.contentXor,
        m.lastAppId, m.lastBatchId, m.txnCursors))
      .toDF("num_hashes", "corpus_rows", "id_min", "id_max", "id_sum",
        "content_xor", "last_app_id", "last_batch_id", "txn_cursors")
      .coalesce(1).write.mode("overwrite").parquet(metaPath(dir))
  }

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Build (or rebuild) from a full corpus: derive both signatures per
    * document, fingerprint, certify. */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
            numHashes: Int = DedupQueries.NUM_HASHES): Unit = locked(spark, dir) {
    ArtifactSwap.recover(spark, dir, "sigs")
    val (n, idMin, idMax, idSum, cxor) = timed(logger, "fingerprint (1 hash scan)")(fingerprint(docs))
    TsdbStorage.markStatsOutOfSync(spark, dir)
    writeMeta(spark, dir, TextMeta(numHashes, n, idMin, idMax, idSum, cxor, "", -1L))
    // Each corpus-scan component TOKENIZES FOR ITSELF — a recorded
    // round-10 negative, not an oversight: caching the shared tokenized
    // view to serve both writes measured WORSE at every unfriendly
    // point. MEMORY_AND_DISK at 2M docs (~6 GB of token-array batches)
    // pinned storage past the storageFraction floor and threw
    // AGGREGATE_OUT_OF_MEMORY in the postings aggregation on the 16g
    // default heap; DISK_ONLY avoided the OOM at 48g but the disk
    // round-trip of the token arrays cost 180 s where re-tokenizing
    // costs 81 s (the tokenizer is one split+filter over text the
    // stage reads anyway — CPU far cheaper than double I/O of its
    // output). The real ingest win stays where round 9 put it: vocab +
    // dfreq derive from the WRITTEN postings (one shared aggregate),
    // never from a third/fourth text pass.
    timed(logger, "sigs (tokenize + minhash/simhash/swh, map-side write)") {
      DedupQueries.signatures(spark, docs, numHashes)
        .write.mode("overwrite").parquet(sigsPath(dir))
    }
    // BM25 inverted-index components: postings tok-clustered so a
    // query-term probe prunes files by parquet min/max; dfreq is
    // vocab-sized. Together with the meta row count and the vocab
    // token total they are everything bm25_topk needs — the per-query
    // corpus explode+groupBy happens at ingest instead.
    timed(logger, "postings (tokenize + one-pass graft_token_tf + range-cluster)") {
      postingsDelta(docs)
        .repartitionByRange(col("tok")).sortWithinPartitions("tok", "doc_id")
        .write.mode("overwrite").parquet(postingsPath(dir))
    }
    // vocab + dfreq DERIVE from the just-written postings (round 9):
    // cnt = Σtf and df = count of (doc, tok) rows per token — exactly
    // what vocabDelta/dfreqDelta compute from the raw text, but off a
    // column-pruned read of the tok-clustered parquet instead of two
    // more corpus-wide tokenize+explode passes. Build went from FOUR
    // tokenizer scans of the corpus (sigs, vocab, postings, dfreq) to
    // TWO (sigs, postings); the derivation aggregates are vocab-sized
    // shuffles over already-clustered columns. (append() keeps the
    // from-text deltas: batches are small and a vocab-only dir — no
    // postings component — must still be able to grow.)
    // ONE aggregation serves both artifacts: Σtf (vocab) and the
    // (doc,tok)-row count (dfreq) come out of the same corpus-sized
    // shuffle over the stored postings — separate groupBys measured
    // 7.4 s + 4.5 s of the 50 s 200k-doc build (each re-reading and
    // re-shuffling all postings rows). The combined frame is
    // vocab-sized; MEMORY_AND_DISK because a mostly-unique-token
    // corpus has a vocabulary ∝ corpus tokens.
    val postings = spark.read.parquet(postingsPath(dir))
    // borrow-don't-own (TransientCache): never evict a canonically
    // equal plan another query's memo persisted
    val tokStats = postings.groupBy("tok")
      .agg(sum("tf").as("cnt"), count(lit(1)).as("df"))
    graft.core.TransientCache.borrowCached(tokStats) {
      timed(logger, "vocab (sum-of-tf side of the shared token aggregate)") {
        tokStats.select(col("tok").as("token"), col("cnt"))
          .write.mode("overwrite").parquet(vocabPath(dir))
      }
      timed(logger, "dfreq (df side of the shared token aggregate)") {
        tokStats.select("tok", "df")
          .write.mode("overwrite").parquet(dfreqPath(dir))
      }
    }
    TsdbStorage.markStatsInSync(spark, dir)
  }

  /** Incrementally index appended documents: signatures are
    * per-document deterministic, so appended rows are bit-identical to
    * what a full rebuild would derive; the fingerprint rolls forward.
    * `txn` = (appId, batchId) streaming idempotency cursor, exactly the
    * AnnIndex contract (a replayed micro-batch is a no-op). */
  def append(spark: SparkSession, newDocs: DataFrame, dir: String,
             txn: Option[(String, Long)] = None): Unit = locked(spark, dir) {
    ArtifactSwap.recover(spark, dir, "sigs")
    ArtifactSwap.recover(spark, dir, "vocab")
    require(usable(spark, dir), s"text index at $dir is absent or uncertified — build() first")
    val m = readMeta(spark, dir)
    // PER-APP replay check: a second writer under a different appId
    // (nightly re-admission, a second stream) must not reset replay
    // detection for the first (see [[TxnCursors]])
    if (txn.exists { case (app, bid) => m.appliedBatch(app).exists(bid <= _) }) return
    val (n, bMin, bMax, bSum, bXor) = fingerprint(newDocs)
    // schema-evolution guard: appending NEW-schema rows (e.g. with the
    // round-6 swh/ntk span columns) into a dir whose existing sigs lack
    // them would create a MIXED dir — parquet footer sampling then
    // decides nondeterministically whether readers see the column, and
    // the span family would serve null windows for every pre-append doc
    // (silently dropping their duplicates, violating certify-or-
    // fallback). An older artifact must be rebuilt, not grown.
    val existing = spark.read.parquet(sigsPath(dir)).columns.toSet
    val produced = DedupQueries.signatures(spark, newDocs.limit(0), m.numHashes).columns.toSet
    require(existing == produced,
      s"text index at $dir has signature schema ${existing.toSeq.sorted.mkString(",")} " +
        s"but this version derives ${produced.toSeq.sorted.mkString(",")} — " +
        "rebuild the index (TextIndex.build) before appending")
    TsdbStorage.markStatsOutOfSync(spark, dir)
    DedupQueries.signatures(spark, newDocs, m.numHashes)
      .write.mode("append").parquet(sigsPath(dir))
    // vocab delta rides the same txn: the replay check above already
    // returned for a replayed batch, so counts are exactly-once. Only
    // dirs that HAVE the component grow it (a pre-vocab artifact must
    // be rebuilt, not silently given a partial LM).
    if (hasVocab(spark, dir))
      vocabDelta(newDocs).write.mode("append").parquet(vocabPath(dir))
    // BM25 components ride the same exactly-once txn (vocab rule:
    // only dirs that already have them grow them)
    if (hasPostings(spark, dir)) {
      postingsDelta(newDocs).write.mode("append").parquet(postingsPath(dir))
      dfreqDelta(newDocs).write.mode("append").parquet(dfreqPath(dir))
    }
    val grown =
      if (n == 0) m // EMPTY append: an all-zero fingerprint must not fold
        // into min/max (idMin = min(real, 0) would corrupt the identity
        // and uncertify the index at the next verify) — the cursor still
        // advances below, which is the whole point of an empty commit
      else if (m.corpusRows < 0) m // legacy fingerprintless meta stays unknown
      else if (m.corpusRows == 0)
        m.copy(corpusRows = n, idMin = bMin, idMax = bMax, idSum = bSum, contentXor = bXor)
      else m.copy(corpusRows = m.corpusRows + n,
        idMin = math.min(m.idMin, bMin), idMax = math.max(m.idMax, bMax),
        idSum = m.idSum + bSum, contentXor = m.contentXor ^ bXor)
    writeMeta(spark, dir, txn.fold(grown) { case (app, bid) =>
      grown.copy(lastAppId = app, lastBatchId = bid,
        txnCursors = TxnCursors.advance(grown.txnCursors, app, bid)) })
    TsdbStorage.markStatsInSync(spark, dir)
  }

  /** Integrity probe: any corrupt file uncertifies (queries fall back);
    * repair drops the bad files — full repair is build() (derived data). */
  def fsck(spark: SparkSession, dir: String, repair: Boolean = false): Seq[String] = locked(spark, dir) {
    ArtifactSwap.recover(spark, dir, "sigs")
    ArtifactSwap.recover(spark, dir, "vocab")
    ArtifactSwap.recover(spark, dir, "postings")
    ArtifactSwap.recover(spark, dir, "dfreq")
    val bad = TsdbStorage.probeFiles(spark, sigsPath(dir)) ++
      TsdbStorage.probeFiles(spark, metaPath(dir)) ++
      (if (hasVocab(spark, dir)) TsdbStorage.probeFiles(spark, vocabPath(dir)) else Nil) ++
      (if (hasPostings(spark, dir))
        TsdbStorage.probeFiles(spark, postingsPath(dir)) ++
          TsdbStorage.probeFiles(spark, dfreqPath(dir))
      else Nil)
    if (bad.nonEmpty) {
      TsdbStorage.markStatsOutOfSync(spark, dir)
      if (repair) { val f = fs(spark, dir); bad.foreach(p => f.delete(new Path(p), false)) }
    }
    bad
  }

  /** Append-accumulation signature — the [[AnnIndex.fragmented]] analog
    * over the sigs table. `minFiles` raises the trigger floor for
    * callers that amortize compaction against many small appends (the
    * closed admission loop: a 1M-row store's size target is a handful
    * of files, so the bare 2×-target rule would fire an O(corpus)
    * rewrite every couple of batches — the floor lets ~a dozen batches
    * accumulate first). */
  def fragmented(spark: SparkSession, dir: String,
                 rowsPerFile: Long = AnnIndex.DefaultRowsPerFile,
                 minFiles: Int = 0): Boolean = {
    val p = new Path(sigsPath(dir))
    val f = fs(spark, dir)
    if (!f.exists(p) || !usable(spark, dir)) return false
    val m = readMeta(spark, dir)
    val rows = if (m.corpusRows >= 0) m.corpusRows else readSigs(spark, dir).count()
    val target = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile)
    f.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) >
      math.max(2 * target, minFiles.toLong)
  }

  /** Compaction invocations — the RefCache-counter pattern: the
    * closed-loop smoke asserts maintenance actually fired (and how
    * often) instead of inferring it from wall-clock shape. */
  private[graft] val compactCount = new java.util.concurrent.atomic.AtomicLong()

  /** Rewrite append-accumulated sigs into size-targeted files,
    * doc_id-range-clustered — same shape as AnnIndex.compact, same
    * shared swap discipline. */
  def compact(spark: SparkSession, dir: String,
              rowsPerFile: Long = AnnIndex.DefaultRowsPerFile): Unit = locked(spark, dir) {
    compactCount.incrementAndGet()
    ArtifactSwap.recover(spark, dir, "sigs")
    require(usable(spark, dir), s"text index at $dir is absent or uncertified")
    val m = readMeta(spark, dir)
    val files = math.max(1L, (m.corpusRows + rowsPerFile - 1) / rowsPerFile).toInt
    ArtifactSwap.rewrite(spark, dir, "sigs") { tmp =>
      readSigs(spark, dir)
        .repartitionByRange(files, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.parquet(tmp)
    }
    // consolidate the vocab LSM: fold append deltas into summed,
    // token-range-clustered segments so steady-state readVocab scans
    // one segment per size target (never a coalesce(1) monolith — the
    // vocabulary of a 100 TB corpus is itself large)
    if (hasVocab(spark, dir)) {
      ArtifactSwap.recover(spark, dir, "vocab")
      val vRows = spark.read.parquet(vocabPath(dir)).count()
      val vFiles = math.max(1L, (vRows + rowsPerFile - 1) / rowsPerFile).toInt
      ArtifactSwap.rewrite(spark, dir, "vocab") { tmp =>
        readVocab(spark, dir)
          .repartitionByRange(vFiles, col("token"))
          .write.parquet(tmp)
      }
    }
    // re-cluster the append-accumulated postings by token (restores
    // file-level term pruning) and fold the dfreq LSM
    if (hasPostings(spark, dir)) {
      ArtifactSwap.recover(spark, dir, "postings")
      ArtifactSwap.recover(spark, dir, "dfreq")
      val pRows = spark.read.parquet(postingsPath(dir)).count()
      val pFiles = math.max(1L, (pRows + rowsPerFile - 1) / rowsPerFile).toInt
      ArtifactSwap.rewrite(spark, dir, "postings") { tmp =>
        readPostings(spark, dir)
          .repartitionByRange(pFiles, col("tok"))
          .sortWithinPartitions("tok", "doc_id")
          .write.parquet(tmp)
      }
      val dRows = spark.read.parquet(dfreqPath(dir)).count()
      val dFiles = math.max(1L, (dRows + rowsPerFile - 1) / rowsPerFile).toInt
      ArtifactSwap.rewrite(spark, dir, "dfreq") { tmp =>
        readDfreq(spark, dir)
          .repartitionByRange(dFiles, col("tok"))
          .write.parquet(tmp)
      }
    }
  }
}
