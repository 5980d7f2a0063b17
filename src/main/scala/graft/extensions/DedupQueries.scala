package graft.extensions

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.QueryDef

/** Deduplication operators over `documents` (SURVEY.md §2.3 X1/X2):
  * exact (content hash), MinHash+LSH, SimHash, rare-shingle-blocked
  * n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every candidate-generation step is a grouped shuffle on
  * a bounded key (hash, band, shingle) — never an unblocked O(n²)
  * cross join. Pairwise verification only runs on LSH/blocking survivors.
  * Hash functions are md5-derived so the DuckDB oracle can reproduce
  * them bit-for-bit (no RNG, no engine-specific hashing).
  */
object DedupQueries {

  private val toksExpr = "filter(split(text, ' '), t -> t != '')"
  private val toksSql  = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** 3-gram word shingles, distinct. Spark arrays are 0-indexed, DuckDB
    * lists 1-indexed — the two expressions below produce identical sets.
    *
    * The Spark side materializes `toks` in its own projection first:
    * inlining the tokenizer into the shingle lambda would re-split the
    * text once per shingle index (quadratic in token count), and
    * CollapseProject must not undo that — hence the expression operates
    * on a `toks` column, not on `text`.
    */
  private val shinglesFromToks =
    s"""array_distinct(CASE WHEN size(toks) >= 3
       | THEN transform(sequence(0, size(toks) - 3),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       | ELSE array(text) END)""".stripMargin.replaceAll("\n", " ")
  private val shinglesSql =
    s"""list_distinct(CASE WHEN len($toksSql) >= 3
       | THEN list_transform(generate_series(1, len($toksSql) - 2),
       |                     i -> array_to_string(($toksSql)[i:i+2], ' '))
       | ELSE [text] END)""".stripMargin.replaceAll("\n", " ")

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  /** Frame-based shingling — shared by the queries and TextIndex.build
    * so persisted signatures derive from the identical expressions. */
  private[extensions] def shingleDocs(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), col("text"), expr(toksExpr).as("toks"))
      .select(col("doc_id"), expr(shinglesFromToks).as("sh"))

  private def shingled(s: SparkSession, d: String): DataFrame =
    shingleDocs(docs(s, d))

  /** Map-side MinHash signature column (`mhs`) over any
    * documents-shaped frame — the identical per-document derivation
    * [[signatures]] persists, shared with the streaming admission path
    * ([[graft.streaming.StreamingClean]]) so an online signature equals
    * the indexed one bit-for-bit.
    *
    * Why the admission path bands MINHASH and not simhash: a simhash
    * band match is a HASH-PROXIMITY event, and proximity false
    * positives grow with the reference corpus — against 10⁵ unrelated
    * documents a 32-bit simhash finds a Hamming-≤6 partner for
    * essentially every probe (measured in the `clean` smoke's first
    * draft: 100% of novel docs flagged). A minhash band match requires
    * two md5-min values to agree exactly, which for unrelated documents
    * is a collision in the shingle space — candidates arise from
    * genuine Jaccard similarity only, at ANY corpus size. */
  private[graft] def withMinhash(df: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    df.withColumn("toks", expr(toksExpr))
      .withColumn("sh", expr(shinglesFromToks))
      .withColumn("mhs", call_function("graft_minhash", col("sh"), lit(NUM_HASHES)))
      .drop("toks", "sh")
  }

  /** The LSH band-bucket array over an `mhs` column — one md5 bucket
    * per band of BAND_ROWS adjacent signature components; shared by
    * dedup_minhash and the admission path so both band identically. */
  private[graft] def minhashBandArray: org.apache.spark.sql.Column =
    array((0 until NUM_HASHES / BAND_ROWS).map(b =>
      md5(concat((0 until BAND_ROWS).map(r =>
        col("mhs").getItem(BAND_ROWS * b + r)): _*))): _*)

  /** All text signatures in ONE map-side pass over the tokens —
    * exactly what [[TextIndex]] persists and the live paths derive:
    * the 8-hash MinHash signature (banding for dedup_minhash), the
    * 32-bit SimHash (banding + Hamming verification for dedup_simhash
    * and the cluster resolution), the 60-bit hashed shingle array
    * `shn` (dedup_ngram's ENTIRE working set — blocking, df counts, and
    * exact-intersection verification all run on these ints, so an
    * index-served ngram query never touches the text column at all),
    * the rolling-window hash array `swh` (the span family's working
    * set — `swh[p]` is the 60-bit hash of the SPAN_K-token window at
    * position p, so index-served substring dedup posexplodes stored
    * longs instead of re-tokenizing + re-hashing the corpus), and the
    * token count `ntk` (dedup_span_frac's denominator). */
  private[graft] def signatures(s: SparkSession, docsDf: DataFrame,
      numHashes: Int = NUM_HASHES): DataFrame =
    signaturesFromToks(s, tokenized(docsDf), numHashes)

  /** The tokenized view (doc_id, text, toks) — text kept for the
    * short-document shingle fallback. NOTE: callers evaluate this
    * lazily per consumer; round 10 measured that PERSISTING it to share
    * one tokenizer pass across TextIndex.build's writes is a net loss
    * (OOM at 16g / 180 s disk round-trip vs 81 s re-tokenize at 2M
    * docs — see TextIndex.build's comment), so each stage tokenizes
    * for itself. */
  private[graft] def tokenized(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id"), col("text"), expr(toksExpr).as("toks"))

  /** [[signatures]] over a pre-tokenized (doc_id, text, toks) frame. */
  private[graft] def signaturesFromToks(s: SparkSession, toksDf: DataFrame,
      numHashes: Int = NUM_HASHES): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    toksDf
      .select(col("doc_id"), col("toks"), expr(shinglesFromToks).as("sh"))
      .select(col("doc_id"),
        call_function("graft_minhash", col("sh"), lit(numHashes)).as("mhs"),
        call_function("graft_simhash",
          expr("transform(sh, x -> graft_md5_prefix(x, 8))")).as("simhash"),
        call_function("graft_simhash64",
          expr("transform(sh, x -> xxhash64(x))")).as("simhash64"),
        expr("transform(sh, x -> graft_md5_prefix(x, 15))").as("shn"),
        expr(spanHashesFromToks).as("swh"),
        size(col("toks")).cast("long").as("ntk"))
  }

  // -------------------------------------------------------------------
  // X1 exact dedup: content-hash groupBy. The input is the corpus
  // unioned with an id-shifted copy of itself so the dup-resolution
  // path (keep min doc_id) is actually exercised.
  // -------------------------------------------------------------------
  val exact: QueryDef = QueryDef(
    build = (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val copy = base.withColumn("doc_id", col("doc_id") + 1000000L)
      base.unionByName(copy)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_cnt"))
        .orderBy("content_hash")
    },
    oracle = Some(
      """WITH d2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents
        |)
        |SELECT sha256(text) AS content_hash, min(doc_id) AS keep_doc_id,
        |       count(*)::BIGINT AS dup_cnt
        |FROM d2 GROUP BY content_hash ORDER BY content_hash""".stripMargin),
    doc = "X1 exact dedup (sha256 groupBy)")

  // -------------------------------------------------------------------
  // X1c batch-vs-corpus exact dedup with a Bloom-filter runtime prune —
  // the INCREMENTAL form of dedup_exact: a small arriving batch asks
  // "which of my documents already exist in the 100 TB owned corpus?".
  // The naive plan shuffles the whole corpus on content hash to meet a
  // batch a millionth its size. Instead the BATCH side (the small side)
  // builds an m-bit Bloom filter of its documents — one bounded
  // aggregation, collected as m/64 longs of driver metadata (8 KB at
  // the default m) — and the corpus scan applies the membership test as
  // a pure codegen'd literal-array expression, MAP-SIDE: only corpus
  // rows whose text might be in the batch reach the verification join.
  // The filter keys on xxhash64 of the RAW text, so the corpus scan
  // pays three cheap hashes per row and the cryptographic content hash
  // runs only on prune survivors.
  // This is the runtime-filter shape Spark's own optimizer injects for
  // selective joins, made explicit so the small side is always the
  // batch regardless of what statistics the planner sees.
  //
  // Bloom false positives only admit extra rows into the exact
  // verification join — the final verdicts are IDENTICAL to the
  // unfiltered join (no false negatives by construction), so the query
  // is fully hash-gated against a plain-join oracle; the filter's
  // internals never need cross-engine reproduction. Sizing: m sizes
  // itself to the batch count (≥16 bits/item at k = 3 ⇒ ~0.1 % FP)
  // between 2^16 and 2^20 bits — the batch alone determines filter
  // size, the corpus never does; past the cap the batch has outgrown
  // "the small side" and the exact join is the right plan.
  //
  // The batch is the doc_id % 20 = 7 slice re-keyed, with every second
  // batch doc's text mutated — so both verdict branches (duplicate of a
  // corpus doc / genuinely new) are exercised at every SF.
  // -------------------------------------------------------------------
  private val BLOOM_HASHES = 3
  private val BLOOM_MIN_BITS = 1L << 16
  // 3 probe copies of the literal array embed in the plan; 2^20 bits =
  // 3 × 128 KB of codegen literals is the ceiling. Batches past ~65k
  // rows saturate it (FP rate climbs again) — at that size the batch is
  // no longer "the small side" and the exact join is the right plan.
  private val BLOOM_MAX_BITS = 1L << 20
  private[graft] val BLOOM_OFFSET = 4000000L

  /** m sized to the BATCH: ≥16 bits/item at k=3 ⇒ ~0.1 % FP, growing
    * with the filter's content and never with the corpus. */
  private def bloomBits(n: Long): Long = {
    var m = BLOOM_MIN_BITS
    while (m < 16 * n && m < BLOOM_MAX_BITS) m <<= 1
    m
  }

  /** The dedup_bloom batch derivation: the doc_id % 20 = 7 slice
    * re-keyed, every second doc's text mutated — shared with the spec
    * and the `text` smoke so all three measure the same batch. */
  private[graft] def bloomBatch(corpus: DataFrame): DataFrame =
    corpus.filter(col("doc_id") % 20 === 7)
      .select((col("doc_id") + BLOOM_OFFSET).as("batch_id"),
        when(expr("(doc_id div 20) % 2 = 1"),
          concat(col("text"), lit(" #"), col("doc_id")))
          .otherwise(col("text")).as("text"))

  /** Bloom bit array (m/64 longs) over a frame's `key` column — one
    * count + one bounded aggregation, collected to the driver (8 KB–
    * 128 KB depending on batch size). The key is hashed with xxhash64
    * directly — for text dedup that means the SCAN-side probes never
    * pay a cryptographic hash: sha256 is computed only for prune
    * survivors, at any corpus size. */
  private[graft] def bloomArray(df: DataFrame, key: String = "h"): Array[Long] = {
    val bits = bloomBits(df.count())
    val words = df
      .select(explode(expr(
        s"transform(sequence(0, ${BLOOM_HASHES - 1}), i -> xxhash64($key, i))")).as("hv"))
      .select(pmod(col("hv"), lit(bits)).as("pos"))
      .select(shiftright(col("pos").cast("int"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("m"))
      .groupBy("w").agg(expr("bit_or(m)").as("bits"))
      .collect() // bounded: ≤ m/64 rows
    val arr = new Array[Long]((bits / 64).toInt)
    words.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    arr
  }

  /** The map-side membership test: k literal-array probes, codegen'd —
    * no UDF, no join, no shuffle. m is carried by the array itself. */
  private[graft] def bloomMightContain(arr: Array[Long], h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val b = typedlit(arr.toSeq)
    val bits = arr.length * 64L
    (0 until BLOOM_HASHES).map { i =>
      val pos = pmod(xxhash64(h, lit(i)), lit(bits))
      element_at(b, shiftright(pos.cast("int"), 6) + 1)
        .bitwiseAND(call_function("shiftleft", lit(1L), pmod(pos, lit(64L)).cast("int"))) =!= 0L
    }.reduce(_ && _)
  }

  val bloomDedup: QueryDef = QueryDef(
    build = (s, d) => {
      // persisted: the derivation feeds three consumers (the sizing
      // count, the bit aggregation, and the content hashes) — without
      // the memo each would re-scan the corpus for the batch slice
      val batchT = bloomBatch(docs(s, d)).persist()
      val batchH = batchT.select(col("batch_id"), sha2(col("text"), 256).as("h"))
      // keyed on the RAW text: the corpus-scan probes pay 3 xxhash64
      // calls per row, and sha256 only runs on prune survivors
      val bloom = bloomArray(batchT, "text")
      val hits = docs(s, d)
        .filter(bloomMightContain(bloom, col("text"))) // map-side corpus prune
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .groupBy("h").agg(min("doc_id").as("dup_of"))
      // no broadcast hint: |hits| ≈ |batch| + FP-rate·|corpus| — small
      // at the designed FP rate, but forcing a broadcast would gamble
      // the driver on it; AQE sees the post-prune size and decides
      batchH.join(hits, Seq("h"), "left")
        .select(col("batch_id"),
          when(col("dup_of").isNull, lit("new")).otherwise(lit("dup")).as("verdict"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
        .orderBy("batch_id")
    },
    oracle = Some(
      s"""WITH b AS (
         |  SELECT doc_id + $BLOOM_OFFSET AS batch_id,
         |         CASE WHEN (doc_id // 20) % 2 = 1 THEN text || ' #' || doc_id
         |              ELSE text END AS text
         |  FROM documents WHERE doc_id % 20 = 7
         |), bh AS (SELECT batch_id, sha256(text) AS h FROM b),
         |ch AS (SELECT sha256(text) AS h, min(doc_id) AS dup_of FROM documents GROUP BY 1)
         |SELECT bh.batch_id,
         |       CASE WHEN ch.dup_of IS NULL THEN 'new' ELSE 'dup' END AS verdict,
         |       coalesce(ch.dup_of, -1) AS dup_of
         |FROM bh LEFT JOIN ch USING (h) ORDER BY batch_id""".stripMargin),
    doc = "X1 incremental exact dedup: batch-side Bloom filter prunes the corpus scan map-side; verdicts identical to the exact join")

  // -------------------------------------------------------------------
  // X2a MinHash + LSH over 3-gram shingles. 8 md5-keyed min-hashes,
  // 4 bands × 2 rows → LSH threshold (1/4)^(1/2) = 0.5. Candidates =
  // pairs sharing ≥1 band bucket; survivors verified with exact Jaccard.
  // The minhash signature is computed with higher-order array functions
  // (map-side, no explode); only band buckets shuffle.
  // -------------------------------------------------------------------
  private[extensions] val NUM_HASHES = 8
  private val BAND_ROWS = 2
  private val JACCARD_MIN = 0.8

  // ------------------------------------------------------------------
  // Hot-bucket guard for the banding self-joins. A band bucket of size
  // B contributes B²/2 candidate pairs BEFORE verification, so one
  // template-heavy bucket (100k boilerplate docs that survive the
  // exact/norm tiers — e.g. differing only in a timestamp) turns a
  // linear candidate stage into 5e9 Levenshtein/Jaccard calls. The
  // production MinHash practice is to CAP: buckets past the threshold
  // are dropped from candidate generation, with the dropped mass
  // queryable via [[hotBuckets]]. Correctness envelope: a pair lost in
  // a capped bucket can still surface through any of its OTHER bands
  // (a template family this hot is exactly what the exact/norm tiers
  // catch first — dedup_cascade runs them before banding). Every
  // oracle-SF bucket is a true dup family (md5 band keys collide only
  // on shared signature rows), orders of magnitude below the default
  // cap, so gated results stay bit-identical to uncapped ones —
  // HotBucketSpec pins capped ≡ uncapped below the threshold and
  // bounded candidate work on a planted hot-template corpus.
  // ------------------------------------------------------------------
  /** Session conf: band-bucket size cap for the banding self-joins
    * (minhash pairs, edit-distance candidates, 64-bit simhash bands).
    * `0` disables the guard. */
  /** Session conf: corpus-row gate past which [[minhashPairsFor]] stops
    * persisting the CORPUS-WIDE shingle arrays (~3.5 KB/doc — 25+ GB of
    * cache-spill at 8M docs, the round-11 cascade ENOSPC) and instead
    * re-derives shingles ONLY for docs that appear in a band candidate
    * pair (a left-semi join; bounded by near-dup + false-candidate
    * mass, not the corpus). Signatures flow shingle→minhash in one
    * unpersisted projection (~256 B/doc of banded rows is all that is
    * cached). Same verified pair set — exact Jaccard over identical
    * shingle values — only the caching strategy changes. Below the
    * gate the round-11 plan is kept verbatim (oracle SFs replay
    * unchanged; re-tokenizing candidates twice would be slower than
    * one tiny persist there). `0` forces the lean path at any size
    * (spec pin). */
  private[graft] val LeanShingleMinRowsKey = "spark.graft.dedup.leanShingleMinRows"

  private def leanShingleMinRows(s: SparkSession): Long =
    graft.core.Conf.long(s, LeanShingleMinRowsKey, 2000000L)

  private[graft] val MaxBucketKey = "spark.graft.dedup.maxBandBucket"
  private[graft] val DefaultMaxBucket = 2000

  private def maxBucket(s: SparkSession): Int =
    graft.core.Conf.int(s, MaxBucketKey, DefaultMaxBucket)

  /** Buckets actually DROPPED by [[capHotBuckets]] since JVM start —
    * the runtime signal (the compactCount pattern) that a capped run is
    * never silent: a production operator can alert on growth here
    * without re-running the accounting query. */
  private[graft] val hotBucketDropCount = new java.util.concurrent.atomic.AtomicLong()

  /** `banded` minus every row of a bucket larger than the cap.
    *
    * Cost shape: the over-cap KEY set is bounded (≤ |banded| / cap
    * keys, each a few dozen bytes), so it is collected to the driver —
    * when EMPTY (every healthy corpus) the input frame is returned
    * untouched, with zero plan change and no join; when non-empty the
    * prune is a broadcast anti-join over the driver-held keys and the
    * drop is self-reported (one WARN line naming bucket count + row
    * mass, plus [[hotBucketDropCount]]) so a capped run always leaves a
    * runtime signal, not just the on-demand [[hotBuckets]] accounting.
    *
    * `n` is the caller's corpus row count when it has one (route gates
    * already count the corpus): at or below [[EXACT_TIER_MAX_ROWS]]
    * with the cap UNSET the guard is skipped outright — every
    * exact-tier bucket is a true dup family orders of magnitude below
    * the default cap (HotBucketSpec pins capped ≡ uncapped there), and
    * the skip is worth a measured +0.6–0.7 s per banding query at
    * oracle SFs (the round-10 bench drift this shave closed). An
    * EXPLICITLY configured cap is enforced at any size (what
    * HotBucketSpec's planted-family cases exercise).
    *
    * TRADE STATED PLAINLY (round-11 review finding, kept by decision):
    * a ≤-gate corpus that IS a template flood (e.g. 80k docs, 50k
    * near-copies surviving exact/norm — possible when dedup_minhash /
    * dedup_edit run standalone rather than behind dedup_cascade's
    * exact/norm tiers) runs UNGUARDED under the default conf, paying
    * up to n²-pair verification. The production pipeline shape
    * (cascade) collapses such families in the tiers BEFORE banding;
    * an operator feeding raw template-heavy corpora to the standalone
    * pair queries sets `spark.graft.dedup.maxBandBucket` explicitly
    * and gets the guard at every size. */
  private[extensions] def capHotBuckets(s: SparkSession, banded: DataFrame,
                                        keys: Seq[String], n: Long = -1L): DataFrame = {
    val cap = maxBucket(s)
    val explicitCap = s.conf.getOption(MaxBucketKey).isDefined
    if (cap <= 0) return banded
    if (n >= 0 && n <= EXACT_TIER_MAX_ROWS && !explicitCap) return banded
    val hot = hotBuckets(s, banded, keys)
      .collect() // bounded: ≤ |banded| / cap rows (each bucket past the cap)
    if (hot.isEmpty) return banded
    hotBucketDropCount.addAndGet(hot.length)
    val mass = hot.map(_.getLong(hot.head.fieldIndex("bucket_size"))).sum
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"capHotBuckets: dropping ${hot.length} band bucket(s) past cap=$cap " +
        s"($mass banded rows) from candidate generation - dropped mass queryable " +
        s"via hotBuckets/minhashHotBuckets, salvageable via hotBucketClusters")
    val hotKeys = s.createDataFrame(
      java.util.Arrays.asList(hot.map(r => Row.fromSeq(keys.map(k => r.get(r.fieldIndex(k))))): _*),
      org.apache.spark.sql.types.StructType(keys.map(k => banded.schema(k))))
    banded.join(broadcast(hotKeys), keys, "left_anti")
  }

  /** Dropped-mass accounting: (bucket keys, bucket_size) for every
    * bucket past the cap — what [[capHotBuckets]] removed. Smokes and
    * operators surface this so a capped run is never silent about the
    * mass it skipped. */
  private[graft] def hotBuckets(s: SparkSession, banded: DataFrame,
                                keys: Seq[String]): DataFrame =
    banded.groupBy(keys.map(col): _*).agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket(s))

  /** The MinHash banding's dropped-mass view over a corpus: (band,
    * bucket, bucket_size) for every band bucket [[capHotBuckets]] would
    * drop at the current cap. Diagnostic companion to dedup_minhash /
    * dedup_edit — a capped run reports what it skipped (HotBucketSpec,
    * the `text.hot` smoke). */
  private[graft] def minhashHotBuckets(s: SparkSession, corpus: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val bands = withMinhash(corpus).select(col("doc_id"), posexplode(minhashBandArray))
      .toDF("doc_id", "band", "bucket")
    hotBuckets(s, bands, Seq("band", "bucket"))
  }

  /** OPT-IN salvage of the capped mass: every document in an over-cap
    * MinHash band bucket, resolved to components as (doc_id,
    * cluster_id) WITHOUT the |bucket|² pair join — each capped bucket
    * contributes a STAR (min member ↔ every other member, |bucket| − 1
    * edges, linear) and [[graft.operators.ConnectedComponents]] merges
    * buckets that share members. A >cap template family thus surfaces
    * as ONE actionable cluster row instead of silently-dropped pairs.
    *
    * The star edge is NOT Jaccard-verified — members of a capped bucket
    * share only a band signature, so this is a coarser relation than
    * the verified pair list by design (the alternative IS the |bucket|²
    * verification the cap exists to avoid); consumers treat it as
    * "likely one template family, inspect/keep-best", not as verified
    * near-dup pairs. Empty at any healthy cap (HotBucketSpec pins the
    * planted-family case; default query behavior is unchanged — nothing
    * calls this unless asked). */
  private[graft] def hotBucketClusters(s: SparkSession, corpus: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val bands = withMinhash(corpus).select(col("doc_id"), posexplode(minhashBandArray))
      .toDF("doc_id", "band", "bucket")
    // borrow-don't-own (TransientCache): this plan aliases the banded
    // frame the minhash pair queries memo-persist — never evict theirs
    graft.core.TransientCache.borrowCached(bands) {
      val members = bands.join(
        broadcast(hotBuckets(s, bands, Seq("band", "bucket")).select("band", "bucket")),
        Seq("band", "bucket"), "left_semi")
      val hub = members.groupBy("band", "bucket").agg(min("doc_id").as("hub"))
      val edges = members.join(hub, Seq("band", "bucket"))
        .filter(col("doc_id") =!= col("hub"))
        .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      // resolve is eager (localCheckpoint inside), so the banded frame
      // is safe to release — this is an ad-hoc diagnostic, not a
      // QueryDef-cached build; leaking a corpus-sized cache per call
      // would crowd out working-set blocks
      graft.operators.ConnectedComponents.resolve(edges)
    }
  }

  /** Session-scoped route-count memo: the size-gated operators (simhash
    * / clusters / keepbest / embedCosine / docvecDedup / the banding
    * guards) each take one `count()` of their input corpus per CALL to
    * pick a tier — over a bench/Verify session that is dozens of
    * identical metadata aggregates against the same immutable SF
    * tables. Keyed by (session, canonicalized analyzed plan): two
    * frames over the same files share one count; a DIFFERENT corpus
    * (other path, other filters) never aliases. Contract: registry
    * query inputs are immutable within a session (the QueryDef cache
    * contract — the same assumption every session persist() in this
    * file already makes); writer paths that mutate a corpus mid-session
    * (the streaming folds) count their own batch frames and never route
    * through this memo. Bounded: LRU past 64 plans (the pqMemo
    * discipline — oldest-accessed out first, never a full clear that
    * drops live sessions' counts), keyed on a PLAN DIGEST string
    * rather than the LogicalPlan object so a closed session's plan
    * tree (which references session/relation objects) is never
    * retained by the memo. */
  private val countMemo =
    new java.util.LinkedHashMap[String, java.lang.Long](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Long]): Boolean = size > 64
    }

  private[graft] def corpusRows(df: DataFrame): Long = {
    // key = md5 over the canonicalized analyzed plan's string form (the
    // same dedup relation the CacheManager uses), held as a VALUE — two
    // frames over the same files share one count, a different corpus
    // never aliases (128-bit digest; tier choices change pair-set
    // semantics at the gates, so a 32-bit semanticHash would be too
    // weak a key to bet them on)
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = md.digest(df.queryExecution.analyzed.canonicalized.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    val key = s"${System.identityHashCode(df.sparkSession)}:$digest"
    val hit = countMemo.synchronized(countMemo.get(key))
    if (hit != null) return hit.longValue()
    val n = java.lang.Long.valueOf(df.count())
    countMemo.synchronized {
      val raced = countMemo.get(key)
      if (raced != null) raced.longValue()
      else { countMemo.put(key, n); n.longValue() }
    }
  }

  /** The verified MinHash near-dup pair list (doc_a, doc_b, jaccard ≥
    * JACCARD_MIN), unsorted — dedup_minhash's whole derivation, shared
    * with [[sourceOverlap]]. */
  private def minhashPairsFrame(s: SparkSession, d: String): DataFrame =
    minhashPairsFor(s, docs(s, d), n = corpusRows(docs(s, d)))

  /** The verified pair list over ANY documents-shaped frame — the
    * [[simhashPairsFor]] analog, shared with [[cascade]] whose near
    * tier runs on the exact/norm SURVIVORS (a derived subset: pass
    * `useIndex = false`, a subset can never fingerprint-match and the
    * content probe would evaluate the upstream just to reject).
    * MinHash banding is the SCALE-SAFE candidate generator: unrelated
    * documents share no shingle, so their band buckets are md5s of
    * different strings and collide with probability ~0 — unlike the
    * 32-bit SimHash byte-banding, whose 1024-bucket space floods with
    * ~n²·1.8e-4 false candidates past ~10⁵ docs (measured: a 240k-doc
    * cascade tier collapsed 239,999 docs into ONE component before
    * this tier switched to verified MinHash pairs). */
  private[extensions] def minhashPairsFor(s: SparkSession, corpus: DataFrame,
                                          useIndex: Boolean = true,
                                          n: Long = -1L): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // signature chain (split → shingle → 8 × md5-min) is the expensive
    // part: compute it ONCE, persist the narrow results, and let the
    // self-join read the cache instead of re-deriving md5s per side.
    // graft_minhash emits all NUM_HASHES minima in a single codegen'd
    // pass over the shingle array (hex-min semantics identical to the
    // oracle's 8 × list_min(list_transform(md5)) chain).
    // DISK BUDGET (round 12, the 8M-doc cascade ENOSPC): past
    // [[LeanShingleMinRowsKey]] the corpus-wide shingle arrays are
    // NEVER cached — signatures stream shingle→minhash in one
    // projection, and verification re-derives shingles for the
    // candidate docs only (left-semi; bounded by candidate mass).
    val lean = n >= 0 && n >= leanShingleMinRows(s)
    if (lean) {
      // peak-spill self-report BEFORE committing to the heavy stages:
      // driver-side file listing only, no data scan
      val inputBytes = try {
        val conf = s.sparkContext.hadoopConfiguration
        corpus.inputFiles.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
      } catch { case _: Throwable => -1L }
      // corpora whose lineage tops out in a cached/derived frame have
      // no file-backed inputs to size — fall back to a rows × mean-doc
      // heuristic (the smoke corpora run ~1 KiB/doc)
      val estMiB =
        if (inputBytes > 0) inputBytes / (1 << 20) else n * 1024L / (1 << 20)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"minhashPairsFor: lean-shingle path at n=$n (input ~$estMiB MiB" +
          (if (inputBytes <= 0) ", rows-heuristic: upstream is cached/derived" else "") +
          s"; est. peak shuffle+cache ~${3 * estMiB} MiB vs " +
          s"~${12 * estMiB} MiB with the corpus-wide shingle cache)")
    }
    // persists here are session-scoped memos (QueryDef cache contract;
    // CacheHygieneSpec proves re-runs reuse rather than grow them)
    val sh = if (lean) null else shingleDocs(corpus).persist()
    // signatures from the persisted text index when one is certified
    // AND fingerprint-matched (TextIndex) — the corpus-wide md5 pass
    // happens at ingest, not per query; identical expressions either
    // way, so index-served results equal recomputed ones. Shingles
    // are still read for exact-Jaccard verification of the (few)
    // banding survivors.
    val sig = (if (useIndex) TextIndex.resolveFor(s, corpus) else None) match {
      case Some(dir) => TextIndex.readSigs(s, dir).select("doc_id", "mhs")
      case None =>
        (if (lean) shingleDocs(corpus) else sh).select(col("doc_id"),
          call_function("graft_minhash", col("sh"), lit(NUM_HASHES)).as("mhs"))
    }
    val bands = sig.select(col("doc_id"), posexplode(minhashBandArray))
      .toDF("doc_id", "band", "bucket")
      .persist()
    // hot-bucket guard: a template flood puts every copy in the same
    // band buckets → |bucket|² candidates; capped buckets are dropped
    // from candidate generation (accounting via hotBuckets)
    val keep = capHotBuckets(s, bands, Seq("band", "bucket"), n)
    val cand0 = keep.as("a").join(keep.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // lean: the pair list is read once for ids and once for scoring —
    // candidate-mass-sized, the RIGHT thing to cache at scale
    val cand = if (lean) cand0.persist() else cand0
    val shv = if (!lean) sh else {
      val candIds = cand.select(col("doc_a").as("doc_id"))
        .union(cand.select(col("doc_b").as("doc_id"))).distinct()
      shingleDocs(corpus.join(candIds, Seq("doc_id"), "left_semi")).persist()
    }
    cand
      .join(shv.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shv.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("uni", size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))
      .withColumn("jaccard", round(col("inter").cast("double") / col("uni"), 6))
      .filter(col("jaccard") >= JACCARD_MIN)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** CTE chain ending in `mpairs(doc_a, doc_b, jaccard)` over source
    * relation `src` — the minhashPairsFor derivation, embeddable in
    * composed oracles (the [[simhashPairsCtes]] analog). */
  private def minhashPairsCtes(src: String): String = {
    val sigCols = (0 until NUM_HASHES).map(i =>
      s"list_min(list_transform(sh, x -> md5('$i|' || x))) AS mh_$i").mkString(",\n         ")
    val bandSelects = (0 until NUM_HASHES / BAND_ROWS).map(b =>
      s"SELECT doc_id, sh, $b AS band, md5(mh_${2 * b} || mh_${2 * b + 1}) AS bucket FROM sig").mkString("\n  UNION ALL\n  ")
    s"""s AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM $src
       |), sig AS (
       |  SELECT doc_id, sh,
       |         $sigCols
       |  FROM s
       |), bands AS (
       |  $bandSelects
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |         len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
       |  FROM cand c JOIN s sa ON c.doc_a = sa.doc_id JOIN s sb ON c.doc_b = sb.doc_id
       |), mpairs AS (
       |  SELECT doc_a, doc_b, round(j, 6) AS jaccard FROM verified
       |  WHERE round(j, 6) >= $JACCARD_MIN
       |)""".stripMargin
  }

  /** The corpus-wide chain — dedup_minhash's and source_overlap's form. */
  private val minhashPairsSqlCtes: String = "WITH " + minhashPairsCtes("documents")

  val minhash: QueryDef = QueryDef(
    build = (s, d) => minhashPairsFrame(s, d).orderBy("doc_a", "doc_b"),
    oracle = Some(
      s"""$minhashPairsSqlCtes
         |SELECT doc_a, doc_b, jaccard FROM mpairs ORDER BY doc_a, doc_b""".stripMargin),
    doc = "X2 MinHash+LSH near-dup (shingle → minhash → band → bucket-join). HOT-BUCKET CAP: band buckets past spark.graft.dedup.maxBandBucket (default 2000; 0 disables) are dropped from candidate generation — a >cap-member template family yields NO pairs here (run the exact/norm tiers first, as dedup_cascade does, or query minhashHotBuckets for the dropped mass)")

  // -------------------------------------------------------------------
  // X2 cross-source overlap matrix — WHICH scrapes duplicate each
  // other: the verified near-dup pair list joined to each side's
  // source, grouped to an unordered (source_a ≤ source_b) cell with
  // the pair count and summed Jaccard micro. The curation read: a hot
  // off-diagonal cell means two ingestion feeds ship the same
  // content (drop one, or dedup across them FIRST); a hot diagonal
  // means a feed re-crawls itself. Work rides the bounded verified
  // pair list — the matrix is |sources|² at most, the join input is
  // the pairs, never the corpus.
  // -------------------------------------------------------------------
  val sourceOverlap: QueryDef = QueryDef(
    build = (s, d) => {
      val src = docs(s, d).select(col("doc_id"), col("source"))
      minhashPairsFrame(s, d)
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")), "doc_b")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          expr("CAST(floor(jaccard * 1000000 + 0.5D) AS BIGINT)").as("j_micro"))
        .groupBy("source_a", "source_b")
        .agg(count(lit(1)).as("n_pairs"), sum("j_micro").as("sum_j_micro"))
        .orderBy("source_a", "source_b")
    },
    oracle = Some(
      s"""$minhashPairsSqlCtes, so AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b,
         |         CAST(floor(p.jaccard * 1000000 + 0.5) AS BIGINT) AS j_micro
         |  FROM mpairs p
         |  JOIN documents da ON p.doc_a = da.doc_id
         |  JOIN documents db ON p.doc_b = db.doc_id
         |)
         |SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
         |       sum(j_micro)::BIGINT AS sum_j_micro
         |FROM so GROUP BY source_a, source_b ORDER BY source_a, source_b""".stripMargin),
    doc = "X2 cross-source overlap matrix: verified near-dup pairs attributed to (source, source) cells — which feeds duplicate each other")

  // -------------------------------------------------------------------
  // X2b SimHash: 32-bit signature over shingles (md5-derived bits),
  // banded into 4 bytes for candidate generation, Hamming-verified.
  // -------------------------------------------------------------------
  private[graft] val HAMMING_MAX = 6

  /** SimHash near-dup pairs (doc_a, doc_b, hamming), hamming ≤
    * HAMMING_MAX — shared by the dedup_simhash query and the cluster
    * resolution in [[clusters]]. */
  private def simhashPairs(s: SparkSession, d: String): DataFrame =
    simhashPairsFor(s, docs(s, d))

  /** SimHash near-dup pairs over ANY documents-shaped frame — shared
    * with [[PipelineQueries]] (whose near-dup stage runs on the
    * pipeline's survivors, not the raw corpus; it passes
    * `useIndex = false`, because a derived subset can never
    * fingerprint-match and `resolveFor`'s content probe would fully
    * EVALUATE the pipeline upstream of it just to reject the index). */
  private[extensions] def simhashPairsFor(s: SparkSession, corpus: DataFrame,
                                          useIndex: Boolean = true): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // whole signature is map-side: per-doc md5 hashes (native
    // expression — stock md5+conv costs ~27µs/row) folded by a
    // single-pass majority-vote loop. Zero shuffle before banding.
    // A certified, fingerprint-matched TextIndex serves the stored
    // signatures instead (identical derivation ⇒ identical pairs);
    // dedup_clusters rides this too. A SUBSET corpus (the pipeline's
    // survivors) fails the fingerprint and recomputes — always correct.
    val sig = (if (useIndex) TextIndex.resolveFor(s, corpus) else None) match {
      case Some(dir) => TextIndex.readSigs(s, dir).select("doc_id", "simhash")
      case None => shingleDocs(corpus).select(col("doc_id"),
        call_function("graft_simhash",
          expr("transform(sh, x -> graft_md5_prefix(x, 8))")).as("simhash"))
    }
    val bands = sig.select(col("doc_id"), col("simhash"), explode(expr("sequence(0, 3)")).as("k"))
      .withColumn("byte", expr("shiftright(simhash, k * 8) & 255"))
      .persist() // session-scoped memo (QueryDef cache contract)
    bands.as("a").join(bands.as("b"),
        col("a.k") === col("b.k") && col("a.byte") === col("b.byte")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sh_a"), col("b.simhash").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
      .filter(col("hamming") <= HAMMING_MAX)
      .select("doc_a", "doc_b", "hamming")
  }

  // -------------------------------------------------------------------
  // X2b' 64-bit SimHash — the AT-SCALE signature (Manku, Jain & Das
  // Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07: 64-bit
  // fingerprints with Hamming ≤ 3 at 8B-page scale). The 32-bit tier's
  // measured failure is its verified OUTPUT: P(Hamming ≤ 6) ≈ 1.8e-4
  // for unrelated docs → ~n²·9e-5 false pairs (240k docs collapsed to
  // one component). At 64 bits P(Hamming ≤ 3) ≈ 2.4e-15 — the pair
  // list is bounded by TRUE near-dup mass at any corpus size. Banding:
  // 4 bands × 16 bits; by pigeonhole 3 differing bits touch ≤ 3 bands,
  // so every Hamming-≤3 pair shares a band — recall is exactly 1.
  // False-candidate mass is n²·2^-17·4 ≈ 3e-5·n² on uniform sigs
  // (6× below the byte-banding) and the hot-bucket cap bounds the
  // biased-corpus worst case. NOTE the tier tightens the criterion
  // (H≤3/64 ≈ cosine 0.99 of the shingle-vote vector vs H≤6/32 ≈ 0.83)
  // — the published at-scale operating point, same intended-divergence
  // contract as nearPairsRouted's Jaccard tier.
  // -------------------------------------------------------------------
  private[graft] val HAMMING_MAX_64 = 3L

  /** 64-bit SimHash near-dup pairs (doc_a, doc_b, hamming ≤ 3) over any
    * documents-shaped frame — dedup_simhash's > EXACT_TIER_MAX_ROWS
    * route. Serves the stored `simhash64` column of a certified,
    * fingerprint-matched TextIndex (indexes predating the column fall
    * back to recompute; rebuild to upgrade).
    *
    * BANDING SCHEME (Manku/WWW'07 multi-block tables, round 11): the
    * first cut banded 4 × 16-bit slices — recall 1 by pigeonhole, but
    * 16-bit keys give only 65k buckets per table, so RANDOM collisions
    * grow ∝ n²/2¹⁶ once occupancy passes 1 (measured: 3.84M docs →
    * ~4.5e8 false candidates, 332 s — the quadratic trap one decade
    * past round 10's 1.2M evidence). Shipped scheme: split the
    * signature into SIX blocks (11/11/11/11/10/10 bits) and probe all
    * C(6,3) = 20 three-block combinations as tables keyed on ~32 bits.
    * A Hamming-≤3 pair differs in ≤3 blocks ⇒ ≥3 blocks agree ⇒ some
    * probed combination matches — recall is still EXACTLY 1, so the
    * verified output pair set is IDENTICAL to the 4×16 form (the
    * Hamming filter defines it); what changes is false-candidate mass:
    * 20·n²/2 · 2⁻³² ≈ 34k at 3.84M docs vs ~4.5e8. Cost: 20 banded
    * rows/doc instead of 4 — linear, and the price of staying
    * collision-free to ~10⁹ docs. */
  private[extensions] def simhashPairs64For(s: SparkSession, corpus: DataFrame,
                                            useIndex: Boolean = true,
                                            n: Long = -1L): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val sig = (if (useIndex) TextIndex.resolveFor(s, corpus) else None) match {
      case Some(dir) if TextIndex.readSigs(s, dir).columns.contains("simhash64") =>
        TextIndex.readSigs(s, dir).select("doc_id", "simhash64")
      case _ => shingleDocs(corpus).select(col("doc_id"),
        call_function("graft_simhash64",
          expr("transform(sh, x -> xxhash64(x))")).as("simhash64"))
    }
    // six blocks covering all 64 bits; per combo, the three block
    // values pack at fixed 11-bit strides (block width ≤ 11) into one
    // ≤33-bit key — unambiguous per table
    val blocks = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
    def blockExpr(b: (Int, Int)) = s"(shiftright(simhash64, ${b._1}) & ${(1L << b._2) - 1}L)"
    val tables = blocks.indices.combinations(3).toSeq.zipWithIndex.map { case (c, t) =>
      struct(lit(t.toLong).as("k"),
        expr(s"${blockExpr(blocks(c(0)))} | (${blockExpr(blocks(c(1)))} << 11) " +
          s"| (${blockExpr(blocks(c(2)))} << 22)").as("band"))
    }
    val bands = sig.select(col("doc_id"), col("simhash64"),
        explode(array(tables: _*)).as("tb"))
      .select(col("doc_id"), col("simhash64"),
        col("tb.k").as("k"), col("tb.band").as("band"))
      .persist() // session-scoped memo (QueryDef cache contract)
    val keep = capHotBuckets(s, bands, Seq("k", "band"), n)
    keep.as("a").join(keep.as("b"),
        col("a.k") === col("b.k") && col("a.band") === col("b.band")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash64").as("sh_a"), col("b.simhash64").as("sh_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(expr("sh_a ^ sh_b")).cast("long"))
      .filter(col("hamming") <= HAMMING_MAX_64)
      .select("doc_a", "doc_b", "hamming")
  }

  /** CTE chain producing the identical pair set as [[simhashPairsFor]]
    * over source relation `src`; terminal CTE is `pairs(doc_a, doc_b,
    * hamming)` — embeddable in composed oracles ([[PipelineQueries]]). */
  private[extensions] def simhashPairsCtes(src: String): String =
    s"""s AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM $src
       |), hashes AS (
       |  SELECT doc_id, ('0x' || substring(md5(u.x), 1, 8))::BIGINT AS h
       |  FROM s, unnest(s.sh) AS u(x)
       |), votes AS (
       |  SELECT doc_id, g.b, sum(((h >> g.b) & 1) * 2 - 1)::BIGINT AS v
       |  FROM hashes CROSS JOIN generate_series(0, 31) AS g(b)
       |  GROUP BY doc_id, g.b
       |), sig AS (
       |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
       |  FROM votes GROUP BY doc_id
       |), bands AS (
       |  SELECT doc_id, simhash, g.k, (simhash >> (g.k * 8)) & 255 AS byte
       |  FROM sig CROSS JOIN generate_series(0, 3) AS g(k)
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         a.simhash AS sh_a, b.simhash AS sh_b
       |  FROM bands a JOIN bands b
       |    ON a.k = b.k AND a.byte = b.byte AND a.doc_id < b.doc_id
       |), pairs AS (
       |  SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
       |  FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= $HAMMING_MAX
       |)""".stripMargin

  private val simhashPairsSql: String = "WITH RECURSIVE " + simhashPairsCtes("documents")

  /** dedup_simhash, SIZE-GATED (the nearPairsRouted/embedCosine
    * pattern): ≤ 100k docs serves the oracle-replayed 32-bit
    * byte-banded tier; past the gate the 64-bit Manku-style tier
    * (Hamming ≤ 3) whose pair list is bounded by true near-dup mass
    * instead of flooding ∝ n² (measured: 32-bit collapsed 240k docs
    * into one component). `exact` pins a tier (None: by size). */
  private[graft] def simhashRouted(s: SparkSession, d: String,
                                   exact: Option[Boolean] = None): DataFrame = {
    val c = docs(s, d)
    val n = corpusRows(c) // memoized — one metadata count per session, not per call
    (if (exact.getOrElse(exactTier(n))) simhashPairs(s, d) else simhashPairs64For(s, c, n = n))
      .orderBy("doc_a", "doc_b")
  }

  val simhash: QueryDef = QueryDef(
    build = (s, d) => simhashRouted(s, d),
    oracle = Some(
      s"""$simhashPairsSql
         |SELECT doc_a, doc_b, hamming FROM pairs ORDER BY doc_a, doc_b""".stripMargin),
    doc = "X2 SimHash near-dup - SIZE-GATED: 32-bit byte-banded Hamming<=6 tier <= 100k docs (every oracle SF; what the oracle replays), 64-bit Manku/WWW'07 multi-block-banded Hamming<=3 tier past the gate (6 blocks, C(6,3)=20 three-block tables keyed on ~32 bits - recall exactly 1 by pigeonhole, false-candidate mass ~20*n^2/2^33)")

  // -------------------------------------------------------------------
  // X2f cluster resolution — what a production dedup pipeline runs AFTER
  // pair generation: connected components over the near-dup pair graph,
  // every document labeled with the min doc_id of its component (the
  // kept representative).
  //
  // Shape: candidate/verify (the expensive, corpus-sized work) is the
  // fully distributed SimHash pipeline above; the component resolution
  // is ConnectedComponents.resolve — union-find in a SINGLE task while
  // the pair list fits one (the verified-pair graph is sparse relative
  // to the corpus by construction: pairs are actual near-dups, so at
  // 100 TB the pair list is still millions, not billions, and one
  // executor task folds it in O(E·α)), switching to distributed
  // min-label propagation with pointer jumping past the pair-count
  // threshold — same unique fixpoint, proven by
  // ConnectedComponentsSpec. The DuckDB oracle computes the identical
  // components via a recursive CTE, gating the whole pairs →
  // components → representatives pipeline.
  // -------------------------------------------------------------------
  /** Near-dup pair source for CLUSTER consumers (dedup_clusters,
    * dedup_keepbest, the corpus_clean near_dup verdicts): the
    * oracle-described SimHash tier at ≤-gate scale, VERIFIED MinHash
    * pairs past it. Measured basis (the `text.cascade` smoke): the
    * 32-bit SimHash byte-banding's 1024-bucket space floods with
    * ~1.8e-4·n²/2 false Hamming-≤6 pairs on weakly-correlated corpora —
    * at 240k docs that is ~5M false edges, whose components collapsed
    * 239,999 docs into ONE cluster. MinHash buckets are md5s of actual
    * shingles (collision-free across unrelated documents) and every
    * surviving pair is exact-Jaccard re-checked, so the routed tier's
    * edge list stays ∝ true near-dup mass at any corpus size. `n` =
    * corpus row count (metadata-served; derived-frame callers pass
    * their base table's count as the conservative upper bound).
    * `exact` pins a tier: Some(true) the SimHash tier the oracles
    * replay, Some(false) the verified route; None routes by `n`.
    *
    * CRITERION NOTE (the routed tier is a different near-dup RELATION,
    * not just a different candidate generator): the SimHash tier admits
    * Hamming-≤6 signature pairs, the routed tier admits exact-Jaccard-
    * ≥0.8 verified pairs. The sets overlap but are unequal — a
    * Hamming-≤6 pair with exact Jaccard <0.8 exists only on the SimHash
    * side — so cluster membership can change discontinuously when a
    * corpus crosses the gate. Intended: DedupRouteSpec pins a planted
    * divergent pair; the alternative (keeping the Hamming criterion at
    * scale) is exactly the measured flood this route exists to avoid. */
  private[extensions] def nearPairsRouted(s: SparkSession, corpus: DataFrame, n: Long,
                                          useIndex: Boolean = true,
                                          exact: Option[Boolean] = None): DataFrame =
    if (exact.getOrElse(exactTier(n))) simhashPairsFor(s, corpus, useIndex).select("doc_a", "doc_b")
    else minhashPairsFor(s, corpus, useIndex, n).select("doc_a", "doc_b")

  /** dedup_clusters over [[nearPairsRouted]]; `exact` pins its tier. */
  private[graft] def clusterLabels(s: SparkSession, d: String,
                                   exact: Option[Boolean] = None): DataFrame = {
    val comp = graft.operators.ConnectedComponents.resolve(
      nearPairsRouted(s, docs(s, d), corpusRows(docs(s, d)), exact = exact))
    docs(s, d).select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  val clusters: QueryDef = QueryDef(
    build = (s, d) => clusterLabels(s, d),
    oracle = Some(
      s"""$simhashPairsSql, edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs
         |), reach AS (
         |  SELECT doc_id, doc_id AS label FROM documents
         |  UNION
         |  SELECT e.dst AS doc_id, r.label
         |  FROM reach r JOIN edges e ON e.src = r.doc_id
         |)
         |SELECT doc_id, min(label) AS cluster_id FROM reach
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    doc = "X2 near-dup cluster resolution (connected components, min-id representative) - SIZE-GATED pair source: SimHash tier <= 100k docs (every oracle SF), verified MinHash pairs past the gate)")

  // -------------------------------------------------------------------
  // X2 keep-best cluster dedup — the SELECTION step after clustering:
  // within each near-dup cluster keep the HIGHEST-QUALITY member, not
  // the first-seen one (the FineWeb/CCNet canonicalization: a
  // boilerplate-stripped re-crawl often scores better than the copy
  // that arrived first; keep-first silently ships the worse text).
  // Quality is the text_quality composite as ONE BIGINT micro
  // (TextQueries.qualityMicroFrame — the keep decision orders on an
  // integer, never a rounded double), ties to the smallest doc_id.
  // Plan: the bounded near-dup pair list resolves to components, joins
  // the map-side quality scores once, then ONE grouped max_by per
  // cluster — no corpus-wide window, no second quality pass; work is
  // ∝ clustered docs, not the corpus.
  // -------------------------------------------------------------------
  val keepBest: QueryDef = QueryDef(
    build = (s, d) => {
      val comp = graft.operators.ConnectedComponents.resolve(
        nearPairsRouted(s, docs(s, d), corpusRows(docs(s, d))))
      // comp covers exactly the docs that appear in a near-dup pair, so
      // every row is already in a ≥2-member cluster (singletons never
      // enter the pair list)
      comp.join(TextQueries.qualityMicroFrame(s, d), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max_by(col("doc_id"), struct(col("q_micro"), -col("doc_id"))).as("kept_doc_id"),
          max("q_micro").as("kept_q_micro"),
          min("q_micro").as("min_q_micro"))
        .select("cluster_id", "n_members", "kept_doc_id", "kept_q_micro", "min_q_micro")
        .orderBy("cluster_id")
    },
    oracle = Some(
      s"""$simhashPairsSql, edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs
         |), reach AS (
         |  SELECT doc_id, doc_id AS label FROM documents
         |  UNION
         |  SELECT e.dst AS doc_id, r.label
         |  FROM reach r JOIN edges e ON e.src = r.doc_id
         |), comp AS (
         |  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
         |), ${TextQueries.qualityMicroSql}, members AS (
         |  SELECT c.cluster_id, c.doc_id, qm.q_micro
         |  FROM comp c JOIN qm ON qm.doc_id = c.doc_id
         |), ranked AS (
         |  SELECT cluster_id, doc_id, q_micro,
         |         count(*) OVER (PARTITION BY cluster_id) AS n_members,
         |         min(q_micro) OVER (PARTITION BY cluster_id) AS min_q_micro,
         |         row_number() OVER (PARTITION BY cluster_id ORDER BY q_micro DESC, doc_id) AS rk
         |  FROM members
         |)
         |SELECT cluster_id, n_members::BIGINT AS n_members, doc_id AS kept_doc_id,
         |       q_micro AS kept_q_micro, min_q_micro
         |FROM ranked WHERE rk = 1 AND n_members > 1 ORDER BY cluster_id""".stripMargin),
    doc = "X2 keep-best cluster dedup: highest-quality member survives each near-dup cluster (FineWeb-style canonicalization) - SIZE-GATED pair source: SimHash tier <= 100k docs (every oracle SF), verified MinHash pairs past the gate)")

  // -------------------------------------------------------------------
  // X2c n-gram Jaccard with rare-shingle blocking: candidate pairs share
  // at least one shingle with document frequency ≤ DF_MAX (blocks on
  // discriminative shingles only — the frequent-shingle join explosion
  // is exactly what kills naive token joins at scale).
  // -------------------------------------------------------------------
  private val DF_MAX = 20
  private val NGRAM_JACCARD_MIN = 0.5

  /** The exact n-gram-Jaccard pair list (doc_a, doc_b, jaccard ≥
    * NGRAM_JACCARD_MIN) — dedup_ngram's whole derivation, unsorted.
    * Shared with [[bandingRecall]], which uses it as ground truth for
    * auditing the MinHash banding's recall. */
  private[extensions] def ngramPairs(s: SparkSession, d: String,
      shPre: Option[DataFrame] = None): DataFrame = {
      graft.functions.VectorFunctions.register(s)
      // Shingles as 60-bit md5-prefix ints (same md5 both engines; the
      // string-based oracle independently validates the rewrite). The
      // exact intersection is assembled WITHOUT per-pair wide-array
      // intersects: |A∩B| = (# shared rare shingles — a count the
      // blocking join produces for free) + |freq_A ∩ freq_B| (per-doc
      // frequent-shingle arrays are bounded by the global frequent set,
      // which is tiny by definition). No large arrays ever shuffle.
      // A certified, fingerprint-matched TextIndex serves the stored
      // hashed-shingle arrays (`shn`) — every downstream step (blocking,
      // df, verification) runs on these ints, so the index-served query
      // skips the text scan + tokenize + md5 pass ENTIRELY (indexes
      // predating the column fall back; rebuild to upgrade).
      // DISK BUDGET (round 13, VERDICT r12 item 3): the exploded
      // corpus×shingles frame (`post`) and its rare-blocked filter are
      // strictly LARGER than the shingle arrays whose un-gated persist
      // caused the r11 8M-doc ENOSPC — past [[LeanShingleMinRowsKey]]
      // they are never cached. The lean path persists only the tiny
      // global frequent-shingle set and the NARROW per-doc meta frame
      // (doc_id, n, fr — fr bounded by the frequent set), and streams
      // the explode for each consumer instead (same trade as
      // minhashPairsFor's lean path; a caching strategy, never a
      // semantics change — DedupRouteSpec pins identity at gate=0).
      val lean = corpusRows(docs(s, d)) >= leanShingleMinRows(s)
      val sh0 = (TextIndex.resolveFor(s, docs(s, d)) match {
        case Some(dir) if TextIndex.readSigs(s, dir).columns.contains("shn") =>
          TextIndex.readSigs(s, dir).select(col("doc_id"), col("shn").as("sh"))
        case _ => shPre.getOrElse(shingled(s, d))
          .select(col("doc_id"), expr("transform(sh, x -> graft_md5_prefix(x, 15))").as("sh"))
      }).withColumn("n", size(col("sh")).cast("long"))
      // persists below (non-lean): session-scoped memos (QueryDef cache
      // contract). Persisted (round 12): three consumers (the df
      // aggregate, the rare-blocking join, the frequent-shingle leg)
      // otherwise each re-explode the shingle arrays from the sh cache.
      val sh = if (lean) sh0 else sh0.persist()
      val post0 = sh.select(col("doc_id"), explode(col("sh")).as("x"))
      val post = if (lean) post0 else post0.persist()
      val dfx = if (lean) null
        else post.groupBy("x").agg(count(lit(1)).as("df")).persist()
      // the frequent-shingle set is tiny by definition (df > DF_MAX
      // over the whole corpus) — the one thing ALWAYS safe to persist
      val freq = if (lean)
        post.groupBy("x").agg(count(lit(1)).as("df"))
          .filter(col("df") > DF_MAX).select("x").persist()
        else dfx.filter(col("df") > DF_MAX).select("x")
      // lean: rare-blocked ≈ post minus frequent occurrences (dfx
      // partitions non-NULL shingles at DF_MAX). NOT row-identical: a
      // NULL shingle is dropped by the inner join but KEPT by the anti
      // join. pairCounts is unaffected (NULL never satisfies a.x = b.x
      // in the self-join below); a new consumer of `blocked` must filter
      // x IS NOT NULL first.
      val blocked = if (lean) post.join(freq, Seq("x"), "left_anti")
        else post.join(dfx.filter(col("df") <= DF_MAX).select("x"), "x").persist()
      val pairCounts = blocked.as("a").join(blocked.as("b"),
          col("a.x") === col("b.x") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("rare_shared"))
      val emptyArr = expr("CAST(array() AS ARRAY<BIGINT>)")
      val meta0 = sh.select(col("doc_id"), col("n"))
        .join(post.join(freq, Seq("x"))
          .groupBy("doc_id").agg(collect_list("x").as("fr")), Seq("doc_id"), "left")
        .withColumn("fr", coalesce(col("fr"), emptyArr))
      // lean: meta is read three times (slim bound ×2 sides + exact
      // fr join) — narrow per-doc rows, the RIGHT thing to cache
      val meta = if (lean) meta0.persist() else meta0
      // two-stage verification: the 1M+ candidate pairs first join only
      // COUNT scalars (no arrays shuffle) and die against the upper
      // bound inter ≤ rare_shared + min(|fr_a|, |fr_b|) (Jaccard is
      // monotone in inter); the surviving few hundred pairs then join
      // the frequent-shingle arrays for the exact intersection
      val metaSlim = meta.select(col("doc_id"), col("n"), size(col("fr")).cast("long").as("nf"))
      val survivors = pairCounts
        .join(metaSlim.select(col("doc_id").as("doc_a"), col("n").as("n_a"), col("nf").as("nf_a")), "doc_a")
        .join(metaSlim.select(col("doc_id").as("doc_b"), col("n").as("n_b"), col("nf").as("nf_b")), "doc_b")
        .withColumn("ub", col("rare_shared") + least(col("nf_a"), col("nf_b")))
        .filter(col("ub").cast("double") / (col("n_a") + col("n_b") - col("ub")) >= NGRAM_JACCARD_MIN)
      survivors
        .join(meta.select(col("doc_id").as("doc_a"), col("fr").as("fr_a")), "doc_a")
        .join(meta.select(col("doc_id").as("doc_b"), col("fr").as("fr_b")), "doc_b")
        .withColumn("inter", col("rare_shared") + size(array_intersect(col("fr_a"), col("fr_b"))).cast("long"))
        .withColumn("jaccard", round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 6))
        .filter(col("jaccard") >= NGRAM_JACCARD_MIN)
        .select("doc_a", "doc_b", "jaccard")
  }

  /** Oracle CTE chain producing `npairs`(doc_a, doc_b, jaccard) — the
    * SQL mirror of [[ngramPairs]]; shared by the dedup_ngram and
    * jaccard_recall oracles. */
  private val ngramPairsCtes: String =
    s"""s AS (
       |  SELECT doc_id, $shinglesSql AS sh FROM documents
       |), post AS (
       |  SELECT doc_id, u.x FROM s, unnest(s.sh) AS u(x)
       |), rare AS (
       |  SELECT x FROM post GROUP BY x HAVING count(*) <= $DF_MAX
       |), blocked AS (
       |  SELECT p.doc_id, p.x FROM post p JOIN rare r ON p.x = r.x
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM blocked a JOIN blocked b ON a.x = b.x AND a.doc_id < b.doc_id
       |), verified AS (
       |  SELECT c.doc_a, c.doc_b,
       |         round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
       |           (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
       |  FROM cand c JOIN s sa ON c.doc_a = sa.doc_id JOIN s sb ON c.doc_b = sb.doc_id
       |), npairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM verified
       |  WHERE jaccard >= $NGRAM_JACCARD_MIN
       |)""".stripMargin

  val ngramJaccard: QueryDef = QueryDef(
    build = (s, d) => ngramPairs(s, d).orderBy("doc_a", "doc_b"),
    oracle = Some(
      s"""WITH $ngramPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM npairs ORDER BY doc_a, doc_b""".stripMargin),
    doc = "X2 n-gram Jaccard near-dup (rare-shingle blocking)")

  // -------------------------------------------------------------------
  // X2g banding-recall audit — the text-tier mirror of sem_recall: what
  // fraction of the EXACT near-dup pairs (dedup_ngram's verified
  // Jaccard ≥ 0.5 list, the truth an audit can afford because blocking
  // keeps it sub-quadratic) does dedup_minhash's BAND-BUCKET candidate
  // generation actually surface, per Jaccard decile? The banding theory
  // says P(caught) = 1 − (1 − J^r)^b (r = BAND_ROWS, b = bands); this
  // query puts the measured curve next to the theoretical one
  // (`theory_ppm`, evaluated at the band midpoint with plain IEEE
  // multiplication — no pow(), so both engines agree bit-for-bit), so a
  // banding-scheme retune (more hashes / wider bands) is a query away
  // from its evidence — the `text` smoke's 99.5 %-at-J≈0.84 number,
  // generalized to every corpus and every band.
  //
  // Determinism discipline: the decile key derives from the micro-int
  // form of the already-rounded jaccard (floor(j·1e6 + 0.5) DIV 1e5 —
  // integer arithmetic, no double×10 boundary risk); ppm columns are
  // BIGINT integer division.
  // -------------------------------------------------------------------
  val bandingRecall: QueryDef = QueryDef(
    build = (s, d) => {
      graft.functions.VectorFunctions.register(s)
      // candidate pairs from the banding ONLY (no Jaccard verification —
      // the audit measures the candidate generator); signatures served
      // from a certified TextIndex exactly like dedup_minhash. Without
      // an index, BOTH legs (minhash sigs here, the hashed-shingle
      // truth inside ngramPairs) derive from ONE persisted string-
      // shingle scan — the text scan + tokenize + shingle pass is the
      // corpus-sized part and must not run twice.
      val (resolved, shStr) = TextIndex.resolveFor(s, docs(s, d)) match {
        case some @ Some(_) => (some, None)
        case None => (None, Some(shingled(s, d)
          .persist())) // session-scoped memo (QueryDef cache contract)
      }
      val sig = resolved match {
        case Some(dir) => TextIndex.readSigs(s, dir).select("doc_id", "mhs")
        case None => shStr.get.select(col("doc_id"),
          call_function("graft_minhash", col("sh"), lit(NUM_HASHES)).as("mhs"))
      }
      val bands = sig.select(col("doc_id"), posexplode(minhashBandArray))
        .toDF("doc_id", "band", "bucket")
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("caught", lit(1L))
      // q^b as a left-associated multiplication chain — the identical
      // token sequence parses identically in Spark and DuckDB, so the
      // rounding order matches bit-for-bit
      val qPow = Seq.fill(NUM_HASHES / BAND_ROWS)("q").mkString(" * ")
      ngramPairs(s, d, shStr)
        .join(cand, Seq("doc_a", "doc_b"), "left")
        .withColumn("caught", coalesce(col("caught"), lit(0L)))
        .withColumn("j_band",
          expr("CAST(floor(jaccard * 1000000 + 0.5D) AS BIGINT) DIV 100000"))
        .groupBy("j_band")
        .agg(count(lit(1)).as("n_pairs"), sum("caught").as("n_caught"))
        .withColumn("miss_ppm",
          expr("(n_pairs - n_caught) * 1000000 DIV n_pairs"))
        // theoretical catch rate at the band midpoint, pow() spelled as
        // repeated multiplication so Spark and DuckDB round identically
        .withColumn("jm", least(
          (col("j_band") * 100000L + 50000L).cast("double") / 1000000.0, lit(1.0)))
        .withColumn("q", lit(1.0) - col("jm") * col("jm"))
        .withColumn("theory_ppm", expr(
          s"CAST(floor((1.0D - $qPow) * 1000000 + 0.5D) AS BIGINT)"))
        .select("j_band", "n_pairs", "n_caught", "miss_ppm", "theory_ppm")
        .orderBy("j_band")
    },
    oracle = Some {
      val sigCols = (0 until NUM_HASHES).map(i =>
        s"list_min(list_transform(sh, x -> md5('$i|' || x))) AS mh_$i").mkString(",\n         ")
      val bandSelects = (0 until NUM_HASHES / BAND_ROWS).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh_${2 * b} || mh_${2 * b + 1}) AS bucket FROM msig").mkString("\n  UNION ALL\n  ")
      val qPow = Seq.fill(NUM_HASHES / BAND_ROWS)("q").mkString(" * ")
      s"""WITH $ngramPairsCtes, msig AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM s
         |), mbands AS (
         |  $bandSelects
         |), mcand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM mbands a JOIN mbands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), marked AS (
         |  SELECT p.doc_a, p.doc_b,
         |         CAST(floor(p.jaccard * 1000000 + 0.5) AS BIGINT) // 100000 AS j_band,
         |         (CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END)::BIGINT AS caught
         |  FROM npairs p LEFT JOIN mcand c
         |    ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
         |), g AS (
         |  SELECT j_band, count(*)::BIGINT AS n_pairs, sum(caught)::BIGINT AS n_caught
         |  FROM marked GROUP BY j_band
         |), t AS (
         |  SELECT *, least((j_band * 100000 + 50000)::DOUBLE / 1000000.0, 1.0) AS jm
         |  FROM g
         |), t2 AS (
         |  SELECT *, 1.0 - jm * jm AS q FROM t
         |)
         |SELECT j_band, n_pairs, n_caught,
         |       (n_pairs - n_caught) * 1000000 // n_pairs AS miss_ppm,
         |       CAST(floor((1.0 - $qPow) * 1000000 + 0.5) AS BIGINT) AS theory_ppm
         |FROM t2 ORDER BY j_band""".stripMargin
    },
    doc = "X2 banding-recall audit: measured vs theoretical MinHash-band catch rate per Jaccard decile")

  // -------------------------------------------------------------------
  // X2g-s sampled banding-recall audit — jaccard_recall's 100×-safe
  // form, the text-tier twin of knn_recall_sampled / sem_recall_sampled
  // (SimilarityQueries): Q anchor documents are sampled
  // DETERMINISTICALLY (md5(doc_id) head — the kmeans seed rule, so the
  // DuckDB oracle replays the identical sample bit-for-bit), and exact
  // Jaccard truth is paid only for anchor × corpus — LINEAR in N with
  // Q as the knob, vs the full audit's blocked-all-pairs truth whose
  // pair mass still grows with corpus pairs. Anchor pairs are DIRECTED
  // (each anchor scores its whole ≥-threshold neighborhood — the
  // semStraddleSampled precedent); both the anchors' shingle arrays
  // and their band buckets BROADCAST, so the corpus side of either leg
  // never shuffles. The full jaccard_recall stays registered and
  // correctness-gated but leaves the default bench profile (Bench
  // auditFullExcluded, SPARK_GRAFT_BENCH_FULL=1 restores it) — at 100×
  // its truth leg would dominate the suite.
  // -------------------------------------------------------------------
  private val JR_SAMPLE_Q = 50

  val bandingRecallSampled: QueryDef = QueryDef(
    build = (s, d) => {
      graft.functions.VectorFunctions.register(s)
      // same signature sources as bandingRecall/ngramPairs: a certified
      // TextIndex serves stored minhash sigs + hashed shingles; without
      // one, ONE persisted string-shingle scan feeds both legs
      val (resolved, shStr) = TextIndex.resolveFor(s, docs(s, d)) match {
        case some @ Some(_) => (some, None)
        case None => (None, Some(shingled(s, d)
          .persist())) // session-scoped memo (QueryDef cache contract)
      }
      val sh = (resolved match {
        case Some(dir) if TextIndex.readSigs(s, dir).columns.contains("shn") =>
          TextIndex.readSigs(s, dir).select(col("doc_id"), col("shn").as("sh"))
        case _ => shStr.getOrElse(shingled(s, d))
          .select(col("doc_id"), expr("transform(sh, x -> graft_md5_prefix(x, 15))").as("sh"))
      }).withColumn("n", size(col("sh")).cast("long"))
      val sample = sh.select(col("doc_id"))
        .withColumn("h", md5(col("doc_id").cast("string")))
        .orderBy("h", "doc_id").limit(JR_SAMPLE_Q)
        .select("doc_id")
      // exact truth, anchor × corpus: the Q anchors' shingle arrays
      // broadcast; the corpus side intersects in place — no shuffle,
      // one linear pass however big the corpus grows
      val anchors = sh.join(broadcast(sample), "doc_id")
        .select(col("doc_id").as("doc_a"), col("sh").as("sh_a"), col("n").as("n_a"))
      val truth = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"), col("n").as("n_b"))
        .join(broadcast(anchors), col("doc_a") =!= col("doc_b"))
        .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 6))
        .filter(col("jaccard") >= NGRAM_JACCARD_MIN)
        .select("doc_a", "doc_b", "jaccard")
      // banding-candidate leg: the anchors' band buckets broadcast
      // against the corpus's buckets — candidate generation restricted
      // to the sample without shuffling the corpus bands
      val sig = resolved match {
        case Some(dir) => TextIndex.readSigs(s, dir).select("doc_id", "mhs")
        case None => shStr.get.select(col("doc_id"),
          call_function("graft_minhash", col("sh"), lit(NUM_HASHES)).as("mhs"))
      }
      val bands = sig.select(col("doc_id"), posexplode(minhashBandArray))
        .toDF("doc_id", "band", "bucket")
      val abands = bands.join(broadcast(sample), "doc_id")
        .select(col("doc_id").as("doc_a"), col("band"), col("bucket"))
      val cand = bands.select(col("doc_id").as("doc_b"), col("band"), col("bucket"))
        .join(broadcast(abands), Seq("band", "bucket"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
        .withColumn("caught", lit(1L))
      val qPow = Seq.fill(NUM_HASHES / BAND_ROWS)("q").mkString(" * ")
      truth
        .join(cand, Seq("doc_a", "doc_b"), "left")
        .withColumn("caught", coalesce(col("caught"), lit(0L)))
        .withColumn("j_band",
          expr("CAST(floor(jaccard * 1000000 + 0.5D) AS BIGINT) DIV 100000"))
        .groupBy("j_band")
        .agg(count(lit(1)).as("n_pairs"), sum("caught").as("n_caught"))
        .withColumn("miss_ppm",
          expr("(n_pairs - n_caught) * 1000000 DIV n_pairs"))
        .withColumn("jm", least(
          (col("j_band") * 100000L + 50000L).cast("double") / 1000000.0, lit(1.0)))
        .withColumn("q", lit(1.0) - col("jm") * col("jm"))
        .withColumn("theory_ppm", expr(
          s"CAST(floor((1.0D - $qPow) * 1000000 + 0.5D) AS BIGINT)"))
        .select("j_band", "n_pairs", "n_caught", "miss_ppm", "theory_ppm")
        .orderBy("j_band")
    },
    oracle = Some {
      val sigCols = (0 until NUM_HASHES).map(i =>
        s"list_min(list_transform(sh, x -> md5('$i|' || x))) AS mh_$i").mkString(",\n         ")
      val bandSelects = (0 until NUM_HASHES / BAND_ROWS).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh_${2 * b} || mh_${2 * b + 1}) AS bucket FROM msig").mkString("\n  UNION ALL\n  ")
      val qPow = Seq.fill(NUM_HASHES / BAND_ROWS)("q").mkString(" * ")
      s"""WITH s AS (
         |  SELECT doc_id, $shinglesSql AS sh FROM documents
         |), qsample AS (
         |  SELECT doc_id FROM s ORDER BY md5(doc_id::VARCHAR), doc_id LIMIT $JR_SAMPLE_Q
         |), truth AS (
         |  SELECT * FROM (
         |    SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b,
         |           round(len(list_intersect(sa.sh, sb.sh))::DOUBLE /
         |             (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 6) AS jaccard
         |    FROM s sa JOIN qsample q ON sa.doc_id = q.doc_id
         |    JOIN s sb ON sb.doc_id <> sa.doc_id
         |  ) WHERE jaccard >= $NGRAM_JACCARD_MIN
         |), msig AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM s
         |), mbands AS (
         |  $bandSelects
         |), acand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM mbands a JOIN qsample qs ON a.doc_id = qs.doc_id
         |  JOIN mbands b ON a.band = b.band AND a.bucket = b.bucket AND b.doc_id <> a.doc_id
         |), marked AS (
         |  SELECT t.doc_a, t.doc_b,
         |         CAST(floor(t.jaccard * 1000000 + 0.5) AS BIGINT) // 100000 AS j_band,
         |         (CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END)::BIGINT AS caught
         |  FROM truth t LEFT JOIN acand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
         |), g AS (
         |  SELECT j_band, count(*)::BIGINT AS n_pairs, sum(caught)::BIGINT AS n_caught
         |  FROM marked GROUP BY j_band
         |), t AS (
         |  SELECT *, least((j_band * 100000 + 50000)::DOUBLE / 1000000.0, 1.0) AS jm
         |  FROM g
         |), t2 AS (
         |  SELECT *, 1.0 - jm * jm AS q FROM t
         |)
         |SELECT j_band, n_pairs, n_caught,
         |       (n_pairs - n_caught) * 1000000 // n_pairs AS miss_ppm,
         |       CAST(floor((1.0 - $qPow) * 1000000 + 0.5) AS BIGINT) AS theory_ppm
         |FROM t2 ORDER BY j_band""".stripMargin
    },
    doc = "X2 sampled banding-recall audit: md5-head anchor docs pay exact Jaccard truth against the corpus only (linear in N)")

  // -------------------------------------------------------------------
  // X2d embedding-cosine near-dup over `embeddings` — EXACT contract
  // (every pair with cos ≥ COSINE_MIN), planned as a block-partitioned
  // equi-join, not a nested-loop cross join.
  //
  // Why exact is quadratic HERE, measured: on this corpus the pairs at
  // cos ≥ 0.45 are the tail of the background-similarity distribution
  // (random 64-dim vectors have cos ~ N(0, 1/64·…) ≈ σ 0.125; 0.45 is
  // ~3.6σ, and the observed pair count matches the Gaussian tail — they
  // are mostly cross-label). No LSH family can bucket tail pairs with
  // recall 1 while pruning: SRP 4×4-bit bands measured 8/14 recall at
  // sf0.01 with 23 % of all pairs as candidates. So the exact query
  // keeps O(N²) compute but fixes the SHAPE with the family's block
  // join (PairJoin.blockPairs). The sub-quadratic 100 TB path is
  // `dedup_embed_lsh` below (and the MinHash/SimHash variants at
  // realistic near-dup thresholds).
  // -------------------------------------------------------------------
  private[graft] val COSINE_MIN = 0.45

  // ------------------------------------------------------------------
  // Corpus-size gate on the exact all-pairs tiers (the O9 hot-series
  // percentile route in SkewTools/GraftEngine.calculator: the
  // always-correct plan serves the gated scale, a structurally
  // different plan takes over past the threshold where the first
  // plan's cost curve explodes). The block equi-joins here are the
  // best possible SHAPE for all pairs — even tasks, no cartesian —
  // but the pair count grows N²: 100k rows is ~5e9 scored pairs (the
  // honest cluster ceiling); a 100 TB corpus is out of the question.
  // Past the gate the build routes to SRP-LSH banding at a
  // scale-advised band width (AnnIndex.advisedBandBits: bucket
  // occupancy ~targetOccupancy, so candidate count stays ~linear in
  // N) with the SAME scoring predicate, so every reported pair is
  // exactly verified — recall < 1 on band-missed pairs is the
  // documented LSH tradeoff (dedup_embed_lsh's contract). Every
  // oracle SF is ≤ 5k rows, far under the gate, so gated results are
  // bit-identical to the ungated round-7 plans; DedupRouteSpec pins
  // the routed builders, the `vector` smoke prices them at 1M rows.
  // ------------------------------------------------------------------
  private[graft] val EXACT_TIER_MAX_ROWS = 100000L
  private[graft] val ROUTED_PLANES = 32

  /** True ⇒ a corpus of `n` rows is served by the exact all-pairs
    * tier — every oracle SF, so the correctness gate always compares
    * the tier the oracle describes. A spec or smoke reaches the banded
    * route at small scale through the routed builders' explicit
    * arguments (embedCosineLshBuild / docvecPairsLsh, and the `exact`
    * pin of simhashRouted / nearPairsRouted). */
  private def exactTier(n: Long): Boolean = n <= EXACT_TIER_MAX_ROWS

  /** The exact block-partitioned all-pairs plan (the ≤ gate tier). */
  private def embedCosineExact(s: SparkSession, d: String): DataFrame =
    PairJoin.blockPairs(SimilarityQueries.emb(s, d), "vec_id")
      .withColumn("cos_sim", PairJoin.cosine6)
      .filter(col("cos_sim") >= COSINE_MIN)
      .select(col("vec_id_a").as("vec_a"), col("vec_id_b").as("vec_b"), col("cos_sim"))
      .orderBy("vec_a", "vec_b")

  val embedCosine: QueryDef = QueryDef(
    build = (s, d) => {
      // metadata-served row count (parquet footers), memoized per session
      val n = corpusRows(s.read.parquet(s"$d/embeddings.parquet"))
      if (!exactTier(n))
        embedCosineLshBuild(s, d, ROUTED_PLANES, AnnIndex.advisedBandBits(n, ROUTED_PLANES))
      else embedCosineExact(s, d)
    },
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |       round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cos_sim
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= $COSINE_MIN
         |ORDER BY vec_a, vec_b""".stripMargin),
    doc = "X2 embedding-cosine near-dup — SIZE-GATED route: exact block-partitioned all-pairs ≤ 100k rows (every oracle SF), " +
      "SRP-LSH banding past the gate (recall < 1 on band-missed pairs)")

  // -------------------------------------------------------------------
  // X2h cosine near-dup over the MODEL-FREE doc_embed vectors — near-
  // duplicate detection for a corpus that ships with no embeddings at
  // all: TextQueries.hashEmbedVecs gives every document a 64-dim signed
  // integer bag-of-words vector, and this query scores pairs with the
  // embedCosine block-join shape. Because the vectors are INTEGER, the
  // threshold test needs no floating point anywhere: for τ = 19/20,
  //   cos(a,b) ≥ τ  ⟺  dot > 0  ∧  400·dot² ≥ 361·|a|²·|b|²
  // evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — 128-bit
  // integer arithmetic, immune to the int64 wrap two ~15k-token
  // repetitive documents would hit (|dot| can reach ntokₐ·ntok_b, and
  // 400·dot² passes 2⁶³ already at dot ≈ 4.8e9). The remaining exact
  // ness bound is the double-valued dot itself: exact while
  // ntokₐ·ntok_b < 2⁵³ (~90M-token pairs). Output is the exact
  // integers (dot, the two squared norms).
  //
  // τ = 0.95 is the measured near-dup cliff on this corpus: same-lang
  // documents share stopword-heavy bags, so unweighted BoW cosine runs
  // high between NON-duplicates (τ=0.8 flags 10 % of all pairs, τ=0.9
  // still 231 at sf0.001) while true near-dups sit ≥0.95 (29 pairs,
  // collapsing to 22 at 0.99) — the threshold lives where the
  // distribution separates, not at the embed-family default.
  //
  // 100 TB shape: identical to embedCosine — the family's block join
  // (PairJoin.blockPairs); integer dots need no rounding step in the
  // hot loop.
  // -------------------------------------------------------------------

  /** The (doc_id, vd, n2) double-view frame behind both docvec tiers and
    * hybrid_rrf's vector leg (RetrievalQueries.vecRanks) — one
    * definition, one session memo (QueryDef persist contract). */
  private[extensions] def docvecFrame(s: SparkSession, d: String): DataFrame =
    TextQueries.hashEmbedVecs(s, d)
      .withColumn("vd", expr("transform(vec, x -> CAST(x AS DOUBLE))"))
      .withColumn("n2", expr("aggregate(vec, CAST(0 AS BIGINT), (a, x) -> a + x * x)"))
      .select("doc_id", "vd", "n2")
      .persist() // session-scoped memo (QueryDef cache contract)

  /** The exact integer τ = 19/20 predicate both docvec tiers share:
    * cos ≥ τ ⟺ dot > 0 ∧ 400·dot² ≥ 361·|a|²·|b|². Two exact tiers:
    * when both squared norms are ≤ 1.5e8 (docs ≤ ~12k tokens),
    * Cauchy-Schwarz gives dot² ≤ na2·nb2 ≤ 2.25e16 so both products
    * stay inside int64 — the codegen'd long path (decimal math on 25M
    * pairs measured +35 %); bigger docs take the 128-bit DECIMAL
    * branch. Identical verdicts either way. */
  private def docvecPredicate =
    col("dot") > 0 &&
      when(col("na2") <= 150000000L && col("nb2") <= 150000000L,
        lit(400L) * col("dot") * col("dot") >= lit(361L) * col("na2") * col("nb2"))
      .otherwise(expr(
        "CAST(400 AS DECIMAL(38,0)) * dot * dot >= CAST(361 AS DECIMAL(38,0)) * na2 * nb2"))

  /** SRP-banded docvec near-dup — the routed > EXACT_TIER_MAX_ROWS
    * tier: band candidates at scale-advised width over the double view
    * of the integer hash vectors, then the SAME exact integer predicate
    * verifies every candidate (reported pairs are never approximate;
    * band-missed pairs are the recall tradeoff). */
  private[graft] def docvecPairsLsh(s: SparkSession, d: String, n: Long): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val e = docvecFrame(s, d)
    val ev = e.filter(col("n2") > 0)
      .select(col("doc_id").as("vec_id"), col("vd").as("v"),
        sqrt(col("n2").cast("double")).as("norm"))
    val bandBits = AnnIndex.advisedBandBits(n, ROUTED_PLANES)
    val bands = SimilarityQueries.srpBands(
      SimilarityQueries.srpCoded(ev, ROUTED_PLANES), ROUTED_PLANES, bandBits)
      .persist()
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .join(e.select(col("doc_id").as("doc_a"), col("vd").as("va"), col("n2").as("na2")), "doc_a")
      .join(e.select(col("doc_id").as("doc_b"), col("vd").as("vb"), col("n2").as("nb2")), "doc_b")
      .withColumn("dot", call_function("graft_dot", col("va"), col("vb")).cast("long"))
      .filter(docvecPredicate)
      .select("doc_a", "doc_b", "dot", "na2", "nb2")
      .orderBy("doc_a", "doc_b")
  }

  /** The exact block-partitioned all-pairs docvec plan (≤ gate tier). */
  private def docvecPairsExact(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    // the pair dot runs through the codegen'd native graft_dot on a
    // double view of the integer vectors — every partial sum is an
    // integer far below 2^53, so the double arithmetic is EXACT and
    // the cast back to BIGINT loses nothing; an interpreted
    // zip_with/aggregate lambda here measured 58 s at sf0.1 vs ~2 s
    // native (higher-order lambdas never enter whole-stage codegen)
    PairJoin.blockPairs(docvecFrame(s, d), "doc_id")
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        call_function("graft_dot", col("vd_a"), col("vd_b")).cast("long").as("dot"),
        col("n2_a").as("na2"), col("n2_b").as("nb2"))
      .filter(docvecPredicate)
      .orderBy("doc_a", "doc_b")
  }

  val docvecDedup: QueryDef = QueryDef(
    build = (s, d) => {
      // metadata-served row count (parquet footers), memoized per session
      val n = corpusRows(docs(s, d))
      if (!exactTier(n)) docvecPairsLsh(s, d, n)
      else docvecPairsExact(s, d)
    },
    oracle = Some(
      s"""${TextQueries.hashEmbedSql}, e AS (
         |  SELECT doc_id, vec, list_dot_product(vec, vec)::BIGINT AS n2 FROM vecs
         |), p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         list_dot_product(a.vec, b.vec)::BIGINT AS dot, a.n2 AS na2, b.n2 AS nb2
         |  FROM e a JOIN e b ON a.doc_id < b.doc_id
         |)
         |SELECT doc_a, doc_b, dot, na2, nb2 FROM p
         |WHERE dot > 0 AND 400::HUGEINT * dot * dot >= 361::HUGEINT * na2 * nb2
         |ORDER BY doc_a, doc_b""".stripMargin),
    doc = "X2 cosine near-dup over model-free hash embeddings — SIZE-GATED route: exact integer-threshold block join ≤ 100k docs " +
      "(every oracle SF), SRP banding past the gate)")

  // -------------------------------------------------------------------
  // X2e SRP-LSH-bucketed embedding near-dup — the sub-quadratic 100 TB
  // path. 16 deterministic md5-parity hyperplanes (shared with
  // SimilarityQueries.ann) → 16-bit code → 4 bands × 4 bits; only pairs
  // sharing a band bucket are scored. The oracle mirrors the bucketing
  // bit-for-bit, so the gate checks the LSH pipeline itself.
  //
  // Honest recall numbers vs the exact join (threshold 0.45 sits in the
  // background tail of this corpus — see embedCosine): sf0.001 5/7,
  // sf0.01 8/14, sf0.1 83/144, candidates ≈ 23 % of all pairs. At a
  // realistic near-dup threshold (cos ≥ 0.9) the same bands give >95 %
  // recall with ~6 % candidates — that is the regime this operator is
  // for; the exact variant above covers the tail-pair contract.
  // -------------------------------------------------------------------
  private def LSH_PLANES = SimilarityQueries.N_PLANES
  private def LSH_BAND_BITS = SimilarityQueries.BAND_BITS

  /** SRP-banded near-dup, parameterized by scheme: the gated QueryDef
    * runs the default (oracle-mirrored) 16-plane/4-bit scheme; the
    * size-gated route from embedCosine passes scale-advised widths.
    * The persisted AnnIndex serves codes only when it carries exactly
    * the requested scheme (a foreign scheme would change results). */
  private[graft] def embedCosineLshBuild(s: SparkSession, d: String,
      planes: Int = LSH_PLANES, bandBits: Int = LSH_BAND_BITS): DataFrame = {
    val e = SimilarityQueries.emb(s, d)
      .persist() // persists here: session-scoped memos (QueryDef cache contract)
    // Candidate generation runs on SLIM (id, band, bucket) rows — the
    // 64-double vectors never enter the self-join shuffle or the
    // pair-dedup; they are joined back only for the surviving pairs.
    // Coding/banding is the shared SRP scheme in SimilarityQueries;
    // a certified persisted index (AnnIndex) — fingerprint-matched to
    // this corpus — serves the codes without the per-query coding
    // pass; identical hyperplanes either way.
    val served =
      if (planes == LSH_PLANES && bandBits == LSH_BAND_BITS) AnnIndex.resolveFor(s, e)
      else None
    val bands = (served match {
      case Some(dir) => AnnIndex.bandsFromIndex(s, dir)
      case None =>
        SimilarityQueries.srpBands(SimilarityQueries.srpCoded(e, planes), planes, bandBits)
    })
      .persist()
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va"), col("norm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("norm").as("nb")), "vec_b")
      .withColumn("cos_sim",
        round(call_function("graft_dot", col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos_sim") >= COSINE_MIN)
      .select("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  val embedCosineLsh: QueryDef = QueryDef(
    build = (s, d) => embedCosineLshBuild(s, d),
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |), planes AS (
         |  SELECT p.p, j.j,
         |         ((('0x' || substring(md5(p.p::VARCHAR || '_' || j.j::VARCHAR), 1, 8))::BIGINT % 2) * 2 - 1)::DOUBLE AS sgn
         |  FROM generate_series(0, ${LSH_PLANES - 1}) p(p) CROSS JOIN generate_series(0, 63) j(j)
         |), pv AS (
         |  SELECT p, list(sgn ORDER BY j) AS sv FROM planes GROUP BY p
         |), proj AS (
         |  SELECT e.vec_id, pv.p, list_dot_product(e.v, pv.sv) AS s
         |  FROM e CROSS JOIN pv
         |), coded AS (
         |  SELECT vec_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS code
         |  FROM proj GROUP BY vec_id
         |), bands AS (
         |  SELECT c.vec_id, c.code, g.band,
         |         (c.code >> (g.band * $LSH_BAND_BITS)) & ${(1 << LSH_BAND_BITS) - 1} AS bucket
         |  FROM coded c CROSS JOIN generate_series(0, ${LSH_PLANES / LSH_BAND_BITS - 1}) g(band)
         |), cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |)
         |SELECT c.vec_a, c.vec_b,
         |       round(list_dot_product(ea.v, eb.v) / (ea.norm * eb.norm), 6) AS cos_sim
         |FROM cand c JOIN e ea ON c.vec_a = ea.vec_id JOIN e eb ON c.vec_b = eb.vec_id
         |WHERE round(list_dot_product(ea.v, eb.v) / (ea.norm * eb.norm), 6) >= $COSINE_MIN
         |ORDER BY vec_a, vec_b""".stripMargin),
    doc = "X2 SRP-LSH-bucketed embedding near-dup (band-join candidates)")

  // -------------------------------------------------------------------
  // X1 chunk-level dedup (the C4/FineWeb "line dedup" pass at
  // sub-document granularity): documents split into consecutive
  // CHUNK-token windows; the most-duplicated chunks across the corpus
  // surface with their spread. Map-side chunking (slice arithmetic, no
  // per-chunk re-tokenize), one grouped shuffle on the chunk hash,
  // distributed top-k (TakeOrderedAndProject) — no global window.
  // -------------------------------------------------------------------
  private val CHUNK = 5
  private val CHUNK_TOP = 50

  val chunkDedup: QueryDef = QueryDef(
    build = (s, d) => {
      val c = lit(CHUNK)
      docs(s, d)
        .select(col("doc_id"), expr(toksExpr).as("toks"))
        .filter(size(col("toks")) > 0)
        // chunk i covers toks[i*CHUNK .. i*CHUNK+CHUNK-1]; slice clamps
        // the final partial chunk
        .withColumn("ci", explode(sequence(lit(0L), floor((size(col("toks")) - 1) / c).cast("long"))))
        .select(col("doc_id"),
          md5(concat_ws(" ", slice(col("toks"), (col("ci") * c + 1).cast("int"), lit(CHUNK)))).as("chunk_hash"))
        .groupBy("chunk_hash")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("doc_id")).as("n_docs"),
          min("doc_id").as("first_doc"))
        .orderBy(col("n_occ").desc, col("chunk_hash"))
        .limit(CHUNK_TOP)
    },
    oracle = Some(
      s"""WITH d AS (
         |  SELECT doc_id, $toksSql AS ts FROM documents WHERE len($toksSql) > 0
         |), c AS (
         |  SELECT d.doc_id,
         |         md5(array_to_string(d.ts[i.i * $CHUNK + 1 : i.i * $CHUNK + $CHUNK], ' ')) AS chunk_hash
         |  FROM d, LATERAL unnest(range(0, (len(d.ts) + ${CHUNK - 1}) // $CHUNK)) AS i(i)
         |)
         |SELECT chunk_hash, count(*)::BIGINT AS n_occ,
         |       count(DISTINCT doc_id)::BIGINT AS n_docs, min(doc_id) AS first_doc
         |FROM c GROUP BY chunk_hash
         |ORDER BY n_occ DESC, chunk_hash LIMIT $CHUNK_TOP""".stripMargin),
    doc = "X1 chunk-level dedup: top duplicated 5-token windows across the corpus (line-dedup analog)")

  // -------------------------------------------------------------------
  // X1 span-level dedup (the "substring dedup" pass from the training-
  // data dedup literature — e.g. Lee et al. 2021, "Deduplicating
  // Training Data Makes Language Models Better" — at word granularity):
  // every OVERLAPPING SPAN_K-token window is hashed; windows that recur
  // in ≥2 documents mark their start positions; per document, marked
  // positions whose coverage overlaps or touches merge into MAXIMAL
  // duplicated spans (gaps-and-islands: a new island starts when the
  // next duplicated window begins more than SPAN_K tokens after the
  // previous one, i.e. their token coverage no longer connects).
  //
  // Scale shape: one map-side window explosion (rows ≈ corpus tokens —
  // the same fan-out every substring-dedup pipeline pays), ONE grouped
  // shuffle on the 128-bit window hash for the cross-doc count, one
  // equi-join of windows against the duplicated-hash set (sort-merge;
  // the dup set is corpus-sized in the worst case, so no broadcast
  // assumption), then per-doc windows over (doc_id, p) — lag and the
  // running sum share one partitioning + sort. No O(n²) step anywhere:
  // candidate work is linear in corpus tokens + duplicated windows.
  // -------------------------------------------------------------------
  private[extensions] val SPAN_K = 8

  /** Per-doc rolling-window hash array (what [[TextIndex]] persists as
    * `swh`): element p = the 60-bit md5-prefix hash of the SPAN_K-token
    * window starting at p — [[spanWindowRows]]' `h` column as an array,
    * so `posexplode(swh)` reproduces the live derivation bit-for-bit.
    * 60-bit longs instead of md5 strings for the same reason as `shn`:
    * a quarter the bytes shuffled/stored, and the string-based DuckDB
    * oracle independently validates the rewrite (outputs are positions
    * and counts, identical absent a 60-bit collision — odds ~n²/2⁶¹). */
  private val spanHashesFromToks =
    s"""CASE WHEN size(toks) >= $SPAN_K
       | THEN transform(sequence(0, size(toks) - $SPAN_K),
       |   p -> graft_md5_prefix(concat_ws(' ', slice(toks, CAST(p AS INT) + 1, $SPAN_K)), 15))
       | ELSE CAST(array() AS ARRAY<BIGINT>) END""".stripMargin.replaceAll("\n", " ")

  /** Shared CTE prefix: duplicated-window start positions per document
    * (doc_id, p), deduplicated — exactly what both span queries island
    * or aggregate over. */
  private val spanDwSql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS ts FROM documents WHERE len($toksSql) >= $SPAN_K
       |), w AS (
       |  SELECT t.doc_id, i.p,
       |         md5(array_to_string(t.ts[i.p + 1 : i.p + $SPAN_K], ' ')) AS h
       |  FROM t, LATERAL unnest(range(0, len(t.ts) - $SPAN_K + 1)) AS i(p)
       |), dup AS (
       |  SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |), dw AS (
       |  SELECT w.doc_id, w.p FROM w JOIN dup USING (h)
       |)""".stripMargin

  /** The hashed-window derivation on ANY docs-shaped frame — shared
    * with [[graft.streaming.StreamingSpans]] so the streaming marks are
    * the batch expressions bit-for-bit. `carry` threads extra columns
    * (the stream's event time) through the explosion. */
  private[graft] def spanWindowRows(docsDf: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    graft.functions.VectorFunctions.register(docsDf.sparkSession)
    docsDf
      .select(col("doc_id") +: expr(toksExpr).as("toks") +: carry.map(col): _*)
      .filter(size(col("toks")) >= SPAN_K)
      .select(col("doc_id") +: col("toks") +:
        explode(sequence(lit(0L), (size(col("toks")) - SPAN_K).cast("long"))).as("p") +:
        carry.map(col): _*)
      .select(col("doc_id") +: col("p") +:
        call_function("graft_md5_prefix", concat_ws(" ",
          slice(col("toks"), (col("p") + 1).cast("int"), lit(SPAN_K))), lit(15)).as("h") +:
        carry.map(col): _*)
  }

  /** The windows feed BOTH the dup-set aggregation and the mark join;
    * persisting the slim (doc, p, h) rows runs the heavy pass (text
    * scan + tokenize + per-window hash) once instead of twice — the
    * substring-dedup working set every pipeline materializes
    * (session-scoped; QueryDef cache contract). A certified,
    * fingerprint-matched [[TextIndex]] serves the stored `swh` arrays
    * instead: posexplode of per-doc longs, no text scan, no tokenize,
    * no per-window md5 — the whole pass that grows with corpus tokens
    * happens once at ingest (indexes predating the column fall back;
    * rebuild to upgrade). */
  private[extensions] def spanWindows(s: SparkSession, d: String): DataFrame =
    (TextIndex.resolveFor(s, docs(s, d)) match {
      case Some(dir) if TextIndex.readSigs(s, dir).columns.contains("swh") =>
        TextIndex.readSigs(s, dir)
          .select(col("doc_id"), posexplode(col("swh")).as(Seq("p", "h")))
          .select(col("doc_id"), col("p").cast("long").as("p"), col("h"))
      case _ => spanWindowRows(docs(s, d))
    })
      .persist()

  /** Per-doc token counts — `ntk` from a certified index (column-pruned
    * read) or a text-scan fallback; dedup_span_frac / dedup_scrub's
    * denominator. */
  /** Per-doc token counts — `ntk` from a certified TextIndex (no text
    * scan), the shared tokenizer otherwise. Shared with
    * decontaminate_spans' denominator so the contamination ppm can
    * never desynchronize from the window derivation's tokenizer. */
  private[extensions] def docTokenCounts(s: SparkSession, d: String): DataFrame =
    TextIndex.resolveFor(s, docs(s, d)) match {
      case Some(dir) if TextIndex.readSigs(s, dir).columns.contains("ntk") =>
        TextIndex.readSigs(s, dir).select(col("doc_id"), col("ntk").as("n_toks"))
      case _ =>
        docs(s, d).select(col("doc_id"), size(expr(toksExpr)).cast("long").as("n_toks"))
    }

  /** Duplicated-window start positions (doc_id, p) — the Spark side of
    * [[spanDwSql]]. */
  private def spanDupWindows(s: SparkSession, d: String): DataFrame = {
    val wins = spanWindows(s, d)
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    wins.join(dup, "h").select(col("doc_id"), col("p"))
  }

  /** Maximal spans per document: (doc_id, span_start, span_end,
    * span_tokens, n_windows), one row per island. */
  private def spanIslands(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("p")
    spanDupWindows(s, d)
      // lag then the running sum: two frames, one shared partitioning +
      // sort (the sum depends on brk, so they cannot share a select)
      .select(col("doc_id"), col("p"),
        when(col("p") - lag(col("p"), 1).over(w) > SPAN_K, 1).otherwise(0).as("brk"))
      .select(col("doc_id"), col("p"),
        sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("island"))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) + lit(SPAN_K - 1)).as("span_end"),
        (max(col("p")) - min(col("p")) + lit(SPAN_K)).as("span_tokens"),
        count(lit(1)).as("n_windows"))
  }

  val spans: QueryDef = QueryDef(
    build = (s, d) => spanIslands(s, d)
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("span_tokens"), col("n_windows"))
      .orderBy("doc_id", "span_start"),
    oracle = Some(
      s"""$spanDwSql, m AS (
         |  SELECT doc_id, p,
         |         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $SPAN_K
         |              THEN 1 ELSE 0 END AS brk
         |  FROM dw
         |), isl AS (
         |  SELECT doc_id, p,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM m
         |)
         |SELECT doc_id, min(p) AS span_start, max(p) + ${SPAN_K - 1} AS span_end,
         |       max(p) - min(p) + $SPAN_K AS span_tokens, count(*)::BIGINT AS n_windows
         |FROM isl GROUP BY doc_id, island
         |ORDER BY doc_id, span_start""".stripMargin),
    doc = s"X1 substring dedup: maximal cross-doc duplicated token spans ($SPAN_K-token rolling windows, islands merge)")

  val spanFrac: QueryDef = QueryDef(
    build = (s, d) => {
      val perDoc = spanIslands(s, d)
        .groupBy("doc_id")
        .agg(sum(col("span_tokens")).as("dup_tokens"))
      docTokenCounts(s, d)
        .join(perDoc, Seq("doc_id"), "left")
        // ppm in pure integer arithmetic: long div is truncation in both
        // engines, identical for the non-negative operands here (never
        // emit rounded DOUBLE quotients in a hash-gated query)
        .select(col("doc_id"), col("n_toks"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          expr("coalesce(dup_tokens, 0L) * 1000000 div greatest(n_toks, 1)").as("dup_ppm"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""$spanDwSql, m AS (
         |  SELECT doc_id, p,
         |         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > $SPAN_K
         |              THEN 1 ELSE 0 END AS brk
         |  FROM dw
         |), isl AS (
         |  SELECT doc_id, p,
         |         sum(brk) OVER (PARTITION BY doc_id ORDER BY p
         |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM m
         |), sp AS (
         |  SELECT doc_id, max(p) - min(p) + $SPAN_K AS span_tokens
         |  FROM isl GROUP BY doc_id, island
         |), pd AS (
         |  SELECT doc_id, sum(span_tokens)::BIGINT AS dup_tokens FROM sp GROUP BY doc_id
         |)
         |SELECT d.doc_id, len($toksSql)::BIGINT AS n_toks,
         |       coalesce(pd.dup_tokens, 0)::BIGINT AS dup_tokens,
         |       (coalesce(pd.dup_tokens, 0) * 1000000 // greatest(len($toksSql), 1))::BIGINT AS dup_ppm
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    doc = "X1 per-doc duplicated-token fraction (ppm) — the substring-dedup filter decision")

  /** The transform the span pass exists to feed (the "remove all but
    * one copy of every duplicated substring" policy): a token is
    * scrubbed iff some duplicated window covers it AND that window's
    * content first appeared in an EARLIER doc (min doc_id per window
    * hash) — so the corpus keeps exactly one copy of each duplicated
    * region, in its first document. The covered-position fan-out is
    * K × duplicated windows only (bounded by the duplicated-content
    * ratio, not the corpus); the rebuild is one per-doc groupBy with an
    * in-group sort — no window function, no global sort. */
  val scrub: QueryDef = QueryDef(
    build = (s, d) => {
      val k = SPAN_K
      val toks = docs(s, d).select(col("doc_id"), expr(toksExpr).as("toks"))
      val wins = spanWindows(s, d)
      val dupFirst = wins.groupBy("h")
        .agg(countDistinct(col("doc_id")).as("nd"), min("doc_id").as("first_doc"))
        .filter(col("nd") >= 2)
        .select("h", "first_doc")
      val covered = wins.join(dupFirst, "h")
        .filter(col("doc_id") > col("first_doc"))
        .select(col("doc_id"),
          explode(sequence(col("p"), col("p") + lit(k - 1))).as("pos"))
        .distinct()
      val postoks = toks
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
      val rebuilt = postoks
        .join(covered, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ",
            transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
              x => x.getField("tok"))).as("clean_text"))
      docTokenCounts(s, d)
        .join(rebuilt, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_toks"),
          (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""WITH t AS (
         |  SELECT doc_id, $toksSql AS ts FROM documents
         |), w AS (
         |  SELECT t.doc_id, i.p,
         |         md5(array_to_string(t.ts[i.p + 1 : i.p + $SPAN_K], ' ')) AS h
         |  FROM t, LATERAL unnest(range(0, len(t.ts) - $SPAN_K + 1)) AS i(p)
         |  WHERE len(t.ts) >= $SPAN_K
         |), dup AS (
         |  SELECT h, min(doc_id) AS first_doc
         |  FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2
         |), cov AS (
         |  SELECT DISTINCT w.doc_id, w.p + g.i AS pos
         |  FROM w JOIN dup USING (h) CROSS JOIN generate_series(0, ${SPAN_K - 1}) g(i)
         |  WHERE w.doc_id > dup.first_doc
         |), tok AS (
         |  SELECT t.doc_id, i.p, t.ts[i.p + 1] AS tok
         |  FROM t, LATERAL unnest(range(0, len(t.ts))) AS i(p)
         |), kept AS (
         |  SELECT tk.doc_id, tk.p, tk.tok
         |  FROM tok tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.p = cov.pos
         |  WHERE cov.pos IS NULL
         |), agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |         string_agg(tok, ' ' ORDER BY p) AS clean_text
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT d.doc_id, len($toksSql)::BIGINT AS n_toks,
         |       (len($toksSql) - coalesce(a.n_kept, 0))::BIGINT AS n_removed,
         |       coalesce(a.clean_text, '') AS clean_text
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    doc = "X1 substring-dedup scrub: remove every duplicated window copy except its corpus-first occurrence")

  // -------------------------------------------------------------------
  // X4 winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme):
  // slide a W-position window over the per-document k-gram hash array
  // and keep each window's MINIMUM — the guarantee is that any shared
  // substring of ≥ W + k − 1 tokens contributes at least one IDENTICAL
  // fingerprint to both documents, while storage shrinks ~W-fold. This
  // is the run-compressed variant: consecutive windows re-selecting the
  // same minimum collapse to one fingerprint row (min + lag over the
  // doc's position order — no argmin tie-breaking, so both engines
  // agree on exact BIGINTs with no ordering subtleties). k-gram hashes
  // ride [[spanWindows]] — the span family's derivation, INDEX-SERVED
  // from a certified TextIndex's `swh` column when one exists, so
  // fingerprinting a 100 TB corpus never re-tokenizes it.
  //
  // Output is per-document: k-gram/window/fingerprint counts plus an
  // md5 digest of the (position, hash) fingerprint set — the compact
  // form an attribution store would key on.
  // -------------------------------------------------------------------
  private val WINNOW_W = 4

  /** Run-compressed winnow selections (doc_id, q, m, mx) — shared by
    * text_winnow and winnow_matches. Documents with fewer than W
    * k-grams (8–10 tokens at the defaults) get the degenerate
    * whole-document window — one fingerprint, the global minimum —
    * exactly as in the original scheme; without it a short boilerplate
    * document copied verbatim would be invisible to the match step.
    *
    * SINGLE-PASS shape (round 9): the windows rowset is consumed
    * exactly ONCE. One Window operator (one sort) hosts all three
    * frames — the W-row running min, the per-doc max position `mx`
    * (short-doc gate AND text_winnow's n_kgrams, carried through so
    * the caller needs no stats join), and the per-doc global min (the
    * degenerate whole-document fingerprint) — and the short-doc leg is
    * a conditional projection on the same stream, not a union branch.
    * The previous shape (a separate groupBy stats pass + union + join)
    * read the cached windows 2–3×: fine when the memory store holds,
    * but an end-of-suite cache eviction re-ran the corpus-sized
    * text-scan+hash derivation per consumer (the prime suspect for the
    * round-8 driver-env winnow_matches outlier — 11.2 s vs 1.5–1.8 s
    * in nine clean runs). One consumer caps the worst case at one
    * recompute. */
  private def winnowFingerprints(wins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byP = Window.partitionBy("doc_id").orderBy("p")
    val whole = byP.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    wins
      .select(col("doc_id"), col("p"),
        min("h").over(byP.rowsBetween(-(WINNOW_W - 1), 0)).as("m"),
        max("p").over(whole).as("mx"),
        min("h").over(whole).as("mnh"))
      .withColumn("short_doc", col("mx") < WINNOW_W - 1)
      // short docs keep only their p=0 row; full docs keep complete
      // windows (p ≥ W−1). The lag below runs AFTER this filter, so it
      // ranges over kept rows only — identical to the old by-q lag
      // (q = p − (W−1) preserves the p order), and the filter preserves
      // the Window's output ordering so no second sort is planned.
      .filter((col("short_doc") && col("p") === 0) ||
        (!col("short_doc") && col("p") >= WINNOW_W - 1))
      .withColumn("prev", lag("m", 1).over(byP))
      .withColumn("q", when(col("short_doc"), lit(0L)).otherwise(col("p") - (WINNOW_W - 1)))
      .withColumn("m", when(col("short_doc"), col("mnh")).otherwise(col("m")))
      .filter(col("short_doc") || col("prev").isNull || col("m") =!= col("prev"))
      .select(col("doc_id"), col("q"), col("m"), col("mx"))
  }

  /** The winnow chain as oracle CTEs ending in `fp(doc_id, q, m)` —
    * shared by the two winnow oracles. */
  private val winnowFpSql =
    s"""WITH t AS (
       |  SELECT doc_id, $toksSql AS ts FROM documents WHERE len($toksSql) >= $SPAN_K
       |), w AS (
       |  SELECT t.doc_id, i.p,
       |         ('0x' || substring(md5(array_to_string(t.ts[i.p + 1 : i.p + $SPAN_K], ' ')), 1, 15))::BIGINT AS h
       |  FROM t, LATERAL unnest(range(0, len(t.ts) - $SPAN_K + 1)) AS i(p)
       |), mm AS (
       |  SELECT doc_id, p,
       |         min(h) OVER (PARTITION BY doc_id ORDER BY p
       |                      ROWS BETWEEN ${WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS m
       |  FROM w
       |), qq AS (
       |  SELECT doc_id, p - ${WINNOW_W - 1} AS q, m FROM mm WHERE p >= ${WINNOW_W - 1}
       |), sel AS (
       |  SELECT doc_id, q, m, lag(m) OVER (PARTITION BY doc_id ORDER BY q) AS prev FROM qq
       |), short AS (
       |  SELECT doc_id, 0::BIGINT AS q, min(h) AS m FROM w
       |  GROUP BY doc_id HAVING max(p) < ${WINNOW_W - 1}
       |), fp AS (
       |  SELECT doc_id, q, m FROM sel WHERE prev IS NULL OR m <> prev
       |  UNION ALL
       |  SELECT doc_id, q, m FROM short
       |)""".stripMargin

  val winnow: QueryDef = QueryDef(
    build = (s, d) => {
      // mx rides the fingerprint rows (constant per doc), so n_kgrams
      // needs no stats join — ONE groupBy over the already-winnowed
      // (≈1/W-sized) selection is the whole aggregation
      winnowFingerprints(spanWindows(s, d))
        .groupBy("doc_id")
        .agg(max("mx").as("mx"), count(lit(1)).as("n_fp"),
          md5(concat_ws(",",
            array_sort(collect_list(concat_ws(":", col("q"), col("m")))))).as("fp_digest"))
        .select(col("doc_id"), (col("mx") + 1).as("n_kgrams"),
          greatest(col("mx") + 1 - (WINNOW_W - 1), lit(1L)).as("n_windows"),
          col("n_fp"), col("fp_digest"))
        .orderBy("doc_id")
    },
    oracle = Some(
      s"""$winnowFpSql, agg AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_fp,
         |         md5(array_to_string(list_sort(list(q::VARCHAR || ':' || m::VARCHAR)), ',')) AS fp_digest
         |  FROM fp GROUP BY doc_id
         |), nk AS (
         |  SELECT doc_id, (max(p) + 1)::BIGINT AS n_kgrams FROM w GROUP BY doc_id
         |)
         |SELECT a.doc_id, nk.n_kgrams, greatest(nk.n_kgrams - ${WINNOW_W - 1}, 1)::BIGINT AS n_windows,
         |       a.n_fp, a.fp_digest
         |FROM agg a JOIN nk USING (doc_id) ORDER BY a.doc_id""".stripMargin),
    doc = "X4 winnowing fingerprints (MOSS): per-window k-gram-hash minima, run-compressed — index-served at scale")

  // -------------------------------------------------------------------
  // X4 the MOSS match step: document pairs sharing winnow fingerprints.
  // Candidate generation is a grouped self-join on the fingerprint
  // VALUE — a bounded shuffle key, never doc pairs — and, as in MOSS,
  // fingerprints present in more than FP_MAX_DOCS documents are dropped
  // first as boilerplate (a template header shared by half the corpus
  // is noise, and it is also exactly the hub that would quadratically
  // explode the join — the semantic filter and the skew guard are the
  // same line). overlap_pm = shared fingerprints as permille of the
  // smaller document's fingerprint set — the containment-style score an
  // attribution review ranks by.
  // -------------------------------------------------------------------
  private val FP_MAX_DOCS = 8

  val winnowMatches: QueryDef = QueryDef(
    build = (s, d) => {
      // NOT persisted (round-12 measurement): materializing fp for its
      // two consumers (boiler + the anti-join) measured SLOWER
      // (2.06 → 3.77 s) than letting each pipeline the window chain —
      // the cache write blocks the consumers' partial aggregation
      val fp = winnowFingerprints(spanWindows(s, d))
        .select(col("doc_id"), col("m")).dropDuplicates("doc_id", "m")
      val boiler = fp.groupBy("m")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") > FP_MAX_DOCS).select("m")
      val kept = fp.join(boiler, Seq("m"), "left_anti").persist()
      val counts = kept.groupBy("doc_id").agg(count(lit(1)).as("nfp"))
      kept.select(col("m"), col("doc_id").as("doc_a"))
        .join(kept.select(col("m"), col("doc_id").as("doc_b")), Seq("m"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_shared"))
        .join(counts.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")), "doc_a")
        .join(counts.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"), col("nfp_a"), col("nfp_b"),
          expr("n_shared * 1000 div least(nfp_a, nfp_b)").as("overlap_pm"))
        .orderBy("doc_a", "doc_b")
    },
    oracle = Some(
      s"""$winnowFpSql, fpd AS (
         |  SELECT DISTINCT doc_id, m FROM fp
         |), kept AS (
         |  SELECT * FROM fpd WHERE m NOT IN (
         |    SELECT m FROM fpd GROUP BY m HAVING count(DISTINCT doc_id) > $FP_MAX_DOCS)
         |), counts AS (
         |  SELECT doc_id, count(*)::BIGINT AS nfp FROM kept GROUP BY doc_id
         |), pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
         |  FROM kept a JOIN kept b ON a.m = b.m AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT pr.doc_a, pr.doc_b, pr.n_shared, ca.nfp AS nfp_a, cb.nfp AS nfp_b,
         |       pr.n_shared * 1000 // least(ca.nfp, cb.nfp) AS overlap_pm
         |FROM pr JOIN counts ca ON ca.doc_id = pr.doc_a
         |         JOIN counts cb ON cb.doc_id = pr.doc_b
         |ORDER BY pr.doc_a, pr.doc_b""".stripMargin),
    doc = "X4 MOSS match step: doc pairs sharing winnow fingerprints (boilerplate-capped), containment-style overlap score")

  // -------------------------------------------------------------------
  // X2g edit-distance fuzzy dedup — the character-level verification
  // tier: MinHash banding generates candidates (the same shuffle-bounded
  // plan and index-served signatures as dedup_minhash), then each
  // survivor pair is verified by LEVENSHTEIN ratio instead of shingle
  // Jaccard. The two verifications answer different questions: Jaccard
  // is order-insensitive bag overlap (a shuffled paragraph scores high),
  // the edit ratio prices REORDERING and scattered small edits — OCR
  // noise, diff-like mutations — which is why fuzzy-dedup pipelines run
  // it on candidates. Both engines implement the classic unit-cost DP,
  // so `levenshtein` is an exact integer cross-engine; the ratio is
  // truncating-integer micro (lev·1e6 // max(len)) — measured on this
  // corpus: true near-dups ≤ ~6 % vs ≥ ~53 % for unrelated banding
  // collisions, so the 40 % gate has a wide margin either side. Cost is
  // O(|a|·|b|) per CANDIDATE (never per corpus pair) — the banding
  // prune is what makes the quadratic DP affordable at scale.
  // -------------------------------------------------------------------
  private[graft] val EDIT_MAX_MICRO = 400000L

  val editDedup: QueryDef = QueryDef(
    build = (s, d) => {
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val sig = TextIndex.resolveFor(s, docs(s, d)) match {
        case Some(dir) => TextIndex.readSigs(s, dir).select("doc_id", "mhs")
        case None => withMinhash(base).select("doc_id", "mhs")
      }
      val bands = sig.select(col("doc_id"), posexplode(minhashBandArray))
        .toDF("doc_id", "band", "bucket")
        .persist() // session-scoped memo (QueryDef cache contract)
      // hot-bucket guard: the O(|a|·|b|) Levenshtein verification makes
      // an uncapped template bucket catastrophically expensive here
      val keep = capHotBuckets(s, bands, Seq("band", "bucket"), corpusRows(docs(s, d)))
      val cand = keep.as("a").join(keep.as("b"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
      cand
        .join(base.select(col("doc_id").as("doc_a"), col("text").as("ta")), "doc_a")
        .join(base.select(col("doc_id").as("doc_b"), col("text").as("tb")), "doc_b")
        // the , 1 floor: two empty texts would divide by zero, where the
        // engines DIVERGE (Spark DIV → NULL row silently dropped, DuckDB
        // // → hard error failing the whole oracle run). Unreachable
        // today (empty docs produce no shingles → no bands → no
        // candidates) but the guard keeps the failure mode identical.
        .withColumn("ml", expr("greatest(length(ta), length(tb), 1)"))
        // Threshold-bounded DP (round 12): the ratio gate keeps a pair
        // iff lev*1e6 DIV ml <= EDIT_MAX_MICRO, which (integer div
        // truncating) is exactly lev <= T for
        // T = ((EDIT_MAX_MICRO+1)*ml - 1) DIV 1e6. Passing T as
        // levenshtein's threshold arg runs Spark's banded O(T·n) DP
        // with early exit instead of the full O(|a|·|b|) table and
        // returns -1 for every pair the gate would discard anyway —
        // the kept rows' lev is the identical exact distance. Most
        // banding collisions are far over the gate (measured >= ~53%
        // ratio vs the 40% gate), so they die in the cheap band.
        // ml is widened to BIGINT before the multiply: 400001 * ml as
        // INT*INT overflows signed 32-bit at ml >= 5369 chars (ANSI
        // error, or a wrapped negative threshold silently dropping
        // valid pairs with ANSI off). Fixtures never hit it; long
        // documents would.
        .withColumn("lev", expr(
          s"levenshtein(ta, tb, CAST((($EDIT_MAX_MICRO + 1) * CAST(ml AS BIGINT) - 1) DIV 1000000 AS INT))")
          .cast("long"))
        .filter(col("lev") >= 0L)
        .withColumn("ratio_micro", expr("lev * 1000000 DIV ml"))
        // redundant by construction (lev >= 0 survivors all satisfy the
        // ratio gate — that is exactly how T was derived); kept as
        // belt-and-braces, NOT load-bearing
        .filter(col("ratio_micro") <= EDIT_MAX_MICRO)
        .select("doc_a", "doc_b", "lev", "ratio_micro")
        .orderBy("doc_a", "doc_b")
    },
    oracle = Some {
      val sigCols = (0 until NUM_HASHES).map(i =>
        s"list_min(list_transform(sh, x -> md5('$i|' || x))) AS mh_$i").mkString(",\n         ")
      val bandSelects = (0 until NUM_HASHES / BAND_ROWS).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh_${2 * b} || mh_${2 * b + 1}) AS bucket FROM sig").mkString("\n  UNION ALL\n  ")
      s"""WITH s AS (
         |  SELECT doc_id, text, $shinglesSql AS sh FROM documents
         |), sig AS (
         |  SELECT doc_id,
         |         $sigCols
         |  FROM s
         |), bands AS (
         |  $bandSelects
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |), v AS (
         |  SELECT c.doc_a, c.doc_b,
         |         levenshtein(sa.text, sb.text)::BIGINT AS lev,
         |         greatest(length(sa.text), length(sb.text), 1)::BIGINT AS ml
         |  FROM cand c JOIN s sa ON c.doc_a = sa.doc_id JOIN s sb ON c.doc_b = sb.doc_id
         |)
         |SELECT doc_a, doc_b, lev, (lev * 1000000 // ml) AS ratio_micro
         |FROM v WHERE lev * 1000000 // ml <= $EDIT_MAX_MICRO
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    doc = "X2 edit-distance fuzzy dedup (banding candidates, Levenshtein-ratio verification). HOT-BUCKET CAP: shares dedup_minhash's band-bucket cap (spark.graft.dedup.maxBandBucket) — a >cap-member template family is dropped from candidates, never DP-verified")

  // -------------------------------------------------------------------
  // X1d normalized exact dedup — the canonical pre-fuzzy stage: case
  // fold, trim, collapse whitespace runs, THEN content-hash. Catches
  // the re-encoded/re-wrapped copies exact dedup misses without paying
  // any near-dup machinery; pipelines run it before MinHash because a
  // normalization hit removes the pair from every downstream stage.
  // Map-side normalization (regexp on ' +' only — no shorthand classes,
  // the Java/RE2 edge rule), one groupBy on the digest. Reports both
  // hashes so the delta vs dedup_exact is itself queryable: a group
  // with n_raw_variants > 1 was invisible to raw exact dedup.
  // -------------------------------------------------------------------
  val normDedup: QueryDef = QueryDef(
    build = (s, d) => {
      // corpus ∪ a re-encoded copy of itself (upper-cased, space runs
      // doubled, padded) — the dedup_exact pattern, so the
      // normalization path is exercised at EVERY SF: raw hashes differ,
      // normalized hashes collide
      val base = docs(s, d).select(col("doc_id"), col("text"))
      // 1e12 offset: synthetic variant ids must never collide with real
      // doc_ids (a 2M-doc corpus would alias a 2e6 offset, silently
      // corrupting keep/dup counts on BOTH engines — invisible to the
      // hash gate); 1e12 clears the documented 100 TB corpus ambitions
      val variant = base.select((col("doc_id") + 1000000000000L).as("doc_id"),
        concat(lit(" "), expr("replace(upper(text), ' ', '  ')"), lit(" ")).as("text"))
      val norm = sha2(regexp_replace(trim(lower(col("text"))), lit("  *"), lit(" ")), 256)
      base.unionByName(variant)
        .withColumn("norm_hash", norm)
        .withColumn("raw_hash", sha2(col("text"), 256))
        .groupBy("norm_hash")
        .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_cnt"),
          countDistinct("raw_hash").as("n_raw_variants"))
        .filter(col("dup_cnt") > 1)
        .orderBy("norm_hash")
    },
    oracle = Some(
      """WITH d2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, ' ' || replace(upper(text), ' ', '  ') || ' ' FROM documents
        |), n AS (
        |  SELECT doc_id,
        |         sha256(regexp_replace(trim(lower(text)), '  *', ' ', 'g')) AS norm_hash,
        |         sha256(text) AS raw_hash
        |  FROM d2
        |)
        |SELECT norm_hash, min(doc_id) AS keep_doc_id, count(*)::BIGINT AS dup_cnt,
        |       count(DISTINCT raw_hash)::BIGINT AS n_raw_variants
        |FROM n GROUP BY norm_hash HAVING count(*) > 1
        |ORDER BY norm_hash""".stripMargin),
    doc = "X1 normalized exact dedup (fold case/whitespace, then hash) — the pre-fuzzy canonicalization stage")

  // -------------------------------------------------------------------
  // X1/X2 dedup cascade — the production TIERING as one accountable
  // operator: exact (raw sha256) → normalized (case/whitespace-folded
  // sha256) → near (MinHash-banded, exact-Jaccard-VERIFIED components),
  // each tier consuming only the previous tier's survivors, with per-tier
  // document AND TOKEN accounting — tokens are the currency a training
  // run budgets in, so "which tier saves how many tokens" is the number
  // that decides whether the expensive near tier is worth running on a
  // given source. Planted variants (the dedup_norm pattern, disjoint
  // 1e12 id spaces) make every tier demonstrably non-trivial at every
  // SF: id%5=0 docs gain a verbatim copy (caught at tier 1), id%5=1 a
  // re-encoded copy (tier 2), id%5=2 a one-token-prefixed copy (a true
  // near-dup for tier 3's banding to catch — not guaranteed by
  // construction, but both engines replay the identical SimHash
  // pipeline, so the measured catch IS the gated value).
  //
  // 100 TB: tiers 1–2 are hash-partitioned windows (the dedup_exact
  // shuffle); tier 3 pays MinHash banding + Jaccard verification on
  // tier-2 survivors ONLY — each stage's work is bounded by its input's
  // survivor count, and the output is 3 dashboard rows. The near tier
  // deliberately rides the VERIFIED MinHash pairs, not SimHash: the
  // 32-bit SimHash byte-banding floods with false candidates past ~10⁵
  // docs (a 240k-doc run collapsed 239,999 docs into one Hamming-≤6
  // component — the `text.cascade` smoke is the regression gate),
  // while MinHash buckets are md5s of actual shingles, collision-free
  // across unrelated docs, and every surviving pair is exact-Jaccard
  // re-checked.
  // -------------------------------------------------------------------
  val cascade: QueryDef = QueryDef(
    build = (s, d) => {
      graft.functions.VectorFunctions.register(s)
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val corpus = base
        .unionByName(base.filter(pmod(col("doc_id"), lit(5L)) === 0L)
          .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
        .unionByName(base.filter(pmod(col("doc_id"), lit(5L)) === 1L)
          .select((col("doc_id") + 2000000000000L).as("doc_id"),
            concat(lit(" "), expr("replace(upper(text), ' ', '  ')"), lit(" ")).as("text")))
        .unionByName(base.filter(pmod(col("doc_id"), lit(5L)) === 2L)
          .select((col("doc_id") + 3000000000000L).as("doc_id"),
            concat(lit("zq "), col("text")).as("text")))
        .withColumn("n_tokens", expr(s"size($toksExpr)").cast("long"))
      // Tiers 1–2 (round 12, the 8M-doc disk budget): ONE hash
      // aggregation per tier yields the tier's stats AND its survivor
      // rows — keeper = min_by(doc_id) per group, exactly the
      // row_number()=1 survivor the oracle's window form selects, and
      // removed counts/tokens fall out of the same group sums. The
      // replaced per-tier row_number window sorted the full corpus and
      // RE-EXECUTED per consumer (survivor derivation + the accounting
      // pass) — at 8M docs its accumulated shuffle sorts alone blew a
      // 75 GB disk; the grouped form shuffles each tier once with
      // map-side partial aggregation, no sort, and only the GROUP
      // tables persist (corpus itself is consumed exactly once).
      def tierGroup(in: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
        in.groupBy(key.as("h")).agg(
          count(lit(1)).as("grp_docs"),
          sum("n_tokens").as("grp_tokens"),
          min_by(struct(col("doc_id"), col("text"), col("n_tokens")), col("doc_id")).as("keep"))
      def survivors(g: DataFrame): DataFrame =
        g.select(col("keep.doc_id").as("doc_id"), col("keep.text").as("text"),
          col("keep.n_tokens").as("n_tokens"))
      def tierRowG(no: Int, name: String, g: DataFrame): DataFrame =
        g.agg(
            sum("grp_docs").as("docs_in"),
            (sum("grp_docs") - count(lit(1))).as("docs_removed"),
            (sum("grp_tokens") - sum("keep.n_tokens")).as("tokens_removed"))
          .select(lit(no.toLong).as("tier_no"), lit(name).as("tier"),
            col("docs_in"), col("docs_removed"), col("tokens_removed"),
            (col("docs_in") - col("docs_removed")).as("survivors"))
      val g1 = tierGroup(corpus, sha2(col("text"), 256))
        .persist() // session-scoped memo (QueryDef cache contract): stats + survivor reads share it
      val g2 = tierGroup(survivors(g1),
          sha2(regexp_replace(trim(lower(col("text"))), lit("  *"), lit(" ")), 256))
        .persist() // feeds pair generation AND the tier-3 accounting pass
      val s2 = survivors(g2)
      // n: conservative upper bound on |s2| — the planted corpus is
      // base + three partial copies (< 2x base), and s2 is its subset
      val comp = graft.operators.ConnectedComponents.resolve(
        minhashPairsFor(s, s2, useIndex = false, n = 2 * corpusRows(docs(s, d)))
          .select(col("doc_a"), col("doc_b")))
      // min-id representative survives; everything labeled below its
      // cluster head is the tier's removal set (isolated docs never
      // enter the pair graph — the left join's null coalesces to kept)
      val m3 = s2.join(comp, Seq("doc_id"), "left")
        .withColumn("rm", coalesce(col("cluster_id") < col("doc_id"), lit(false)))
      val tier3 = m3.agg(
          count(lit(1)).as("docs_in"),
          sum(col("rm").cast("long")).as("docs_removed"),
          coalesce(sum(when(col("rm"), col("n_tokens"))), lit(0L)).as("tokens_removed"))
        .select(lit(3L).as("tier_no"), lit("near").as("tier"),
          col("docs_in"), col("docs_removed"), col("tokens_removed"),
          (col("docs_in") - col("docs_removed")).as("survivors"))
      tierRowG(1, "exact", g1)
        .unionByName(tierRowG(2, "norm", g2))
        .unionByName(tier3)
        .orderBy("tier_no")
    },
    oracle = Some(
      s"""WITH RECURSIVE d3 AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 2000000000000, ' ' || replace(upper(text), ' ', '  ') || ' '
         |  FROM documents WHERE doc_id % 5 = 1
         |  UNION ALL
         |  SELECT doc_id + 3000000000000, 'zq ' || text FROM documents WHERE doc_id % 5 = 2
         |), tok AS (
         |  SELECT doc_id, text, len($toksSql)::BIGINT AS n_tokens FROM d3
         |), t1 AS (
         |  SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rk1 FROM tok
         |), s1 AS (
         |  SELECT doc_id, text, n_tokens FROM t1 WHERE rk1 = 1
         |), t2 AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY sha256(regexp_replace(trim(lower(text)), '  *', ' ', 'g'))
         |    ORDER BY doc_id) AS rk2 FROM s1
         |), s2 AS (
         |  SELECT doc_id, text, n_tokens FROM t2 WHERE rk2 = 1
         |), ${minhashPairsCtes("s2")}, edges AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mpairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM mpairs
         |), reach AS (
         |  SELECT doc_id, doc_id AS label FROM s2
         |  UNION
         |  SELECT e.dst AS doc_id, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
         |), comp AS (
         |  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
         |), m3 AS (
         |  SELECT t.doc_id, t.n_tokens, (c.cluster_id < t.doc_id) AS rm
         |  FROM s2 t JOIN comp c USING (doc_id)
         |)
         |SELECT 1::BIGINT AS tier_no, 'exact' AS tier, count(*)::BIGINT AS docs_in,
         |       sum(CASE WHEN rk1 > 1 THEN 1 ELSE 0 END)::BIGINT AS docs_removed,
         |       coalesce(sum(CASE WHEN rk1 > 1 THEN n_tokens END), 0)::BIGINT AS tokens_removed,
         |       (count(*) - sum(CASE WHEN rk1 > 1 THEN 1 ELSE 0 END))::BIGINT AS survivors
         |FROM t1
         |UNION ALL
         |SELECT 2::BIGINT, 'norm', count(*)::BIGINT,
         |       sum(CASE WHEN rk2 > 1 THEN 1 ELSE 0 END)::BIGINT,
         |       coalesce(sum(CASE WHEN rk2 > 1 THEN n_tokens END), 0)::BIGINT,
         |       (count(*) - sum(CASE WHEN rk2 > 1 THEN 1 ELSE 0 END))::BIGINT
         |FROM t2
         |UNION ALL
         |SELECT 3::BIGINT, 'near', count(*)::BIGINT,
         |       sum(CASE WHEN rm THEN 1 ELSE 0 END)::BIGINT,
         |       coalesce(sum(CASE WHEN rm THEN n_tokens END), 0)::BIGINT,
         |       (count(*) - sum(CASE WHEN rm THEN 1 ELSE 0 END))::BIGINT
         |FROM m3
         |ORDER BY tier_no""".stripMargin),
    doc = "X1/X2 dedup cascade: exact → normalized → verified-MinHash-near tiers with per-tier doc + token-budget accounting")

  val defs: Map[String, QueryDef] = Map(
    "dedup_exact"     -> exact,
    "dedup_edit"      -> editDedup,
    "dedup_norm"      -> normDedup,
    "dedup_cascade"   -> cascade,
    "dedup_bloom"     -> bloomDedup,
    "text_winnow"     -> winnow,
    "winnow_matches"  -> winnowMatches,
    "dedup_minhash"   -> minhash,
    "source_overlap"  -> sourceOverlap,
    "dedup_simhash"   -> simhash,
    "dedup_ngram"     -> ngramJaccard,
    "dedup_embed"     -> embedCosine,
    "dedup_docvec"    -> docvecDedup,
    "dedup_embed_lsh" -> embedCosineLsh,
    "dedup_clusters"  -> clusters,
    "dedup_keepbest"  -> keepBest,
    "dedup_chunks"    -> chunkDedup,
    "dedup_spans"     -> spans,
    "dedup_span_frac" -> spanFrac,
    "dedup_scrub"     -> scrub,
    "jaccard_recall"  -> bandingRecall,
    "jaccard_recall_sampled" -> bandingRecallSampled,
  )
}
