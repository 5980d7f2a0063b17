package graft.extensions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PhaseLog.timed
import graft.sources.TsdbStorage

/** What the persisted index knows about itself, from `_meta`:
  *
  *  - `planes`/`bandBits` — the SRP scheme its codes were built with
  *    (queries must band stored codes with the SAME scheme at any later
  *    time, so the scheme travels with the index, not the session);
  *  - `corpusRows`/`idMin`/`idMax`/`idSum`/`contentXor` — a fingerprint
  *    of the corpus the codes cover. An index is only served for the
  *    corpus it was built from: [[AnnIndex.resolveFor]] cross-checks the
  *    live dataset against this fingerprint and falls back to recompute
  *    on mismatch, so a conf key pointing at a stale or foreign index
  *    can never silently drop vectors from candidate sets. `idSum` (an
  *    exact integer, order-independent) catches same-count/same-range id
  *    swaps; `contentXor` (xor of xxhash64(vec_id, vector) over the
  *    corpus — order-independent, overflow-free, rolls forward under
  *    append) catches a corpus RE-EMBEDDED in place with unchanged ids,
  *    which the id stats alone cannot see. The check costs one xxhash64
  *    agg pass over the vectors — cheap next to the exact-scoring join
  *    every index-served query already runs over the same corpus.
  *  - `quantizer` — which coarse quantizer build() froze: "label"
  *    (supervised centroids) or "kmeans" (unsupervised). Quantizer-
  *    specific consumers (sim_ivf_kmeans) only serve from an index
  *    whose quantizer matches; sim_ivf/sim_ann serve either (codes and
  *    bands are quantizer-independent, cells are whatever the index
  *    froze — documented as the index's tuning).
  *  - `kCells` — how many cells that quantizer has. The oracle-gated
  *    kmeans-cell consumers serve only the DEFAULT k (the bucketing
  *    their oracles reproduce); a maintain-retuned index with grown k
  *    ([[AnnIndex.quantizerHealth]]) legitimately buckets differently,
  *    so those queries fall back to recompute while the quantizer-free
  *    SRP paths keep serving it. Legacy metas read -1 (k unknown).
  *  - `lastAppId`/`lastBatchId` — the idempotent-writer cursor: the last
  *    streaming (checkpoint, batchId) whose append committed. foreachBatch
  *    is at-least-once, so a crash after the index commit but before the
  *    streaming checkpoint commit replays the micro-batch; the replay is
  *    recognized (same appId, batchId ≤ cursor) and skipped instead of
  *    appending duplicate rows into a certified index. Scoped by appId
  *    (the checkpoint path) so a NEW stream restarting batch numbering
  *    from 0 is not mistaken for a replay.
  */
case class AnnMeta(planes: Int, bandBits: Int, corpusRows: Long,
                   idMin: Long, idMax: Long, idSum: Long, contentXor: Long,
                   quantizer: String, lastAppId: String, lastBatchId: Long,
                   kCells: Int, txnCursors: String = "", pqM: Int = 0,
                   pqResM: Int = 0) {
  /** Per-app replay check ([[TxnCursors]]): the last applied batchId
    * for `app`, if any. */
  def appliedBatch(app: String): Option[Long] = TxnCursors.applied(txnCursors, app)
}

/** Persisted ANN index — the artifact a production 100 TB embedding
  * corpus builds ONCE and serves every query from, instead of
  * recomputing SRP codes and IVF centroids per query.
  *
  * Layout under an index dir:
  *   codes/      parquet (vec_id, code, cell) — one slim row per vector:
  *               its SRP code and its nearest-centroid IVF cell
  *   centroids/  parquet (clabel, cv, cnorm) — the coarse quantizer,
  *               FROZEN at build time (like a trained IVF quantizer:
  *               appended vectors are assigned to existing cells, the
  *               quantizer is not re-derived per batch). Derived from
  *               labels when the corpus has them, deterministic k-means
  *               ([[SimilarityQueries.kmeansCentroids]]) when it does not.
  *   _meta/      parquet, one row — see [[AnnMeta]]
  *   _SYNCED     commit marker — the same certify/fallback protocol as
  *               the engine's chunk-stat index (TsdbStorage): every
  *               mutation drops the marker first and restores it only
  *               after the index content committed, so a crash in
  *               between leaves the index uncertified and queries fall
  *               back to the always-correct recompute path.
  *
  * Query integration: set `spark.graft.ann.indexDir` to the index dir;
  * `sim_ann` / `sim_ivf` / `dedup_embed_lsh` read codes/centroids from
  * it when CERTIFIED **and fingerprint-matched to their input corpus**
  * and recompute otherwise. Codes and cells are derived with the exact
  * expressions the live path uses (SimilarityQueries.srpCoded /
  * assignCells), so index-served results are identical to recomputed
  * ones — AnnIndexSpec pins that equality.
  *
  * Scale shape: codes rows are 3 longs per vector (slim by design —
  * the 3× wide-row regression measured in the `vector` smoke motivated
  * this layout); the centroid table is cells×dims, always
  * broadcastable. An append touches only the appended vectors; no
  * existing file is rewritten (compact() rewrites the accumulation into
  * size-targeted, vec_id-range-clustered files).
  *
  * Writer discipline: build/append/compact are single-writer (the same
  * contract as the engine's maintenance ops). Each writer entry point
  * first resolves any crashed compact swap ([[recoverCompact]]) so a
  * kill between renames self-heals on the next maintenance call instead
  * of dead-ending until a full rebuild. Readers never mutate: usable()
  * only inspects the marker, so a query racing a live compact just falls
  * back to recompute for the duration of the swap.
  */
object AnnIndex {

  /** Session conf key pointing sim_ann/sim_ivf at a persisted index. */
  val ConfKey = "spark.graft.ann.indexDir"

  /** Whether resolveFor's per-query fingerprint check includes the
    * CONTENT term (default true). The content hash is one xxhash64 agg
    * over the vectors/text — trivially cheap at test scale, but it is an
    * O(corpus) column scan PER QUERY, the exact growth-with-corpus cost
    * the index exists to amortize: at 100 TB the index-served dedup path
    * reads stored signatures + survivor shingles only, and a full
    * content scan per query would dwarf both. A deployment whose corpus
    * is append-only (the common case — in-place mutation impossible by
    * construction) sets this false to keep the per-query check at the
    * column-pruned id stats; [[verify]] (and through it `maintain()`)
    * still checks content regardless, so a mutated corpus is caught at
    * maintenance time even when opted out. Shared by AnnIndex and
    * TextIndex. */
  val ContentCheckKey = "spark.graft.index.contentCheck"

  private[extensions] def contentCheck(spark: SparkSession): Boolean =
    graft.core.Conf.bool(spark, ContentCheckKey, true)

  /** The PROVISIONAL content term for [[build]]'s training-memo keys
    * (the true term is observed later, on the codes pass): an md5-head
    * of the driver-side corpus identity (plan hash + sorted file
    * listing — [[corpusIdentity]]). Distinct from
    * any true xxhash64 xor with 2⁻⁶⁴ coincidence; collides with itself
    * exactly when the same session rebuilds the same immutable frame,
    * which is precisely when reusing the trained parameters is right. */
  private def provisionalXor(corpus: DataFrame): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(corpusIdentity(corpus).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  /** Default compact target: ~4M slim code rows per file (~tens of MB
    * compressed) — keeps a 10⁹-vector codes table at a few hundred
    * parallel-readable files instead of one single-task monolith. */
  val DefaultRowsPerFile = 4L * 1000 * 1000

  private def codesPath(dir: String) = s"$dir/codes"
  private def centroidsPath(dir: String) = s"$dir/centroids"
  private def pqPath(dir: String) = s"$dir/pq"
  private def pqResPath(dir: String) = s"$dir/pqres"
  private def metaPath(dir: String) = s"$dir/_meta"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The enforced single-writer lease (see [[graft.sources.WriterLock]]):
    * each writer entry (build/append/compact/fsck) is its own lease
    * term — a second maintainer on the same index dir fails fast instead
    * of interleaving marker transitions. Readers never touch the lock. */
  private def locked[T](spark: SparkSession, dir: String)(body: => T): T =
    graft.sources.WriterLock.withLock(spark, dir, graft.sources.WriterLock.newOwner())(body)

  /** The certified index dir the session points at, if any. None ⇒
    * callers recompute (conf unset, dir missing, or marker absent).
    * Marker-only: corpus identity is NOT checked here — query paths use
    * [[resolveFor]]. */
  def resolve(spark: SparkSession): Option[String] =
    Option(spark.conf.get(ConfKey, null)).filter(usable(spark, _))

  /** The certified index dir IF its fingerprint matches `corpus` (any
    * frame with the vec_id column the index was built over). An index
    * that cannot prove corpus identity — legacy meta without a
    * fingerprint, or a mismatch (stale index, foreign corpus) — is not
    * served; the caller recomputes, which is always correct. */
  def resolveFor(spark: SparkSession, corpus: DataFrame): Option[String] =
    resolve(spark).filter(dir => fingerprintMatches(spark, readMeta(spark, dir), corpus))

  private def fingerprintMatches(spark: SparkSession, m: AnnMeta,
                                 corpus: DataFrame): Boolean =
    m.corpusRows >= 0 && {
      if (contentCheck(spark))
        contentProven(spark, "ann",
          (m.corpusRows, m.idMin, m.idMax, m.idSum, m.contentXor),
          corpus, idStats(corpus), fingerprint(corpus))
      else // column-pruned id stats only (see ContentCheckKey)
        idStats(corpus) == ((m.corpusRows, m.idMin, m.idMax, m.idSum))
    }

  /** Session-scoped memo of PROVEN content checks (the k-means-memo
    * pattern). The content hash is an O(corpus) column scan; for the
    * TEXT index it reads + hashes the very column whose md5 derivation
    * the index amortizes, so paying it per query hands back most of
    * what the index saves (measured at sf0.1: ~0.3 s/query — an
    * index-served dedup_ngram was NET slower than recompute).
    *
    * Soundness: the memo key binds the proof to the exact corpus it was
    * computed over — the index fingerprint PLUS the corpus's
    * canonicalized-plan hash and its sorted input-file listing. Any
    * change that could alter content misses the memo and re-proves:
    * a rewritten/re-embedded file set has new part-file names (Spark
    * writes fresh UUIDs even under overwrite), a transformed frame has
    * a different plan hash, a rebuilt index has a new fingerprint. The
    * memo hit still pays the column-pruned id-stats check, so a
    * same-plan corpus whose data moved under an unchanged listing
    * (external byte-level mutation preserving file names AND doc ids)
    * is the only slip — and [[verify]]/maintain() are memo-blind, so
    * even that is caught at maintenance time. Bounded at 64 proofs,
    * whole-clear (the k-means memo contract). */
  private val contentProofs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Full content-scan invocations — the memo's observable (spec-pinned,
    * the kmeansTrainCount pattern). */
  private[graft] val contentScanCount = new java.util.concurrent.atomic.AtomicLong()

  /** Driver-side corpus identity: canonicalized plan + input files.
    * No data scan — plan hash and file listing are already materialized
    * at analysis time. */
  private def corpusIdentity(corpus: DataFrame): String = {
    val planHash = corpus.queryExecution.analyzed.semanticHash()
    val files = java.util.UUID.nameUUIDFromBytes(
      corpus.inputFiles.sorted.mkString("\n").getBytes("UTF-8"))
    s"$planHash:$files"
  }

  private[extensions] def contentProven(spark: SparkSession, kind: String,
      metaFp: (Long, Long, Long, Long, Long), corpus: DataFrame,
      liveIds: => (Long, Long, Long, Long),
      liveFull: => (Long, Long, Long, Long, Long)): Boolean = {
    val key =
      s"${System.identityHashCode(spark)}:$kind:$metaFp:${corpusIdentity(corpus)}"
    if (contentProofs.contains(key))
      liveIds == ((metaFp._1, metaFp._2, metaFp._3, metaFp._4))
    else {
      contentScanCount.incrementAndGet()
      val ok = liveFull == metaFp
      if (ok) {
        if (contentProofs.size > 64) contentProofs.clear()
        contentProofs.add(key)
      }
      ok
    }
  }

  /** Full-fingerprint audit (content term ALWAYS included, whatever
    * ContentCheckKey says): true iff the certified index matches the
    * corpus bit-for-bit at the fingerprint level. A mismatch UNCERTIFIES
    * the index — the maintenance-time backstop for deployments that
    * opted the per-query content check out. */
  def verify(spark: SparkSession, dir: String, corpus: DataFrame): Boolean = {
    if (!usable(spark, dir)) return false
    val m = readMeta(spark, dir)
    val ok = m.corpusRows >= 0 &&
      fingerprint(corpus) == ((m.corpusRows, m.idMin, m.idMax, m.idSum, m.contentXor))
    if (!ok) TsdbStorage.markStatsOutOfSync(spark, dir)
    ok
  }

  /** The cheap (column-pruned) half of the fingerprint. */
  private def idStats(corpus: DataFrame): (Long, Long, Long, Long) = {
    val r = corpus.agg(
      count(col("vec_id")), coalesce(min("vec_id"), lit(0L)),
      coalesce(max("vec_id"), lit(0L)), coalesce(sum("vec_id"), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** True iff the index exists AND its last mutation committed. */
  def usable(spark: SparkSession, dir: String): Boolean =
    TsdbStorage.statsUsable(spark, dir)

  def readCodes(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(codesPath(dir))

  def readCentroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(centroidsPath(dir))

  /** The frozen PQ codebooks (sub, code, cv) — present iff the meta says
    * pq_m > 0 (pre-PQ indexes have neither the dir nor the column). */
  def readPqCodebooks(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(pqPath(dir))

  /** The frozen RESIDUAL (IVFADC) codebooks — present iff the meta says
    * pq_res_m > 0 (indexes predating the residual component have
    * neither the dir nor the codes column). */
  def readPqResCodebooks(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(pqResPath(dir))

  /** The vector content in its canonical (double-array) form, whichever
    * shape the frame is in: prepped frames carry it as `v`, raw
    * embeddings frames derive it with the exact `prep` cast — so build
    * (raw) and resolveFor (prepped) hash identical values. */
  private def contentExpr(corpus: DataFrame) =
    if (corpus.columns.contains("v")) col("v")
    else expr("transform(embedding, x -> CAST(x AS DOUBLE))")

  /** (rows, min/max/sum vec_id, content xor) of a corpus — the identity
    * bound into `_meta` at build and rolled forward by append. The xor
    * of per-row xxhash64(vec_id, vector) is order-independent and
    * cannot overflow (the reason it is not a sum — ANSI mode would
    * throw on a wrapped Long), and folding vec_id into the hash keeps
    * two genuinely identical rows from cancelling each other only when
    * they are true (id, content) duplicates. One agg pass; empty corpus
    * → (0, 0, 0, 0, 0). Shared with [[SimilarityQueries.kmeansCentroids]]
    * as the memo key for the trained quantizer. */
  private[graft] def fingerprint(corpus: DataFrame): (Long, Long, Long, Long, Long) = {
    val r = corpus.agg(
      count(col("vec_id")), coalesce(min("vec_id"), lit(0L)),
      coalesce(max("vec_id"), lit(0L)), coalesce(sum("vec_id"), lit(0L)),
      coalesce(bit_xor(xxhash64(col("vec_id"), contentExpr(corpus))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  /** This index's self-description. Columns are selected BY NAME (a
    * positional read would silently swap fields under any future schema
    * evolution — and a swapped planes/bandBits mis-bands every stored
    * code). Indexes predating `_meta` — or predating any fingerprint
    * field, including `content_xor` (an xor has no -1 sentinel, so its
    * absence demotes the whole fingerprint) — read with an UNKNOWN
    * fingerprint (corpusRows = -1), which resolveFor refuses to serve;
    * rebuild to upgrade. */
  def readMeta(spark: SparkSession, dir: String): AnnMeta = {
    val p = new Path(metaPath(dir))
    if (!fs(spark, dir).exists(p))
      AnnMeta(SimilarityQueries.N_PLANES, SimilarityQueries.BAND_BITS,
        -1L, 0L, 0L, 0L, 0L, "label", "", -1L, -1, "")
    else {
      val df = spark.read.parquet(metaPath(dir))
      val names = df.columns.toSet
      def longOr(r: org.apache.spark.sql.Row, name: String, dflt: Long): Long =
        if (names(name)) r.getLong(r.fieldIndex(name)) else dflt
      def strOr(r: org.apache.spark.sql.Row, name: String, dflt: String): String =
        if (names(name)) r.getString(r.fieldIndex(name)) else dflt
      val r = df.head()
      AnnMeta(
        r.getInt(r.fieldIndex("planes")),
        r.getInt(r.fieldIndex("band_bits")),
        if (names("content_xor")) longOr(r, "corpus_rows", -1L) else -1L,
        longOr(r, "id_min", 0L), longOr(r, "id_max", 0L), longOr(r, "id_sum", 0L),
        longOr(r, "content_xor", 0L),
        strOr(r, "quantizer", "label"), // pre-kind metas were label-built
        strOr(r, "last_app_id", ""),
        longOr(r, "last_batch_id", -1L),
        longOr(r, "k_cells", -1L).toInt,
        // legacy single-cursor metas fold into a one-entry map
        if (names("txn_cursors")) strOr(r, "txn_cursors", "")
        else if (strOr(r, "last_app_id", "").nonEmpty)
          TxnCursors.render(Vector(
            strOr(r, "last_app_id", "") -> longOr(r, "last_batch_id", -1L)))
        else "",
        longOr(r, "pq_m", 0L).toInt, // pre-PQ metas: no pq component
        longOr(r, "pq_res_m", 0L).toInt) // pre-residual metas: direct only
    }
  }

  private[graft] def writeMeta(spark: SparkSession, dir: String, m: AnnMeta): Unit = {
    import spark.implicits._
    Seq((m.planes, m.bandBits, m.corpusRows, m.idMin, m.idMax, m.idSum,
        m.contentXor, m.quantizer, m.lastAppId, m.lastBatchId, m.kCells.toLong,
        m.txnCursors, m.pqM.toLong, m.pqResM.toLong))
      .toDF("planes", "band_bits", "corpus_rows", "id_min", "id_max", "id_sum",
        "content_xor", "quantizer", "last_app_id", "last_batch_id", "k_cells",
        "txn_cursors", "pq_m", "pq_res_m")
      .coalesce(1).write.mode("overwrite").parquet(metaPath(dir))
  }

  /** Band the index's stored codes with ITS OWN persisted scheme. */
  def bandsFromIndex(spark: SparkSession, dir: String): DataFrame = {
    val m = readMeta(spark, dir)
    SimilarityQueries.srpBands(
      readCodes(spark, dir).select("vec_id", "code"), m.planes, m.bandBits)
  }

  /** Assign vectors to THIS index's frozen centroids — the production
    * classify-new-vectors path, and what append() persists. `raw` is an
    * embeddings-shaped frame (vec_id, embedding, ...). */
  def assign(spark: SparkSession, raw: DataFrame, dir: String): DataFrame =
    SimilarityQueries.assignCells(SimilarityQueries.prep(spark, raw), readCentroids(spark, dir))

  /** bandBits for a corpus of `corpusRows` vectors under `planes` SRP
    * planes: expected band-bucket occupancy is N / 2^bandBits and the
    * band self-join is quadratic in it, so solve 2^b ≥ N / targetOccupancy,
    * round UP to a divisor of planes (bands must tile the code), and cap
    * at planes/2 so at least two bands remain (recall for sign-agreement
    * s is 1 − (1 − s^b)^bands — one giant band has no OR-redundancy).
    * 500 vectors / 16 planes → 4 (the gated test scheme); 10⁶ → 8 (the
    * knob the `vector` smoke measures); 10⁹ / 32 planes → 16. */
  def advisedBandBits(corpusRows: Long, planes: Int, targetOccupancy: Long = 32L): Int = {
    val want = math.max(1, math.ceil(
      math.log(math.max(1.0, corpusRows.toDouble / targetOccupancy)) / math.log(2.0)).toInt)
    val divisors = (1 to planes).filter(planes % _ == 0)
    val cap = divisors.filter(_ <= math.max(1, planes / 2)).last
    math.min(divisors.find(_ >= want).getOrElse(cap), cap)
  }

  /** Per-cell min member-cosine floor for [[quantizerHealth]]. A healthy
    * cell's members all point broadly toward their centroid (this
    * corpus: min ≈ +0.07..+0.16 per cell at every SF); a member whose
    * cosine to its own centroid goes NEGATIVE is anti-correlated with
    * the cell that claims it — two clusters wearing one label, the
    * unambiguous retrain signal. 0.0 is deliberately conservative:
    * health must never flag a merely-noisy cell into a rebuild loop. */
  val CellMinCosine = 0.0

  /** IVF cell-count advisor: k ≈ √N (the classic IVF sizing — probe
    * cost ∝ k + N/k is minimized there), floored at the default k the
    * oracle-gated queries reproduce. 500 vectors → 23; 10⁶ → 1000;
    * 10⁹ → ~32k. The [[advisedBandBits]] precedent: the knob grows
    * with the corpus, the advisor is one formula, build persists the
    * result. */
  def advisedKCells(corpusRows: Long): Int =
    math.max(SimilarityQueries.KMEANS_K,
      math.ceil(math.sqrt(math.max(0L, corpusRows).toDouble)).toInt)

  /** The quantizer-health probe `maintain()` ACTS on (ivf_cell_stats is
    * the queryable form of the same signal): Some(reason) when the
    * certified k-means quantizer has a collapsed cell — one whose min
    * member-cosine fell below [[CellMinCosine]], i.e.
    * the corpus drifted until some vectors are anti-correlated with the
    * centroid that claims them. Occupancy rides along in the reason
    * (the collapsed cell's size bounds how much IVF probe cost and
    * dedup_semantic pairwise work the bad bucketing is costing).
    * Label quantizers are never flagged (their cells are supervised
    * ground truth, not a tunable), nor is an uncertified index (rebuild
    * already owns that path). One corpus×k scoring pass — the
    * ivf_cell_stats cost, paid only inside maintenance. */
  def quantizerHealth(spark: SparkSession, dir: String, corpus: DataFrame): Option[String] = {
    if (!usable(spark, dir)) return None
    val m = readMeta(spark, dir)
    if (m.quantizer != "kmeans") return None
    graft.functions.VectorFunctions.register(spark)
    val e = SimilarityQueries.prep(spark, corpus)
    readCodes(spark, dir).select("vec_id", "cell")
      .join(e, "vec_id")
      .join(broadcast(readCentroids(spark, dir)
        .select(col("clabel").as("cell"), col("cv"), col("cnorm"))), "cell")
      .withColumn("csim",
        call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")))
      .groupBy("cell")
      .agg(min("csim").as("min_csim"), count(lit(1)).as("n_vecs"))
      .filter(col("min_csim") < CellMinCosine)
      .orderBy(col("min_csim"))
      .take(1).headOption
      .map { r =>
        val oldK = if (m.kCells > 0) m.kCells else SimilarityQueries.KMEANS_K
        val cs = f"${r.getDouble(1)}%.4f"
        s"cell ${r.get(0)} collapsed: min member-cosine $cs across " +
          s"${r.getLong(2)} vectors < floor $CellMinCosine — retrain with k grown " +
          s"$oldK -> ${grownK(m)}"
      }
  }

  /** The k a health-triggered retrain rebuilds with: the √N advisor,
    * but always a real GROWTH past the current k (a collapse at the
    * advised k means the advice was insufficient for this corpus —
    * doubling is the bandBits ladder's step). */
  private[extensions] def grownK(m: AnnMeta): Int = {
    val oldK = if (m.kCells > 0) m.kCells else SimilarityQueries.KMEANS_K
    math.max(advisedKCells(m.corpusRows), 2 * oldK)
  }

  /** Health-triggered retrain ([[quantizerHealth]] said why): rebuild
    * from the corpus with grown k. Queries are unaffected mid-flight —
    * the build runs under the marker protocol (certify-or-fallback),
    * and afterward the oracle-gated kmeans consumers fall back to
    * recompute (the index's k is no longer the one their oracles
    * unroll) while the SRP paths serve the recertified codes. */
  def rebuildGrown(spark: SparkSession, corpus: DataFrame, dir: String): Unit =
    build(spark, corpus, dir, kCells = grownK(readMeta(spark, dir)))

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Build (or rebuild) the index from a full corpus: derive the
    * quantizer (label centroids when the corpus carries labels, else
    * deterministic k-means), code + assign every vector, fingerprint the
    * corpus, certify. A rebuild over a changed corpus is the IVF
    * "retrain" — the only operation that moves the centroids (or the
    * SRP scheme).
    *
    * planes/bandBits parameterize the SRP scheme and are PERSISTED with
    * the index. bandBits ≤ 0 (the default) means advise from the corpus
    * size ([[advisedBandBits]]); an explicit value overrides. kCells ≤ 0
    * (the default) trains the default-k k-means quantizer (the bucketing
    * the oracle-gated queries reproduce); an explicit value is the
    * retune knob ([[quantizerHealth]] → grown k). Ignored for labeled
    * corpora (their cell count IS the label count). */
  def build(spark: SparkSession, raw: DataFrame, dir: String,
            planes: Int = SimilarityQueries.N_PLANES,
            bandBits: Int = 0, kCells: Int = 0): Unit = locked(spark, dir) {
    recoverCompact(spark, dir)
    // Fingerprint: the content-xor term RIDES the codes write as an
    // Observation (the codes pass reads every (vec_id, v) row anyway), so
    // the upfront pass prunes to the vec_id column (id stats only). The
    // training-memo keys carry a PROVISIONAL content term (md5-head of
    // plan hash + file listing — the contentProofs identity): sound for
    // the build's own immutable frame, and post-build queries serve from
    // the certified index, never from these memo entries.
    val (n, idMin, idMax, idSum) = timed(logger, "id stats (pruned vec_id scan)")(idStats(raw))
    val fp = (n, idMin, idMax, idSum, provisionalXor(raw))
    val bb = if (bandBits > 0) bandBits else advisedBandBits(n, planes)
    require(planes % bb == 0, s"planes ($planes) must be a multiple of bandBits ($bb)")
    val kind = if (raw.columns.contains("label")) "label" else "kmeans"
    TsdbStorage.markStatsOutOfSync(spark, dir)
    timed(logger, s"quantizer ($kind centroids, corpus aggregation + write)") {
      // n known (the id stats just counted): the label path switches
      // to the one-pass vector-mean aggregate from LabelMeanMinRows on; the
      // kmeans path reuses the build's fingerprint for its memo key
      // instead of paying a second content scan
      val cent = SimilarityQueries.quantizer(spark, raw, kCells, n, Some(fp)).coalesce(1)
      cent.write.mode("overwrite").parquet(centroidsPath(dir))
    }
    // cell count from the WRITTEN centroids (k rows), not a second
    // evaluation of the quantizer frame — on the label path that frame
    // is a full-corpus aggregation and counting it first would pay the
    // derivation twice (the kmeans path is shielded by the driver memo,
    // the label path is not)
    val k = spark.read.parquet(centroidsPath(dir)).count().toInt
    // PQ components: per-subspace codebooks trained from this corpus
    // (the memoized deterministic Lloyd — label-independent), frozen
    // like the centroids; per-vector packed codes ride the codes table.
    // ONE persisted md5-head sample feeds BOTH trainings, and the
    // fingerprint this build already computed is passed through so
    // neither training pays the memo's full-content probe scan again.
    val rawNoLabel = raw.drop("label")
    // borrow-don't-own (TransientCache): at small n trainSampleFor is
    // the IDENTITY prep frame — canonically equal to the `emb` plan the
    // sim_* query memos persist; an owned unpersist here evicted those
    // entries from under their owners (the round-11 CacheHygiene flake)
    val eS = PqQueries.trainSampleFor(spark, rawNoLabel, n)
    graft.core.TransientCache.borrowCached(eS) {
      timed(logger, s"PQ codebooks (${PqQueries.ITERS}-iter per-subspace Lloyd + write)") {
        PqQueries.pqCodebooks(spark, rawNoLabel, Some(eS), Some(fp))
          .coalesce(1).write.mode("overwrite").parquet(pqPath(dir))
      }
      // residual (IVFADC) codebooks against the JUST-FROZEN centroids —
      // measured 2.7× lower ADC distortion than direct coding on
      // clustered corpora (the `vector.respq` smoke), so the index
      // persists both: direct codes serve sim_pq/sim_ivfpq (the
      // oracle-replayed scheme), residual codes serve sim_ivfpq_res
      timed(logger, s"residual PQ codebooks (${PqQueries.ITERS}-iter Lloyd over residuals + write)") {
        val cent = readCentroids(spark, dir)
        PqQueries.pqResCodebooks(spark, rawNoLabel, cent,
            SimilarityQueries.assignCells(eS, cent), Some(eS), Some(fp))
          .coalesce(1).write.mode("overwrite").parquet(pqResPath(dir))
      }
    }
    val e = SimilarityQueries.prep(spark, raw)
    // the content xor is OBSERVED on the prepped frame as the codes
    // projection streams over it — CollectMetrics aggregates
    // per task and merges successful tasks only, so the value equals
    // fingerprint(raw)._5. AnnIndexSpec pins the equality on a full
    // corpus (the single-scan packCol projection) and on one too small
    // to fill a PQ book (the join form, which reads `e` in more than
    // one branch).
    val obs = org.apache.spark.sql.Observation("ann-build-fp")
    val observed =
      e.observe(obs, coalesce(bit_xor(xxhash64(col("vec_id"), col("v"))), lit(0L)).as("cxor"))
    timed(logger, "codes (ONE projection: SRP + cell + packed PQ + residual PQ, map-side write)") {
      codesFrame(observed, planes, readCentroids(spark, dir), Some(readPqCodebooks(spark, dir)),
          Some(readPqResCodebooks(spark, dir)))
        .write.mode("overwrite").parquet(codesPath(dir))
    }
    val cxor = obs.get("cxor").asInstanceOf[Long]
    // meta lands AFTER the codes pass (it now carries the observed
    // content term); certification below is still the commit point, so
    // crash-ordering is unchanged — an uncertified dir never serves
    writeMeta(spark, dir, AnnMeta(planes, bb, n, idMin, idMax, idSum, cxor, kind, "", -1L, k,
      pqM = PqQueries.M, pqResM = PqQueries.M))
    TsdbStorage.markStatsInSync(spark, dir)
  }

  /** The per-vector code table (vec_id, code, cell[, pq[, pqr]]) in ONE
    * corpus projection — SRP code, nearest cell, packed direct PQ and
    * packed RESIDUAL PQ are all map-side expressions now, so the
    * round-9 three-frame join (two corpus-sized shuffles at 10M
    * vectors) reduces to a single pass over (v, norm). The residual
    * pack consumes the cell column the same projection just computed
    * (a chained select Catalyst collapses — the coarse argmin runs
    * once). Falls back to the join form only for a foreign
    * (non-default) PQ scheme, where the pack column is unavailable. */
  private def codesFrame(e: DataFrame, planes: Int, cents: DataFrame,
                         cb: Option[DataFrame],
                         rcb: Option[DataFrame] = None): DataFrame = {
    val coded = SimilarityQueries.srpCoded(e, planes)
    val cellCol = SimilarityQueries.nearestCellCol(cents)
    cb match {
      case Some(b) => PqQueries.packCol(b) match {
        case Some(p) =>
          rcb.flatMap(rb => PqQueries.resPackCol(cents, rb)) match {
            case Some(rc) =>
              coded.select(col("vec_id"), col("code"), cellCol.as("cell"),
                  p.as("pq"), col("v"), col("norm"))
                .withColumn("pqr", rc)
                .select("vec_id", "code", "cell", "pq", "pqr")
            case None =>
              coded.select(col("vec_id"), col("code"), cellCol.as("cell"), p.as("pq"))
          }
        case None => // foreign scheme: the always-correct join form
          coded.select("vec_id", "code")
            .join(SimilarityQueries.assignCells(e, cents), "vec_id")
            .join(PqQueries.packedCodes(e, b), "vec_id")
      }
      case None =>
        coded.select(col("vec_id"), col("code"), cellCol.as("cell"))
    }
  }

  /** Incrementally index appended vectors: SRP codes are per-vector
    * deterministic (fixed hyperplanes), cells are assigned against the
    * FROZEN centroids — both bit-identical to what a build would derive
    * with the same quantizer, so the index stays exact under appends.
    * Only the new vectors are written; nothing is rewritten, and the
    * fingerprint rolls forward so resolveFor keeps matching the grown
    * corpus.
    *
    * `txn` is the streaming idempotency cursor (appId = checkpoint path,
    * batchId): a replayed micro-batch — same appId, batchId not beyond
    * the persisted cursor — is a no-op, keeping the index exactly-once
    * under foreachBatch's at-least-once contract. Batch-style callers
    * omit it (no replay source, no idempotency claim). */
  def append(spark: SparkSession, rawNew: DataFrame, dir: String,
             txn: Option[(String, Long)] = None): Unit = locked(spark, dir) {
    recoverCompact(spark, dir)
    require(usable(spark, dir), s"ANN index at $dir is absent or uncertified — build() first")
    val m = readMeta(spark, dir)
    // PER-APP replay check (see [[TxnCursors]])
    val replayed = txn.exists { case (app, bid) => m.appliedBatch(app).exists(bid <= _) }
    if (replayed) return
    val (n, bMin, bMax, bSum, bXor) = fingerprint(rawNew)
    val planes = m.planes // code with the index's own scheme
    TsdbStorage.markStatsOutOfSync(spark, dir)
    val e = SimilarityQueries.prep(spark, rawNew)
    // PQ codes against the FROZEN codebooks (the centroid rule); a
    // legacy pre-PQ index keeps its schema — mixing would corrupt reads
    codesFrame(e, planes, readCentroids(spark, dir),
        if (m.pqM == PqQueries.M) Some(readPqCodebooks(spark, dir)) else None,
        // residual codes against the FROZEN residual books (same rule)
        if (m.pqResM == PqQueries.M) Some(readPqResCodebooks(spark, dir)) else None)
      .write.mode("append").parquet(codesPath(dir))
    val grown =
      if (n == 0) m // EMPTY append: an all-zero fingerprint must not fold
        // into min/max (the TextIndex.append rule) — only the cursor moves
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

  /** Integrity probe (the fsck of this artifact): every codes/centroids
    * file fully decompressed, distributed. A corrupt file UNCERTIFIES
    * the index immediately — even without repair — so queries fall back
    * to recompute instead of throwing mid-query; with repair the bad
    * files are dropped. Repair either way is `build()` (the index is
    * derived data — unlike the scheme log, dropping it loses nothing). */
  def fsck(spark: SparkSession, dir: String, repair: Boolean = false): Seq[String] = locked(spark, dir) {
    recoverCompact(spark, dir)
    val bad = TsdbStorage.probeFiles(spark, codesPath(dir)) ++
      TsdbStorage.probeFiles(spark, centroidsPath(dir)) ++
      TsdbStorage.probeFiles(spark, pqPath(dir)) ++
      TsdbStorage.probeFiles(spark, pqResPath(dir)) ++
      TsdbStorage.probeFiles(spark, metaPath(dir))
    if (bad.nonEmpty) {
      TsdbStorage.markStatsOutOfSync(spark, dir)
      if (repair) { val f = fs(spark, dir); bad.foreach(p => f.delete(new Path(p), false)) }
    }
    bad
  }

  /** Rewrite the append-accumulated codes files (contents unchanged)
    * into ~rowsPerFile-sized files RANGE-CLUSTERED on vec_id — the file
    * count scales with the corpus (never a one-task monolith), readers
    * keep full parallelism, and parquet min/max footers let id-probing
    * reads prune whole files. Same tmp-swap discipline as the engine's
    * compact paths, with the marker protocol covering the swap and
    * [[recoverCompact]] resolving a crash inside it. */
  def compact(spark: SparkSession, dir: String,
              rowsPerFile: Long = DefaultRowsPerFile): Unit = locked(spark, dir) {
    recoverCompact(spark, dir)
    require(usable(spark, dir), s"ANN index at $dir is absent or uncertified")
    val m = readMeta(spark, dir)
    val rows = if (m.corpusRows >= 0) m.corpusRows else readCodes(spark, dir).count()
    val files = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile).toInt
    ArtifactSwap.rewrite(spark, dir, "codes") { tmp =>
      readCodes(spark, dir)
        .repartitionByRange(files, col("vec_id"))
        .sortWithinPartitions("vec_id")
        .write.parquet(tmp)
    }
  }

  /** Append-accumulation signature (the engine's fragmentedDays analog):
    * more codes files than 2× the size-targeted count compact() would
    * write. Directory-listing metadata only. */
  def fragmented(spark: SparkSession, dir: String,
                 rowsPerFile: Long = DefaultRowsPerFile): Boolean = {
    val p = new Path(codesPath(dir))
    val f = fs(spark, dir)
    if (!f.exists(p) || !usable(spark, dir)) return false
    val m = readMeta(spark, dir)
    val rows = if (m.corpusRows >= 0) m.corpusRows else readCodes(spark, dir).count()
    val target = math.max(1L, (rows + rowsPerFile - 1) / rowsPerFile)
    f.listStatus(p).count(_.getPath.getName.endsWith(".parquet")) > 2 * target
  }

  /** Resolve a compact() that died inside its swap — the shared
    * [[ArtifactSwap]] discipline, run on every WRITER entry
    * (build/append/compact/fsck; single-writer contract, so no live
    * compact can race it). Readers (usable/resolve) deliberately do NOT
    * run this: a query racing a live compact must fall back, not mutate
    * the swap. */
  private def recoverCompact(spark: SparkSession, dir: String): Unit =
    ArtifactSwap.recover(spark, dir, "codes")
}
