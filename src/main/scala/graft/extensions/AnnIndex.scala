package graft.extensions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PhaseLog.timed
import graft.sources.TsdbStorage

/** The ANN index's `_meta` — its scheme next to the shared
  * [[CorpusState]] (corpus fingerprint + idempotent-writer cursor):
  *
  *  - `planes`/`bandBits` — the SRP scheme its codes were built with
  *    (queries must band stored codes with the SAME scheme at any later
  *    time, so the scheme travels with the index, not the session);
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
  *  - `pqM`/`pqResM` — the direct and residual PQ widths (0: no such
  *    component).
  */
case class AnnMeta(planes: Int, bandBits: Int, quantizer: String, kCells: Int,
                   pqM: Int, pqResM: Int, state: CorpusState) extends CorpusMeta

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
  *   pq/, pqres/ parquet — the frozen direct and residual PQ codebooks
  *   _meta/      parquet, one row — see [[AnnMeta]]
  *   _SYNCED     commit marker — the [[CorpusIndex]] protocol
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
  */
object AnnIndex extends CorpusIndex[AnnMeta] {

  /** Session conf key pointing sim_ann/sim_ivf at a persisted index. */
  val ConfKey = "spark.graft.ann.indexDir"

  protected val label = "ANN index"
  protected val idCol = "vec_id"
  protected val tables = Seq("codes", "centroids", "pq", "pqres")
  protected val metaLayout = Seq("planes", "band_bits", "corpus_rows", "id_min", "id_max",
    "id_sum", "content_xor", "quantizer", "last_app_id", "last_batch_id", "k_cells",
    "txn_cursors", "pq_m", "pq_res_m")

  protected def schemeColumns(m: AnnMeta): Map[String, Any] = Map("planes" -> m.planes,
    "band_bits" -> m.bandBits, "quantizer" -> m.quantizer, "k_cells" -> m.kCells.toLong,
    "pq_m" -> m.pqM.toLong, "pq_res_m" -> m.pqResM.toLong)

  // pre-kind metas were label-built; pre-PQ metas have no PQ component
  protected def metaOf(r: MetaRow, state: CorpusState): AnnMeta = AnnMeta(
    r.int("planes", SimilarityQueries.N_PLANES), r.int("band_bits", SimilarityQueries.BAND_BITS),
    r.string("quantizer", "label"), r.long("k_cells", -1L).toInt,
    r.long("pq_m", 0L).toInt, r.long("pq_res_m", 0L).toInt, state)

  protected def withState(m: AnnMeta, state: CorpusState): AnnMeta = m.copy(state = state)

  /** The PROVISIONAL content term for [[build]]'s training-memo keys
    * (the true term is observed later, on the codes pass): an md5-head
    * of the driver-side corpus identity (plan hash + sorted file
    * listing — [[CorpusIndex.corpusIdentity]]). Distinct from
    * any true xxhash64 xor with 2⁻⁶⁴ coincidence; collides with itself
    * exactly when the same session rebuilds the same immutable frame,
    * which is precisely when reusing the trained parameters is right. */
  private def provisionalXor(corpus: DataFrame): Long = {
    val h = java.security.MessageDigest.getInstance("MD5").digest(
      CorpusIndex.corpusIdentity(corpus).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(h).getLong
  }

  private def codesPath(dir: String) = s"$dir/codes"
  private def centroidsPath(dir: String) = s"$dir/centroids"
  private def pqPath(dir: String) = s"$dir/pq"
  private def pqResPath(dir: String) = s"$dir/pqres"

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
    * (raw) and resolveFor (prepped) hash identical values. The
    * fingerprint is shared with [[SimilarityQueries.kmeansCentroids]]
    * as the memo key for the trained quantizer. */
  protected def contentCol(corpus: DataFrame): Column =
    if (corpus.columns.contains("v")) col("v")
    else expr("transform(embedding, x -> CAST(x AS DOUBLE))")

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

  /** The maintenance retune: a collapsed k-means cell
    * ([[quantizerHealth]]) rebuilds the index with grown k. */
  override def retune(spark: SparkSession, dir: String, corpus: DataFrame): Option[String] =
    quantizerHealth(spark, dir, corpus).map { why => rebuildGrown(spark, corpus, dir); why }

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
            bandBits: Int = 0, kCells: Int = 0): Unit = writer(spark, dir) {
    // Fingerprint: the content-xor term RIDES the codes write as an
    // Observation (the codes pass reads every (vec_id, v) row anyway), so
    // the upfront pass prunes to the vec_id column (id stats only). The
    // training-memo keys carry a PROVISIONAL content term (md5-head of
    // plan hash + file listing — the content-proof identity): sound for
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
    val observed = e.observe(obs, contentTerm(e).as("cxor"))
    timed(logger, "codes (ONE projection: SRP + cell + packed PQ + residual PQ, map-side write)") {
      codesFrame(observed, planes, readCentroids(spark, dir), Some(readPqCodebooks(spark, dir)),
          Some(readPqResCodebooks(spark, dir)))
        .write.mode("overwrite").parquet(codesPath(dir))
    }
    val cxor = obs.get("cxor").asInstanceOf[Long]
    // meta lands AFTER the codes pass (it now carries the observed
    // content term); certification below is still the commit point, so
    // crash-ordering is unchanged — an uncertified dir never serves
    writeMeta(spark, dir, AnnMeta(planes, bb, kind, k, PqQueries.M, PqQueries.M,
      CorpusState(n, idMin, idMax, idSum, cxor)))
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

  def build(spark: SparkSession, corpus: DataFrame, dir: String): Unit =
    build(spark, corpus, dir, SimilarityQueries.N_PLANES)

  /** Appended vectors' codes: SRP codes are per-vector deterministic
    * (fixed hyperplanes), cells are assigned against the FROZEN
    * centroids — both bit-identical to what a build would derive with
    * the same quantizer, so the index stays exact under appends. Only
    * the new vectors are written; nothing is rewritten. */
  protected def appendPayload(spark: SparkSession, dir: String, m: AnnMeta,
                              rawNew: DataFrame): Unit =
    // code with the index's own scheme; PQ codes against the FROZEN
    // codebooks (the centroid rule) — a legacy pre-PQ index keeps its
    // schema, mixing would corrupt reads
    codesFrame(SimilarityQueries.prep(spark, rawNew), m.planes, readCentroids(spark, dir),
        if (m.pqM == PqQueries.M) Some(readPqCodebooks(spark, dir)) else None,
        if (m.pqResM == PqQueries.M) Some(readPqResCodebooks(spark, dir)) else None)
      .write.mode("append").parquet(codesPath(dir))
}
