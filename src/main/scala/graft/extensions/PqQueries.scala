package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.QueryDef

/** Product quantization (PQ) over the `embeddings` table — the
  * compression tier of the X3 similarity family (SURVEY.md §2.3).
  *
  * SRP-LSH and IVF (SimilarityQueries) prune WHICH vectors get scored;
  * PQ changes WHAT gets scored. Each L2-normalized vector is split into
  * M=8 contiguous 8-dim subvectors; each subspace trains its own
  * KSUB=16-centroid codebook (deterministic Lloyd, same discipline as
  * `kmeans_centroids`); a vector is stored as 8 four-bit codes — 4
  * bytes instead of 256 for float32[64], a 64× compression. Query-time
  * scoring is asymmetric distance computation (ADC, Jégou et al. 2011):
  * per query, precompute the M×KSUB table of subquery·centroid dot
  * products (128 entries), then every candidate's approximate cosine is
  * just M table lookups summed — no vector arithmetic, no vector I/O.
  *
  * Why this is the 100 TB tier: at 10⁹+ vectors the raw float corpus
  * (hundreds of GB to TB) cannot be rescanned per query wave, but the
  * PQ codes (4 GB per 10⁹ vectors) persist like the SRP/IVF codes and
  * the scan that scores them reads 4-byte codes joined to a broadcast
  * 128-row LUT — map-side, codegen'd, one shuffle of (query, candidate)
  * partial sums. IVF-PQ (prune by cell, score by ADC) is the standard
  * composition and falls out of joining this family's codes with
  * sim_ivf's cells.
  *
  * Determinism discipline (the kmeans/ivf_cell_stats rules):
  *  - training distances and ADC scores are integer micro-units
  *    (`CAST(floor(x * 1e6 + 0.5) AS BIGINT)`) before any ordering or
  *    aggregation — BIGINT sums are order-free, no -0.0, no half-mode
  *    drift;
  *  - centroid updates round to 6dp per dimension (avg is the one
  *    rounded-double step, the kmeans_centroids precedent);
  *  - every argmin/row_number carries an explicit code/id tiebreak.
  *
  * The DuckDB oracles unroll training → codes → LUT → ADC in one CTE
  * chain, so the gates check the entire pipeline, not just the final
  * ranking.
  */
object PqQueries {

  private[graft] val M = 8      // subspaces
  private[graft] val DSUB = 8   // dims per subspace (M * DSUB = 64)
  private[graft] val KSUB = 16  // centroids per subspace (4-bit codes)
  private[graft] val ITERS = 2  // Lloyd iterations per subspace
  private val K = 10                 // top-k for ADC ranking
  private val N_QUERIES = 10         // query set: vec_id < 10
  private val RERANK_R = 50          // ADC shortlist size for exact rerank

  import SimilarityQueries.emb

  /** (vec_id, sub, sv) — the L2-normalized subvector view. Normalizing
    * FIRST makes the ADC sum approximate the cosine directly (the
    * reconstruction approximates the unit vector, so q̂·v̂_reconstructed
    * ≈ cos). Division is correctly-rounded IEEE in both engines, so no
    * rounding step is needed here. */
  private[graft] def subvectors(e: DataFrame): DataFrame =
    e.withColumn("u", expr("transform(v, x -> x / norm)"))
      .select(col("vec_id"), explode(expr(s"sequence(0, ${M - 1})")).as("sub"), col("u"))
      .withColumn("sv", expr(s"slice(u, sub * $DSUB + 1, $DSUB)"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("sv"))

  /** Codebook rows (sub, code, cv) as a broadcastable frame. */
  private def cbFrame(s: SparkSession, cb: Seq[(Long, Long, Seq[Double])]): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    cb.toDF("sub", "code", "cv")
  }

  /** Squared L2 distance to a codebook entry in integer micro-units.
    * Written as (‖sv‖² − 2·sv·cv) + ‖cv‖² — the exact expression shape
    * the oracle uses, so both engines round the identical double. */
  private def d2micro = expr(
    "CAST(floor(((graft_dot(sv, sv) - 2 * graft_dot(sv, cv)) + graft_dot(cv, cv)) " +
      "* 1000000 + 0.5D) AS BIGINT)")

  /** The codebook frame as the nested [sub][code] literal the one-pass
    * expressions consume — None when the frame is not the contiguous
    * default scheme (callers fall back to the join form, which handles
    * any (sub, code) set). Bounded: M×KSUB rows. */
  private def cbLiteral(cb: DataFrame): Option[org.apache.spark.sql.Column] = {
    val rows = cb.select("sub", "code", "cv").collect()
    val bySub = rows.groupBy(_.getLong(0))
    if (bySub.keySet != (0L until M).map(identity).toSet) return None
    val nested = (0 until M).map { s =>
      val entries = bySub(s.toLong).map(r => r.getLong(1) -> r.getSeq[Double](2)).toMap
      if (entries.keySet != (0L until KSUB).map(identity).toSet) return None
      (0 until KSUB).map(c => entries(c.toLong).toSeq)
    }
    Some(typedlit(nested))
  }

  /** (vec_id, sub, sv, code) — the training shape: the code column is
    * ONE codegen'd per-row argmin ([[graft.functions.PqCodeOps]]),
    * bit-identical to the broadcast-join + max_by form (same integer
    * micro-distances, same lowest-code tiebreak — PqSpec pins it), with
    * no n·M-row shuffle and no join back to sv for the update step. */
  private def withCode(sv: DataFrame, cb: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(sv.sparkSession)
    cbLiteral(cb) match {
      case Some(l) =>
        sv.withColumn("code", call_function("graft_pq_code", col("sv"), col("sub"), l))
      case None =>
        assignCodesJoin(sv, cb).join(sv, Seq("vec_id", "sub"))
    }
  }

  /** Nearest-code assignment per (vector, subspace): min micro-distance,
    * lowest-code tiebreak — the one-pass expression form. */
  private[graft] def assignCodes(sv: DataFrame, cb: DataFrame): DataFrame =
    withCode(sv, cb).select("vec_id", "sub", "code")

  /** The round-9 broadcast-join + partial-aggregating max_by form — the
    * equivalence reference PqSpec pins the expression against, and the
    * fallback for non-default codebook schemes. */
  private[graft] def assignCodesJoin(sv: DataFrame, cb: DataFrame): DataFrame =
    sv.join(broadcast(cb), "sub")
      .withColumn("d2m", d2micro)
      .groupBy("vec_id", "sub")
      .agg(max_by(col("code"), struct(-col("d2m"), -col("code"))).as("code"))

  /** Packed per-vector PQ code (vec_id, pq): the 8 four-bit codes as one
    * BIGINT — the 4-byte artifact the AnnIndex persists per vector.
    * 16^sub is exact in double, so the CAST is exact in both engines.
    * One map-side expression per vector (normalize, slice, 8 argmins,
    * integer pack) — the ingest path that wrote 80M exploded rows
    * through two shuffles at 10M vectors now writes none. */
  private[graft] def packedCodes(e: DataFrame, cb: DataFrame): DataFrame =
    packCol(cb) match {
      case Some(p) => e.select(col("vec_id"), p.as("pq"))
      case None =>
        assignCodesJoin(subvectors(e), cb)
          .groupBy("vec_id")
          .agg(expr("sum(code * CAST(pow(16, sub) AS BIGINT))").as("pq"))
    }

  /** The packed code as a COLUMN over any frame carrying (v, norm) —
    * None for non-default codebook schemes (callers fall back to the
    * join form). The AnnIndex one-projection codes derivation rides
    * this next to [[SimilarityQueries.nearestCellCol]]. */
  private[graft] def packCol(cb: DataFrame): Option[org.apache.spark.sql.Column] = {
    graft.functions.VectorFunctions.register(cb.sparkSession)
    cbLiteral(cb).map(l => call_function("graft_pq_pack", col("v"), col("norm"), l))
  }

  /** The packed RESIDUAL code as a COLUMN over any frame carrying
    * (v, norm, cell) — [[packCol]]'s IVFADC sibling, what lets the
    * AnnIndex persist residual codes in the same one-projection codes
    * pass (the cell column it already computed feeds the residual —
    * the coarse argmin never runs twice). None for a non-default
    * residual codebook scheme. */
  private[graft] def resPackCol(cent: DataFrame,
                                rcb: DataFrame): Option[org.apache.spark.sql.Column] = {
    graft.functions.VectorFunctions.register(cent.sparkSession)
    cbLiteral(rcb).map { books =>
      val rows = cent.select(col("clabel").cast("long"), col("cv"), col("cnorm").cast("double"))
        .collect() // bounded: k centroid rows (the quantizer is driver-sized)
        .sortBy(_.getLong(0)) // the expression binary-searches labels
      val labels = rows.map(_.getLong(0)).toSeq
      // unit centroids ĉ = cv/cnorm — the same IEEE division
      // `transform(cv, x -> x / cnorm)` performs per element
      val chats = rows.map(r => r.getSeq[Double](1).map(_ / r.getDouble(2))).toSeq
      call_function("graft_pq_pack_res", col("v"), col("norm"), col("cell"),
        typedlit(labels), typedlit(chats), books)
    }
  }

  /** Packed → (vec_id, sub, code) rows — the shape ADC consumes.
    * Map-side arithmetic only (PqSpec pins the round-trip). */
  private[graft] def unpackCodes(codes: DataFrame): DataFrame =
    codes.withColumn("sub", explode(expr(s"sequence(0L, ${M - 1}L)")))
      .withColumn("code", expr("(pq div CAST(pow(16, sub) AS BIGINT)) % 16"))
      .select("vec_id", "sub", "code")

  /** The certified index dir IF it carries the default PQ component
    * (the defaultKmeans rule: a foreign scheme is refused, callers fall
    * back to the always-correct recompute). */
  private def servedPq(s: SparkSession, e: DataFrame): Option[String] =
    AnnIndex.resolveFor(s, e).filter(dir => AnnIndex.readMeta(s, dir).pqM == M)

  /** Codebooks + per-(vector, subspace) codes: served from the certified
    * AnnIndex when its frozen PQ component matches the default scheme
    * (codes come back by UNPACKING the persisted 4-byte column — the
    * production path reads code bytes, never vectors), derived live
    * otherwise. Served ≡ derived bit-for-bit (AnnIndexSpec). */
  private def resolvePq(s: SparkSession, d: String, e: DataFrame): (DataFrame, DataFrame) =
    servedPq(s, e) match {
      case Some(dir) =>
        (AnnIndex.readPqCodebooks(s, dir),
          unpackCodes(AnnIndex.readCodes(s, dir).select(col("vec_id"), col("pq"))))
      case None =>
        val cb = pqCodebooks(s, s.read.parquet(s"$d/embeddings.parquet").drop("label"))
        (cb, assignCodes(subvectors(e), cb))
    }

  /** (vec_id, sub, sv) RESIDUAL subvectors: û − centroid(assigned cell),
    * sliced — the IVFADC encoding input (Jégou et al. 2011 §III:
    * quantize the residual, not the vector). Residuals concentrate near
    * the origin per cell, so one shared 4-bit codebook can resolve
    * SUBCLUSTER structure that direct coding collapses onto the cell
    * center — the measured recall-0.13 blind spot on single-level
    * clustered corpora (BASELINE.md round-9 IVF-PQ row). `cent` is the
    * coarse quantizer (clabel, cv, cnorm); `assigned` maps vec_id →
    * cell. The decomposition is EXACT: û = ĉ + r with the UNIT
    * centroid ĉ = cv/cnorm, so q̂·û = q̂·ĉ + q̂·r — scoring adds the
    * (query, cell) unit-centroid term to the residual ADC sum, both in
    * integer micro-units. */
  private[graft] def residualSubvectors(e: DataFrame, cent: DataFrame,
                                        assigned: DataFrame): DataFrame =
    e.withColumn("u", expr("transform(v, x -> x / norm)"))
      .join(assigned, "vec_id")
      // residual against the UNIT centroid ĉ = cv/cnorm — û lives on
      // the unit sphere, so only the normalized centroid leaves a
      // per-cell-small residual (against raw cv the residual is
      // ≈ −(1 − 1/‖cv‖)·cv: cell-sized again, measured no-lift in
      // the `vector.respq` smoke before this normalization)
      .join(broadcast(cent.select(col("clabel").as("cell"),
        expr("transform(cv, x -> x / cnorm)").as("chat"))), "cell")
      .withColumn("r", expr("zip_with(u, chat, (a, b) -> a - b)"))
      .select(col("vec_id"), explode(expr(s"sequence(0, ${M - 1})")).as("sub"), col("r"))
      .withColumn("sv", expr(s"slice(r, sub * $DSUB + 1, $DSUB)"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("sv"))

  /** Training invocations — the memo's observable (spec-pinned). */
  private[graft] val pqTrainCount = new java.util.concurrent.atomic.AtomicLong()

  /** MEMOIZED per (session, corpus fingerprint): training is ~2·ITERS
    * corpus passes and every query in this family needs the same
    * codebooks. Probe = one fingerprint agg pass; cached value =
    * M×KSUB×DSUB driver-held doubles (8 KiB). Bounded at 8 corpora
    * (the CacheHygiene discipline). */
  private val pqMemo =
    new java.util.LinkedHashMap[String, Seq[(Long, Long, Seq[Double])]](16, 0.75f, true) {
      // oldest-first eviction past the bound — a ninth corpus must not
      // wipe the live codebooks other queries are mid-session reusing
      // (a full clear() forced silent O(corpus) Lloyd retrains)
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[(Long, Long, Seq[Double])]]): Boolean = size > 8
    }

  private def pqMemoized(key: String)(train: => Seq[(Long, Long, Seq[Double])]): Seq[(Long, Long, Seq[Double])] = {
    // double-checked: training is a multi-pass Spark job — holding the
    // global lock through it would serialize unrelated corpora's
    // trainings; a rare concurrent duplicate train is the cheaper evil
    val hit = pqMemo.synchronized(pqMemo.get(key))
    if (hit != null) return hit
    val trained = train
    pqMemo.synchronized {
      val raced = pqMemo.get(key)
      if (raced != null) raced else { pqMemo.put(key, trained); trained }
    }
  }

  /** The deterministic training sample of a raw embeddings frame — the
    * md5-head of its prepped form at this session's target. Exposed so
    * AnnIndex.build can derive it ONCE, persist it, and feed both the
    * direct and the residual training (two sample scans become one). */
  private[graft] def trainSampleFor(s: SparkSession, raw: DataFrame, n: Long): DataFrame =
    SimilarityQueries.trainSampleOf(SimilarityQueries.prep(s, raw), n,
      SimilarityQueries.trainSampleTarget(s, KSUB.toLong))

  /** `sample`/`fpKnown`: a caller that already holds the corpus
    * fingerprint (AnnIndex.build just computed it) and a persisted
    * [[trainSampleFor]] frame passes both — the memo probe's full
    * content scan and the sample re-derivation scan are skipped. The
    * caller PLEDGES sample ≡ trainSampleFor(raw, fp._1): the memo key
    * stays (session, fingerprint), so a mismatched pledge would poison
    * the session's codebooks. */
  private[graft] def pqCodebooks(s: SparkSession, raw: DataFrame,
                                 sample: Option[DataFrame] = None,
                                 fpKnown: Option[(Long, Long, Long, Long, Long)] = None): DataFrame = {
    val fp = fpKnown.getOrElse(AnnIndex.fingerprint(raw))
    val tgt = SimilarityQueries.trainSampleTarget(s, KSUB.toLong) // output depends on it
    val key = s"${System.identityHashCode(s)}:$fp:$tgt"
    cbFrame(s, pqMemoized(key) {
      val e = sample.getOrElse(trainSampleFor(s, raw, fp._1))
      trainPqOn(s, e, subvectors(e))
    })
  }

  /** RESIDUAL codebooks — the same deterministic Lloyd over
    * [[residualSubvectors]] instead of the direct unit subvectors.
    * Memoized like [[pqCodebooks]], but the key folds in the COARSE
    * QUANTIZER's content too: residual codebooks are trained against a
    * specific centroid set, and one session can legitimately hold two
    * quantizers for the same corpus (the label quantizer in a scale
    * smoke, the kmeans one in sim_ivfpq_res) — a corpus-only key would
    * silently serve codebooks trained against the other one. The
    * centroid term is a driver-side CONTENT DIGEST (md5 over the
    * serialized, label-sorted rows) of the collected k rows — bounded
    * (the quantizer is driver-sized by construction), and
    * collision-free in any realistic session, unlike a 32-bit
    * Seq.hashCode whose collision would silently serve codebooks
    * trained against the wrong centroid set. */
  private[graft] def pqResCodebooks(s: SparkSession, raw: DataFrame,
                                    cent: DataFrame, assigned: DataFrame,
                                    sample: Option[DataFrame] = None,
                                    fpKnown: Option[(Long, Long, Long, Long, Long)] = None): DataFrame = {
    val centKey = {
      val md = java.security.MessageDigest.getInstance("MD5")
      cent.select(col("clabel").cast("long"), col("cv")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
        .foreach { case (l, cv) =>
          md.update(s"$l:${cv.mkString(",")};".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      md.digest().map("%02x".format(_)).mkString
    }
    val fp = fpKnown.getOrElse(AnnIndex.fingerprint(raw))
    val tgt = SimilarityQueries.trainSampleTarget(s, KSUB.toLong) // output depends on it
    val key = s"${System.identityHashCode(s)}:res:$fp:$centKey:$tgt"
    cbFrame(s, pqMemoized(key) {
      // sampled past the gate like the direct books — residuals of the
      // md5-head sample against the SAME frozen centroids train the
      // same-quality codebooks at a bounded cost (assigned joins down
      // to the sample's rows)
      val e = sample.getOrElse(trainSampleFor(s, raw, fp._1))
      trainPqOn(s, e, residualSubvectors(e, cent, assigned))
    })
  }

  /** Per-subspace deterministic Lloyd. Seeds: the SAME KSUB vectors for
    * every subspace — the md5(vec_id)-ranked head, the kmeans_centroids
    * seed rule — each subspace seeding from its own slice of them.
    * Updates: per-dimension avg rounded to 6dp; an emptied code keeps
    * its previous center. Each iteration collects M×KSUB×DSUB rounded
    * doubles to the driver (bounded metadata, like the engine's day
    * lists). */
  /** The Lloyd core over ANY (vec_id, sub, sv) frame — direct subvectors
    * (the round-9 scheme) or residuals (IVFADC). Seeds stay the
    * md5(vec_id)-ranked head of `e` either way, each subspace seeding
    * from its own slice of the SOURCE frame. */
  private def trainPqOn(s: SparkSession, e: DataFrame,
                        svIn: DataFrame): Seq[(Long, Long, Seq[Double])] = {
    pqTrainCount.incrementAndGet()
    // borrow-don't-own (TransientCache): the subvector plan can alias a
    // frame another query's memo persisted — never evict it on exit
    val sv = svIn
    graft.core.TransientCache.borrowCached(sv) {
      val seedIds = e.select(col("vec_id"))
        .withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy("h", "vec_id").limit(KSUB)
        .collect() // bounded: KSUB rows (TakeOrdered, no global sort)
        .map(_.getLong(0))
      val seedRank = seedIds.zipWithIndex.toMap
      var cb: Seq[(Long, Long, Seq[Double])] = sv
        .filter(col("vec_id").isin(seedIds: _*))
        .collect() // bounded: KSUB × M rows
        .map(r => (r.getLong(r.fieldIndex("sub")),
          seedRank(r.getLong(r.fieldIndex("vec_id"))).toLong,
          r.getSeq[Double](r.fieldIndex("sv"))))
        .sortBy(c => (c._1, c._2))
      for (_ <- 1 to ITERS) {
        // one-pass code column — no assign-shuffle, no join back to sv
        val means = withCode(sv, cbFrame(s, cb))
          .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("dim", "x")))
          .groupBy("sub", "code", "dim").agg(round(avg("x"), 6).as("cx"))
          .groupBy("sub", "code")
          .agg(expr("transform(array_sort(collect_list(struct(dim, cx))), p -> p.cx)").as("cv"))
          .collect() // bounded: ≤ M × KSUB rows
          .map(r => ((r.getLong(r.fieldIndex("sub")), r.getLong(r.fieldIndex("code"))),
            r.getSeq[Double](r.fieldIndex("cv"))))
          .toMap
        cb = cb.map { case (sub, code, old) => (sub, code, means.getOrElse((sub, code), old)) }
      }
      cb
    }
  }

  // -------------------------------------------------------------------
  // Oracle CTE chain: e → u → sv → seeds → c0 → (d/a/m/n/c)×ITERS.
  // Mirrors trainPq step-for-step (same micro-distances, same rounding,
  // same tiebreaks, same coalesce-on-empty). `p` prefixes every CTE name
  // so the chain composes after another chain that owns `e`/`seeds`/`c*`
  // (sim_ivfpq appends it to the k-means chain); `lead=false` drops the
  // WITH head and reuses the existing `e` (identical definition).
  // -------------------------------------------------------------------
  private def pqOracleCtes(px: String = "", lead: Boolean = true,
                           svSource: Option[String] = None): String = {
    val eHead = if (lead)
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        |  FROM embeddings
        |), """.stripMargin
    else ", "
    // svSource: an EXISTING (vec_id, sub, sv) CTE (the residual chain)
    // replaces the direct unit-subvector derivation; training steps and
    // codesCte reference ${px}sv either way
    val svCtes = svSource match {
      case Some(src) =>
        s"""${px}sv AS (
           |  SELECT vec_id, sub, sv FROM $src
           |)""".stripMargin
      case None =>
        s"""${px}u AS (
           |  SELECT vec_id, list_transform(v, x -> x / norm) AS u FROM e
           |), ${px}sv AS (
           |  SELECT u.vec_id, g.s AS sub, (u.u)[(g.s * $DSUB + 1):(g.s * $DSUB + $DSUB)] AS sv
           |  FROM ${px}u u CROSS JOIN generate_series(0, ${M - 1}) g(s)
           |)""".stripMargin
    }
    val head =
      s"""$eHead$svCtes, ${px}seeds AS (
         |  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS code, vec_id
         |  FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $KSUB
         |), ${px}c0 AS (
         |  SELECT sv.sub, s.code, sv.sv AS cv
         |  FROM ${px}seeds s JOIN ${px}sv sv ON s.vec_id = sv.vec_id
         |)""".stripMargin
    val steps = (1 to ITERS).map { i =>
      s""", ${px}d$i AS (
         |  SELECT sv.vec_id, sv.sub, c.code,
         |         CAST(floor(((list_dot_product(sv.sv, sv.sv) - 2 * list_dot_product(sv.sv, c.cv))
         |           + list_dot_product(c.cv, c.cv)) * 1000000 + 0.5) AS BIGINT) AS d2m
         |  FROM ${px}sv sv JOIN ${px}c${i - 1} c ON sv.sub = c.sub
         |), ${px}a$i AS (
         |  SELECT vec_id, sub, code FROM (
         |    SELECT vec_id, sub, code,
         |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2m, code) AS rk
         |    FROM ${px}d$i) WHERE rk = 1
         |), ${px}m$i AS (
         |  SELECT a.sub, a.code, g.d AS dim, round(avg(sv.sv[g.d + 1]), 6) AS cx
         |  FROM ${px}a$i a JOIN ${px}sv sv ON a.vec_id = sv.vec_id AND a.sub = sv.sub
         |  CROSS JOIN generate_series(0, ${DSUB - 1}) g(d)
         |  GROUP BY 1, 2, 3
         |), ${px}n$i AS (
         |  SELECT sub, code, list(cx ORDER BY dim) AS cv FROM ${px}m$i GROUP BY sub, code
         |), ${px}c$i AS (
         |  SELECT p.sub, p.code, coalesce(n.cv, p.cv) AS cv
         |  FROM ${px}c${i - 1} p LEFT JOIN ${px}n$i n ON p.sub = n.sub AND p.code = n.code
         |)""".stripMargin
    }.mkString
    head + steps
  }

  /** Final (vec_id, sub, code) assignment CTE against ${px}c$ITERS. */
  private def codesCte(px: String = ""): String =
    s""", ${px}df AS (
       |  SELECT sv.vec_id, sv.sub, c.code,
       |         CAST(floor(((list_dot_product(sv.sv, sv.sv) - 2 * list_dot_product(sv.sv, c.cv))
       |           + list_dot_product(c.cv, c.cv)) * 1000000 + 0.5) AS BIGINT) AS d2m
       |  FROM ${px}sv sv JOIN ${px}c$ITERS c ON sv.sub = c.sub
       |), ${px}codes AS (
       |  SELECT vec_id, sub, code FROM (
       |    SELECT vec_id, sub, code,
       |           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2m, code) AS rk
       |    FROM ${px}df) WHERE rk = 1
       |)""".stripMargin

  /** ADC scoring CTEs: LUT (query subvector · codebook entry, micro) +
    * per-(query, candidate) BIGINT sums over the M code lookups. */
  private def adcCtes(px: String = ""): String =
    s""", ${px}qsv AS (
       |  SELECT vec_id AS query_id, sub, sv FROM ${px}sv WHERE vec_id < $N_QUERIES
       |), ${px}lut AS (
       |  SELECT q.query_id, c.sub, c.code,
       |         CAST(floor(list_dot_product(q.sv, c.cv) * 1000000 + 0.5) AS BIGINT) AS lut_micro
       |  FROM ${px}qsv q JOIN ${px}c$ITERS c ON q.sub = c.sub
       |), ${px}adc AS (
       |  SELECT l.query_id, k.vec_id AS neighbor_id, sum(l.lut_micro)::BIGINT AS adc_micro
       |  FROM ${px}codes k JOIN ${px}lut l ON k.sub = l.sub AND k.code = l.code
       |  WHERE k.vec_id <> l.query_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  // -------------------------------------------------------------------
  // X3g pq_codebooks — the trained per-subspace codebooks. The gate
  // hash-checks the entire training pipeline (seeds, assignments,
  // updates) at M×KSUB rows of output.
  // -------------------------------------------------------------------
  // The gated projection serializes the centroid as a micro-integer CSV
  // string (the doc_embed rule: the driver comparator cannot sort array
  // cells). Each cv element is already rounded to 6dp identically in
  // both engines, so floor(x*1e6 + 0.5) recovers the same integer —
  // double→string formatting (which differs cross-engine) never runs.
  val codebooks: QueryDef = QueryDef(
    build = (s, d) =>
      pqCodebooks(s, s.read.parquet(s"$d/embeddings.parquet").drop("label"))
        .select(col("sub"), col("code"),
          expr("concat_ws(',', transform(cv, x -> CAST(floor(x * 1000000 + 0.5D) AS BIGINT)))")
            .as("cv_micro_csv"))
        .orderBy("sub", "code"),
    oracle = Some(
      s"""${pqOracleCtes()}
         |SELECT sub, code,
         |       array_to_string(list_transform(cv, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)), ',') AS cv_micro_csv
         |FROM c$ITERS ORDER BY sub, code""".stripMargin),
    doc = "X3 product-quantization codebooks: per-subspace deterministic Lloyd (M=8 × KSUB=16, 4-bit codes)")

  // -------------------------------------------------------------------
  // X3h pq_codes — every vector encoded as one packed BIGINT (8 × 4-bit
  // codes). This is the artifact a 100 TB deployment persists: 4 bytes
  // of code per 256-byte vector. Packing is an order-free integer sum;
  // 16^sub is exact in double, so the CAST is exact in both engines.
  // -------------------------------------------------------------------
  val codes: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d)
      // the one query whose served path is a PURE index read: the packed
      // column IS the answer
      servedPq(s, e) match {
        case Some(dir) =>
          AnnIndex.readCodes(s, dir).select(col("vec_id"), col("pq").as("pq_code"))
            .orderBy("vec_id")
        case None =>
          val cb = pqCodebooks(s, s.read.parquet(s"$d/embeddings.parquet").drop("label"))
          packedCodes(e, cb).select(col("vec_id"), col("pq").as("pq_code"))
            .orderBy("vec_id")
      }
    },
    oracle = Some(
      s"""${pqOracleCtes()}${codesCte()}
         |SELECT vec_id, sum(code * CAST(pow(16, sub) AS BIGINT))::BIGINT AS pq_code
         |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin),
    doc = "X3 PQ encoding: 64-dim float vector → packed 32-bit code (64× compression)")

  // -------------------------------------------------------------------
  // X3i sim_pq — ADC top-k. The scan side touches ONLY (vec_id, sub,
  // code) rows joined to a broadcast 128-entry-per-query LUT: map-side
  // lookup, partial BIGINT sum, one shuffle of (query, candidate)
  // partials, one bounded per-query window. At 10⁹ vectors this is the
  // only X3 path whose query-time I/O is measured in code bytes, not
  // vector bytes.
  // -------------------------------------------------------------------
  val simPq: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d)
      val (cb, codeRows) = resolvePq(s, d, e)
      val lut = subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(cb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      // top-K via the graft_topk bounded heap, not a row_number window:
      // the window shuffled every ADC-scored candidate into |queries|
      // partitions and sorted them; the heap partial-aggregates
      // map-side (heap tie order = the window's ORDER BY). adc_micro
      // (≤ 8 subs × ~1e8) is far under 2^53, so the DOUBLE heap score
      // is exact and the cast back to BIGINT loses nothing.
      codeRows
        .join(broadcast(lut), Seq("sub", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("lut_micro").as("adc_micro"))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, $K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").cast("long").as("adc_micro"))
        .orderBy("query_id", "rank")
    },
    oracle = Some(
      s"""${pqOracleCtes()}${codesCte()}${adcCtes()}, ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_micro DESC, neighbor_id) AS rank
         |  FROM adc
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, adc_micro
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin),
    doc = "X3 PQ asymmetric-distance top-k: broadcast LUT, code-only scan, order-free BIGINT scores")

  // -------------------------------------------------------------------
  // X3j pq_recall — the evaluation harness (the sim_recall discipline):
  // per query, recall@K of the ADC ranking against the exact-cosine
  // truth, plus the summed |ADC − exact| micro-error over the truth
  // pairs — the quantization-distortion number a deployment reads
  // before trusting 64×-compressed scores. Truth pays one brute-force
  // pass (priced like sim_recall's truth leg).
  // -------------------------------------------------------------------
  val recall: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      val (cb, codeRows) = resolvePq(s, d, e)
      // exact truth: top-K per query by micro-cosine
      val q = e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      // truth top-K via the graft_topk heap (the sim_pq rationale);
      // exact_micro ≤ 1e6 so the DOUBLE heap score is exact
      val truth = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("exact_micro", expr(
          "CAST(floor(graft_dot(v, qv) / (norm * qnorm) * 1000000 + 0.5D) AS BIGINT)"))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(CAST(exact_micro AS DOUBLE), vec_id, $K)").as("top"))
        .select(col("query_id"), explode(col("top")).as("t"))
        .select(col("query_id"), col("t.id").as("neighbor_id"),
          col("t.score").cast("long").as("exact_micro"))
      // ADC scores for every (query, candidate)
      val lut = subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(cb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val adc = codeRows
        .join(broadcast(lut), Seq("sub", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("lut_micro").as("adc_micro"))
      val approx = adc
        .groupBy("query_id")
        .agg(expr(s"graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, $K)").as("top"))
        .select(col("query_id"), explode(col("top.id")).as("neighbor_id"), lit(1L).as("hit"))
      truth
        .join(adc, Seq("query_id", "neighbor_id"))
        .join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
          sum(abs(col("adc_micro") - col("exact_micro"))).as("err_sum_micro"))
        .select(col("query_id"), col("n_truth"), col("n_hit"),
          expr("n_hit * 1000000L div n_truth").as("recall_ppm"),
          col("err_sum_micro"))
        .orderBy("query_id")
    },
    oracle = Some(
      s"""${pqOracleCtes()}${codesCte()}${adcCtes()}, q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e WHERE vec_id < $N_QUERIES
         |), truth AS (
         |  SELECT query_id, neighbor_id, exact_micro FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           CAST(floor(list_dot_product(e.v, q.qv) / (e.norm * q.qnorm) * 1000000 + 0.5) AS BIGINT) AS exact_micro,
         |           row_number() OVER (PARTITION BY q.query_id ORDER BY
         |             CAST(floor(list_dot_product(e.v, q.qv) / (e.norm * q.qnorm) * 1000000 + 0.5) AS BIGINT) DESC,
         |             e.vec_id) AS trank
         |    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
         |  ) WHERE trank <= $K
         |), approx AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_micro DESC, neighbor_id) AS arank
         |    FROM adc) WHERE arank <= $K
         |)
         |SELECT t.query_id, count(*)::BIGINT AS n_truth,
         |       sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
         |       (sum(CASE WHEN x.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
         |          // count(*))::BIGINT AS recall_ppm,
         |       sum(abs(a.adc_micro - t.exact_micro))::BIGINT AS err_sum_micro
         |FROM truth t
         |JOIN adc a ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |LEFT JOIN approx x ON x.query_id = t.query_id AND x.neighbor_id = t.neighbor_id
         |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin),
    doc = "X3 PQ evaluation harness: recall@K of ADC vs exact-cosine truth + quantization distortion")

  // -------------------------------------------------------------------
  // X3k sim_ivfpq — the standard composition (IVF-PQ, Jégou et al.
  // 2011; the FAISS IVFPQ layout): the coarse k-means quantizer prunes
  // WHICH vectors are considered (probe the N_PROBE nearest cells, the
  // sim_ivf_kmeans rule), and ADC decides HOW they are scored (code
  // lookups against the broadcast LUT, the sim_pq rule). At 10⁹+
  // vectors this is the shape that actually runs: candidate volume
  // bounded by probed-cell occupancy (ivf_cell_stats measures it),
  // scoring I/O bounded by code bytes. The oracle appends the
  // prefix-isolated PQ chain to the k-means chain, so the gate checks
  // both quantizers end-to-end in one statement.
  // -------------------------------------------------------------------
  val ivfPq: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      val (cb, codeRows0) = resolvePq(s, d, e)
      // coarse quantizer: the sim_ivf_kmeans cells
      val (cent, assigned) = SimilarityQueries.kmeansCells(s, d, e)
      // probes via the graft_topk heap (the sim_pq rationale; heap tie
      // order = the window's ORDER BY)
      val probes = SimilarityQueries.cellSims(e.filter(col("vec_id") < N_QUERIES), cent)
        .groupBy("vec_id")
        .agg(expr(s"graft_topk(csim, CAST(clabel AS BIGINT), ${SimilarityQueries.N_PROBE})").as("top"))
        .select(col("vec_id").as("query_id"), explode(col("top.id")).as("cell"))
      val cand = probes.join(assigned, "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
      val lut = subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(cb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val codeRows = codeRows0.withColumnRenamed("vec_id", "neighbor_id")
      cand.join(codeRows, "neighbor_id")
        .join(broadcast(lut), Seq("query_id", "sub", "code"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum("lut_micro").as("adc_micro"))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, $K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").cast("long").as("adc_micro"))
        .orderBy("query_id", "rank")
    },
    oracle = Some(
      s"""${SimilarityQueries.kmeansOracleCtes(SimilarityQueries.KMEANS_K, SimilarityQueries.KMEANS_ITERS)}${pqOracleCtes("p", lead = false)}${codesCte("p")}${adcCtes("p")}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c${SimilarityQueries.KMEANS_ITERS} c
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk FROM sims
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM rk WHERE rk = 1
         |), probes AS (
         |  SELECT vec_id AS query_id, clabel AS cell FROM rk
         |  WHERE rk <= ${SimilarityQueries.N_PROBE} AND vec_id < $N_QUERIES
         |), cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.query_id
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id, ad.adc_micro
         |  FROM cand c JOIN padc ad
         |    ON ad.query_id = c.query_id AND ad.neighbor_id = c.neighbor_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_micro DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, adc_micro
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin),
    doc = "X3 IVF-PQ: coarse-cell pruning (probe-2) + ADC code scoring — the FAISS-layout composition")

  // -------------------------------------------------------------------
  // X3k' sim_ivfpq_res — IVF-PQ with RESIDUAL encoding (the actual
  // IVFADC of Jégou et al. 2011 §III, what FAISS IndexIVFPQ ships by
  // default): codes quantize û − centroid(cell) instead of û. Why it
  // exists: on clustered corpora every in-cell vector sits near the
  // shared center, so direct 4-bit codes collapse onto it — measured
  // recall 0.13 (BASELINE.md round-9 IVF-PQ row). Residuals re-center
  // each cell's mass at the origin, spending the codebook's 16 levels
  // on the within-cell structure. Scoring uses the exact decomposition
  // q̂·û = q̂·c + q̂·r̂: the (query, probed-cell) centroid term is
  // computed exactly (|queries| × k dots) and added to the residual ADC
  // sum — both integer micro, so the ranking is order-free and the
  // oracle replays the entire kmeans → residual → Lloyd → ADC chain.
  // -------------------------------------------------------------------
  val ivfPqRes: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      val raw = s.read.parquet(s"$d/embeddings.parquet").drop("label")
      // coarse quantizer: the sim_ivf_kmeans cells
      val dirOpt = SimilarityQueries.kmeansIndex(s, e)
      val (cent, assigned) = SimilarityQueries.kmeansCells(s, d, e, dirOpt)
      // residual component SERVED from the index when it persists one
      // (meta pq_res_m matches): books read frozen, codes come back by
      // unpacking the stored pqr bytes — no vector I/O, no per-session
      // retrain. Served ≡ recomputed bit-for-bit: the index trains its
      // books through the SAME pqResCodebooks derivation against the
      // same frozen centroids, and the one-pass pack expression is
      // spec-pinned to the compositional residual coder (PqSpec).
      val resDir = dirOpt.filter(dd => AnnIndex.readMeta(s, dd).pqResM == M)
      val rcb = resDir match {
        case Some(dir) => AnnIndex.readPqResCodebooks(s, dir)
        case None => pqResCodebooks(s, raw, cent, assigned)
      }
      val rcodes = (resDir match {
        case Some(dir) => unpackCodes(
          AnnIndex.readCodes(s, dir).select(col("vec_id"), col("pqr").as("pq")))
        case None => assignCodes(residualSubvectors(e, cent, assigned), rcb)
      }).withColumnRenamed("vec_id", "neighbor_id")
      // probes via the graft_topk heap (the sim_pq rationale)
      val probes = SimilarityQueries.cellSims(e.filter(col("vec_id") < N_QUERIES), cent)
        .groupBy("vec_id")
        .agg(expr(s"graft_topk(csim, CAST(clabel AS BIGINT), ${SimilarityQueries.N_PROBE})").as("top"))
        .select(col("vec_id").as("query_id"), explode(col("top.id")).as("cell"))
      // a vector lives in exactly one cell, so (query, neighbor)
      // determines cell — no dedup needed, the pair set matches the
      // oracle's DISTINCT
      val cand = probes.join(assigned.withColumnRenamed("vec_id", "neighbor_id"), "cell")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select("query_id", "neighbor_id", "cell")
      val lut = subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(rcb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val qcell = e.filter(col("vec_id") < N_QUERIES)
        .withColumn("u", expr("transform(v, x -> x / norm)"))
        .select(col("vec_id").as("query_id"), col("u"))
        .crossJoin(broadcast(cent))
        .withColumn("qc_micro", // q̂ · ĉ = q̂·cv / cnorm — the exact term of û = ĉ + r
          expr("CAST(floor(graft_dot(u, cv) / cnorm * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("query_id"), col("clabel").as("cell"), col("qc_micro"))
      cand.join(rcodes, "neighbor_id")
        .join(broadcast(lut), Seq("query_id", "sub", "code"))
        .groupBy("query_id", "neighbor_id", "cell")
        .agg(sum("lut_micro").as("radc_micro"))
        .join(broadcast(qcell), Seq("query_id", "cell"))
        .withColumn("adc_micro", col("qc_micro") + col("radc_micro"))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, $K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").cast("long").as("adc_micro"))
        .orderBy("query_id", "rank")
    },
    oracle = Some {
      val ki = SimilarityQueries.KMEANS_ITERS
      s"""${SimilarityQueries.kmeansOracleCtes(SimilarityQueries.KMEANS_K, ki)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$ki c
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk FROM sims
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM rk WHERE rk = 1
         |), ru AS (
         |  SELECT e.vec_id,
         |         list_transform(generate_series(1, ${M * DSUB}), i -> (e.v[i] / e.norm) - (c.cv[i] / c.cnorm)) AS r
         |  FROM e JOIN assigned a ON a.vec_id = e.vec_id JOIN c$ki c ON c.clabel = a.cell
         |), rsv0 AS (
         |  SELECT vec_id, g.s AS sub, (r)[(g.s * $DSUB + 1):(g.s * $DSUB + $DSUB)] AS sv
         |  FROM ru CROSS JOIN generate_series(0, ${M - 1}) g(s)
         |)${pqOracleCtes("r", lead = false, svSource = Some("rsv0"))}${codesCte("r")}, qu AS (
         |  SELECT vec_id AS query_id, list_transform(v, x -> x / norm) AS u
         |  FROM e WHERE vec_id < $N_QUERIES
         |), qsv AS (
         |  SELECT query_id, g.s AS sub, (u)[(g.s * $DSUB + 1):(g.s * $DSUB + $DSUB)] AS sv
         |  FROM qu CROSS JOIN generate_series(0, ${M - 1}) g(s)
         |), rlut AS (
         |  SELECT q.query_id, c.sub, c.code,
         |         CAST(floor(list_dot_product(q.sv, c.cv) * 1000000 + 0.5) AS BIGINT) AS lut_micro
         |  FROM qsv q JOIN rc$ITERS c ON q.sub = c.sub
         |), qcell AS (
         |  SELECT u.query_id, c.clabel AS cell,
         |         CAST(floor(list_dot_product(u.u, c.cv) / c.cnorm * 1000000 + 0.5) AS BIGINT) AS qc_micro
         |  FROM qu u CROSS JOIN c$ki c
         |), probes AS (
         |  SELECT vec_id AS query_id, clabel AS cell FROM rk
         |  WHERE rk <= ${SimilarityQueries.N_PROBE} AND vec_id < $N_QUERIES
         |), cand AS (
         |  SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.query_id
         |), radc AS (
         |  SELECT c.query_id, c.neighbor_id, c.cell, sum(l.lut_micro)::BIGINT AS radc_micro
         |  FROM cand c
         |  JOIN rcodes k ON k.vec_id = c.neighbor_id
         |  JOIN rlut l ON l.query_id = c.query_id AND l.sub = k.sub AND l.code = k.code
         |  GROUP BY 1, 2, 3
         |), scored AS (
         |  SELECT r.query_id, r.neighbor_id, q.qc_micro + r.radc_micro AS adc_micro
         |  FROM radc r JOIN qcell q ON q.query_id = r.query_id AND q.cell = r.cell
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_micro DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, adc_micro
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    doc = "X3 IVF-PQ with residual encoding (IVFADC, the FAISS IndexIVFPQ default): codes quantize u - centroid(cell); score = exact (query, cell) centroid term + residual ADC - fixes the measured direct-coding collapse on clustered corpora")

  // -------------------------------------------------------------------
  // X3l sim_pq_rerank — the production serving pattern (how FAISS-style
  // deployments actually answer queries): ADC ranks the WHOLE corpus
  // from code bytes, only the top-R shortlist ever touches float
  // vectors for exact rerank. Vector I/O per query is R/N of the
  // corpus (50/N here; a 10⁹-vector deployment reads 50 vectors
  // instead of 10⁹). pq_recall measures what raw ADC gets; this query
  // IS the answer surface that closes most of that gap (BASELINE.md
  // quotes the 1M-vector measurement).
  // -------------------------------------------------------------------
  val rerank: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      val (cb, codeRows) = resolvePq(s, d, e)
      val lut = subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(cb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      // both rank steps via the graft_topk heap (the sim_pq rationale):
      // the ADC shortlist needs only the id set, the exact rerank
      // emits cos_micro back from the heap score
      codeRows
        .join(broadcast(lut), Seq("sub", "code"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("lut_micro").as("adc_micro"))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, $RERANK_R)").as("top"))
        .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
        .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
        .join(broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))), "query_id")
        .withColumn("cos_micro", expr(
          "CAST(floor(graft_dot(v, qv) / (norm * qnorm) * 1000000 + 0.5D) AS BIGINT)"))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(CAST(cos_micro AS DOUBLE), neighbor_id, $K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").cast("long").as("cos_micro"))
        .orderBy("query_id", "rank")
    },
    oracle = Some(
      s"""${pqOracleCtes()}${codesCte()}${adcCtes()}, short AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adc_micro DESC, neighbor_id) AS arank
         |    FROM adc) WHERE arank <= $RERANK_R
         |), rr AS (
         |  SELECT s.query_id, s.neighbor_id,
         |         CAST(floor(list_dot_product(en.v, eq.v) / (en.norm * eq.norm) * 1000000 + 0.5) AS BIGINT) AS cos_micro
         |  FROM short s
         |  JOIN e en ON en.vec_id = s.neighbor_id
         |  JOIN e eq ON eq.vec_id = s.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_micro DESC, neighbor_id) AS rank
         |  FROM rr
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos_micro
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin),
    doc = "X3 PQ serving pattern: ADC shortlist (code-only scan) + exact rerank of top-R — bounded vector I/O")

  val defs: Map[String, QueryDef] = Map(
    "pq_codebooks"  -> codebooks,
    "pq_codes"      -> codes,
    "sim_pq"        -> simPq,
    "pq_recall"     -> recall,
    "sim_ivfpq"     -> ivfPq,
    "sim_ivfpq_res" -> ivfPqRes,
    "sim_pq_rerank" -> rerank,
  )
}
