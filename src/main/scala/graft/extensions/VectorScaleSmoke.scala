package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity-search scale smoke: synthesize N 64-dim vectors (default
  * 1M — 500× the sf0.1 embeddings table) and drive the X3 paths against
  * them. Not a driver gate; measured evidence that the ANN design holds
  * when the corpus is no longer toy-sized:
  *
  *  - brute-force top-k scales linearly in N per query (the baseline
  *    everyone pays without an index);
  *  - SRP-LSH scores only same-band-bucket candidates — the candidate
  *    ratio printed here is the fraction of the corpus each query
  *    actually touches (for random vectors ≈ 1-(15/16)^4 ≈ 23 %; real
  *    corpora cluster, pushing matches into shared buckets and the
  *    ratio down).
  *
  * Usage: runMain graft.extensions.VectorScaleSmoke [rows]
  */
object VectorScaleSmoke {
  private val DIMS = 64
  private val K = 10
  private val N_QUERIES = 50

  def main(args: Array[String]): Unit = {
    val rows = if (args.nonEmpty) args(0).toLong else 1000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.PhaseLog.enable() // index-build phase timings
    graft.functions.VectorFunctions.register(spark)

    def time[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[vscale] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // ---- "ivfpq" mode: the IVF-PQ serving chain one decade past the
    // full smoke's 1M evidence (runMain … VectorScaleSmoke 10000000 ivfpq).
    // Corpus: CLUSTERS deterministic hash centers + per-vector noise —
    // genuine ANN geometry (a query's true top-k live in its cluster at
    // graded cosines, cross-cluster pairs are near-orthogonal), unlike
    // the lattice corpus below whose 1M rows are 2000 distinct vectors.
    // The mode runs ONLY ingest (AnnIndex.build: label quantizer +
    // 4-bit PQ codebooks + packed codes) and the production read path
    // (probe-N centroid scan → cell candidates → ADC over packed codes
    // → shortlist rerank on true vectors), so each wall-clock line is a
    // component of the serving story: at 10⁹ vectors the 8-byte codes
    // column is what fits in memory, and candidate volume stays
    // ∝ nprobe/CLUSTERS of the corpus.
    if (args.length > 1 && args(1) == "ivfpq") {
      // 250 cells, not √N: build-time cell assignment is a broadcast
      // corpus×centroids join (rows × CLUSTERS pairs — 2.5e9 here; the
      // FAISS-style fix at 10⁹ rows is assigning against a coarse ANN
      // of the centroids, not brute force), while serving cost is
      // candidates ∝ nprobe/CLUSTERS — 40k vectors/cell keeps both ends
      // honest at this scale
      val CLUSTERS = 250
      val SUBS = 100000L // fine structure: ~100 members each at 10M rows
      // three-level hierarchy: cell-sized clusters (the IVF partition),
      // ~100-member subclusters INSIDE each cluster (sub % CLUSTERS =
      // cluster, so a subcluster never straddles cells), per-vector
      // noise. Weights put a query's true top-k in its subcluster
      // (cos ≈ .9) over in-cluster strangers (≈ .6) over cross-cluster
      // (≈ 0) — geometry the 4-bit ADC codes must RESOLVE, not a
      // single dominant center they would collapse on (a first cut
      // with one level measured recall 0.13: every in-cell code
      // quantized to the shared center — PQ-without-residuals'
      // documented blind spot, not a pipeline bug)
      val subCol = pmod(col("vec_id"), lit(SUBS))
      val clusterCol = pmod(subCol, lit(CLUSTERS.toLong))
      val vDims = (0 until DIMS).map { j =>
        lit(0.7) * (pmod(xxhash64(lit("c"), clusterCol, lit(j)), lit(2000L)) / 1000.0 - 1.0) +
          lit(0.5) * (pmod(xxhash64(lit("s"), subCol, lit(j)), lit(2000L)) / 1000.0 - 1.0) +
          lit(0.25) * (pmod(xxhash64(lit("n"), col("vec_id"), lit(j)), lit(2000L)) / 1000.0 - 1.0)
      }
      // Persist only through 10M rows (the r11/r12 protocol). Past that
      // the corpus is ~51 GB/10⁸ rows, but generation is pure expression
      // compute — every consumer's re-derivation is cheaper than a
      // disk-backed cache round-trip (the cells2-mode reasoning).
      val eBase = spark.range(rows)
        .select(col("id").as("vec_id"), array(vDims: _*).as("v"))
        .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      val e = if (rows <= 10000000L) {
        val p = eBase.persist()
        time(f"materialize $rows%,d clustered vectors ($CLUSTERS clusters × ${SUBS / CLUSTERS} subclusters)")(p.count())
        p
      } else {
        println(f"[vscale] streaming corpus (no persist) at $rows%,d rows")
        eBase
      }
      val q = e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
      // truth via the graft_topk bounded heap, NOT a row_number window:
      // the window form shuffles + sorts all rows × N_QUERIES scored
      // pairs through one exchange (~15 GB at 10M; a disk-filling
      // ~150 GB at 100M) — the heap partial-aggregates map-side and
      // ships N_QUERIES × K entries per task
      val brute = time(s"brute-force top-$K for $N_QUERIES queries (${rows * N_QUERIES} dots — the no-index baseline)") {
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cos_sim",
            call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
          .groupBy("query_id")
          .agg(expr(s"graft_topk(cos_sim, vec_id, $K)").as("top"))
          .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val idxDir = java.nio.file.Files.createTempDirectory("graft-vscale-ivfpq").toString
      val raw = spark.range(rows).select(col("id").as("vec_id"), array(vDims: _*).as("embedding"),
        clusterCol.cast("int").as("label"))
      time(f"AnnIndex.build at $rows%,d vectors ($CLUSTERS label cells + PQ codebooks + packed codes — once at ingest)")(
        AnnIndex.build(spark, raw, idxDir))
      val cent = AnnIndex.readCentroids(spark, idxDir)
      val assigned = AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("cell"))
      val packed = AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("pq"))
      val cb = AnnIndex.readPqCodebooks(spark, idxDir)
      val lut = PqQueries.subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(cb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val byQ = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell"))
      val probeSims = e.filter(col("vec_id") < N_QUERIES).crossJoin(broadcast(cent))
        .withColumn("csim",
          call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")))
        .select(col("vec_id").as("query_id"), col("clabel").as("cell"), col("csim"))
        .persist()
      probeSims.count()
      // (nprobe, shortlist) sweep: nprobe buys cell coverage, shortlist
      // buys ADC-resolution headroom (4-bit codes blur subcluster
      // boundaries — rerank depth is the FAISS-style recall knob, and
      // its cost is exactly shortlist/corpus of the vector I/O)
      var best = 0.0
      var deepRecall = 0.0 // the (4, 4000) config specifically — the gate below
      for ((nprobe, shortlist) <- Seq((1, 1000), (2, 1000), (2, 4000), (4, 4000))) {
        val probes = probeSims.withColumn("rk", row_number().over(byQ))
          .filter(col("rk") <= nprobe).select("query_id", "cell")
        val got = time(s"IVF-PQ probe-$nprobe + ADC + shortlist-$shortlist rerank top-$K (full serving chain)") {
          // candidate-bounded throughout: unpack PQ codes only for
          // probed-cell members (nprobe/CLUSTERS of the corpus), read
          // true vectors only for the 1000-row shortlist
          probes.join(assigned, "cell")
            .filter(col("vec_id") =!= col("query_id"))
            .join(packed, "vec_id")
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              explode(expr(s"sequence(0L, ${PqQueries.M - 1}L)")).as("sub"),
              col("pq"))
            .withColumn("code", expr("(pq div CAST(pow(16, sub) AS BIGINT)) % 16"))
            .join(broadcast(lut), Seq("query_id", "sub", "code"))
            .groupBy("query_id", "neighbor_id")
            .agg(sum("lut_micro").as("adc_micro"))
            // shortlist via the bounded heap (same order as the wAdc
            // window: adc DESC, neighbor ASC; adc_micro ≤ ~1.6e8 is
            // exact as a double) — candidates per query scale with
            // nprobe × corpus/CLUSTERS, a window sort at 10⁸ rows
            .groupBy("query_id")
            .agg(expr(s"graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, $shortlist)").as("sl"))
            .select(col("query_id"), explode(col("sl.id")).as("neighbor_id"))
            .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
            .join(broadcast(q), "query_id")
            .withColumn("cos_sim",
              call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
            .withColumn("rank", row_number().over(w))
            .filter(col("rank") <= K)
            .select("query_id", "neighbor_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val recall = got.intersect(brute).size.toDouble / brute.size
        best = math.max(best, recall)
        if (nprobe == 4 && shortlist == 4000) deepRecall = recall
        println(f"[vscale] IVF-PQ probe-$nprobe shortlist-$shortlist recall@$K at $rows%,d vectors: $recall%.3f " +
          f"(cells ${nprobe.toDouble / CLUSTERS}%.3f, vector I/O ${shortlist.toDouble / rows * 100}%.3f %% of corpus per query)")
      }
      // gate on the DEEP config's own recall, not the sweep max — a
      // shallower config clearing 0.9 must not mask a deep-config
      // regression
      assert(deepRecall >= 0.9,
        f"the deep config (probe-4, shortlist-4000) must hold ≥0.9 recall on the clustered corpus: $deepRecall%.3f (sweep best $best%.3f)")

      // ---- RESIDUAL (IVFADC) serving sweep from the PERSISTED pqres
      // component — the shortlist-vs-recall curve residual vs direct at
      // the same (probe, shortlist) points. Scoring: exact (query, cell)
      // unit-centroid micro term + residual ADC sum (the sim_ivfpq_res
      // decomposition), codes read back from the stored pqr column —
      // no vector I/O until the shortlist rerank.
      val rcb = AnnIndex.readPqResCodebooks(spark, idxDir)
      val packedR = AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("pqr"))
      val rlut = PqQueries.subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(rcb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val qcell = e.filter(col("vec_id") < N_QUERIES)
        .withColumn("u", expr("transform(v, x -> x / norm)"))
        .select(col("vec_id").as("query_id"), col("u"))
        .crossJoin(broadcast(cent))
        .withColumn("qc_micro",
          expr("CAST(floor(graft_dot(u, cv) / cnorm * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("query_id"), col("clabel").as("cell"), col("qc_micro"))
      var resAt2k1000 = 0.0
      var dirAt2k1000 = 0.0
      for ((nprobe, shortlist) <- Seq((2, 1000), (2, 4000))) {
        val probes = probeSims.withColumn("rk", row_number().over(byQ))
          .filter(col("rk") <= nprobe).select("query_id", "cell")
        val got = time(s"IVFADC (residual, index-served) probe-$nprobe + shortlist-$shortlist rerank top-$K") {
          probes.join(assigned, "cell")
            .filter(col("vec_id") =!= col("query_id"))
            .join(packedR, "vec_id")
            .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
              explode(expr(s"sequence(0L, ${PqQueries.M - 1}L)")).as("sub"),
              col("pqr"))
            .withColumn("code", expr("(pqr div CAST(pow(16, sub) AS BIGINT)) % 16"))
            .join(broadcast(rlut), Seq("query_id", "sub", "code"))
            .groupBy("query_id", "neighbor_id", "cell")
            .agg(sum("lut_micro").as("radc_micro"))
            .join(broadcast(qcell), Seq("query_id", "cell"))
            .withColumn("adc_micro", col("qc_micro") + col("radc_micro"))
            .groupBy("query_id")
            .agg(expr(s"graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, $shortlist)").as("sl"))
            .select(col("query_id"), explode(col("sl.id")).as("neighbor_id"))
            .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
            .join(broadcast(q), "query_id")
            .withColumn("cos_sim",
              call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
            .withColumn("rank", row_number().over(w))
            .filter(col("rank") <= K)
            .select("query_id", "neighbor_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        val recall = got.intersect(brute).size.toDouble / brute.size
        if (nprobe == 2 && shortlist == 1000) resAt2k1000 = recall
        println(f"[vscale] IVFADC probe-$nprobe shortlist-$shortlist recall@$K at $rows%,d vectors: $recall%.3f (residual, served from pqr)")
      }
      // direct reference at the tight shortlist, recomputed here so the
      // printed comparison is same-session, same-probes
      dirAt2k1000 = {
        val probes = probeSims.withColumn("rk", row_number().over(byQ))
          .filter(col("rk") <= 2).select("query_id", "cell")
        val got = probes.join(assigned, "cell")
          .filter(col("vec_id") =!= col("query_id"))
          .join(packed, "vec_id")
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            explode(expr(s"sequence(0L, ${PqQueries.M - 1}L)")).as("sub"), col("pq"))
          .withColumn("code", expr("(pq div CAST(pow(16, sub) AS BIGINT)) % 16"))
          .join(broadcast(lut), Seq("query_id", "sub", "code"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum("lut_micro").as("adc_micro"))
          .groupBy("query_id")
          .agg(expr("graft_topk(CAST(adc_micro AS DOUBLE), neighbor_id, 1000)").as("sl"))
          .select(col("query_id"), explode(col("sl.id")).as("neighbor_id"))
          .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
          .join(broadcast(q), "query_id")
          .withColumn("cos_sim",
            call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(brute).size.toDouble / brute.size
      }
      println(f"[vscale] shortlist-1000 probe-2 curve point: residual $resAt2k1000%.3f vs direct $dirAt2k1000%.3f " +
        "(residual resolves in-cell structure the direct codes collapse - the IVFADC motivation)")
      assert(resAt2k1000 >= dirAt2k1000 - 0.05,
        f"residual serving must not regress the tight-shortlist recall: $resAt2k1000%.3f vs direct $dirAt2k1000%.3f")
      probeSims.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
      spark.stop()
      return
    }

    // ---- "cells2" mode: two-level coarse assignment at the next
    // vector decade (runMain … VectorScaleSmoke 10000000 cells2).
    // With k ≈ √N cells (k = 3,162 here) the FULL-SCAN assignment is
    // k dots/row — the ingest wall the ivfpq mode dodged by keeping
    // k at 250. The two-level expression (graft_nearest_cell2) probes
    // √k super-centroids and exact-argmins the top-3 supers' members:
    // ~4√k ≈ 225 dots/row, 14× fewer. Evidence: wall-clock of both
    // forms (full scan priced on a 1M slice — extrapolate ×(rows/1M)),
    // the divergence RATE on that slice, and the agreement assert on
    // clustered geometry.
    if (args.length > 1 && args(1) == "cells2") {
      // k tracks the decade: √rows cells (the IVF sizing rule), floored
      // at the 10M run's 3,162 so the r11 protocol stays reproducible
      val K2 = math.max(3162, math.round(math.sqrt(rows.toDouble)).toInt)
      val cDims = (0 until DIMS).map { j =>
        lit(1.0) * (pmod(xxhash64(lit("k"), col("c"), lit(j)), lit(2000L)) / 1000.0 - 1.0)
      }
      val cent = spark.range(K2).select(col("id").as("c"))
        .select(col("c").as("clabel"), array(cDims: _*).as("cv"))
        .withColumn("cnorm", sqrt(call_function("graft_dot", col("cv"), col("cv"))))
        .persist()
      cent.count()
      // vectors near centroid (vec_id % K2): the true cell is its
      // planted center with small per-vector noise
      val vDims = (0 until DIMS).map { j =>
        lit(1.0) * (pmod(xxhash64(lit("k"), pmod(col("vec_id"), lit(K2.toLong)), lit(j)), lit(2000L)) / 1000.0 - 1.0) +
          lit(0.15) * (pmod(xxhash64(lit("n"), col("vec_id"), lit(j)), lit(2000L)) / 1000.0 - 1.0)
      }
      // Persist only through 10M rows (the r11 protocol). Past that the
      // corpus is ~64 B/dim × rows (51 GB at 100M) — but generation is
      // pure expression compute (192 xxhash64/row, no I/O), so the
      // single assignment scan is CHEAPER re-derived than round-tripped
      // through a disk-backed cache; the timing then prices exactly
      // what a 1000-executor ingest would run: one streaming pass.
      val eBase = spark.range(rows)
        .select(col("id").as("vec_id"), array(vDims: _*).as("v"))
        .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      val e = if (rows <= 10000000L) {
        val p = eBase.persist()
        time(f"materialize $rows%,d vectors near $K2 planted centers")(p.count())
        p
      } else {
        println(f"[vscale] streaming corpus (no persist) at $rows%,d rows — " +
          f"~${rows * DIMS * 8 / (1L << 30)}%,d GiB would not fit a sane cache budget")
        eBase
      }
      val slice = e.filter(col("vec_id") < 1000000L)
      spark.conf.set(SimilarityQueries.TwoLevelMinKKey, "0")
      val full = time(s"FULL-SCAN assignment, 1M-row slice ($K2 dots/row)") {
        val f = SimilarityQueries.assignCells(slice, cent)
          .select(col("vec_id"), col("cell").as("cell_full")).persist()
        f.count(); f
      }
      spark.conf.unset(SimilarityQueries.TwoLevelMinKKey)
      val two = time(f"TWO-LEVEL assignment, ALL $rows%,d rows (~4*sqrt($K2) dots/row)") {
        val t = SimilarityQueries.assignCells(e, cent).persist()
        t.count(); t
      }
      val diff = two.withColumnRenamed("cell", "cell_two").join(full, "vec_id")
        .filter(col("cell_two") =!= col("cell_full")).count()
      println(f"[vscale] two-level vs full-scan divergence on the 1M slice: $diff%,d rows " +
        f"(${diff / 10000.0}%.4f %%)")
      assert(diff.toDouble / 1000000.0 <= 0.01,
        s"clustered geometry must keep two-level assignment within 1% of exact: $diff diverged")
      spark.stop()
      return
    }

    // ---- "respq" mode: residual vs direct PQ raw-ADC recall A/B on
    // the SINGLE-LEVEL clustered geometry that collapsed direct 4-bit
    // ADC to recall 0.13 (BASELINE.md round-9 IVF-PQ row) — every
    // vector = its cluster center + small noise, so direct codes all
    // quantize onto the shared center while residual codes (IVFADC:
    // quantize û − centroid) spend the 16 levels on the within-cell
    // noise structure. Both sides score the WHOLE corpus by ADC (no
    // IVF pruning, no rerank) — isolating exactly the encoding's
    // resolution. runMain … VectorScaleSmoke 1000000 respq
    if (args.length > 1 && args(1) == "respq") {
      val CLUSTERS = 250
      // THE round-9 blind-spot geometry: single-level clusters + noise.
      // Every in-cell vector direct-codes onto the shared center, so
      // direct ADC carries the cluster-level quantization error in
      // every score AND cannot rank within a cell. Residual encoding
      // removes the cluster term exactly (score = exact q̂·ĉ + ADC of
      // the noise-scale residual) — the A/B below measures both the
      // DISTORTION (mean |ADC − exact| over all query×corpus pairs,
      // the number a deployment reads before trusting compressed
      // scores) and top-10 recall.
      val clusterCol = pmod(col("vec_id"), lit(CLUSTERS.toLong))
      val vDims = (0 until DIMS).map { j =>
        lit(0.8) * (pmod(xxhash64(lit("c"), clusterCol, lit(j)), lit(2000L)) / 1000.0 - 1.0) +
          lit(0.3) * (pmod(xxhash64(lit("n"), col("vec_id"), lit(j)), lit(2000L)) / 1000.0 - 1.0)
      }
      val raw = spark.range(rows)
        .select(col("id").as("vec_id"), array(vDims: _*).as("embedding"),
          clusterCol.cast("int").as("label"))
      val e = SimilarityQueries.prep(spark, raw).persist()
      time(f"materialize $rows%,d single-level clustered vectors ($CLUSTERS clusters)")(e.count())
      val q = e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))
      // exact cosine for EVERY (query, vector) pair — the truth surface
      // both the recall sets and the distortion averages read
      val exactAll = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("exact_micro", expr(
          "CAST(floor(graft_dot(v, qv) / (norm * qnorm) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("exact_micro"))
        .persist()
      val brute = time(s"brute-force top-$K truth for $N_QUERIES queries (${rows * N_QUERIES} dots)") {
        exactAll
          .withColumn("cos_sim", col("exact_micro"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      // coarse quantizer: label centroids (cheap, deterministic — the
      // ivfpq-mode precedent); cells via the one-pass expression
      val cent = SimilarityQueries.quantizer(spark, raw, n = rows).persist()
      cent.count()
      val assigned = time("assignCells over the corpus (one-pass NearestCellExpr)") {
        val a = SimilarityQueries.assignCells(e, cent).persist(); a.count(); a
      }
      val wAdc = Window.partitionBy("query_id").orderBy(col("adc_micro").desc, col("neighbor_id"))
      // (recall@K, mean |ADC − exact| in micro) of a full-corpus ADC frame
      def statsOf(adc: org.apache.spark.sql.DataFrame): (Double, Double) = {
        val a = adc.persist()
        try {
          val got = a.withColumn("rank", row_number().over(wAdc))
            .filter(col("rank") <= K)
            .select("query_id", "neighbor_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val err = a.join(exactAll, Seq("query_id", "neighbor_id"))
            .agg(avg(abs(col("adc_micro") - col("exact_micro")))).head().getDouble(0)
          (got.intersect(brute).size.toDouble / brute.size, err)
        } finally a.unpersist()
      }
      // DIRECT PQ: unit-subvector codebooks + whole-corpus ADC
      val dcb = time("direct PQ training (per-subspace Lloyd)")(
        PqQueries.pqCodebooks(spark, raw.drop("label")))
      val dcodes = PqQueries.assignCodes(PqQueries.subvectors(e), dcb)
        .withColumnRenamed("vec_id", "neighbor_id")
      val dlut = PqQueries.subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(dcb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val (directRecall, directErr) = time(s"direct raw-ADC top-$K + distortion over the whole corpus") {
        statsOf(dcodes
          .join(broadcast(dlut), Seq("sub", "code"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum("lut_micro").as("adc_micro")))
      }
      println(f"[vscale] DIRECT raw-ADC at $rows%,d clustered vectors: recall@$K $directRecall%.3f, " +
        f"mean |ADC − exact| ${directErr / 1e6}%.6f")
      // RESIDUAL PQ: codebooks over û − centroid(cell); score = exact
      // (query, cell) term + residual ADC (the sim_ivfpq_res math)
      val rcb = time("residual PQ training (Lloyd over û − centroid)")(
        PqQueries.pqResCodebooks(spark, raw.drop("label"), cent, assigned))
      val rcodes = PqQueries.assignCodes(
          PqQueries.residualSubvectors(e, cent, assigned), rcb)
        .withColumnRenamed("vec_id", "neighbor_id")
      val rlut = PqQueries.subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(rcb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val qcell = e.filter(col("vec_id") < N_QUERIES)
        .withColumn("u", expr("transform(v, x -> x / norm)"))
        .select(col("vec_id").as("query_id"), col("u"))
        .crossJoin(broadcast(cent))
        .withColumn("qc_micro", // q̂ · ĉ — the exact term of û = ĉ + r
          expr("CAST(floor(graft_dot(u, cv) / cnorm * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("query_id"), col("clabel").as("cell"), col("qc_micro"))
      val (residualRecall, residualErr) = time(s"residual raw-ADC top-$K + distortion over the whole corpus") {
        statsOf(rcodes
          .join(assigned.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
          .join(broadcast(rlut), Seq("sub", "code"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .groupBy("query_id", "neighbor_id", "cell")
          .agg(sum("lut_micro").as("radc_micro"))
          .join(broadcast(qcell), Seq("query_id", "cell"))
          .select(col("query_id"), col("neighbor_id"),
            (col("qc_micro") + col("radc_micro")).as("adc_micro")))
      }
      println(f"[vscale] RESIDUAL raw-ADC at $rows%,d clustered vectors: recall@$K $residualRecall%.3f, " +
        f"mean |ADC − exact| ${residualErr / 1e6}%.6f")
      println(f"[vscale] RESPQ A/B: distortion ${directErr / residualErr}%.1f× lower with residuals " +
        f"(${directErr / 1e6}%.6f → ${residualErr / 1e6}%.6f), recall $directRecall%.3f → $residualRecall%.3f")
      // The distortion gate is the primary contract: the exact cell
      // term removes the cluster-level quantization error from every
      // score. Top-10 recall on this geometry is noise-ranking inside a
      // ~rows/250-member cell — hard for ANY 4-bit code — so it gates
      // only on "residuals never regress it".
      assert(residualErr * 2 <= directErr,
        f"residual encoding must at least halve ADC distortion on the clustered geometry: " +
          f"direct ${directErr / 1e6}%.6f vs residual ${residualErr / 1e6}%.6f")
      assert(residualRecall >= directRecall - 0.02,
        f"residuals must not regress recall: $residualRecall%.3f vs $directRecall%.3f")
      spark.stop()
      return
    }

    // deterministic synthetic vectors via integer hashing — 64 codegen'd
    // column expressions, no RNG, no interpreted lambdas in the hot path
    val dimCols = (0 until DIMS).map { j =>
      (pmod(col("vec_id") * lit(2654435761L) + lit(j) * lit(40503L), lit(2000L)) / 1000.0 - 1.0)
    }
    val e = spark.range(rows).select(col("id").as("vec_id"), array(dimCols: _*).as("v"))
      .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      .persist()
    time(f"materialize $rows%,d vectors")(e.count())

    val q = e.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))

    val brute = time(s"brute-force top-$K for $N_QUERIES queries (${rows * N_QUERIES} dots)") {
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos_sim",
          call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
        .withColumn("neighbor_id", col("vec_id"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select("query_id", "neighbor_id", "cos_sim")
        .collect()
    }

    // SRP coding/banding: the SAME shared scheme the shipped sim_ann and
    // dedup_embed_lsh use — the smoke measures the product path, not a
    // lookalike
    val coded = time("SRP-code the corpus (16 planes, map-side)") {
      val c = SimilarityQueries.srpCoded(e).persist()
      c.count()
      c
    }
    val bands = SimilarityQueries.srpBands(coded)
    val qbands = bands.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("band"), col("bucket"))

    val cands = bands.join(qbands, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").dropDuplicates("query_id", "vec_id")
      .persist()
    val candCount = time("ANN candidate generation (slim band equi-join + dedup)")(cands.count())
    println(f"[vscale] candidate ratio: ${candCount.toDouble / (rows * N_QUERIES)}%.3f of all pairs")

    val ann = time(s"ANN top-$K (join vectors to candidates, score)") {
      cands
        .join(coded.select(col("vec_id"), col("v"), col("norm")), "vec_id")
        .join(broadcast(q), "query_id")
        .withColumn("neighbor_id", col("vec_id"))
        .withColumn("cos_sim",
          call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select("query_id", "neighbor_id", "cos_sim")
        .collect()
    }

    val bruteSet = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    val annSet = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = annSet.intersect(bruteSet).size.toDouble / bruteSet.size
    println(f"[vscale] ANN recall@$K vs brute force: $recall%.2f (random vectors — worst case for LSH)")

    // ---- the corpus-growth knob: 8-bit bands (32 planes × 4 bands).
    // Bucket occupancy drops 16× vs the gated 4-bit scheme; expected
    // candidate ratio 1-(255/256)^4 ≈ 1.5 % instead of ≈ 23 %. The
    // trade is recall on weakly-similar pairs — measured here.
    val coded8 = time("SRP-code 32 planes (8-bit-band scheme)") {
      val c = SimilarityQueries.srpCoded(e, planes = 32).persist()
      c.count(); c
    }
    val bands8 = SimilarityQueries.srpBands(coded8, planes = 32, bandBits = 8)
    val qb8 = bands8.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
    val cands8 = bands8.join(qb8, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").dropDuplicates("query_id", "vec_id")
      .persist()
    val cand8Count = time("8-bit-band candidate generation")(cands8.count())
    println(f"[vscale] 8-bit candidate ratio: ${cand8Count.toDouble / (rows * N_QUERIES)}%.4f of all pairs (4-bit: ${candCount.toDouble / (rows * N_QUERIES)}%.3f)")
    val ann8 = time(s"8-bit-band ANN top-$K (score survivors)") {
      cands8
        .join(coded8.select(col("vec_id"), col("v"), col("norm")), "vec_id")
        .join(broadcast(q), "query_id")
        .withColumn("neighbor_id", col("vec_id"))
        .withColumn("cos_sim",
          call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= K)
        .select("query_id", "neighbor_id", "cos_sim")
        .collect()
    }
    val ann8Set = ann8.map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"[vscale] 8-bit recall@$K vs brute force: ${ann8Set.intersect(bruteSet).size.toDouble / bruteSet.size}%.2f")

    // ---- persisted index: build once, candidates from stored codes —
    // the production shape where the per-query coding pass is gone
    val idxDir = java.nio.file.Files.createTempDirectory("graft-vscale-ann").toString
    val raw = spark.range(rows).select(col("id").as("vec_id"),
      array(dimCols: _*).as("embedding"),
      pmod(col("id"), lit(100L)).cast("int").as("label"))
    // bandBits pinned to the gated 4-bit scheme so the equality check
    // below compares against the recompute path; the ADVISOR would pick
    // 8-bit bands at this corpus size (printed as evidence)
    println(s"[vscale] advisedBandBits($rows, 16 planes) = " +
      s"${AnnIndex.advisedBandBits(rows, SimilarityQueries.N_PLANES)} (gated scheme: 4)")
    time(f"AnnIndex.build ($rows%,d codes + 100-cell centroids + assignment)")(
      AnnIndex.build(spark, raw, idxDir, bandBits = SimilarityQueries.BAND_BITS))
    val idxCands = time("ANN candidate generation from PERSISTED codes (no coding pass)") {
      val b = AnnIndex.bandsFromIndex(spark, idxDir)
      val qb = b.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
      b.join(qb, Seq("band", "bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select("query_id", "vec_id").dropDuplicates("query_id", "vec_id")
        .count()
    }
    println(s"[vscale] index-served candidates: $idxCands (recompute path: $candCount — must match)")
    // fingerprint gate cost at this corpus size: the per-query resolveFor
    // check with the content term (full embedding-column hash scan) vs
    // the column-pruned id-stats opt-out (ContentCheckKey=false) — the
    // measured basis for the conf's default-on / opt-out-at-scale design
    spark.conf.set(AnnIndex.ConfKey, idxDir)
    try {
      val tOn = { val t0 = System.nanoTime()
        require(AnnIndex.resolveFor(spark, raw).isDefined); (System.nanoTime() - t0) / 1e9 }
      spark.conf.set(AnnIndex.ContentCheckKey, "false")
      val tOff = { val t0 = System.nanoTime()
        require(AnnIndex.resolveFor(spark, raw).isDefined); (System.nanoTime() - t0) / 1e9 }
      println(f"[vscale] resolveFor fingerprint gate: content check $tOn%.2f s " +
        f"vs id-stats only $tOff%.2f s per query (${tOn / tOff}%.1fx — why " +
        "append-only corpora opt out; verify()/maintain() still audits content)")
    } finally { spark.conf.unset(AnnIndex.ConfKey); spark.conf.unset(AnnIndex.ContentCheckKey) }
    // distributed compact: size-targeted, vec_id-range-clustered files —
    // never a one-task monolith (rows/250k → multi-file at 1M vectors)
    time(f"AnnIndex.compact ($rows%,d rows @ 250k rows/file)")(
      AnnIndex.compact(spark, idxDir, rowsPerFile = 250000L))
    println(s"[vscale] compacted codes files: " +
      s"${AnnIndex.readCodes(spark, idxDir).inputFiles.length} (expect ${(rows + 249999) / 250000})")
    // ---- IVF probe sweep from the persisted index: recall vs nprobe —
    // the serving-time knob (more probed cells = more exact scoring =
    // higher recall; candidate volume ∝ nprobe/cells of the corpus)
    locally {
      val cent = AnnIndex.readCentroids(spark, idxDir)
      val assigned = AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("cell"))
      val qv = e.filter(col("vec_id") < N_QUERIES)
      val probeSims = qv.crossJoin(broadcast(cent))
        .withColumn("csim",
          call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")))
        .select(col("vec_id").as("query_id"), col("clabel").as("cell"), col("csim"))
        .persist()
      probeSims.count()
      for (nprobe <- Seq(1, 2, 4, 8)) {
        val byQ = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell"))
        val probes = probeSims.withColumn("rk", row_number().over(byQ))
          .filter(col("rk") <= nprobe).select("query_id", "cell")
        val (cands, ivfSet) = time(s"IVF probe-$nprobe top-$K (index cells)") {
          val c = probes.join(assigned, "cell")
            .filter(col("vec_id") =!= col("query_id"))
            .select("query_id", "vec_id").dropDuplicates("query_id", "vec_id")
            .persist()
          val n = c.count()
          val top = c.join(coded.select(col("vec_id"), col("v"), col("norm")), "vec_id")
            .join(broadcast(q), "query_id")
            .withColumn("neighbor_id", col("vec_id"))
            .withColumn("cos_sim",
              call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
            .withColumn("rank", row_number().over(w))
            .filter(col("rank") <= K)
            .select("query_id", "neighbor_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          c.unpersist()
          (n, top)
        }
        println(f"[vscale] IVF probe-$nprobe: recall@$K ${ivfSet.intersect(bruteSet).size.toDouble / bruteSet.size}%.2f, " +
          f"candidate ratio ${cands.toDouble / (rows * N_QUERIES)}%.4f")
      }
      probeSims.unpersist()
    }
    // ---- PQ / ADC from the persisted packed codes: the compression
    // tier. The scoring scan reads the 8-byte packed column — never the
    // 512-byte double vectors: at 10⁹ vectors that is the difference
    // between a codes table that fits in cluster memory and one that
    // cannot. Full-scan ADC trades vector I/O for a (query × corpus)
    // partial-sum shuffle; IVF-PQ below prunes that shuffle by probed
    // cell — the actual serving shape.
    locally {
      val cb = AnnIndex.readPqCodebooks(spark, idxDir)
      val codeRows = PqQueries.unpackCodes(
        AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("pq"))).persist()
      time("unpack persisted PQ codes (map-side)")(codeRows.count())
      val lut = PqQueries.subvectors(e.filter(col("vec_id") < N_QUERIES))
        .join(broadcast(cb), "sub")
        .withColumn("lut_micro",
          expr("CAST(floor(graft_dot(sv, cv) * 1000000 + 0.5D) AS BIGINT)"))
        .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))
      val wAdc = Window.partitionBy("query_id").orderBy(col("adc_micro").desc, col("neighbor_id"))
      val adcAll = codeRows.join(broadcast(lut), Seq("sub", "code"))
        .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
        .agg(sum("lut_micro").as("adc_micro"))
        .persist()
      time(s"PQ ADC score ALL ${rows}×$N_QUERIES pairs (code-only scan, no vector I/O)")(adcAll.count())
      val adcSet = adcAll.filter(col("neighbor_id") =!= col("query_id"))
        .withColumn("rank", row_number().over(wAdc))
        .filter(col("rank") <= K)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      println(f"[vscale] PQ ADC recall@$K vs brute force: ${adcSet.intersect(bruteSet).size.toDouble / bruteSet.size}%.2f " +
        f"(uniform-random vectors — PQ's worst case: neighbor cosines are near-tied while " +
        f"quantization distortion is large; stored ${rows * 8} code bytes vs ${rows * DIMS * 4L} float bytes, ${DIMS * 4 / 8}x)")
      // the duplicate contract: an exact copy of the query scores the
      // query's OWN code sum — its ADC rank among all 1M candidates is
      // what PQ dedup/admission actually relies on
      val self = adcAll.filter(col("neighbor_id") === col("query_id"))
        .select(col("query_id"), col("adc_micro").as("self_micro"))
      val dupRanks = adcAll.join(self, "query_id")
        .filter(col("neighbor_id") =!= col("query_id"))
        .groupBy("query_id")
        .agg(sum((col("adc_micro") > col("self_micro")).cast("long")).as("n_above"))
        .collect().map(r => r.getLong(1)).sorted
      println(f"[vscale] ADC rank an exact duplicate would get: median ${dupRanks(dupRanks.length / 2)}, " +
        f"max ${dupRanks.last} of $rows%,d (the dedup contract: a true copy surfaces immediately)")
      // the production serving pattern: ADC shortlist + exact rerank —
      // vector I/O only for the shortlist (R/N of the corpus)
      for (r <- Seq(100, 1000)) {
        val rr = time(s"ADC shortlist-$r + exact rerank top-$K") {
          adcAll.filter(col("neighbor_id") =!= col("query_id"))
            .withColumn("arank", row_number().over(wAdc))
            .filter(col("arank") <= r)
            .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
            .join(broadcast(q), "query_id")
            .withColumn("cos_sim",
              call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
            .withColumn("rank", row_number().over(
              Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))))
            .filter(col("rank") <= K)
            .select("query_id", "neighbor_id")
            .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        }
        println(f"[vscale] ADC shortlist-$r rerank recall@$K: ${rr.intersect(bruteSet).size.toDouble / bruteSet.size}%.2f " +
          f"(vector I/O: ${r.toDouble / rows * 100}%.2f %% of corpus)")
      }
      adcAll.unpersist()
      // IVF-PQ: probe-4 cells via the frozen quantizer, ADC-score only
      // probed-cell candidates — prune bounds the shuffle, codes bound
      // the I/O
      val cent = AnnIndex.readCentroids(spark, idxDir)
      val assigned = AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("cell"))
      val byQ = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell"))
      val probes = e.filter(col("vec_id") < N_QUERIES).crossJoin(broadcast(cent))
        .withColumn("csim",
          call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")))
        .select(col("vec_id").as("query_id"), col("clabel").as("cell"), col("csim"))
        .withColumn("rk", row_number().over(byQ))
        .filter(col("rk") <= 4).select("query_id", "cell")
      val ivfpqSet = time(s"IVF-PQ probe-4 + shortlist-1000 rerank top-$K (the full serving chain)") {
        probes.join(assigned, "cell")
          .filter(col("vec_id") =!= col("query_id"))
          .select("query_id", "vec_id").dropDuplicates("query_id", "vec_id")
          .withColumnRenamed("vec_id", "neighbor_id")
          .join(codeRows.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
          .join(broadcast(lut), Seq("query_id", "sub", "code"))
          .groupBy("query_id", "neighbor_id")
          .agg(sum("lut_micro").as("adc_micro"))
          .withColumn("arank", row_number().over(wAdc))
          .filter(col("arank") <= 1000)
          .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
          .join(broadcast(q), "query_id")
          .withColumn("cos_sim",
            call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")))
          .withColumn("rank", row_number().over(
            Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id"))))
          .filter(col("rank") <= K)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      println(f"[vscale] IVF-PQ probe-4 + rerank recall@$K vs brute force: ${ivfpqSet.intersect(bruteSet).size.toDouble / bruteSet.size}%.2f")
      codeRows.unpersist()
    }
    // ---- unsupervised quantizer at scale: the build-ONCE train cost a
    // label-less corpus pays for its IVF cells (each Lloyd iteration is
    // one broadcast-assign pass + one grouped mean over the corpus;
    // per-query serving then reads the frozen index, never retrains)
    val kmCells = time(f"kmeansCentroids ($rows%,d vectors, k=100, 3 Lloyd iterations)") {
      SimilarityQueries.kmeansCentroids(spark, raw.drop("label"), k = 100).count()
    }
    println(s"[vscale] k-means cells trained: $kmCells")

    // ---- embedding PCA at scale: 7 exact-integer corpus passes (the
    // moments pass + PCA_ITERS = 5 power iterations + the Rayleigh
    // application) — the anisotropy gauge stays linear in rows, D-row
    // driver metadata between passes (the Lloyd-loop shape)
    val (pcaV, pcaShare) = time(f"embed_pca power iteration ($rows%,d × 64, 7 passes)") {
      SimilarityQueries.pcaTrain(spark, raw.drop("label"))
    }
    val pnorm2 = pcaV.map(v => (v / 1e6) * (v / 1e6)).sum
    assert(math.abs(pnorm2 - 1.0) < 1e-3, s"unit-norm loading at scale (norm² $pnorm2)")
    assert(pcaShare > 0 && pcaShare <= 1000000L, s"share ppm in range: $pcaShare")
    println(s"[vscale] embed_pca: top-component share $pcaShare ppm")

    // ---- the size-gated dedup route END TO END: past
    // EXACT_TIER_MAX_ROWS the gated dedup_embed QueryDef itself must
    // pick the SRP-banded plan (advisedBandBits occupancy ~32) instead
    // of the N² block join — this phase runs the PRODUCT build at 1M
    // rows, proving the gate fires and the routed plan completes at a
    // scale where the exact tier would score ~5e11 pairs.
    //
    // NOT the `raw` corpus above: its lattice dims have period 2000 in
    // vec_id, so 1M rows are 2000 distinct vectors × 500 copies — a
    // degenerate dedup input whose TRUE ≥-threshold pair list is ~2.5e8
    // all-cos-1 rows in any plan (it filled the disk when tried). Fine
    // for top-k ranking phases, wrong for an all-pairs operator. Here:
    // xxhash64 dims (distinct per vec_id, cos tail ~N(0, 1/64)) + 10
    // planted verbatim duplicates the route must catch.
    val dedupDir = java.nio.file.Files.createTempDirectory("graft-vscale-dedup").toString
    val PLANTED = 10L
    time(f"write $rows%,d-row distinct-vector corpus for the routed dedup") {
      val hashDims = (0 until DIMS).map { j =>
        (pmod(xxhash64(col("base"), lit(j)), lit(2000L)) / 1000.0 - 1.0)
      }
      spark.range(rows)
        .select(col("id").as("vec_id"),
          when(col("id") >= rows - PLANTED, col("id") - (rows - PLANTED))
            .otherwise(col("id")).as("base"))
        .select(col("vec_id"), array(hashDims: _*).as("embedding"))
        .write.parquet(s"$dedupDir/embeddings.parquet")
    }
    // clear the certified-index conf: the routed scheme recomputes codes
    spark.conf.unset(AnnIndex.ConfKey)
    val routed = graft.extensions.DedupQueries.embedCosine.build(spark, dedupDir).persist()
    val routedPairs = time(f"dedup_embed routed tier ($rows%,d rows → SRP-banded, advised width)") {
      routed.count()
    }
    println(f"[vscale] routed dedup_embed pairs at cos ≥ ${graft.extensions.DedupQueries.COSINE_MIN}: $routedPairs%,d")
    val plantedCaught = routed.filter(col("vec_b") >= rows - PLANTED
      && col("vec_a") === col("vec_b") - (rows - PLANTED)).count()
    assert(plantedCaught == PLANTED,
      s"identical vectors share every band bucket — all $PLANTED planted dups must surface (got $plantedCaught)")
    println(s"[vscale] routed dedup planted-duplicate catch: $plantedCaught/$PLANTED")
    routed.unpersist()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dedupDir))

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idxDir))
    spark.stop()
  }
}
