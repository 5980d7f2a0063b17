package graft.smoke

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Smoke.{Ctx, Dims, Entry, hashVector, topK, topKSet}
import graft.extensions.{AnnIndex, DedupQueries, PqQueries, SimilarityQueries}

/** Smoke entries for the similarity-search paths: brute force, SRP-LSH,
  * the persisted ANN index, IVF probing, PQ/ADC (direct and residual),
  * two-level cell assignment, k-means, PCA and the routed vector dedup.
  * Evidence that the ANN design holds when the corpus is no longer
  * toy-sized. */
object VectorSmokes {
  private val K = 10
  private val NQueries = 50

  private def withNorm(df: DataFrame): DataFrame =
    df.withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))

  private val cosine: Column =
    call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm"))

  private def microDot(a: String, b: String, scale: String = ""): Column =
    expr(s"CAST(floor(graft_dot($a, $b)$scale * 1000000 + 0.5D) AS BIGINT)")

  private def recall(got: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    got.intersect(truth).size.toDouble / truth.size

  /** Corpus `e` (vec_id, v, norm); its first NQueries rows are the
    * queries. */
  private final class Vectors(val e: DataFrame) {
    private val qe = e.filter(col("vec_id") < NQueries)
    val q: DataFrame =
      qe.select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))

    /** Every (query, other vector) pair with its cosine. */
    def allPairs: DataFrame = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), cosine.as("cos_sim"))

    /** Brute-force top-K truth. */
    def brute: Set[(Long, Long)] = topKSet(allPairs, "cos_sim", "neighbor_id", K)

    /** Exact top-K of each query among its (query_id, neighbor_id)
      * candidates — vector I/O for the candidates only. */
    def rerank(cands: DataFrame): Set[(Long, Long)] = topKSet(
      cands.join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
        .join(broadcast(q), "query_id").withColumn("cos_sim", cosine),
      "cos_sim", "neighbor_id", K)

    /** Per-query ADC lookup table over PQ codebook `cb`. */
    def lut(cb: DataFrame): DataFrame = PqQueries.subvectors(qe)
      .join(broadcast(cb), "sub")
      .withColumn("lut_micro", microDot("sv", "cv"))
      .select(col("vec_id").as("query_id"), col("sub"), col("code"), col("lut_micro"))

    /** Query-to-centroid cosine per (query, cell). */
    def cellSims(cent: DataFrame): DataFrame = qe.crossJoin(broadcast(cent))
      .withColumn("csim",
        call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")))
      .select(col("vec_id").as("query_id"), col("clabel").as("cell"), col("csim"))

    /** q̂ · ĉ in micro per (query, cell) — the exact term of û = ĉ + r
      * that residual ADC adds back. */
    def cellTerms(cent: DataFrame): DataFrame = qe
      .withColumn("u", expr("transform(v, x -> x / norm)"))
      .select(col("vec_id").as("query_id"), col("u"))
      .crossJoin(broadcast(cent))
      .withColumn("qc_micro", microDot("u", "cv", " / cnorm"))
      .select(col("query_id"), col("clabel").as("cell"), col("qc_micro"))

    /** ADC over the packed `codeCol` of the probed cells' members:
      * unpacks codes only for candidates, never reads vectors. With
      * `cellTerms` the codes are residual and the exact cell term is
      * added back (the sim_ivfpq_res decomposition). */
    def adcProbed(probes: DataFrame, assigned: DataFrame, packed: DataFrame, codeCol: String,
                  lut: DataFrame, cellTerms: Option[DataFrame] = None): DataFrame = {
      val adc = probes.join(assigned, "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .join(packed.select("vec_id", codeCol), "vec_id")
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
          explode(expr(s"sequence(0L, ${PqQueries.M - 1}L)")).as("sub"), col(codeCol))
        .withColumn("code", expr(s"($codeCol div CAST(pow(16, sub) AS BIGINT)) % 16"))
        .join(broadcast(lut), Seq("query_id", "sub", "code"))
      cellTerms match {
        case None => adc.groupBy("query_id", "neighbor_id").agg(sum("lut_micro").as("adc_micro"))
        case Some(ct) => adc.groupBy("query_id", "neighbor_id", "cell")
          .agg(sum("lut_micro").as("radc_micro"))
          .join(broadcast(ct), Seq("query_id", "cell"))
          .select(col("query_id"), col("neighbor_id"),
            (col("qc_micro") + col("radc_micro")).as("adc_micro"))
      }
    }

    /** Exact top-K after an ADC shortlist of `shortlist` per query. */
    def shortlistRerank(adc: DataFrame, shortlist: Int): Set[(Long, Long)] =
      rerank(topK(adc, "adc_micro", "neighbor_id", shortlist))
  }

  /** Materialized `e`, timed as one step. */
  private def materialize(c: Ctx, step: String, e: DataFrame): Vectors = {
    val p = e.persist()
    c.time(step)(p.count())
    new Vectors(p)
  }

  /** SRP band candidates: (query_id, vec_id) sharing a band bucket. */
  private def bandCands(bands: DataFrame): DataFrame = {
    val qb = bands.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
    bands.join(qb, Seq("band", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").dropDuplicates("query_id", "vec_id")
  }

  private def asNeighbors(df: DataFrame): DataFrame = df.withColumnRenamed("vec_id", "neighbor_id")

  /** ids 0 until n as `vec_id`. */
  private def vecIds(c: Ctx, n: Long): DataFrame = c.spark.range(n).withColumnRenamed("id", "vec_id")

  /** The uniform lattice corpus through every X3 path: brute-force
    * top-k (linear in N per query — the no-index baseline); SRP-LSH,
    * which scores only same-band-bucket candidates (for random vectors
    * ≈ 1-(15/16)^4 ≈ 23 % of the corpus; real corpora cluster, pushing
    * the ratio down); the persisted index, IVF probing, PQ/ADC, k-means,
    * PCA and the size-gated dedup tiers. */
  val main = Entry("vector", "[rows=1M]", Seq(2000L)) { (c, sz) =>
    val spark = c.spark
    val rows = sz(0, 1000000L)
    val pairs = rows * NQueries
    // deterministic lattice vectors via integer hashing — 64 codegen'd
    // column expressions, no RNG, no interpreted lambdas in the hot path
    val lattice = array((0 until Dims).map { j =>
      pmod(col("vec_id") * lit(2654435761L) + lit(j) * lit(40503L), lit(2000L)) / 1000.0 - 1.0
    }: _*)
    val vs = materialize(c, f"materialize $rows%,d vectors",
      withNorm(vecIds(c, rows).select(col("vec_id"), lattice.as("v"))))
    val e = vs.e
    val brute = c.time(s"brute-force top-$K for $NQueries queries ($pairs dots)")(vs.brute)

    // SRP coding/banding: the SAME shared scheme the shipped sim_ann and
    // dedup_embed_lsh use — the entry measures the product path
    def lsh(label: String, planes: Int, bandBits: Int): Long = {
      val coded = c.time(s"SRP-code the corpus ($planes planes, map-side)") {
        val p = SimilarityQueries.srpCoded(e, planes = planes).persist(); p.count(); p
      }
      val cands = bandCands(SimilarityQueries.srpBands(coded, planes = planes, bandBits = bandBits))
        .persist()
      val n = c.time(s"$label candidate generation (slim band equi-join + dedup)")(cands.count())
      val got = c.time(s"$label top-$K (join vectors to candidates, score)")(vs.rerank(asNeighbors(cands)))
      c.report(label, "candidate_ratio" -> n.toDouble / pairs, "recall" -> recall(got, brute))
      n
    }
    val candCount = lsh("ANN 4-bit bands", SimilarityQueries.N_PLANES, SimilarityQueries.BAND_BITS)
    // the corpus-growth knob: 8-bit bands (32 planes × 4 bands). Bucket
    // occupancy drops 16×; expected candidate ratio 1-(255/256)^4 ≈
    // 1.5 % instead of ≈ 23 %. The trade is recall on weakly-similar
    // pairs — measured here.
    lsh("ANN 8-bit bands", 32, 8)

    // ---- persisted index: build once, candidates from stored codes —
    // the production shape where the per-query coding pass is gone
    val idxDir = c.dir("vector-ann")
    val raw = vecIds(c, rows).select(col("vec_id"),
      lattice.as("embedding"), pmod(col("vec_id"), lit(100L)).cast("int").as("label"))
    // bandBits pinned to the gated 4-bit scheme so the candidates match
    // the recompute path; the ADVISOR picks wider bands at large N
    c.report("advised_band_bits", "advised" -> AnnIndex.advisedBandBits(rows, SimilarityQueries.N_PLANES),
      "gated" -> SimilarityQueries.BAND_BITS)
    c.time(f"AnnIndex.build ($rows%,d codes + 100-cell centroids + assignment)")(
      AnnIndex.build(spark, raw, idxDir, bandBits = SimilarityQueries.BAND_BITS))
    val idxCands = c.time("ANN candidate generation from PERSISTED codes (no coding pass)")(
      bandCands(AnnIndex.bandsFromIndex(spark, idxDir)).count())
    c.report("index_served_candidates", "index" -> idxCands, "recompute" -> candCount)
    // fingerprint gate cost: the per-query resolveFor check with the
    // content term (full embedding-column hash scan) vs the
    // column-pruned id-stats opt-out (ContentCheckKey=false) — the
    // measured basis for the conf's default-on / opt-out-at-scale design
    c.withConf(AnnIndex.ConfKey, idxDir) {
      val tOn = c.timed("resolveFor with the content check")(
        require(AnnIndex.resolveFor(spark, raw).isDefined))._2
      val tOff = c.timed("resolveFor on id-stats only")(c.withConf(AnnIndex.ContentCheckKey, "false")(
        require(AnnIndex.resolveFor(spark, raw).isDefined)))._2
      c.report("fingerprint_gate", "content_over_id_stats" -> tOn / tOff)
    }
    // distributed compact: size-targeted, vec_id-range-clustered files —
    // never a one-task monolith (multi-file at 4 files' worth of rows)
    val perFile = math.max(1L, rows / 4L)
    c.time(f"AnnIndex.compact ($rows%,d rows @ $perFile%,d rows/file)")(
      AnnIndex.compact(spark, idxDir, rowsPerFile = perFile))
    c.report("compacted_codes_files", "files" -> AnnIndex.readCodes(spark, idxDir).inputFiles.length,
      "expected" -> (rows + perFile - 1) / perFile)

    // ---- IVF probe sweep from the persisted index: recall vs nprobe —
    // the serving-time knob (more probed cells = more exact scoring =
    // higher recall; candidate volume ∝ nprobe/cells of the corpus)
    val cent = AnnIndex.readCentroids(spark, idxDir)
    val assigned = AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("cell"))
    val probeSims = vs.cellSims(cent).persist()
    probeSims.count()
    for (nprobe <- Seq(1, 2, 4, 8)) {
      val (n, got) = c.time(s"IVF probe-$nprobe top-$K (index cells)") {
        val cands = topK(probeSims, "csim", "cell", nprobe).join(assigned, "cell")
          .filter(col("vec_id") =!= col("query_id"))
          .select("query_id", "vec_id").dropDuplicates("query_id", "vec_id")
          .persist()
        try (cands.count(), vs.rerank(asNeighbors(cands))) finally cands.unpersist()
      }
      c.report(s"IVF probe-$nprobe", "recall" -> recall(got, brute), "candidate_ratio" -> n.toDouble / pairs)
    }
    probeSims.unpersist()

    // ---- PQ / ADC from the persisted packed codes: the compression
    // tier. The scoring scan reads the 8-byte packed column — never the
    // 512-byte double vectors. Full-scan ADC trades vector I/O for a
    // (query × corpus) partial-sum shuffle; IVF-PQ prunes that shuffle
    // by probed cell — the actual serving shape.
    val lut = vs.lut(AnnIndex.readPqCodebooks(spark, idxDir))
    val codeRows = PqQueries.unpackCodes(
      AnnIndex.readCodes(spark, idxDir).select(col("vec_id"), col("pq"))).persist()
    c.time("unpack persisted PQ codes (map-side)")(codeRows.count())
    val adcAll = codeRows.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("lut_micro").as("adc_micro"))
      .persist()
    c.time(s"PQ ADC score ALL $rows×$NQueries pairs (code-only scan, no vector I/O)")(adcAll.count())
    val adcOthers = adcAll.filter(col("neighbor_id") =!= col("query_id"))
    // uniform-random vectors are PQ's worst case: neighbor cosines are
    // near-tied while quantization distortion is large
    c.report("PQ ADC", "recall" -> recall(topKSet(adcOthers, "adc_micro", "neighbor_id", K), brute),
      "code_bytes" -> rows * 8, "float_bytes" -> rows * Dims * 4L)
    // the duplicate contract: an exact copy of the query scores the
    // query's OWN code sum — its ADC rank among all candidates is what
    // PQ dedup/admission actually relies on
    val self = adcAll.filter(col("neighbor_id") === col("query_id"))
      .select(col("query_id"), col("adc_micro").as("self_micro"))
    val dupRanks = adcOthers.join(self, "query_id")
      .groupBy("query_id")
      .agg(sum((col("adc_micro") > col("self_micro")).cast("long")).as("n_above"))
      .collect().map(r => r.getLong(1)).sorted
    c.report("ADC rank of an exact duplicate", "median" -> dupRanks(dupRanks.length / 2),
      "max" -> dupRanks.last, "of" -> rows)
    // the production serving pattern: ADC shortlist + exact rerank —
    // vector I/O only for the shortlist (R/N of the corpus)
    for (r <- Seq(100, 1000)) {
      val got = c.time(s"ADC shortlist-$r + exact rerank top-$K")(vs.shortlistRerank(adcOthers, r))
      c.report(s"ADC shortlist-$r rerank", "recall" -> recall(got, brute),
        "vector_io_pct" -> r.toDouble / rows * 100)
    }
    adcAll.unpersist()
    // IVF-PQ: probe-4 cells via the frozen quantizer, ADC-score only
    // probed-cell candidates — prune bounds the shuffle, codes bound the I/O
    val ivfpq = c.time(s"IVF-PQ probe-4 + shortlist-1000 rerank top-$K (the full serving chain)") {
      vs.shortlistRerank(topK(vs.cellSims(cent), "csim", "cell", 4).join(assigned, "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id")).dropDuplicates()
        .join(codeRows.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(broadcast(lut), Seq("query_id", "sub", "code"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum("lut_micro").as("adc_micro")), 1000)
    }
    c.report("IVF-PQ probe-4 + rerank", "recall" -> recall(ivfpq, brute))
    codeRows.unpersist()

    // ---- unsupervised quantizer: the build-ONCE train cost a
    // label-less corpus pays for its IVF cells (each Lloyd iteration is
    // one broadcast-assign pass + one grouped mean over the corpus)
    val kmCells = c.time(f"kmeansCentroids ($rows%,d vectors, k=100, 3 Lloyd iterations)")(
      SimilarityQueries.kmeansCentroids(spark, raw.drop("label"), k = 100).count())
    c.report("kmeans", "cells" -> kmCells)

    // ---- embedding PCA: 7 exact-integer corpus passes (moments +
    // PCA_ITERS = 5 power iterations + the Rayleigh application) —
    // linear in rows, D-row driver metadata between passes
    val (pcaV, pcaShare) = c.time(f"embed_pca power iteration ($rows%,d × 64, 7 passes)")(
      SimilarityQueries.pcaTrain(spark, raw.drop("label")))
    val pnorm2 = pcaV.map(v => (v / 1e6) * (v / 1e6)).sum
    assert(math.abs(pnorm2 - 1.0) < 1e-3, s"unit-norm loading at scale (norm² $pnorm2)")
    assert(pcaShare > 0 && pcaShare <= 1000000L, s"share ppm in range: $pcaShare")
    c.report("embed_pca", "top_share_ppm" -> pcaShare)

    // ---- the size-gated dedup tiers END TO END: past
    // EXACT_TIER_MAX_ROWS the gated dedup_embed QueryDef itself picks
    // the SRP-banded plan instead of the N² block join. NOT the lattice
    // corpus: its dims have period 2000 in vec_id (a degenerate all-pairs
    // input). Here: hash dims (distinct per vec_id, cos tail
    // ~N(0, 1/64)) + planted verbatim duplicates the route must catch.
    val dedupDir = c.dir("vector-dedup")
    val planted = 10L
    c.time(f"write $rows%,d-row distinct-vector corpus for the routed dedup") {
      vecIds(c, rows)
        .select(col("vec_id"), when(col("vec_id") >= rows - planted, col("vec_id") - (rows - planted))
          .otherwise(col("vec_id")).as("base"))
        .select(col("vec_id"), hashVector((1.0, "d", col("base"))).as("embedding"))
        .write.parquet(s"$dedupDir/embeddings.parquet")
    }
    val routed = DedupQueries.embedCosine.build(spark, dedupDir).persist()
    val routedPairs = c.time(f"dedup_embed routed tier ($rows%,d rows)")(routed.count())
    val plantedCaught = routed.filter(col("vec_b") >= rows - planted
      && col("vec_a") === col("vec_b") - (rows - planted)).count()
    c.report("routed dedup_embed", "pairs" -> routedPairs, "cosine_min" -> DedupQueries.COSINE_MIN,
      "planted_caught" -> plantedCaught, "planted" -> planted)
    assert(plantedCaught == planted,
      s"identical vectors share every band bucket — all $planted planted dups must surface (got $plantedCaught)")
    routed.unpersist()
  }

  /** The IVF-PQ serving chain on CLUSTERED geometry: ingest
    * (AnnIndex.build: label quantizer + 4-bit PQ codebooks + packed
    * codes) and the production read path (probe-N centroid scan → cell
    * candidates → ADC over packed codes → shortlist rerank on true
    * vectors). At 10⁹ vectors the 8-byte codes column is what fits in
    * memory, and candidate volume stays ∝ nprobe/clusters. Then the
    * RESIDUAL (IVFADC) sweep from the persisted pqres codes. */
  val ivfpq = Entry("vector.ivfpq", "[rows=10M]", Seq(10000L)) { (c, sz) =>
    val spark = c.spark
    val rows = sz(0, 10000000L)
    // 250 cells, not √N: build-time assignment is a broadcast corpus ×
    // centroids join, while serving cost is candidates ∝
    // nprobe/clusters — 40k vectors/cell keeps both ends honest at 10M
    val clusters = 250
    // three-level hierarchy: cell-sized clusters (the IVF partition),
    // ~100-member subclusters INSIDE each cluster (sub % clusters =
    // cluster, so a subcluster never straddles cells), per-vector noise.
    // Weights put a query's true top-k in its subcluster (cos ≈ .9) over
    // in-cluster strangers (≈ .6) over cross-cluster (≈ 0) — geometry
    // the 4-bit ADC codes must RESOLVE, not one dominant center they
    // would collapse on (PQ-without-residuals' documented blind spot)
    val subCol = pmod(col("vec_id"), lit(math.max(1L, rows / 100L)))
    val clusterCol = pmod(subCol, lit(clusters.toLong))
    val vec = hashVector((0.7, "c", clusterCol), (0.5, "s", subCol), (0.25, "n", col("vec_id")))
    // Persist only through 10M rows. Past that the corpus is ~51 GB/10⁸
    // rows, but generation is pure expression compute — every
    // consumer's re-derivation is cheaper than a disk-backed cache.
    val eBase = withNorm(vecIds(c, rows).select(col("vec_id"), vec.as("v")))
    val vs = if (rows <= 10000000L)
      materialize(c, f"materialize $rows%,d clustered vectors ($clusters clusters × 100-member subclusters)", eBase)
    else new Vectors(eBase)
    val brute = c.time(s"brute-force top-$K for $NQueries queries (${rows * NQueries} dots — the no-index baseline)")(
      vs.brute)
    val idxDir = c.dir("vector-ivfpq")
    val raw = vecIds(c, rows)
      .select(col("vec_id"), vec.as("embedding"), clusterCol.cast("int").as("label"))
    c.time(f"AnnIndex.build at $rows%,d vectors ($clusters label cells + PQ codebooks + packed codes — once at ingest)")(
      AnnIndex.build(spark, raw, idxDir))
    val cent = AnnIndex.readCentroids(spark, idxDir)
    val codes = AnnIndex.readCodes(spark, idxDir)
    val assigned = codes.select(col("vec_id"), col("cell"))
    val lut = vs.lut(AnnIndex.readPqCodebooks(spark, idxDir))
    val probeSims = vs.cellSims(cent).persist()
    probeSims.count()
    def probes(nprobe: Int) = topK(probeSims, "csim", "cell", nprobe)
    // (nprobe, shortlist) sweep: nprobe buys cell coverage, shortlist
    // buys ADC-resolution headroom (4-bit codes blur subcluster
    // boundaries — rerank depth is the FAISS-style recall knob, and its
    // cost is exactly shortlist/corpus of the vector I/O)
    val direct = Seq((1, 1000), (2, 1000), (2, 4000), (4, 4000)).map { case (nprobe, shortlist) =>
      val got = c.time(s"IVF-PQ probe-$nprobe + ADC + shortlist-$shortlist rerank top-$K (full serving chain)")(
        vs.shortlistRerank(vs.adcProbed(probes(nprobe), assigned, codes, "pq", lut), shortlist))
      val r = recall(got, brute)
      c.report(s"IVF-PQ probe-$nprobe shortlist-$shortlist", "recall" -> r,
        "cells" -> nprobe.toDouble / clusters, "vector_io_pct" -> shortlist.toDouble / rows * 100)
      (nprobe, shortlist) -> r
    }.toMap
    // gate on the DEEP config's own recall, not the sweep max — a
    // shallower config clearing 0.9 must not mask a deep-config regression
    val deepRecall = direct((4, 4000))
    assert(deepRecall >= 0.9,
      f"the deep config (probe-4, shortlist-4000) must hold ≥0.9 recall on the clustered corpus: $deepRecall%.3f (sweep best ${direct.values.max}%.3f)")

    // ---- RESIDUAL (IVFADC) serving sweep from the PERSISTED pqres
    // component at the same (probe, shortlist) points: exact (query,
    // cell) centroid term + residual ADC, codes read back from the
    // stored pqr column — no vector I/O until the shortlist rerank.
    val rlut = vs.lut(AnnIndex.readPqResCodebooks(spark, idxDir))
    val cellTerms = Some(vs.cellTerms(cent))
    val residual = Seq((2, 1000), (2, 4000)).map { case (nprobe, shortlist) =>
      val got = c.time(s"IVFADC (residual, index-served) probe-$nprobe + shortlist-$shortlist rerank top-$K")(
        vs.shortlistRerank(vs.adcProbed(probes(nprobe), assigned, codes, "pqr", rlut, cellTerms), shortlist))
      c.report(s"IVFADC probe-$nprobe shortlist-$shortlist", "recall" -> recall(got, brute))
      (nprobe, shortlist) -> recall(got, brute)
    }.toMap
    val (res, dir) = (residual((2, 1000)), direct((2, 1000)))
    // residual resolves in-cell structure the direct codes collapse
    c.report("shortlist-1000 probe-2", "residual" -> res, "direct" -> dir)
    assert(res >= dir - 0.05,
      f"residual serving must not regress the tight-shortlist recall: $res%.3f vs direct $dir%.3f")
    probeSims.unpersist()
  }

  /** Two-level coarse assignment at k ≈ √N cells (3,162 at the 10M
    * default): the FULL-SCAN assignment is k dots/row; the two-level
    * expression (graft_nearest_cell2) probes √k super-centroids and
    * exact-argmins the top-3 supers' members — ~4√k dots/row. The full
    * scan is priced on a tenth of the corpus (extrapolate ×10); the
    * divergence RATE on that slice is asserted on clustered geometry. */
  val cells2 = Entry("vector.cells2", "[rows=10M]", Seq(262144L)) { (c, sz) =>
    val spark = c.spark
    val rows = sz(0, 10000000L)
    val k2 = math.round(math.sqrt(rows.toDouble))
    val slice = rows / 10L
    val cent = spark.range(k2).select(col("id").as("clabel"),
        hashVector((1.0, "k", col("id"))).as("cv"))
      .withColumn("cnorm", sqrt(call_function("graft_dot", col("cv"), col("cv"))))
      .persist()
    cent.count()
    // vectors near centroid (vec_id % k2): the true cell is its planted
    // center with small per-vector noise
    val eBase = withNorm(vecIds(c, rows).select(col("vec_id"),
      hashVector((1.0, "k", pmod(col("vec_id"), lit(k2))), (0.15, "n", col("vec_id"))).as("v")))
    // Persist only through 10M rows. Past that the corpus is ~64 B/dim ×
    // rows (51 GB at 100M) — but generation is pure expression compute,
    // so the single assignment scan is CHEAPER re-derived than
    // round-tripped through a disk-backed cache.
    val e = if (rows <= 10000000L)
      materialize(c, f"materialize $rows%,d vectors near $k2 planted centers", eBase).e
    else eBase
    val full = c.time(f"FULL-SCAN assignment, $slice%,d-row slice ($k2 dots/row)") {
      val f = SimilarityQueries.assignCells(e.filter(col("vec_id") < slice), cent, twoLevel = Some(false))
        .select(col("vec_id"), col("cell").as("cell_full")).persist()
      f.count(); f
    }
    val two = c.time(f"TWO-LEVEL assignment, ALL $rows%,d rows (~4*sqrt($k2) dots/row)") {
      val t = SimilarityQueries.assignCells(e, cent, twoLevel = Some(true)).persist()
      t.count(); t
    }
    val diff = two.withColumnRenamed("cell", "cell_two").join(full, "vec_id")
      .filter(col("cell_two") =!= col("cell_full")).count()
    c.report("two-level vs full-scan divergence", "rows" -> diff, "slice" -> slice,
      "pct" -> diff * 100.0 / slice)
    assert(diff.toDouble / slice <= 0.01,
      s"clustered geometry must keep two-level assignment within 1% of exact: $diff diverged")
  }

  /** Residual vs direct PQ raw-ADC on the SINGLE-LEVEL clustered
    * geometry that collapsed direct 4-bit ADC to recall 0.13: every
    * vector = its cluster center + small noise, so direct codes all
    * quantize onto the shared center while residual codes (IVFADC:
    * quantize û − centroid) spend the 16 levels on the within-cell
    * noise. Both sides score the WHOLE corpus by ADC (no IVF pruning,
    * no rerank) — isolating the encoding's resolution: the DISTORTION
    * (mean |ADC − exact| over all query×corpus pairs) and top-10 recall. */
  val respq = Entry("vector.respq", "[rows=1M]", Seq(5000L)) { (c, sz) =>
    val spark = c.spark
    val rows = sz(0, 1000000L)
    val clusterCol = pmod(col("vec_id"), lit(250L))
    val raw = vecIds(c, rows)
      .select(col("vec_id"), hashVector((0.8, "c", clusterCol), (0.3, "n", col("vec_id"))).as("embedding"),
        clusterCol.cast("int").as("label"))
    val vs = materialize(c, f"materialize $rows%,d single-level clustered vectors (250 clusters)",
      SimilarityQueries.prep(spark, raw))
    val e = vs.e
    // exact cosine for EVERY (query, vector) pair — the truth surface
    // both the recall sets and the distortion averages read
    val exactAll = vs.allPairs
      .withColumn("exact_micro", expr("CAST(floor(cos_sim * 1000000 + 0.5D) AS BIGINT)"))
      .drop("cos_sim").persist()
    val brute = c.time(s"brute-force top-$K truth for $NQueries queries (${rows * NQueries} dots)")(
      topKSet(exactAll, "exact_micro", "neighbor_id", K))
    // coarse quantizer: label centroids; cells via the one-pass expression
    val cent = SimilarityQueries.quantizer(spark, raw, n = rows).persist()
    cent.count()
    val assigned = c.time("assignCells over the corpus (one-pass NearestCellExpr)") {
      val a = SimilarityQueries.assignCells(e, cent).persist(); a.count(); a
    }
    // (recall@K, mean |ADC − exact| in micro) of a full-corpus ADC frame
    def statsOf(adc: DataFrame): (Double, Double) = {
      val a = adc.persist()
      try {
        val got = topKSet(a, "adc_micro", "neighbor_id", K)
        val err = a.join(exactAll, Seq("query_id", "neighbor_id"))
          .agg(avg(abs(col("adc_micro") - col("exact_micro")))).head().getDouble(0)
        (recall(got, brute), err)
      } finally a.unpersist()
    }
    def scored(codes: DataFrame, lut: DataFrame, keys: String*): DataFrame = asNeighbors(codes)
      .join(broadcast(lut), Seq("sub", "code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id" +: keys: _*)
      .agg(sum("lut_micro").as("adc_micro"))
    // DIRECT PQ: unit-subvector codebooks + whole-corpus ADC
    val dcb = c.time("direct PQ training (per-subspace Lloyd)")(
      PqQueries.pqCodebooks(spark, raw.drop("label")))
    val (directRecall, directErr) = c.time(s"direct raw-ADC top-$K + distortion over the whole corpus")(
      statsOf(scored(PqQueries.assignCodes(PqQueries.subvectors(e), dcb), vs.lut(dcb))))
    // RESIDUAL PQ: codebooks over û − centroid(cell); score = exact
    // (query, cell) term + residual ADC (the sim_ivfpq_res math)
    val rcb = c.time("residual PQ training (Lloyd over û − centroid)")(
      PqQueries.pqResCodebooks(spark, raw.drop("label"), cent, assigned))
    val rcodes = PqQueries.assignCodes(PqQueries.residualSubvectors(e, cent, assigned), rcb)
      .join(assigned, "vec_id")
    val (residualRecall, residualErr) = c.time(s"residual raw-ADC top-$K + distortion over the whole corpus")(
      statsOf(scored(rcodes, vs.lut(rcb), "cell")
        .withColumnRenamed("adc_micro", "radc_micro")
        .join(broadcast(vs.cellTerms(cent)), Seq("query_id", "cell"))
        .select(col("query_id"), col("neighbor_id"),
          (col("qc_micro") + col("radc_micro")).as("adc_micro"))))
    c.report("RESPQ A/B", "direct_recall" -> directRecall, "direct_distortion" -> directErr / 1e6,
      "residual_recall" -> residualRecall, "residual_distortion" -> residualErr / 1e6,
      "distortion_ratio" -> directErr / residualErr)
    // The distortion gate is the primary contract: the exact cell term
    // removes the cluster-level quantization error from every score.
    // Top-10 recall on this geometry is noise-ranking inside a
    // ~rows/250-member cell — hard for ANY 4-bit code — so it gates
    // only on "residuals never regress it".
    assert(residualErr * 2 <= directErr,
      f"residual encoding must at least halve ADC distortion on the clustered geometry: " +
        f"direct ${directErr / 1e6}%.6f vs residual ${residualErr / 1e6}%.6f")
    assert(residualRecall >= directRecall - 0.02,
      f"residuals must not regress recall: $residualRecall%.3f vs $directRecall%.3f")
  }

  val entries: Seq[Entry] = Seq(main, ivfpq, cells2, respq)
}
