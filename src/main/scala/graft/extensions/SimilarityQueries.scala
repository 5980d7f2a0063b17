package graft.extensions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.QueryDef

/** Similarity search over the `embeddings` table (SURVEY.md §2.3 X3).
  *
  * Two paths:
  *  - brute-force top-k: the baseline. Query set is tiny → broadcast;
  *    candidates stream map-side; ranking is a bounded per-query window.
  *  - SRP-LSH (sign-random-projection) bucketed top-k: the 100 TB path.
  *    16 deterministic hyperplanes → 16-bit code → 4 bands × 4 bits;
  *    only same-bucket candidates are scored. Hyperplane signs derive
  *    from md5 parity, so the oracle reproduces them exactly (no RNG).
  *
  * Dot products are computed in double precision with index-order
  * accumulation on both engines; ranking uses the ROUNDED similarity
  * (+ id tiebreak) so last-ulp differences can never flip an ordering.
  */
object SimilarityQueries {

  private val K = 10
  private val N_QUERIES = 10 // query set: vec_id < 10
  private[graft] val N_PLANES = 16
  private[graft] val BAND_BITS = 4
  private[extensions] val KMEANS_K = 10
  private[extensions] val KMEANS_ITERS = 3

  private[extensions] def emb(s: SparkSession, d: String): DataFrame =
    prep(s, s.read.parquet(s"$d/embeddings.parquet"))

  /** Whether a certified index froze the quantizer these ORACLE-GATED
    * kmeans-cell consumers can reproduce: kind "kmeans" AND the default
    * k. A maintain-retuned index (grown k — [[AnnIndex.quantizerHealth]])
    * legitimately buckets differently, so these queries fall back to the
    * always-correct recompute while the quantizer-free SRP paths keep
    * serving it; same for a legacy meta whose k is unknown (-1). */
  private def defaultKmeans(s: SparkSession, dir: String): Boolean = {
    val m = AnnIndex.readMeta(s, dir)
    m.quantizer == "kmeans" && m.kCells == KMEANS_K
  }

  /** The certified index that may serve the k-means cells of the prepped
    * corpus `e`: fingerprint-matched and [[defaultKmeans]]. */
  private[extensions] def kmeansIndex(s: SparkSession, e: DataFrame): Option[String] =
    AnnIndex.resolveFor(s, e).filter(defaultKmeans(s, _))

  /** The k-means cells of the prepped corpus `e` of dataset `d`:
    * (centroids (clabel, cv, cnorm), assigned (vec_id, cell)). Served
    * from `index` when it froze the quantizer, else the memoized
    * deterministic [[kmeansCentroids]] + [[assignCells]] — the recompute
    * is what the oracles unroll, so index-served ≡ recomputed
    * (AnnIndexSpec pins it). sim_ivf and sim_recall's IVF leg serve
    * LABEL cells and keep their own rule. */
  private[extensions] def kmeansCells(s: SparkSession, d: String, e: DataFrame,
      index: Option[String]): (DataFrame, DataFrame) = index match {
    case Some(dir) =>
      (AnnIndex.readCentroids(s, dir), AnnIndex.readCodes(s, dir).select(col("vec_id"), col("cell")))
    case None =>
      val c = kmeansCentroids(s, s.read.parquet(s"$d/embeddings.parquet").drop("label"))
      (c, assignCells(e, c))
  }

  private[extensions] def kmeansCells(s: SparkSession, d: String, e: DataFrame): (DataFrame, DataFrame) =
    kmeansCells(s, d, e, kmeansIndex(s, e))

  /** (vec_id, cell, v, norm): the corpus with its k-means cell. Persisted
    * — one session memo for dedup_semantic, sem_recall(_sampled) and the
    * knn_graph family, whose pair joins read it on both sides; without
    * it each reader re-derives the corpus × k assignment pass. */
  private def cellVecs(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val (_, assigned) = kmeansCells(s, d, e)
    assigned.join(e, "vec_id").persist() // session-scoped memo (QueryDef cache contract)
  }

  /** Normalize a raw embeddings frame (vec_id, embedding, ...) into the
    * scoring shape (vec_id, v: double[], norm). Shared with AnnIndex so
    * index-build and query-time math are the same expressions. */
  private[graft] def prep(s: SparkSession, raw: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    raw.select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
  }

  // -------------------------------------------------------------------
  // X3a brute-force cosine top-k.
  // -------------------------------------------------------------------
  val topk: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d)
      val q = e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      // top-K via the graft_topk bounded heap, not a row_number window:
      // the window form shuffles EVERY scored row into |queries|
      // partitions (Q = 10 — a 32-core stage runs 10 tasks) and sorts
      // them; the heap partial-aggregates map-side so the exchange
      // carries ≤ tasks × Q heap states and nothing sorts more than K
      // rows. Identical output is the heap's contract (score DESC, id
      // ASC — the window's exact total order; knn_graph_agg pinned it
      // against the same row_number oracle).
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("dot", call_function("graft_dot", col("v"), col("qv")))
        .withColumn("cos_sim", round(col("dot") / (col("norm") * col("qnorm")), 6))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cos_sim, vec_id, $K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").as("cos_sim"))
        .orderBy("query_id", "rank")
    },
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e WHERE vec_id < $N_QUERIES
         |), scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |         round(list_dot_product(e.v, q.qv) / (e.norm * q.qnorm), 6) AS cos_sim
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin),
    doc = "X3 brute-force cosine top-k (broadcast queries, map-side scoring)")

  // -------------------------------------------------------------------
  // X3b SRP-LSH bucketed ANN. Deterministic hyperplane sign
  // s(p, j) = +1 iff lowest md5 bit of "p_j" is set. A vector's code bit
  // p is sign(Σ_j v[j]·s(p,j)). Candidates must share a 4-bit band with
  // the query; survivors are scored exactly and ranked.
  // -------------------------------------------------------------------
  /** Hyperplane sign s(p, j) = ±1 from md5 parity of "p_j" — computed
    * once on the driver (they are constants) and shipped as array
    * literals; the oracle derives the identical values in SQL.
    * Shared with [[DedupQueries.embedCosineLsh]] so both SRP users
    * bucket with the identical hyperplanes. Plane p's signs do not
    * depend on the total plane count, so a wider scheme extends a
    * narrower one (codes agree on their shared low bits). */
  private[extensions] def planeSigns(p: Int): Seq[Double] = {
    val digest = java.security.MessageDigest.getInstance("MD5")
    (0 until 64).map { j =>
      val hex = digest.digest(s"${p}_$j".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      ((java.lang.Long.parseLong(hex, 16) % 2) * 2 - 1).toDouble
    }
  }

  /** SRP code per vector, map-side: (vec_id, v, norm) → + `planes`-bit
    * code. Shared by sim_ann, dedup_embed_lsh, AnnIndex, and
    * the smokes so every SRP user buckets with the identical
    * scheme. The default (16 planes / 4-bit bands) is the GATED
    * configuration — the DuckDB oracles derive it bit-for-bit; wider
    * schemes are the corpus-growth knob (see srpBands). */
  private[graft] def srpCoded(e: DataFrame, planes: Int = N_PLANES,
                              carry: Seq[String] = Nil): DataFrame = {
    require(planes >= 1 && planes <= 62, s"SRP planes must be in [1, 62], got $planes")
    (0 until planes).foldLeft(e) { (df, p) =>
      df.withColumn(s"bit_$p",
        (call_function("graft_dot", col("v"), typedlit(planeSigns(p))) > 0D).cast("long"))
    }.withColumn("code",
      (0 until planes).map(p => expr(s"shiftleft(bit_$p, $p)")).reduce(_ + _))
      .select((Seq("vec_id", "v", "norm", "code") ++ carry).map(col): _*)
  }

  /** SLIM (vec_id, band, bucket) rows — the only shape that may enter a
    * band self-join: wide vectors riding the join + pair-dedup measured
    * 3× slower at 1M vectors (the `vector` smoke / docs/PLANS.md).
    *
    * Scale knob: expected bucket occupancy is N / 2^bandBits per band —
    * the self-join cost per bucket is quadratic in it, so bandBits must
    * GROW with the corpus (4 bits / 16 buckets serves the gated test
    * scale; ~10⁹ vectors wants 16+ bits). Recall for a pair with sign
    * agreement s is 1 − (1 − s^bandBits)^bands: more bits per band
    * prunes harder AND more selectively — the `vector` smoke measures the
    * 4-bit vs 8-bit trade at 1M vectors. */
  private[graft] def srpBands(coded: DataFrame, planes: Int = N_PLANES,
                              bandBits: Int = BAND_BITS,
                              carry: Seq[String] = Nil): DataFrame = {
    require(planes % bandBits == 0, s"planes ($planes) must be a multiple of bandBits ($bandBits)")
    coded.select(col("vec_id") +: col("code") +:
        explode(expr(s"sequence(0, ${planes / bandBits - 1})")).as("band") +:
        carry.map(col): _*)
      .withColumn("bucket", expr(s"shiftright(code, band * $bandBits) & ${(1 << bandBits) - 1}"))
      .select(("vec_id" +: "band" +: "bucket" +: carry).map(col): _*)
  }

  val ann: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      // codes from the persisted _ann index when one is certified
      // (AnnIndex.ConfKey → usable dir), recomputed map-side otherwise.
      // A default-scheme index yields results identical to recompute; an
      // index built with a wider scheme buckets by ITS persisted params
      // (a legitimate, differently-tuned ANN answer).
      // Candidates on slim rows only; vectors join back once for scoring.
      val bands = (AnnIndex.resolveFor(s, e) match {
        case Some(dir) => AnnIndex.bandsFromIndex(s, dir)
        case None      => srpBands(srpCoded(e))
      })
        .persist()
      val qb = bands.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
      // graft_topk heap instead of the row_number window (the sim_topk
      // rationale: map-side partial agg, no Q-partition sort)
      bands.join(qb, Seq("band", "bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
        .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
        .join(broadcast(e.filter(col("vec_id") < N_QUERIES)
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))), "query_id")
        .withColumn("dot", call_function("graft_dot", col("v"), col("qv")))
        .withColumn("cos_sim", round(col("dot") / (col("norm") * col("qnorm")), 6))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cos_sim, neighbor_id, $K)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("neighbor_id"), col("col.score").as("cos_sim"))
        .orderBy("query_id", "rank")
    },
    oracle = Some {
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |), planes AS (
         |  SELECT p.p, j.j,
         |         ((('0x' || substring(md5(p.p::VARCHAR || '_' || j.j::VARCHAR), 1, 8))::BIGINT % 2) * 2 - 1)::DOUBLE AS sgn
         |  FROM generate_series(0, ${N_PLANES - 1}) p(p) CROSS JOIN generate_series(0, 63) j(j)
         |), pv AS (
         |  -- index-ordered plane vector: the projection must accumulate in
         |  -- the same element order as Spark's graft_dot, or FP
         |  -- non-associativity could flip a near-zero sign bit
         |  SELECT p, list(sgn ORDER BY j) AS sv FROM planes GROUP BY p
         |), proj AS (
         |  SELECT e.vec_id, pv.p, list_dot_product(e.v, pv.sv) AS s
         |  FROM e CROSS JOIN pv
         |), coded AS (
         |  SELECT vec_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS code
         |  FROM proj GROUP BY vec_id
         |), bands AS (
         |  SELECT c.vec_id, c.code, g.band, (c.code >> (g.band * $BAND_BITS)) & ${(1 << BAND_BITS) - 1} AS bucket
         |  FROM coded c CROSS JOIN generate_series(0, ${N_PLANES / BAND_BITS - 1}) g(band)
         |), cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bands q JOIN bands b ON q.band = b.band AND q.bucket = b.bucket
         |  WHERE q.vec_id < $N_QUERIES AND b.vec_id <> q.vec_id
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(list_dot_product(eq.v, en.v) / (eq.norm * en.norm), 6) AS cos_sim
         |  FROM cand c JOIN e eq ON c.query_id = eq.vec_id JOIN e en ON c.neighbor_id = en.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
    },
    doc = "X3 SRP-LSH bucketed ANN (deterministic hyperplanes, band join)")

  // -------------------------------------------------------------------
  // X3c IVF-style bucketed ANN: a deterministic coarse quantizer (per-
  // label centroids, rounded to 6dp so both engines derive bit-identical
  // cells) partitions the corpus; queries probe their 2 nearest cells
  // and only those vectors are scored exactly. The centroid table is
  // dims×cells — always broadcastable; the cell assignment is one
  // map-side pass over the corpus.
  // -------------------------------------------------------------------
  private[graft] val N_PROBE = 2

  /** Corpus rows from which [[quantizer]] derives LABEL centroids with
    * the one-pass vector-mean aggregate instead of the oracle-replayed
    * explode + per-dim avg (640M exploded rows at 10M×64). Only a
    * caller that knows the row count (AnnIndex.build) crosses it; every
    * oracle SF (≤ 5k rows) stays on the explode form. Both forms stay
    * because the explode form measured 1.7× slower at 1M rows. */
  private[graft] val LabelMeanMinRows = 1000000L

  /** The IVF coarse quantizer: per-label centroid table, rounded 6dp so
    * both engines (and index-build vs query-time) derive bit-identical
    * cells. dims×cells rows — always broadcastable. Shared with
    * AnnIndex.build so the persisted centroids are the same values the
    * live path derives. `vectorMean` picks the one-pass form
    * (`Summarizer.mean` over ml vectors — per-dim running sums, no
    * explode): same mean, different summation tree, so values agree to
    * the 6dp both forms round to, but it is not bit-replayed by the
    * oracle — the sampled-kmeans contract. */
  private[graft] def centroidTable(s: SparkSession, raw: DataFrame,
                                   vectorMean: Boolean = false): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    if (vectorMean) {
      import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
      raw.select(col("label").cast("long").as("clabel"),
          array_to_vector(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as("fv"))
        .groupBy("clabel")
        .agg(org.apache.spark.ml.stat.Summarizer.mean(col("fv")).as("mv"))
        .select(col("clabel"), vector_to_array(col("mv"), "float64").as("mvarr"))
        .select(col("clabel"),
          expr("transform(mvarr, x -> round(x, 6))").as("cv"))
        .withColumn("cnorm", sqrt(call_function("graft_dot", col("cv"), col("cv"))))
    } else
      raw.select(col("label").cast("long").as("clabel"),
          posexplode(expr("transform(embedding, x -> CAST(x AS DOUBLE))")).as(Seq("dim", "x")))
        .groupBy("clabel", "dim").agg(round(avg("x"), 6).as("cx"))
        .groupBy("clabel")
        .agg(expr("transform(array_sort(collect_list(struct(dim, cx))), p -> p.cx)").as("cv"))
        .withColumn("cnorm", sqrt(call_function("graft_dot", col("cv"), col("cv"))))
  }

  /** The coarse quantizer for a corpus: label centroids when labeled,
    * deterministic k-means otherwise. `k ≤ 0` means the default
    * [[KMEANS_K]]; an explicit k is the retune path
    * ([[AnnIndex.quantizerHealth]] grows it). */
  private[graft] def quantizer(s: SparkSession, raw: DataFrame, k: Int = 0,
                                    n: Long = -1L,
                                    fpKnown: Option[(Long, Long, Long, Long, Long)] = None): DataFrame =
    if (raw.columns.contains("label")) centroidTable(s, raw, vectorMean = n >= LabelMeanMinRows)
    else kmeansCentroids(s, raw, if (k > 0) k else KMEANS_K, KMEANS_ITERS, fpKnown)

  /** (clabel, cv, cnorm) frame from driver-held centroid vectors —
    * bounded (k rows), used to broadcast the evolving k-means centers. */
  private def centFrame(s: SparkSession, cent: Seq[(Long, Seq[Double])]): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    import s.implicits._
    cent.toDF("clabel", "cv")
      .withColumn("cnorm", sqrt(call_function("graft_dot", col("cv"), col("cv"))))
  }

  /** Unsupervised IVF coarse quantizer: spherical k-means (Lloyd, cosine
    * assignment, per-dimension mean update) made fully deterministic so
    * the DuckDB oracle reproduces it bit-for-bit — no RNG anywhere:
    *
    *  - seeding: the k corpus vectors ranked first by md5(vec_id) — a
    *    reproducible pseudo-random draw (the md5-bucket convention the
    *    training-prep queries already gate on);
    *  - a FIXED iteration count (no data-dependent convergence test);
    *  - assignment = the same rounded-cosine + lowest-label tiebreak as
    *    [[assignCells]]; centroid update = per-dimension avg rounded to
    *    6dp (the [[centroidTable]] discipline), so every cross-engine
    *    comparison happens on rounded values;
    *  - an emptied cell keeps its previous center (coalesce), never
    *    respawns.
    *
    * Each iteration is one broadcast-assign pass + one grouped mean over
    * the corpus — k×dims rows collect to the driver per iteration
    * (bounded metadata, like the engine's day lists), which also keeps
    * the per-iteration plan flat instead of stacking k joins of lineage.
    *
    * MEMOIZED per (session, corpus fingerprint, k, iters): the training
    * is ~2·iters corpus passes, and a session running kmeans_centroids
    * and sim_ivf_kmeans back-to-back would otherwise train the same
    * quantizer twice. The probe is one agg pass (the AnnIndex corpus
    * fingerprint, content hash included — a mutated corpus can never be
    * served a stale quantizer); the cached value is k×dims driver-held
    * doubles. Bounded: the memo clears past 8 corpora (the CacheHygiene
    * discipline). The certified-AnnIndex path still skips even the
    * first train. */
  private val kmeansMemo =
    new java.util.LinkedHashMap[String, Seq[(Long, Seq[Double])]](16, 0.75f, true) {
      // oldest-first eviction past the bound (the pqMemo discipline) —
      // never a full clear that drops live quantizers mid-session
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[(Long, Seq[Double])]]): Boolean = size > 8
    }

  private[graft] def kmeansCentroids(s: SparkSession, raw: DataFrame,
      k: Int = KMEANS_K, iters: Int = KMEANS_ITERS,
      fpKnown: Option[(Long, Long, Long, Long, Long)] = None): DataFrame = {
    // fpKnown: a caller that already holds the corpus fingerprint
    // (AnnIndex.build) skips the memo probe's content scan — the
    // pqCodebooks pledge discipline applies (a mismatched pledge would
    // poison the session's quantizer memo)
    val fp = fpKnown.getOrElse(AnnIndex.fingerprint(raw))
    // the resolved sample target is part of the key: training output
    // depends on it, so flipping spark.graft.ann.trainSampleRows
    // mid-session must retrain, never serve the other target's entry
    val key = s"${System.identityHashCode(s)}:$fp:$k:$iters:${trainSampleTarget(s, k.toLong)}"
    // double-checked (the pqMemoized discipline): never hold the global
    // lock through a multi-pass Spark training job
    val hit = kmeansMemo.synchronized(kmeansMemo.get(key))
    val cb = if (hit != null) hit else {
      val trained = trainKmeans(s, raw, k, iters, fp._1)
      kmeansMemo.synchronized {
        val raced = kmeansMemo.get(key)
        if (raced != null) raced else { kmeansMemo.put(key, trained); trained }
      }
    }
    centFrame(s, cb)
  }

  // -------------------------------------------------------------------
  // Sampled training (the FAISS discipline): Lloyd quality saturates at
  // a few hundred samples per centroid, so past a size gate the
  // quantizer/PQ training passes run on a bounded deterministic sample
  // instead of the full corpus — at 10M vectors, full-corpus training
  // was 65% of the whole AnnIndex.build (64 s quantizer + 94 s PQ of
  // 244 s), and at 10⁹ it is ~6 full-corpus scans for parameters a
  // 256k sample estimates equally well. Below the gate training is
  // bit-for-bit the round-10 full-corpus pass — every oracle SF
  // (≤ 5k rows) replays unchanged. The sample is the md5(vec_id)-HEAD
  // of the hash space (keep vec_ids whose 32-bit md5 prefix falls in
  // the first target/n of the space — the knn_recall_sampled
  // convention): a pure function of vec_id, so the same corpus always
  // trains the same parameters on any cluster layout, and the md5-ranked
  // seed rows are the sample's own head by construction.
  // -------------------------------------------------------------------
  /** Session conf: training-sample target for the quantizer/PQ Lloyd
    * passes. `0` (default) = auto `max(262144, 64·k)`; `-1` disables
    * sampling (always full-corpus — the pre-round-11 behavior);
    * positive = explicit target (what specs lower to exercise the
    * sampled path at test scale). */
  private[graft] val TrainSampleKey = "spark.graft.ann.trainSampleRows"

  private[graft] def trainSampleTarget(s: SparkSession, k: Long): Long = {
    val conf = graft.core.Conf.long(s, TrainSampleKey, 0L)
    if (conf < 0) Long.MaxValue
    // explicit targets are floored at 64/centroid: a target below k
    // would silently starve the seed TakeOrdered and train fewer cells
    // than requested (the quantizerHealth retune path grows k)
    else if (conf > 0) math.max(conf, 64L * k)
    else math.max(262144L, 64L * k)
  }

  /** The deterministic md5-head sample of a prepped (vec_id, v, norm)
    * frame — identity at or below the target. The threshold over-admits
    * by ceil, so the expected sample is ≥ target (never a starved
    * train); the binomial spread around target/n is irrelevant to
    * training quality. */
  private[graft] def trainSampleOf(e: DataFrame, n: Long, target: Long): DataFrame =
    if (n <= target) e
    else {
      val thresh = math.min(4294967295L, math.ceil(4294967296.0 * target / n).toLong)
      e.filter(expr("cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint)")
        < lit(thresh))
    }

  /** Training invocations — the memo's observable (spec-pinned). */
  private[graft] val kmeansTrainCount = new java.util.concurrent.atomic.AtomicLong()

  /** The actual Lloyd loop (see [[kmeansCentroids]] for the scheme).
    * `n` = corpus rows (the fingerprint's count, already paid): past
    * [[trainSampleTarget]] the loop trains on the md5-head sample —
    * persisted, since all `iters` assignment+mean passes re-read it —
    * with seeds drawn from the sample (≡ the corpus head: the k
    * md5-smallest ids are inside any sample orders of magnitude larger
    * than k). */
  private def trainKmeans(s: SparkSession, raw: DataFrame,
      k: Int, iters: Int, n: Long = -1L): Seq[(Long, Seq[Double])] = {
    kmeansTrainCount.incrementAndGet()
    val target = trainSampleTarget(s, k)
    val sampled = n > target
    val e = if (sampled) trainSampleOf(prep(s, raw), n, target) else prep(s, raw)
    def loop(): Seq[(Long, Seq[Double])] = {
      val seeds = e.select(col("vec_id"), col("v"))
        .withColumn("h", md5(col("vec_id").cast("string")))
        .orderBy("h", "vec_id").limit(k)
        .collect() // bounded: k rows (TakeOrdered, no global sort)
      var cent: Seq[(Long, Seq[Double])] = seeds.toSeq.zipWithIndex.map {
        case (r, i) => (i.toLong, r.getSeq[Double](r.fieldIndex("v")))
      }
      for (_ <- 1 to iters) {
        val means = assignCells(e, centFrame(s, cent)).join(e, "vec_id")
          .select(col("cell").as("clabel"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy("clabel", "dim").agg(round(avg("x"), 6).as("cx"))
          .groupBy("clabel")
          .agg(expr("transform(array_sort(collect_list(struct(dim, cx))), p -> p.cx)").as("cv"))
          .collect() // bounded: ≤ k rows
          .map(r => (r.getLong(r.fieldIndex("clabel")), r.getSeq[Double](r.fieldIndex("cv"))))
          .toMap
        cent = cent.map { case (l, old) => (l, means.getOrElse(l, old)) }
      }
      cent
    }
    // borrow-don't-own (TransientCache): the sample plan can alias a
    // live session memo (a *_sampled recall query's persisted md5-head
    // frame, or AnnIndex.build's shared sample) — an owned unpersist
    // here would evict that entry from under its owner
    if (sampled) graft.core.TransientCache.borrowCached(e)(loop()) else loop()
  }

  /** The k-means CTE chain shared by the kmeans oracles: seeds ranked by
    * md5(vec_id), then `iters` unrolled Lloyd steps; `c$iters` is the
    * final (clabel, cv, cnorm) table. Mirrors [[kmeansCentroids]]
    * step-for-step (same rounding, same tiebreaks, same index-order dot
    * products). */
  private[extensions] def kmeansOracleCtes(k: Int, iters: Int): String = {
    val head =
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |), seeds AS (
         |  SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS clabel, v
         |  FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k
         |), c0 AS (
         |  SELECT clabel, v AS cv, sqrt(list_dot_product(v, v)) AS cnorm FROM seeds
         |)""".stripMargin
    val steps = (1 to iters).map { i =>
      s""", s$i AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c${i - 1} c
         |), a$i AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM s$i) WHERE rk = 1
         |), m$i AS (
         |  SELECT a.cell AS clabel, g.d AS dim, round(avg(e.v[g.d + 1]), 6) AS cx
         |  FROM a$i a JOIN e ON a.vec_id = e.vec_id CROSS JOIN generate_series(0, 63) g(d)
         |  GROUP BY 1, 2
         |), n$i AS (
         |  SELECT clabel, list(cx ORDER BY dim) AS cv FROM m$i GROUP BY clabel
         |), c$i AS (
         |  SELECT p.clabel, coalesce(n.cv, p.cv) AS cv,
         |         sqrt(list_dot_product(coalesce(n.cv, p.cv), coalesce(n.cv, p.cv))) AS cnorm
         |  FROM c${i - 1} p LEFT JOIN n$i n ON p.clabel = n.clabel
         |)""".stripMargin
    }.mkString
    head + steps
  }

  /** Rounded cosine of every vector against every centroid — one
    * map-side pass (broadcast centroid table). */
  private[graft] def cellSims(vecs: DataFrame, cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .withColumn("csim",
        round(call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")), 6))
      .select(col("vec_id"), col("clabel"), col("csim"))

  /** Nearest-centroid cell per vector (deterministic: rounded sim +
    * lowest-label tiebreak). Shared by the live ivf path and AnnIndex,
    * so cells persisted at build/append time are exactly the cells the
    * live path would assign against the same centroids.
    *
    * ONE map-side pass via the codegen'd [[graft.functions
    * .NearestCellExpr]] — bit-identical to the former
    * corpus × centroids broadcast-NLJ + max_by form ([[assignCellsJoin]],
    * kept for the AssignCellsSpec cross-check), which materialized
    * n·k intermediate rows just to reduce them again: 869 s of the
    * round-9 10M-vector AnnIndex.build was this join. The centroid
    * table is k driver-held rows by construction (it IS the quantizer),
    * shipped into the expression as literals — the broadcast analog
    * with zero join machinery. */
  private[graft] def assignCells(vecs: DataFrame, cent: DataFrame,
                                 twoLevel: Option[Boolean] = None): DataFrame =
    vecs.select(col("vec_id"), nearestCellCol(cent, twoLevel).as("cell"))

  /** Centroid count at which [[nearestCellCol]] switches to the
    * TWO-LEVEL assignment expression (`graft_nearest_cell2`):
    * pre-rank √k unit super-centroids, exact argmin over the top-3
    * supers' members — ~2√k dots/row instead of k, the FAISS-style
    * answer to assignment itself becoming the ingest wall once
    * k ≈ √N (10⁸ vectors ⇒ k = 10⁴ dots/row under the full scan).
    * Bounded-divergent: a row whose true cell sits outside both probed
    * supers assigns to its best probed cell (the `vector.cells2` smoke
    * measures the rate; TwoLevelCellSpec pins determinism and the
    * agreement bound). Every oracle-replayed quantizer (k ≤ 250 across
    * registry + smokes) stays on the exact full scan. */
  private[graft] val TwoLevelMinK = 512

  /** Deterministic driver-side clustering of the k centroids into
    * ⌈√k⌉ super-cells (spherical Lloyd, 5 iterations, first-k seeding —
    * all on unit-normalized centroids, plain Scala: the quantizer is
    * driver-held by construction). Returns (unit super-centroids,
    * member indices per super). */
  private[graft] def superCluster(cvs: Array[Array[Double]],
                                  cnorms: Array[Double]): (Seq[Seq[Double]], Seq[Seq[Int]]) = {
    val k = cvs.length
    val dims = cvs(0).length
    val unit = Array.tabulate(k) { i =>
      val n = if (cnorms(i) == 0.0) 1.0 else cnorms(i)
      cvs(i).map(_ / n)
    }
    val ns = math.ceil(math.sqrt(k.toDouble)).toInt
    var sup = Array.tabulate(ns)(i => unit(i).clone()) // first-k seeds (deterministic)
    var assign = new Array[Int](k)
    for (_ <- 1 to 5) {
      var i = 0
      while (i < k) {
        var best = 0; var bestD = Double.NegativeInfinity
        var s = 0
        while (s < ns) {
          var d = 0.0; var j = 0
          while (j < dims) { d += unit(i)(j) * sup(s)(j); j += 1 }
          if (d > bestD) { bestD = d; best = s }
          s += 1
        }
        assign(i) = best
        i += 1
      }
      sup = Array.tabulate(ns) { s =>
        val mem = (0 until k).filter(assign(_) == s)
        if (mem.isEmpty) sup(s) // an emptied super keeps its center
        else {
          val m = new Array[Double](dims)
          mem.foreach(i => { var j = 0; while (j < dims) { m(j) += unit(i)(j); j += 1 } })
          var nn = 0.0; var j = 0
          while (j < dims) { m(j) /= mem.length; nn += m(j) * m(j); j += 1 }
          val n = math.sqrt(nn)
          if (n == 0.0) sup(s) else m.map(_ / n)
        }
      }
    }
    // one FINAL assignment against the post-update supers: the loop's
    // last step moved the centers, so members derived from the stale
    // assignment could park a migrated centroid under the wrong super
    // (probed via a super it no longer belongs to -> extra divergence)
    var i = 0
    while (i < k) {
      var best = 0; var bestD = Double.NegativeInfinity
      var t = 0
      while (t < ns) {
        var d = 0.0; var j = 0
        while (j < dims) { d += unit(i)(j) * sup(t)(j); j += 1 }
        if (d > bestD) { bestD = d; best = t }
        t += 1
      }
      assign(i) = best
      i += 1
    }
    val members = (0 until ns).map(s => (0 until k).filter(assign(_) == s))
    (sup.map(_.toSeq).toSeq, members)
  }

  /** The assignment as a COLUMN over any frame carrying (v, norm) —
    * what lets AnnIndex derive its whole codes table in one projection
    * (SRP code + cell + packed PQ are all map-side expressions). From
    * [[TwoLevelMinK]] cells on the column is the two-level pruned form;
    * `twoLevel` pins one path whatever k is (the exact scan is the
    * reference the two-level form is measured against). */
  private[graft] def nearestCellCol(cent: DataFrame,
                                    twoLevel: Option[Boolean] = None): org.apache.spark.sql.Column = {
    graft.functions.VectorFunctions.register(cent.sparkSession)
    val rows = cent.select(col("clabel").cast("long"), col("cv"), col("cnorm").cast("double"))
      .collect() // bounded: k centroid rows (the quantizer is driver-sized)
    // fail LOUDLY on an empty quantizer: the expression would otherwise
    // assign cell = Long.MaxValue to every vector while the join form
    // (assignCellsJoin) emits no rows — a silent bit-identity divergence
    require(rows.nonEmpty, "nearestCellCol: empty centroid frame (no quantizer cells)")
    val labels = rows.map(_.getLong(0)).toSeq
    val cvs = rows.map(_.getSeq[Double](1)).toSeq
    val cnorms = rows.map(_.getDouble(2)).toSeq
    val labelType = cent.schema("clabel").dataType
    val assignExpr =
      if (twoLevel.getOrElse(rows.length >= TwoLevelMinK)) {
        val (su, members) = superCluster(cvs.map(_.toArray).toArray, cnorms.toArray)
        call_function("graft_nearest_cell2", col("v"), col("norm"),
          typedlit(labels), typedlit(cvs), typedlit(cnorms),
          typedlit(su), typedlit(members))
      } else
        call_function("graft_nearest_cell", col("v"), col("norm"),
          typedlit(labels), typedlit(cvs), typedlit(cnorms))
    assignExpr.cast(labelType)
  }

  /** The round-9 join form of [[assignCells]] — the equivalence
    * reference AssignCellsSpec pins the expression against. */
  private[graft] def assignCellsJoin(vecs: DataFrame, cent: DataFrame): DataFrame =
    cellSims(vecs, cent).groupBy("vec_id")
      .agg(max_by(col("clabel"), struct(col("csim"), -col("clabel"))).as("cell"))
      .select(col("vec_id"), col("cell"))

  /** The IVF probe-and-score tail shared by sim_ivf and sim_ivf_kmeans:
    * probe the N_PROBE nearest cells per query (|queries| × |cells| —
    * trivial), score exactly only the vectors assigned to probed cells. */
  private def ivfTopk(e: DataFrame, cent: DataFrame, assigned: DataFrame): DataFrame = {
    // both rank steps run the graft_topk bounded heap, not row_number
    // windows (the sim_topk rationale: map-side partial agg, no
    // Q-partition sort; heap tie order = the window's ORDER BY)
    val probes = cellSims(e.filter(col("vec_id") < N_QUERIES), cent)
      .groupBy("vec_id")
      .agg(expr(s"graft_topk(csim, CAST(clabel AS BIGINT), $N_PROBE)").as("top"))
      .select(col("vec_id").as("query_id"), explode(col("top.id")).as("cell"))
    probes.join(assigned, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .join(e.select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm")), "query_id")
      .join(e.select(col("vec_id").as("neighbor_id"), col("v"), col("norm")), "neighbor_id")
      .withColumn("cos_sim",
        round(call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")), 6))
      .groupBy("query_id")
      .agg(expr(s"graft_topk(cos_sim, neighbor_id, $K)").as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("neighbor_id"), col("col.score").as("cos_sim"))
      .orderBy("query_id", "rank")
  }

  val ivf: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d)
      // centroids + corpus cell assignment from the persisted _ann index
      // when certified AND fingerprint-matched to this corpus, derived
      // live otherwise. Probes are always computed at query time against
      // whichever centroid table is in play.
      val (cent, assigned) = AnnIndex.resolveFor(s, e) match {
        case Some(dir) =>
          (AnnIndex.readCentroids(s, dir),
            AnnIndex.readCodes(s, dir).select(col("vec_id"), col("cell")))
        case None =>
          val c = centroidTable(s, s.read.parquet(s"$d/embeddings.parquet"))
          (c, assignCells(e, c))
      }
      ivfTopk(e, cent, assigned)
    },
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |), cd AS (
         |  SELECT label::BIGINT AS clabel, g.i AS dim, round(avg(embedding[g.i]::DOUBLE), 6) AS cx
         |  FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY clabel, dim
         |), cent AS (
         |  SELECT clabel, list(cx ORDER BY dim) AS cv FROM cd GROUP BY clabel
         |), cn AS (
         |  SELECT clabel, cv, sqrt(list_dot_product(cv, cv)) AS cnorm FROM cent
         |), sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN cn c
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk FROM sims
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM rk WHERE rk = 1
         |), probes AS (
         |  SELECT vec_id AS query_id, clabel AS cell FROM rk WHERE rk <= $N_PROBE AND vec_id < $N_QUERIES
         |), cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.query_id
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(list_dot_product(eq.v, en.v) / (eq.norm * en.norm), 6) AS cos_sim
         |  FROM cand c JOIN e eq ON c.query_id = eq.vec_id JOIN e en ON c.neighbor_id = en.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin),
    doc = "X3 IVF-bucketed ANN (deterministic centroid cells, probe-2)")

  // -------------------------------------------------------------------
  // X3d unsupervised quantizer + IVF over an UNLABELED corpus — the
  // general case (a real embedding corpus has no labels). Both gated:
  // the oracle unrolls the same fixed-iteration deterministic k-means.
  // -------------------------------------------------------------------
  val kmeansQ: QueryDef = QueryDef(
    build = (s, d) =>
      kmeansCentroids(s, s.read.parquet(s"$d/embeddings.parquet").drop("label"))
        .select(col("clabel"), posexplode(col("cv")).as(Seq("dim", "cx")))
        .withColumn("dim", col("dim").cast("long"))
        .orderBy("clabel", "dim"),
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}
         |SELECT clabel, g.d::BIGINT AS dim, cv[g.d + 1] AS cx
         |FROM c$KMEANS_ITERS CROSS JOIN generate_series(0, 63) g(d)
         |ORDER BY clabel, dim""".stripMargin),
    doc = "X3 unsupervised IVF quantizer: deterministic spherical k-means (md5-ranked seeds, fixed iterations)")

  val ivfKmeans: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d)
      // a certified index serves this query only when it FROZE the
      // k-means quantizer (fingerprint + kind both match) — serving
      // label cells here would silently answer a different query; the
      // recompute derivation is deterministic, so index-served ≡
      // recomputed (AnnIndexSpec pins it)
      val (cent, assigned) = kmeansCells(s, d, e)
      ivfTopk(e, cent, assigned)
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk FROM sims
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM rk WHERE rk = 1
         |), probes AS (
         |  SELECT vec_id AS query_id, clabel AS cell FROM rk WHERE rk <= $N_PROBE AND vec_id < $N_QUERIES
         |), cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM probes p JOIN assigned a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.query_id
         |), scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(list_dot_product(eq.v, en.v) / (eq.norm * en.norm), 6) AS cos_sim
         |  FROM cand c JOIN e eq ON c.query_id = eq.vec_id JOIN e en ON c.neighbor_id = en.vec_id
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, cos_sim
         |FROM ranked WHERE rank <= $K ORDER BY query_id, rank""".stripMargin),
    doc = "X3 IVF ANN over an unlabeled corpus (deterministic k-means cells, probe-2)")

  // -------------------------------------------------------------------
  // Embedding int8 quantization audit — the 4× storage-compression step
  // a 100 TB embedding corpus takes before ANN serving. Per-vector
  // affine quantization (min/max → 0..255 codes) entirely map-side with
  // HOF lambdas; the query emits the reconstruction-error profile so a
  // pipeline can gate on quality before swapping in quantized vectors.
  // Error stats are integer-scaled nano values via floor(x·1e9 + 0.5):
  // floor is the identical IEEE operation in both engines (unlike
  // round), and the fold in `aggregate`/`list_sum` runs in index order
  // on both sides, so the gate is bit-deterministic.
  // -------------------------------------------------------------------
  val quantize: QueryDef = QueryDef(
    build = (s, d) =>
      s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("v_min", array_min(col("v")))
        .withColumn("v_max", array_max(col("v")))
        .withColumn("errs", expr(
          """CASE WHEN v_max = v_min THEN transform(v, x -> 0.0D)
            | ELSE transform(v, x -> abs(x - (v_min + floor((x - v_min) * 255.0D / (v_max - v_min) + 0.5D) * (v_max - v_min) / 255.0D)))
            | END""".stripMargin.replaceAll("\n", " ")))
        .select(col("vec_id"), col("v_min"), col("v_max"),
          expr("CAST(floor(array_max(errs) * 1e9 + 0.5D) AS BIGINT)").as("max_abs_err_nano"),
          expr("CAST(floor(aggregate(errs, 0.0D, (a, x) -> a + x * x) / size(errs) * 1e9 + 0.5D) AS BIGINT)")
            .as("mse_nano"))
        .orderBy("vec_id"),
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         list_min(embedding::DOUBLE[]) AS v_min,
         |         list_max(embedding::DOUBLE[]) AS v_max
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id, v_min, v_max,
         |         CASE WHEN v_max = v_min THEN list_transform(v, x -> 0.0)
         |              ELSE list_transform(v, x -> abs(x - (v_min + floor((x - v_min) * 255.0 / (v_max - v_min) + 0.5) * (v_max - v_min) / 255.0)))
         |         END AS errs
         |  FROM e
         |)
         |SELECT vec_id, v_min, v_max,
         |       CAST(floor(list_max(errs) * 1e9 + 0.5) AS BIGINT) AS max_abs_err_nano,
         |       CAST(floor(list_sum(list_transform(errs, x -> x * x)) / len(errs) * 1e9 + 0.5) AS BIGINT) AS mse_nano
         |FROM q ORDER BY vec_id""".stripMargin),
    doc = "X3 embedding int8 quantization audit (affine codes, reconstruction-error profile)")

  // -------------------------------------------------------------------
  // X3e ANN evaluation harness: recall@K of BOTH approximate paths
  // (SRP-LSH banding, IVF probe-2) against the brute-force truth, plus
  // the candidate-set size that recall was bought with — the
  // serving-time quality/cost curve as a first-class query. This is the
  // measurement a 100 TB deployment runs after every index build or
  // band/probe retune: recall says whether the ANN answer is still the
  // right answer, n_cand says what fraction of the corpus each query
  // still touches. Truth is always recomputed (it IS the definition);
  // candidate generation rides the certified AnnIndex when one is in
  // play, exactly like the serving paths it evaluates.
  // -------------------------------------------------------------------
  private val RECALL_SCALE = 1000000 / K // recall_ppm = hits × this

  val recall: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      // ground truth: brute-force top-K per query (the sim_topk derivation)
      val q = e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("norm").as("qnorm"))
      // truth top-K via the graft_topk heap (the sim_topk rationale) —
      // only the id SET feeds the joins below, so the heap array
      // explodes straight to (query_id, neighbor_id)
      val truth = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos_sim", round(
          call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")), 6))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cos_sim, vec_id, $K)").as("top"))
        .select(col("query_id"), explode(col("top.id")).as("neighbor_id"))
        .persist()
      // SRP candidate set — the sim_ann generation, index-served when
      // certified. Persisted (round 12): the 16-dot coding pass runs
      // once instead of per consumer (qb + the band join's corpus side)
      val bands = (AnnIndex.resolveFor(s, e) match {
        case Some(dir) => AnnIndex.bandsFromIndex(s, dir)
        case None      => srpBands(srpCoded(e))
      })
        .persist() // session-scoped memo (QueryDef cache contract)
      val qb = bands.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("band"), col("bucket"))
      val srpCand = bands.join(qb, Seq("band", "bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
      // IVF candidate set — the sim_ivf generation. This leg evaluates
      // the LABEL quantizer (the oracle derives label centroids), so —
      // unlike the quantizer-agnostic SRP leg above (codes are
      // corpus-invariant) — it must apply the same kind-match rule as
      // sim_ivf_kmeans, mirrored: a kmeans-built index answers a
      // different bucketing and falls back to recompute here
      val (cent, assigned) = AnnIndex.resolveFor(s, e)
        .filter(dir => AnnIndex.readMeta(s, dir).quantizer == "label") match {
        case Some(dir) =>
          (AnnIndex.readCentroids(s, dir),
            AnnIndex.readCodes(s, dir).select(col("vec_id"), col("cell")))
        case None =>
          val c = centroidTable(s, s.read.parquet(s"$d/embeddings.parquet"))
          (c, assignCells(e, c))
      }
      val probes = cellSims(e.filter(col("vec_id") < N_QUERIES), cent)
        .groupBy("vec_id")
        .agg(expr(s"graft_topk(csim, CAST(clabel AS BIGINT), $N_PROBE)").as("top"))
        .select(col("vec_id").as("query_id"), explode(col("top.id")).as("cell"))
      val ivfCand = probes.join(assigned, "cell")
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
      // per method: candidate volume + truth hits → recall_ppm
      def eval(cand: DataFrame, method: String): DataFrame = {
        val n = cand.groupBy("query_id").agg(count(lit(1)).as("n_cand"))
        val h = truth.join(cand, Seq("query_id", "neighbor_id"))
          .groupBy("query_id").agg(count(lit(1)).as("hits"))
        truth.select("query_id").distinct()
          .join(n, Seq("query_id"), "left")
          .join(h, Seq("query_id"), "left")
          .select(col("query_id"), lit(method).as("method"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("hits"), lit(0L)).as("hits"))
      }
      eval(srpCand, "srp").unionByName(eval(ivfCand, "ivf"))
        .withColumn("recall_ppm", col("hits") * RECALL_SCALE)
        .orderBy("query_id", "method")
    },
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e WHERE vec_id < $N_QUERIES
         |), brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(list_dot_product(e.v, q.qv) / (e.norm * q.qnorm), 6) DESC, e.vec_id) AS rank
         |    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
         |  WHERE rank <= $K
         |), planes AS (
         |  SELECT p.p, j.j,
         |         ((('0x' || substring(md5(p.p::VARCHAR || '_' || j.j::VARCHAR), 1, 8))::BIGINT % 2) * 2 - 1)::DOUBLE AS sgn
         |  FROM generate_series(0, ${N_PLANES - 1}) p(p) CROSS JOIN generate_series(0, 63) j(j)
         |), pv AS (
         |  SELECT p, list(sgn ORDER BY j) AS sv FROM planes GROUP BY p
         |), coded AS (
         |  SELECT vec_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS code
         |  FROM (SELECT e.vec_id, pv.p, list_dot_product(e.v, pv.sv) AS s FROM e CROSS JOIN pv)
         |  GROUP BY vec_id
         |), bands AS (
         |  SELECT c.vec_id, g.band, (c.code >> (g.band * $BAND_BITS)) & ${(1 << BAND_BITS) - 1} AS bucket
         |  FROM coded c CROSS JOIN generate_series(0, ${N_PLANES / BAND_BITS - 1}) g(band)
         |), srp_cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bands q JOIN bands b ON q.band = b.band AND q.bucket = b.bucket
         |  WHERE q.vec_id < $N_QUERIES AND b.vec_id <> q.vec_id
         |), cd AS (
         |  SELECT label::BIGINT AS clabel, g.i AS dim, round(avg(embedding[g.i]::DOUBLE), 6) AS cx
         |  FROM embeddings CROSS JOIN generate_series(1, 64) g(i)
         |  GROUP BY clabel, dim
         |), cn AS (
         |  SELECT clabel, cv, sqrt(list_dot_product(cv, cv)) AS cnorm
         |  FROM (SELECT clabel, list(cx ORDER BY dim) AS cv FROM cd GROUP BY clabel)
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk FROM (
         |    SELECT e.vec_id, c.clabel,
         |           round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |    FROM e CROSS JOIN cn c)
         |), ivf_cand AS (
         |  SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
         |  FROM (SELECT vec_id AS query_id, clabel AS cell FROM rk WHERE rk <= $N_PROBE AND vec_id < $N_QUERIES) p
         |  JOIN (SELECT vec_id, clabel AS cell FROM rk WHERE rk = 1) a ON p.cell = a.cell
         |  WHERE a.vec_id <> p.query_id
         |), spine AS (
         |  SELECT DISTINCT query_id FROM brute
         |), srp_eval AS (
         |  SELECT s.query_id, 'srp' AS method,
         |         coalesce(n.n_cand, 0)::BIGINT AS n_cand, coalesce(h.hits, 0)::BIGINT AS hits
         |  FROM spine s
         |  LEFT JOIN (SELECT query_id, count(*)::BIGINT AS n_cand FROM srp_cand GROUP BY query_id) n
         |    ON s.query_id = n.query_id
         |  LEFT JOIN (SELECT t.query_id, count(*)::BIGINT AS hits FROM brute t
         |             JOIN srp_cand c ON t.query_id = c.query_id AND t.neighbor_id = c.neighbor_id
         |             GROUP BY t.query_id) h ON s.query_id = h.query_id
         |), ivf_eval AS (
         |  SELECT s.query_id, 'ivf' AS method,
         |         coalesce(n.n_cand, 0)::BIGINT AS n_cand, coalesce(h.hits, 0)::BIGINT AS hits
         |  FROM spine s
         |  LEFT JOIN (SELECT query_id, count(*)::BIGINT AS n_cand FROM ivf_cand GROUP BY query_id) n
         |    ON s.query_id = n.query_id
         |  LEFT JOIN (SELECT t.query_id, count(*)::BIGINT AS hits FROM brute t
         |             JOIN ivf_cand c ON t.query_id = c.query_id AND t.neighbor_id = c.neighbor_id
         |             GROUP BY t.query_id) h ON s.query_id = h.query_id
         |)
         |SELECT query_id, method, n_cand, hits, hits * $RECALL_SCALE AS recall_ppm
         |FROM (SELECT * FROM srp_eval UNION ALL SELECT * FROM ivf_eval)
         |ORDER BY query_id, method""".stripMargin),
    doc = "X3 ANN evaluation harness: recall@K + candidate volume of the SRP and IVF paths vs brute-force truth")

  // -------------------------------------------------------------------
  // X2f semantic dedup — the cluster-bucketed embedding-dedup shape a
  // 100 TB corpus actually runs (the SemDeDup recipe: k-means the
  // embedding space, then score pairs only WITHIN each cell — pairwise
  // work drops from O(N²) to Σ|cell|², and |cell| is a knob: k grows
  // with the corpus exactly like the bandBits advisor grows band
  // width). Verdict per vector, keep-first discipline: a vector is
  // dropped iff an EARLIER (lower-id) vector in its cell scores
  // cos ≥ the dedup_embed threshold; `dup_of` is the smallest such id
  // — the same corpus-first rule every other dedup operator applies.
  //
  // Cells come from the certified AnnIndex when it froze the k-means
  // quantizer (same rule as sim_ivf_kmeans — label cells would answer
  // a different question), the memoized deterministic k-means
  // otherwise, so the oracle reproduces the bucketing bit-for-bit and
  // the gate checks the whole pipeline: quantizer → cells → in-cell
  // scoring → verdicts. The in-cell pairs come from the family's
  // block join (PairJoin.blockPairs keyed by cell).
  //
  // Honest approximation note (the SemDeDup trade, MEASURED): pairs
  // that STRADDLE a cell boundary are not scored — the price that makes
  // the operator linear in the corpus. `sem_recall` below audits the
  // miss against dedup_embed's exact pair list per similarity band:
  // on this corpus the ≥0.45 pairs are background-tail similarity
  // (highest band 0.6–0.7), and ~69 % of them straddle (sf0.1:
  // 90/130 in band 4, 9/13 in band 5) — within-cell is ~3× the 1/k
  // chance rate but far from complete. The recipe's real contract is
  // recall on HIGH-cosine semantic duplicates (none exist in this
  // synthetic corpus; near-identical vectors co-locate by
  // construction), and sem_recall is the per-corpus gauge of where the
  // trade actually sits. `sim_recall` measures the same trade for the
  // ANN serving paths.
  // -------------------------------------------------------------------
  val semanticDedup: QueryDef = QueryDef(
    build = (s, d) => {
      // the cell frame feeds both pair-join sides and the verdict spine
      val av = cellVecs(s, d)
      val dup = PairJoin.blockPairs(av, "vec_id", within = Some("cell"))
        .filter(PairJoin.cosine6 >= DedupQueries.COSINE_MIN)
        .groupBy(col("vec_id_b").as("vec_id"))
        .agg(min("vec_id_a").as("dup_of"), count(lit(1)).as("n_dups"))
      av.select(col("vec_id"), col("cell"))
        .join(dup, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cell"),
          coalesce(col("dup_of"), lit(-1L)).as("dup_of"),
          coalesce(col("n_dups"), lit(0L)).as("n_dups"),
          when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"))
        .orderBy("vec_id")
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), av AS (
         |  SELECT a.vec_id, a.cell, e.v, e.norm FROM assigned a JOIN e USING (vec_id)
         |), pr AS (
         |  SELECT l.vec_id, r.vec_id AS o_id,
         |         round(list_dot_product(l.v, r.v) / (l.norm * r.norm), 6) AS cs
         |  FROM av l JOIN av r ON l.cell = r.cell AND r.vec_id < l.vec_id
         |), dup AS (
         |  SELECT vec_id, min(o_id) AS dup_of, count(*)::BIGINT AS n_dups
         |  FROM pr WHERE cs >= ${DedupQueries.COSINE_MIN} GROUP BY vec_id
         |)
         |SELECT a.vec_id, a.cell,
         |       coalesce(d.dup_of, -1) AS dup_of,
         |       coalesce(d.n_dups, 0) AS n_dups,
         |       (CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END)::BIGINT AS kept
         |FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin),
    doc = "X2 semantic dedup (SemDeDup): k-means cells bound pairwise cosine to within-cell pairs, keep-first verdicts")

  // -------------------------------------------------------------------
  // X3f IVF cell health check — per-cell occupancy + cohesion of the
  // k-means quantizer. Occupancy skew is the number that governs BOTH
  // IVF serving cost (a probe scores |cell| candidates) and
  // dedup_semantic's Σ|cell|² pairwise bound; cohesion (how tightly a
  // cell hugs its centroid) says whether k is still right for the
  // corpus — a cell whose min member-cosine collapses is two clusters
  // wearing one label, the retrain/grow-k signal. Cells ride the same
  // resolve rule as sim_ivf_kmeans/dedup_semantic (certified kmeans
  // index, else the memoized deterministic quantizer).
  //
  // Determinism discipline: per-member cosines are rounded to 6dp
  // (one value per row — no accumulation), then aggregated as exact
  // BIGINT micro-units (`sum` of integers is order-free, unlike a
  // distributed double sum) and `min` (order-free). The gate hashes
  // only order-independent aggregates.
  // -------------------------------------------------------------------
  val cellStats: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d)
      val (cent, assigned) = kmeansCells(s, d, e)
      assigned.join(e, "vec_id")
        .join(broadcast(cent.select(col("clabel").as("cell"), col("cv"), col("cnorm"))), "cell")
        .withColumn("csim", round(
          call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")), 6))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          min("csim").as("min_csim"),
          sum(expr("CAST(floor(csim * 1000000 + 0.5D) AS BIGINT)")).as("sum_csim_micro"))
        .orderBy("cell")
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), m AS (
         |  SELECT a.cell, round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM assigned a JOIN e USING (vec_id) JOIN c$KMEANS_ITERS c ON a.cell = c.clabel
         |)
         |SELECT cell, count(*)::BIGINT AS n_vecs, min(csim) AS min_csim,
         |       sum(CAST(floor(csim * 1000000 + 0.5) AS BIGINT))::BIGINT AS sum_csim_micro
         |FROM m GROUP BY cell ORDER BY cell""".stripMargin),
    doc = "X3 IVF quantizer health check: per-cell occupancy + cohesion (retrain/grow-k signal)")

  // -------------------------------------------------------------------
  // X3f′ per-cell marginal members — ivf_cell_stats names WHICH cells
  // are unhealthy (min cosine collapsing); this query names WHICH
  // VECTORS: the K_OUT least-cohesive members of every cell, the
  // concrete mislabeled/outlier/two-clusters-one-label candidates a
  // curator inspects before retraining. A cell-partitioned bottom-K
  // window over one member-scoring pass (the cellStats join, reused
  // shape) — never a global sort; output rows are k·|cells|.
  // Determinism: rank on the 6dp cosine with vec_id tiebreak, emit
  // BIGINT micro (cosines go negative — the -0.0 rule).
  // -------------------------------------------------------------------
  private val K_OUT = 3

  val cellOutliers: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d)
      val (cent, assigned) = kmeansCells(s, d, e)
      val w = Window.partitionBy("cell").orderBy(col("csim").asc, col("vec_id"))
      assigned.join(e, "vec_id")
        .join(broadcast(cent.select(col("clabel").as("cell"), col("cv"), col("cnorm"))), "cell")
        .withColumn("csim", round(
          call_function("graft_dot", col("v"), col("cv")) / (col("norm") * col("cnorm")), 6))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K_OUT)
        .select(col("cell"), col("rank"), col("vec_id"),
          floor(col("csim") * lit(1000000.0) + lit(0.5)).as("csim_micro"))
        .orderBy("cell", "rank")
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), m AS (
         |  SELECT a.cell, a.vec_id,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM assigned a JOIN e USING (vec_id) JOIN c$KMEANS_ITERS c ON a.cell = c.clabel
         |), rk AS (
         |  SELECT cell, vec_id, csim,
         |         row_number() OVER (PARTITION BY cell ORDER BY csim ASC, vec_id) AS rank
         |  FROM m
         |)
         |SELECT cell, rank::BIGINT AS rank, vec_id,
         |       CAST(floor(csim * 1000000.0 + 0.5) AS BIGINT) AS csim_micro
         |FROM rk WHERE rank <= $K_OUT ORDER BY cell, rank""".stripMargin),
    doc = "X3 per-cell marginal members: the K least-cohesive vectors of every IVF cell (the concrete outlier/retrain candidates)")

  // -------------------------------------------------------------------
  // X2g SemDeDup straddle audit — the measured form of dedup_semantic's
  // honest-approximation note. SemDeDup scores pairs only WITHIN a
  // quantizer cell; pairs whose ends land in different cells are never
  // scored. This query takes dedup_embed's EXACT ≥-threshold pair list
  // (the same PairJoin.blockPairs join, 6dp-rounded cosine and
  // threshold) and buckets every pair by similarity decile and by
  // whether its ends share a cell — so "the straddle miss is tail-only"
  // is a queryable number per band, not a comment: the top bands (the
  // pairs semantic dedup exists to drop) should be overwhelmingly
  // within-cell, with straddles concentrated at the threshold floor.
  // Cells ride the same resolve rule as dedup_semantic (certified
  // kmeans AnnIndex, else the memoized deterministic quantizer), so the
  // audit measures the very bucketing the operator uses.
  //
  // Determinism discipline: the only emitted values are BIGINT band ids
  // (integer-scaled micro-cosine div 100000), counts, and an integer
  // straddle ppm — no rounded doubles in the hash.
  // -------------------------------------------------------------------
  val semStraddle: QueryDef = QueryDef(
    build = (s, d) => {
      PairJoin.blockPairs(cellVecs(s, d), "vec_id")
        .withColumn("cs", PairJoin.cosine6)
        .filter(col("cs") >= DedupQueries.COSINE_MIN)
        .withColumn("band", expr("CAST(floor(cs * 1000000 + 0.5D) AS BIGINT) div 100000"))
        .withColumn("within", (col("cell_a") === col("cell_b")).cast("long"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"), sum("within").as("n_within"))
        .select(col("band"), col("n_pairs"), col("n_within"),
          (col("n_pairs") - col("n_within")).as("n_straddle"),
          expr("(n_pairs - n_within) * 1000000L div n_pairs").as("straddle_ppm"))
        .orderBy("band")
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), pr AS (
         |  SELECT la.cell AS cell_a, lb.cell AS cell_b,
         |         round(list_dot_product(ea.v, eb.v) / (ea.norm * eb.norm), 6) AS cs
         |  FROM e ea JOIN e eb ON ea.vec_id < eb.vec_id
         |  JOIN assigned la ON la.vec_id = ea.vec_id
         |  JOIN assigned lb ON lb.vec_id = eb.vec_id
         |), f AS (
         |  SELECT CAST(floor(cs * 1000000 + 0.5) AS BIGINT) // 100000 AS band,
         |         (cell_a = cell_b) AS within
         |  FROM pr WHERE cs >= ${DedupQueries.COSINE_MIN}
         |)
         |SELECT band, count(*)::BIGINT AS n_pairs,
         |       sum(CASE WHEN within THEN 1 ELSE 0 END)::BIGINT AS n_within,
         |       (count(*) - sum(CASE WHEN within THEN 1 ELSE 0 END))::BIGINT AS n_straddle,
         |       ((count(*) - sum(CASE WHEN within THEN 1 ELSE 0 END)) * 1000000
         |          // count(*))::BIGINT AS straddle_ppm
         |FROM f GROUP BY band ORDER BY band""".stripMargin),
    doc = "X2 SemDeDup straddle audit: exact ≥-threshold pairs per similarity band, within-cell vs straddling")

  // -------------------------------------------------------------------
  // X3g kNN graph — each vector's top-K_NN in-cell neighbors by cosine:
  // the neighbor-graph build step under graph clustering, SemDeDup-style
  // cluster analysis, and kNN-classification over a corpus. The full
  // O(N²) all-pairs graph is unbuildable at 100 TB; the IVF-cell bound
  // (same Σ|cell|² argument as dedup_semantic, same certified-index
  // resolve rule, same PairJoin.blockPairs join keyed by cell) makes it
  // linear-ish in the corpus with k as the knob. Directed edges: the pair join keeps self out and emits (a→b)
  // and (b→a) separately — each vector ranks its OWN neighborhood.
  // Boundary caveat: a true neighbor in an adjacent cell is unseen (the
  // same trade sem_recall measures for dedup_semantic).
  //
  // Determinism: rank on the 6dp-rounded cosine with nbr_id tiebreak;
  // emitted as BIGINT micro (floor(cs·1e6 + 0.5) — cosines can be
  // negative, and rounded-double output would hit the -0.0 divergence).
  // -------------------------------------------------------------------
  private val KNN_K = 3

  /** Each vector's top-KNN_K neighbors over a directed
    * [[PairJoin.blockPairs]] frame of the prep columns: (vec_id, top),
    * the graft_topk heap on the 6dp cosine (score DESC, id ASC). Both
    * the cell-bounded graph and knn_recall's all-pairs truth rank here. */
  private def knnTop(pairs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(pairs.sparkSession)
    pairs.select(col("vec_id_a").as("vec_id"), col("vec_id_b").as("nbr_id"),
        PairJoin.cosine6.as("cs"))
      .groupBy("vec_id")
      .agg(expr(s"graft_topk(cs, nbr_id, $KNN_K)").as("top"))
  }

  val knnGraph: QueryDef = QueryDef(
    build = (s, d) => {
      // round 12: adopted the graft_topk heap shape knn_graph_agg
      // introduced (same oracle hash-gates both, so the swap is proven
      // output-identical) — the row_number window form shuffled and
      // sorted every scored pair; the heap partial-aggregates map-side
      knnTop(PairJoin.blockPairs(cellVecs(s, d), "vec_id", within = Some("cell"), directed = true))
        .select(col("vec_id"), posexplode(col("top")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("nbr_id"),
          floor(col("col.score") * lit(1000000.0) + lit(0.5)).as("cs_micro"))
        .orderBy("vec_id", "rank")
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), av AS (
         |  SELECT a.vec_id, a.cell, e.v, e.norm FROM assigned a JOIN e USING (vec_id)
         |), pr AS (
         |  SELECT l.vec_id, r.vec_id AS nbr_id,
         |         round(list_dot_product(l.v, r.v) / (l.norm * r.norm), 6) AS cs
         |  FROM av l JOIN av r ON l.cell = r.cell AND r.vec_id <> l.vec_id
         |), rk AS (
         |  SELECT vec_id, nbr_id, cs,
         |         row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, nbr_id) AS rank
         |  FROM pr
         |)
         |SELECT vec_id, rank::BIGINT AS rank, nbr_id,
         |       CAST(floor(cs * 1000000.0 + 0.5) AS BIGINT) AS cs_micro
         |FROM rk WHERE rank <= $KNN_K ORDER BY vec_id, rank""".stripMargin),
    doc = "X3 kNN graph: per-vector top-K in-cell cosine neighbors (IVF-cell-bounded neighbor-graph build)")

  // -------------------------------------------------------------------
  // X3g' kNN graph, aggregate form — the registry name of the graft_topk
  // bounded-heap build, which knn_graph itself adopted (one build, one
  // oracle). The window form shuffled and sorted EVERY scored pair; the
  // heap partial-aggregates map-side, so the exchange carries at most
  // tasks × vectors × K tiny heap states and nothing ever sorts more
  // than K elements (ObjectHashAggregateExec, real map-side combine).
  // Identical output is a CONTRACT, not an accident: the heap's total
  // order (score DESC, id ASC) is the window's ORDER BY, so the DuckDB
  // row_number oracle hash-gates it.
  // -------------------------------------------------------------------
  val knnGraphAgg: QueryDef = knnGraph.copy(
    doc = "X3 kNN graph via graft_topk bounded-heap aggregate: window-free top-K per vector, map-side partial agg (the 10⁸-row shape), same oracle as knn_graph")

  // -------------------------------------------------------------------
  // X3h embedding PCA — the top principal direction of the corpus and
  // the share of total variance it carries (the anisotropy number:
  // embedding spaces collapse toward a dominant direction, which hurts
  // cosine retrieval and is what whitening removes; this query is the
  // gauge). Deterministic power iteration in the kmeans discipline —
  // every cross-engine comparison happens on exact integers:
  //
  //  - components go to BIGINT micro first; the per-dim moments (Σx,
  //    Σx²) and the per-iteration mat-vec (s_i = xmᵢ·vm, w_j = Σᵢ
  //    xmᵢⱼ·sᵢ, num_j = n·w_j − Sx_j·m) accumulate as exact 128-bit
  //    integers (DECIMAL / HUGEINT), order-free under partial agg;
  //  - num is downscaled by a FIXED integer // 1e6 (truncation toward
  //    zero — DuckDB's `//` and BigInt `/` agree) so its double view is
  //    EXACT (< 2^53 at every gate SF) — no 128-bit→double rounding-mode
  //    dependence anywhere;
  //  - normalization folds the 64 doubles SEQUENTIALLY (graft_dot /
  //    list_dot_product order) and re-rounds v to micro each step, so
  //    the iterate is bit-identical in both engines;
  //  - a zero Cv keeps the previous iterate (the kmeans emptied-cell
  //    rule).
  //
  // The centering term never materializes the covariance matrix:
  // C·v ∝ n·Σᵢ xmᵢ(xmᵢ·v) − Sx·(Σᵢ xmᵢ·v) — two corpus aggregates per
  // iteration, k×D driver-held metadata between them (the Lloyd-loop
  // shape). Rayleigh share = vᵀCv / (vᵀv · trace C), trace from the
  // same exact moments. MEMOIZED per (session, corpus fingerprint).
  // -------------------------------------------------------------------
  private val PCA_ITERS = 5
  private val PCA_D = 64
  private val PCA_DOWN = 1000000L

  private val pcaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[Long], Long)]()

  private[graft] def pcaTrain(s: SparkSession, raw: DataFrame): (Seq[Long], Long) = {
    graft.functions.VectorFunctions.register(s)
    val xmf = raw.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))").as("xm"))
      .withColumn("xmd", expr("transform(xm, x -> CAST(x AS DOUBLE))"))
    // borrow-don't-own (TransientCache): never evict an aliased memo plan
    graft.core.TransientCache.borrowCached(xmf) {
    val n = raw.count()
    val baseRows = xmf.select(posexplode(col("xm")).as(Seq("dim", "x")))
      .groupBy("dim").agg(
        sum(col("x").cast("decimal(28,0)")).as("sx"),
        sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)")).as("q"))
      .collect() // bounded: D rows of driver metadata per pass
    val sx = Array.ofDim[BigInt](PCA_D); val q = Array.ofDim[BigInt](PCA_D)
    baseRows.foreach { r =>
      val d0 = r.getInt(0)
      sx(d0) = BigInt(r.getDecimal(1).toBigIntegerExact)
      q(d0) = BigInt(r.getDecimal(2).toBigIntegerExact)
    }
    // one corpus pass: s_i map-side (broadcast vm literal), then one
    // grouped agg carrying BOTH w_j and (per dim, identically) m
    def applyC(vm: Seq[Long]): Array[BigInt] = {
      val vmdLit = array(vm.map(v => lit(v.toDouble)): _*)
      val rows = xmf
        .withColumn("s", call_function("graft_dot", col("xmd"), vmdLit).cast("long"))
        .select(col("s"), posexplode(col("xm")).as(Seq("dim", "x")))
        .groupBy("dim").agg(
          sum(col("x").cast("decimal(18,0)") * col("s").cast("decimal(20,0)")).as("w"),
          sum(col("s").cast("decimal(28,0)")).as("ms"))
        .collect()
      val w = Array.ofDim[BigInt](PCA_D); var m = BigInt(0)
      rows.foreach { r =>
        val d0 = r.getInt(0)
        w(d0) = BigInt(r.getDecimal(1).toBigIntegerExact)
        m = BigInt(r.getDecimal(2).toBigIntegerExact) // every dim sums all s_i
      }
      Array.tabulate(PCA_D)(j => (BigInt(n) * w(j) - sx(j) * m) / PCA_DOWN)
    }
    def seqDot(a: Seq[Double], b: Seq[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    var vm: Seq[Long] = Seq.fill(PCA_D)(125000L) // 1/√64 in micro
    for (_ <- 1 to PCA_ITERS) {
      val numd = applyC(vm).map(_.toDouble).toSeq // exact: |num2| < 2^53
      val norm2 = seqDot(numd, numd)
      if (norm2 > 0)
        vm = numd.map(x => math.floor(x / math.sqrt(norm2) * 1000000.0 + 0.5).toLong)
    }
    // Rayleigh share off one extra application against the FINAL iterate
    val numd = applyC(vm).map(_.toDouble).toSeq
    val vmd = vm.map(_.toDouble)
    val vn = seqDot(vmd, numd)
    val vv = seqDot(vmd, vmd)
    val tr2 = ((BigInt(n) * q.sum - sx.map(x => x * x).sum) / PCA_DOWN).toDouble
    val share =
      if (vv * tr2 > 0) math.floor(vn / (vv * tr2) * 1000000.0 + 0.5).toLong else 0L
    (vm, share)
    }
  }

  /** The unrolled power-iteration CTE chain up to the final iterate
    * `v$iters` — shared by the embed_pca and embed_whiten oracles. */
  private def pcaIterCtes(iters: Int): String = pcaChainParts(iters)

  /** The unrolled power-iteration oracle: `v$iters` is the final
    * iterate, one extra `num` block feeds the Rayleigh share. */
  private def pcaOracleSql(iters: Int): String = {
    val chain = pcaChainParts(iters)
    val f = iters + 1
    chain + pcaMatVec(f, s"v$iters") +
      s""", varr AS (SELECT list(vm::DOUBLE ORDER BY dim) AS arr FROM v$iters
         |), narr AS (SELECT list(num2::DOUBLE ORDER BY dim) AS arr FROM num$f
         |), tr AS (
         |  SELECT ((nn.n * (SELECT sum(q) FROM base) - (SELECT sum(sx * sx) FROM base))
         |          // $PCA_DOWN)::DOUBLE AS tr2
         |  FROM nn
         |), rayl AS (
         |  SELECT CASE WHEN list_dot_product(v.arr, v.arr) * t.tr2 > 0
         |              THEN CAST(floor(list_dot_product(v.arr, n.arr)
         |                         / (list_dot_product(v.arr, v.arr) * t.tr2)
         |                         * 1000000.0 + 0.5) AS BIGINT)
         |              ELSE 0 END AS share
         |  FROM varr v CROSS JOIN narr n CROSS JOIN tr t
         |)
         |SELECT v.dim::BIGINT AS dim, v.vm AS loading_micro, r.share AS eig_share_ppm
         |FROM v$iters v CROSS JOIN rayl r ORDER BY dim""".stripMargin
  }

  private def pcaMatVec(i: Int, vFrom: String): String =
    s""", s$i AS MATERIALIZED (
       |  SELECT x.vec_id, sum(x.xm * v.vm)::BIGINT AS s
       |  FROM xm x JOIN $vFrom v USING (dim) GROUP BY x.vec_id
       |), m$i AS MATERIALIZED (SELECT sum(s::HUGEINT) AS m FROM s$i
       |), w$i AS MATERIALIZED (
       |  SELECT x.dim, sum(x.xm::HUGEINT * s.s) AS w
       |  FROM xm x JOIN s$i s USING (vec_id) GROUP BY x.dim
       |), num$i AS MATERIALIZED (
       |  SELECT b.dim, ((nn.n * w.w - b.sx * mm.m) // $PCA_DOWN) AS num2
       |  FROM w$i w JOIN base b USING (dim) CROSS JOIN nn CROSS JOIN m$i mm
       |)""".stripMargin

  private def pcaChainParts(iters: Int): String = {
    // every CTE is MATERIALIZED: the unrolled iteration DAG references
    // each step several times, and DuckDB's default inlining would
    // re-evaluate the chain combinatorially (the 6-level unroll hung)
    val head =
      s"""WITH xm AS MATERIALIZED (
         |  SELECT vec_id, g.d AS dim,
         |         CAST(floor(embedding[g.d + 1]::DOUBLE * 1000000.0 + 0.5) AS BIGINT) AS xm
         |  FROM embeddings CROSS JOIN generate_series(0, ${PCA_D - 1}) g(d)
         |), base AS MATERIALIZED (
         |  SELECT dim, sum(xm) AS sx, sum(xm::HUGEINT * xm) AS q FROM xm GROUP BY dim
         |), nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM embeddings),
         |v0 AS MATERIALIZED (SELECT g.d AS dim, 125000::BIGINT AS vm FROM generate_series(0, ${PCA_D - 1}) g(d))""".stripMargin
    val steps = (1 to iters).map { i =>
      pcaMatVec(i, s"v${i - 1}") +
        s""", a$i AS MATERIALIZED (SELECT list(num2::DOUBLE ORDER BY dim) AS arr FROM num$i
           |), v$i AS MATERIALIZED (
           |  SELECT n.dim,
           |         CASE WHEN list_dot_product(a.arr, a.arr) > 0
           |              THEN CAST(floor(n.num2::DOUBLE / sqrt(list_dot_product(a.arr, a.arr))
           |                         * 1000000.0 + 0.5) AS BIGINT)
           |              ELSE p.vm END AS vm
           |  FROM num$i n CROSS JOIN a$i a JOIN v${i - 1} p USING (dim)
           |)""".stripMargin
    }.mkString
    head + steps
  }

  /** Memoized (loading micro, share ppm) for the corpus at `d`. */
  private def pcaFor(s: SparkSession, d: String): (Seq[Long], Long) = {
    val raw = s.read.parquet(s"$d/embeddings.parquet")
    val key = s"${System.identityHashCode(s)}:${AnnIndex.fingerprint(raw)}"
    if (pcaMemo.size > 8) pcaMemo.clear()
    pcaMemo.computeIfAbsent(key, _ => pcaTrain(s, raw))
  }

  val embedPca: QueryDef = QueryDef(
    build = (s, d) => {
      val (vm, share) = pcaFor(s, d)
      import s.implicits._
      vm.zipWithIndex
        .map { case (v0, d0) => (d0.toLong, v0, share) }
        .toDF("dim", "loading_micro", "eig_share_ppm")
        .orderBy("dim")
    },
    oracle = Some(pcaOracleSql(PCA_ITERS)),
    doc = "X3 embedding PCA: top principal direction + anisotropy share (deterministic power iteration, exact-integer mat-vec)")

  // -------------------------------------------------------------------
  // X3h2 whitening projection — per-vector decomposition against the
  // memoized top component: proj = x·u and the residual norm of
  // x − proj·u, the map-side transform that REMOVES the dominant
  // direction embed_pca measures (the standard anisotropy fix before
  // cosine retrieval). u is the 6dp iterate, so the residual formula
  // keeps the exact |u|² ≠ 1 correction (r² = |x|² − 2p² + p²·|u|²)
  // rather than assuming unit norm; every fold is the sequential
  // graft_dot / list_dot_product order, scalars (u, |u|²) are driver
  // literals from the memo, and the oracle re-derives them through the
  // same unrolled iteration. Output in BIGINT micro.
  // -------------------------------------------------------------------
  val embedWhiten: QueryDef = QueryDef(
    build = (s, d) => {
      graft.functions.VectorFunctions.register(s)
      val (vm, _) = pcaFor(s, d)
      val u = vm.map(_.toDouble / 1000000.0)
      val uu = { var a = 0.0; var i = 0; while (i < u.length) { a += u(i) * u(i); i += 1 }; a }
      val uLit = array(u.map(lit): _*)
      s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("xd"))
        .withColumn("p", call_function("graft_dot", col("xd"), uLit))
        .withColumn("xx", call_function("graft_dot", col("xd"), col("xd")))
        .withColumn("r2",
          col("xx") - lit(2.0) * (col("p") * col("p")) + (col("p") * col("p")) * lit(uu))
        .select(col("vec_id"),
          floor(col("p") * lit(1000000.0) + lit(0.5)).as("proj_micro"),
          when(col("r2") > 0, floor(sqrt(col("r2")) * lit(1000000.0) + lit(0.5)))
            .otherwise(0L).as("resid_micro"))
        .orderBy("vec_id")
    },
    oracle = Some(
      s"""${pcaIterCtes(PCA_ITERS)}, uarr AS MATERIALIZED (
         |  SELECT list(vm::DOUBLE / 1000000.0 ORDER BY dim) AS u FROM v$PCA_ITERS
         |), ev AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |), sc AS (
         |  SELECT e.vec_id,
         |         list_dot_product(e.v, a.u) AS p,
         |         list_dot_product(e.v, e.v) AS xx,
         |         list_dot_product(a.u, a.u) AS uu
         |  FROM ev e CROSS JOIN uarr a
         |)
         |SELECT vec_id,
         |       CAST(floor(p * 1000000.0 + 0.5) AS BIGINT) AS proj_micro,
         |       CASE WHEN xx - 2.0 * (p * p) + (p * p) * uu > 0
         |            THEN CAST(floor(sqrt(xx - 2.0 * (p * p) + (p * p) * uu)
         |                       * 1000000.0 + 0.5) AS BIGINT)
         |            ELSE 0 END AS resid_micro
         |FROM sc ORDER BY vec_id""".stripMargin),
    doc = "X3 whitening projection: per-vector top-component projection + residual norm (the anisotropy fix embed_pca gauges)")

  // -------------------------------------------------------------------
  // X3i kNN-graph recall audit — the sem_recall analog for knn_graph:
  // what fraction of the TRUE global top-K_NN edges does the
  // cell-bounded graph find? A true top-K neighbor in the SAME cell is
  // always found (the in-cell candidate set is a subset of the global
  // one, so its in-cell rank can only improve), hence every miss IS a
  // boundary straddle — the number this query emits is exactly the
  // SemDeDup trade measured for the graph. Truth is the directed
  // all-pairs PairJoin.blockPairs join ranked by the same top-K heap;
  // the graph leg is the production knn_graph build itself.
  // -------------------------------------------------------------------
  val knnRecall: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      // truth top-K via the graft_topk heap (the sim_topk rationale);
      // persisted — BOTH consumers below (n_truth count + the hits
      // join) otherwise re-run the all-pairs block join, the single
      // most expensive leg of this audit
      val truth = knnTop(PairJoin.blockPairs(e, "vec_id", directed = true))
        .select(col("vec_id"), explode(col("top.id")).as("nbr_id"))
        .persist() // session-scoped memo (QueryDef cache contract)
      val graph = knnGraph.build(s, d).select("vec_id", "nbr_id")
      val hits = truth.join(graph, Seq("vec_id", "nbr_id"))
      truth.agg(count(lit(1)).as("n_truth")).crossJoin(
          hits.agg(count(lit(1)).as("hits")))
        .select(col("n_truth"), col("hits"),
          expr("hits * 1000000 DIV n_truth").as("recall_ppm"))
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), av AS (
         |  SELECT a.vec_id, a.cell, e.v, e.norm FROM assigned a JOIN e USING (vec_id)
         |), gpr AS (
         |  SELECT l.vec_id, r.vec_id AS nbr_id,
         |         round(list_dot_product(l.v, r.v) / (l.norm * r.norm), 6) AS cs
         |  FROM av l JOIN av r ON l.cell = r.cell AND r.vec_id <> l.vec_id
         |), graph AS (
         |  SELECT vec_id, nbr_id FROM (
         |    SELECT vec_id, nbr_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, nbr_id) AS rank
         |    FROM gpr) WHERE rank <= $KNN_K
         |), tpr AS (
         |  SELECT l.vec_id, r.vec_id AS nbr_id,
         |         round(list_dot_product(l.v, r.v) / (l.norm * r.norm), 6) AS cs
         |  FROM e l JOIN e r ON r.vec_id <> l.vec_id
         |), truth AS (
         |  SELECT vec_id, nbr_id FROM (
         |    SELECT vec_id, nbr_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, nbr_id) AS rank
         |    FROM tpr) WHERE rank <= $KNN_K
         |), agg AS (
         |  SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
         |         (SELECT count(*) FROM truth t JOIN graph g
         |            ON t.vec_id = g.vec_id AND t.nbr_id = g.nbr_id)::BIGINT AS hits
         |)
         |SELECT n_truth, hits, (hits * 1000000 // n_truth)::BIGINT AS recall_ppm
         |FROM agg""".stripMargin),
    doc = "X3 kNN-graph recall audit: cell-bounded edges vs brute-force truth (every miss is a boundary straddle)")

  // -------------------------------------------------------------------
  // X3k label-filtered similarity search — "top-k WHERE label = X",
  // the composition every production vector store serves
  // (metadata-filtered ANN). When the filter is selective the right
  // plan is not prune-then-post-filter but FILTER AS THE JOIN KEY:
  // candidates arrive through a hash equi-join on the label, so the
  // scored set is exactly the query's label slice (work ∝ slice size
  // per query, never corpus × queries) and recall is 1 by
  // construction — no cross join, no BNLJ, no post-filter discard. At
  // LOW selectivity (filter matches most of the corpus) compose with
  // IVF instead — cells ∩ predicate falls out of joining sim_ivf's
  // cell assignments against this same join — but the selective form
  // is the contract this gated query pins, and it doubles as the
  // exact truth for any pruned variant. Scores emit as BIGINT micro
  // (cosines can be negative; rounded-double output would hit the
  // -0.0 divergence).
  // -------------------------------------------------------------------
  val filteredTopk: QueryDef = QueryDef(
    build = (s, d) => {
      graft.functions.VectorFunctions.register(s)
      val e = s.read.parquet(s"$d/embeddings.parquet")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
      val q = e.filter(col("vec_id") < N_QUERIES)
        .select(col("vec_id").as("query_id"), col("label"),
          col("v").as("qv"), col("norm").as("qnorm"))
      // graft_topk heap instead of the row_number window (the sim_topk
      // rationale); label is the join key, hence constant per group —
      // max() carries it without a second join
      e.join(broadcast(q), Seq("label")) // the filter IS the join key
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos_sim", round(
          call_function("graft_dot", col("v"), col("qv")) / (col("norm") * col("qnorm")), 6))
        .groupBy("query_id")
        .agg(expr(s"graft_topk(cos_sim, vec_id, $K)").as("top"), max("label").as("label"))
        .select(col("query_id"), col("label"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("neighbor_id"), col("label"),
          floor(col("col.score") * lit(1000000.0) + lit(0.5)).as("cs_micro"))
        .orderBy("query_id", "rank")
    },
    oracle = Some(
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
         |  FROM embeddings
         |), q AS (
         |  SELECT vec_id AS query_id, label, v AS qv, norm AS qnorm
         |  FROM e WHERE vec_id < $N_QUERIES
         |), sc AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label,
         |         round(list_dot_product(e.v, q.qv) / (e.norm * q.qnorm), 6) AS cos_sim
         |  FROM e JOIN q USING (label)
         |  WHERE e.vec_id <> q.query_id
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |              ORDER BY cos_sim DESC, neighbor_id) AS rank
         |  FROM sc
         |)
         |SELECT query_id, rank::BIGINT AS rank, neighbor_id, label,
         |       CAST(floor(cos_sim * 1000000.0 + 0.5) AS BIGINT) AS cs_micro
         |FROM rk WHERE rank <= $K ORDER BY query_id, rank""".stripMargin),
    doc = "X3 label-filtered top-k: metadata filter as the candidate join key (selective-filter ANN contract, recall 1)")

  // -------------------------------------------------------------------
  // Sampled-truth audit variants — the 100×-safe forms of the exact
  // audits above. The full-truth audits (knn_recall, sem_recall) pay an
  // all-pairs exact leg: priced-in at the gate SFs, the scale-killer at
  // 100× (the pair count, not the audit, dominates the round). These
  // variants sample Q anchor vectors DETERMINISTICALLY (md5(vec_id)
  // head — the kmeans seed rule, so the DuckDB oracle replays the same
  // sample bit-for-bit) and pay truth only for sample × corpus — linear
  // in N with Q as the knob. This is how evaluation harnesses audit at
  // scale: recall over sampled queries estimates recall over all
  // queries (each anchor's contribution is independent). The full forms
  // stay registered for the gate SFs but leave the default bench
  // profile (Bench AUDIT_FULL_EXCLUDED).
  // -------------------------------------------------------------------
  private val AUDIT_SAMPLE_Q = 50

  /** The deterministic Q-vector audit sample: md5(vec_id)-ranked head
    * (TakeOrdered — bounded Q rows, no global sort materialization). */
  private def auditSample(e: DataFrame): DataFrame =
    e.select(col("vec_id"))
      .withColumn("h", md5(col("vec_id").cast("string")))
      .orderBy("h", "vec_id").limit(AUDIT_SAMPLE_Q)
      .select("vec_id")

  val knnRecallSampled: QueryDef = QueryDef(
    build = (s, d) => {
      val e = emb(s, d).persist() // session-scoped memo (QueryDef cache contract)
      val q = e.join(broadcast(auditSample(e)), "vec_id")
        .select(col("vec_id"), col("v").as("qv"), col("norm").as("qnorm"))
      // truth = sample × corpus (broadcast the bounded sample, never an
      // all-pairs join): one linear pass however big the corpus grows.
      // Top-K via the graft_topk heap (the sim_topk rationale);
      // persisted — both consumers (n_truth + hits) otherwise re-run
      // the sample × corpus pass
      val truth = e.select(col("vec_id").as("nbr_id"), col("v").as("ov"), col("norm").as("onorm"))
        .join(broadcast(q), col("nbr_id") =!= col("vec_id"))
        .withColumn("cs", round(
          call_function("graft_dot", col("qv"), col("ov")) / (col("qnorm") * col("onorm")), 6))
        .groupBy("vec_id")
        .agg(expr(s"graft_topk(cs, nbr_id, $KNN_K)").as("top"))
        .select(col("vec_id"), explode(col("top.id")).as("nbr_id"))
        .persist() // session-scoped memo (QueryDef cache contract)
      val graph = knnGraph.build(s, d).select("vec_id", "nbr_id")
        .join(broadcast(auditSample(e)), Seq("vec_id"), "leftsemi")
      val hits = truth.join(graph, Seq("vec_id", "nbr_id"))
      truth.agg(count(lit(1)).as("n_truth")).crossJoin(
          hits.agg(count(lit(1)).as("hits")))
        .select(col("n_truth"), col("hits"),
          expr("hits * 1000000 DIV n_truth").as("recall_ppm"))
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), av AS (
         |  SELECT a.vec_id, a.cell, e.v, e.norm FROM assigned a JOIN e USING (vec_id)
         |), qsample AS (
         |  SELECT vec_id FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $AUDIT_SAMPLE_Q
         |), gpr AS (
         |  SELECT l.vec_id, r.vec_id AS nbr_id,
         |         round(list_dot_product(l.v, r.v) / (l.norm * r.norm), 6) AS cs
         |  FROM av l JOIN av r ON l.cell = r.cell AND r.vec_id <> l.vec_id
         |), graph AS (
         |  SELECT vec_id, nbr_id FROM (
         |    SELECT vec_id, nbr_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, nbr_id) AS rank
         |    FROM gpr) WHERE rank <= $KNN_K
         |), graph_s AS (
         |  SELECT g.vec_id, g.nbr_id FROM graph g JOIN qsample q ON g.vec_id = q.vec_id
         |), tpr AS (
         |  SELECT l.vec_id, r.vec_id AS nbr_id,
         |         round(list_dot_product(l.v, r.v) / (l.norm * r.norm), 6) AS cs
         |  FROM e l JOIN qsample q ON l.vec_id = q.vec_id
         |  JOIN e r ON r.vec_id <> l.vec_id
         |), truth AS (
         |  SELECT vec_id, nbr_id FROM (
         |    SELECT vec_id, nbr_id,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, nbr_id) AS rank
         |    FROM tpr) WHERE rank <= $KNN_K
         |), agg AS (
         |  SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
         |         (SELECT count(*) FROM truth t JOIN graph_s g
         |            ON t.vec_id = g.vec_id AND t.nbr_id = g.nbr_id)::BIGINT AS hits
         |)
         |SELECT n_truth, hits, (hits * 1000000 // n_truth)::BIGINT AS recall_ppm
         |FROM agg""".stripMargin),
    doc = "X3 sampled kNN-graph recall audit: exact truth for a deterministic md5-head query sample (linear in the corpus)")

  val semStraddleSampled: QueryDef = QueryDef(
    build = (s, d) => {
      val av = cellVecs(s, d)
      // DIRECTED anchor pairs: each sampled anchor a scores its whole
      // ≥-threshold neighborhood (sample × corpus, broadcast anchors) —
      // the sampled estimate of the straddle rate per similarity band
      val anchors = av.join(broadcast(auditSample(av)), "vec_id")
        .select(col("vec_id").as("vec_a"), col("cell").as("cell_a"),
          col("v").as("va"), col("norm").as("na"))
      av.select(col("vec_id").as("vec_b"), col("cell").as("cell_b"),
          col("v").as("vb"), col("norm").as("nb"))
        .join(broadcast(anchors), col("vec_a") =!= col("vec_b"))
        .withColumn("cs", round(
          call_function("graft_dot", col("va"), col("vb")) / (col("na") * col("nb")), 6))
        .filter(col("cs") >= DedupQueries.COSINE_MIN)
        .withColumn("band", expr("CAST(floor(cs * 1000000 + 0.5D) AS BIGINT) div 100000"))
        .withColumn("within", (col("cell_a") === col("cell_b")).cast("long"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"), sum("within").as("n_within"))
        .select(col("band"), col("n_pairs"), col("n_within"),
          (col("n_pairs") - col("n_within")).as("n_straddle"),
          expr("(n_pairs - n_within) * 1000000L div n_pairs").as("straddle_ppm"))
        .orderBy("band")
    },
    oracle = Some(
      s"""${kmeansOracleCtes(KMEANS_K, KMEANS_ITERS)}, sims AS (
         |  SELECT e.vec_id, c.clabel,
         |         round(list_dot_product(e.v, c.cv) / (e.norm * c.cnorm), 6) AS csim
         |  FROM e CROSS JOIN c$KMEANS_ITERS c
         |), assigned AS (
         |  SELECT vec_id, clabel AS cell FROM (
         |    SELECT vec_id, clabel,
         |           row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, clabel) AS rk
         |    FROM sims) WHERE rk = 1
         |), qsample AS (
         |  SELECT vec_id FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $AUDIT_SAMPLE_Q
         |), spr AS (
         |  SELECT la.cell AS cell_a, lb.cell AS cell_b,
         |         round(list_dot_product(ea.v, eb.v) / (ea.norm * eb.norm), 6) AS cs
         |  FROM qsample q JOIN e ea ON ea.vec_id = q.vec_id
         |  JOIN e eb ON eb.vec_id <> ea.vec_id
         |  JOIN assigned la ON la.vec_id = ea.vec_id
         |  JOIN assigned lb ON lb.vec_id = eb.vec_id
         |), f AS (
         |  SELECT CAST(floor(cs * 1000000 + 0.5) AS BIGINT) // 100000 AS band,
         |         (cell_a = cell_b) AS within
         |  FROM spr WHERE cs >= ${DedupQueries.COSINE_MIN}
         |)
         |SELECT band, count(*)::BIGINT AS n_pairs,
         |       sum(CASE WHEN within THEN 1 ELSE 0 END)::BIGINT AS n_within,
         |       (count(*) - sum(CASE WHEN within THEN 1 ELSE 0 END))::BIGINT AS n_straddle,
         |       ((count(*) - sum(CASE WHEN within THEN 1 ELSE 0 END)) * 1000000
         |          // count(*))::BIGINT AS straddle_ppm
         |FROM f GROUP BY band ORDER BY band""".stripMargin),
    doc = "X2 sampled SemDeDup straddle audit: md5-head anchors score their exact neighborhoods (linear in the corpus)")

  val defs: Map[String, QueryDef] = Map(
    "sim_topk"         -> topk,
    "sim_filtered"     -> filteredTopk,
    "sim_ann"          -> ann,
    "sim_ivf"          -> ivf,
    "kmeans_centroids" -> kmeansQ,
    "sim_ivf_kmeans"   -> ivfKmeans,
    "sim_recall"       -> recall,
    "dedup_semantic"   -> semanticDedup,
    "sem_recall"       -> semStraddle,
    "ivf_cell_stats"   -> cellStats,
    "ivf_outliers"     -> cellOutliers,
    "embed_quantize"   -> quantize,
    "knn_graph"        -> knnGraph,
    "knn_graph_agg"    -> knnGraphAgg,
    "knn_recall"       -> knnRecall,
    "knn_recall_sampled" -> knnRecallSampled,
    "sem_recall_sampled" -> semStraddleSampled,
    "embed_pca"        -> embedPca,
    "embed_whiten"     -> embedWhiten,
  )
}
