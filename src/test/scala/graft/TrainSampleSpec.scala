package graft

import org.apache.spark.sql.functions._

import graft.extensions.{PqQueries, SimilarityQueries}

/** Sampled quantizer/PQ training (SimilarityQueries.trainSampleOf):
  * past `spark.graft.ann.trainSampleRows` the Lloyd passes train on the
  * deterministic md5-head sample instead of the full corpus — the FAISS
  * practice that removes the only super-constant ingest term from
  * AnnIndex.build (training was 65% of the round-10 10M build). These
  * tests pin the contract: the sample is a pure function of vec_id
  * (same corpus → same sample → same trained parameters, any session),
  * identity at or below the gate (every oracle SF), and the sampled
  * trainers still produce full-shape, serving-quality parameters.
  */
class TrainSampleSpec extends SparkSpec {

  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  private def withTarget[T](rows: Long)(body: => T): T = {
    spark.conf.set(SimilarityQueries.TrainSampleKey, rows.toString)
    try body finally spark.conf.unset(SimilarityQueries.TrainSampleKey)
  }

  test("md5-head sample: deterministic, ~target-sized, identity at or below the gate") {
    val e = SimilarityQueries.prep(spark, emb)
    val n = e.count()
    val s1 = SimilarityQueries.trainSampleOf(e, n, 100).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    val s2 = SimilarityQueries.trainSampleOf(e, n, 100).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    assert(s1 === s2, "the sample is a pure function of vec_id")
    // ceil'd threshold over-admits: expected ≥ target, binomial spread
    assert(s1.size >= 70 && s1.size <= 200, s"~100 of 500 sampled, got ${s1.size}")
    // identity at the gate: n <= target returns the frame untouched
    assert(SimilarityQueries.trainSampleOf(e, n, n).count() === n)
    // -1 disables sampling regardless of corpus size
    withTarget(-1) {
      assert(SimilarityQueries.trainSampleTarget(spark, 16) === Long.MaxValue)
    }
  }

  // A corpus LARGER than the floored explicit target (64/centroid →
  // 640 for k=10, 1024 for KSUB=16): an explicit "100" on the ~500-row
  // SF corpus is floored ABOVE the corpus size and trainSampleOf
  // degrades to the identity frame — the sampled persist/seed branch
  // the 10M smokes rely on would go untested here (round-11 advice).
  // Tripling with shifted vec_ids crosses both floors.
  private def bigEmb(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame = {
    val e = s.read.parquet(s"$sfDir/embeddings.parquet")
    e.union(e.withColumn("vec_id", col("vec_id") + 100000L))
      .union(e.withColumn("vec_id", col("vec_id") + 200000L))
  }

  test("sampled k-means: trains on the sample, same parameters across sessions, sane serving") {
    def trainFresh(): Seq[(Long, Seq[Double])] = {
      val s2 = spark.newSession() // fresh memo identity → really retrains
      s2.conf.set(SimilarityQueries.TrainSampleKey, "100")
      // the sampled predicate must actually hold: corpus > floored target
      assert(bigEmb(s2).count() > SimilarityQueries.trainSampleTarget(s2, 10),
        "test corpus must be larger than the floored sample target")
      SimilarityQueries.kmeansCentroids(s2, bigEmb(s2))
        .collect().map(r => (r.getLong(r.fieldIndex("clabel")),
          r.getSeq[Double](r.fieldIndex("cv")))).toSeq.sortBy(_._1)
    }
    val a = trainFresh()
    val b = trainFresh()
    assert(a === b, "sampled training is deterministic across sessions")
    assert(a.map(_._1) === (0L until 10L), "full k cells survive the sampled train")
    // serving sanity: every corpus vector still assigns to a trained cell
    val cent = withTarget(100)(SimilarityQueries.kmeansCentroids(spark.newSession(), bigEmb(spark)))
    val cells = SimilarityQueries.assignCells(SimilarityQueries.prep(spark, emb), cent)
    assert(cells.count() === emb.count())
    assert(cells.select("cell").distinct().count() >= 5,
      "assignments spread over the quantizer, not collapsed onto one cell")
  }

  test("sampled PQ: full codebook shape, deterministic across sessions") {
    def books(): Seq[(Long, Long, Seq[Double])] = {
      val s2 = spark.newSession()
      s2.conf.set(SimilarityQueries.TrainSampleKey, "100")
      // the sampled predicate must actually hold: corpus > floored target
      assert(bigEmb(s2).count() > SimilarityQueries.trainSampleTarget(s2, PqQueries.KSUB.toLong),
        "test corpus must be larger than the floored sample target")
      PqQueries.pqCodebooks(s2, bigEmb(s2))
        .collect().map(r => (r.getLong(r.fieldIndex("sub")), r.getLong(r.fieldIndex("code")),
          r.getSeq[Double](r.fieldIndex("cv")))).toSeq.sortBy(c => (c._1, c._2))
    }
    val a = books()
    assert(a === books(), "sampled PQ training is deterministic across sessions")
    assert(a.length === PqQueries.M * PqQueries.KSUB, "every (sub, code) entry trained")
    assert(a.forall(_._3.length === PqQueries.DSUB))
  }

  test("label-centroid vector-mean path agrees with the explode form to the shared 6dp rounding") {
    // from LabelMeanMinRows corpus rows on the label quantizer switches
    // from explode + per-dim avg to the one-pass Summarizer.mean — same
    // mean, different summation tree; both round to 6dp, so per-dim
    // values agree within one ulp of that rounding
    val explodeForm = SimilarityQueries.centroidTable(spark, emb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val meanForm = SimilarityQueries.centroidTable(spark, emb, vectorMean = true)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(meanForm.keySet === explodeForm.keySet)
    for ((l, cv) <- explodeForm) {
      val mv = meanForm(l)
      assert(cv.length === mv.length)
      cv.zip(mv).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1.0000001e-6, s"label $l: $a vs $b")
      }
    }
  }

  test("below the gate nothing changes: default target far above every oracle SF") {
    // the auto target is max(262144, 64k); the biggest oracle corpus is
    // 5k documents / 2k embeddings — training there must stay the
    // full-corpus pass the oracles replay bit-for-bit
    assert(SimilarityQueries.trainSampleTarget(spark, 10) === 262144L)
    assert(SimilarityQueries.trainSampleTarget(spark, 16) === 262144L)
    assert(SimilarityQueries.trainSampleTarget(spark, 10000) === 640000L)
  }
}
