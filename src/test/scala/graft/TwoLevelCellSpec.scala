package graft

import org.apache.spark.sql.functions._

import graft.extensions.SimilarityQueries

/** Two-level coarse assignment (SimilarityQueries.nearestCellCol from
  * TwoLevelMinK cells on): rank √k unit super-centroids, exact
  * argmin over the top-3 supers' members — ~4√k dots/row instead of k.
  * Contract pinned here: deterministic; EXACT on clustered geometry
  * (the true cell's centroid is in the nearest super when centroids
  * are separated); bounded-divergent on adversarially uniform vectors;
  * and the full-scan path below the gate is untouched.
  */
class TwoLevelCellSpec extends SparkSpec {

  import spark.implicits._

  private val DIMS = 8
  private val K = 64

  /** k well-separated centroids: one dominant axis per cell group. */
  private def centFrame = {
    val rows = (0 until K).map { c =>
      val cv = (0 until DIMS).map(j =>
        if (j == c % DIMS) 10.0 + c else 0.1 * ((c * 31 + j * 7) % 10))
      (c.toLong, cv, math.sqrt(cv.map(x => x * x).sum))
    }
    rows.toDF("clabel", "cv", "cnorm")
  }

  /** vectors planted NEAR centroid (vec_id % K) — the true cell is
    * unambiguous. */
  private def planted = {
    val cents = centFrame.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val rows = (0L until 512L).map { i =>
      val base = cents(i % K)
      val v = base.zipWithIndex.map { case (x, j) => x + 0.01 * ((i * 13 + j) % 7) }
      (i, v, math.sqrt(v.map(x => x * x).sum))
    }
    rows.toDF("vec_id", "v", "norm")
  }

  private def assigns(vecs: org.apache.spark.sql.DataFrame,
                      twoLevel: Option[Boolean]): Map[Long, Long] =
    SimilarityQueries.assignCells(vecs, centFrame, twoLevel).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two-level assignment is deterministic and EXACT on separated clustered geometry") {
    val exact = assigns(planted, Some(false)) // the exact full scan
    val two = assigns(planted, Some(true))    // force two-level at k=64
    assert(two === assigns(planted, Some(true)), "deterministic across invocations")
    assert(two === exact, "separated centroids: the true cell's centroid is in the probed supers")
    assert(exact === (0L until 512L).map(i => i -> (i % K)).toMap,
      "sanity: every planted vector assigns to its planted cell")
  }

  test("uniform (adversarial) vectors: divergence bounded, every divergent row still cell-valid") {
    val rows = (0L until 400L).map { i =>
      val v = (0 until DIMS).map(j => ((i * 131 + j * 7919) % 1000) / 1000.0 + 0.01)
      (i, v, math.sqrt(v.map(x => x * x).sum))
    }
    val vecs = rows.toDF("vec_id", "v", "norm")
    val exact = assigns(vecs, Some(false))
    val two = assigns(vecs, Some(true))
    val agree = exact.count { case (id, c) => two(id) == c }
    assert(agree.toDouble / exact.size >= 0.9,
      s"probe-2 agreement on uniform vectors: $agree/${exact.size}")
    assert(two.values.forall(c => c >= 0 && c < K), "assignments are real cells")
  }

  test("below the gate the full scan runs untouched (default threshold far above every oracle quantizer)") {
    assert(SimilarityQueries.TwoLevelMinK === 512)
    // k=64 ⇒ exact path; equals the forced-exact run
    assert(assigns(planted, None) === assigns(planted, Some(false)))
  }
}
