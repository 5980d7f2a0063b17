package graft

import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.extensions.{DedupQueries, PairJoin}

/** PairJoin.blockPairs against an exhaustive driver-side reference, in
  * each mode its callers use: undirected pairs kept by the 6dp cosine
  * threshold (dedup_embed, sem_recall), directed all-pairs (knn_recall's
  * truth) and within-cell pairs, undirected and directed (dedup_semantic,
  * knn_graph). The seeded corpus plants an identical-vector pair, a pair
  * whose 6dp cosine is exactly COSINE_MIN, one just below it, a
  * one-member cell and a cell-less (NULL cell) id. */
class PairJoinSpec extends SparkSpec {

  private val dims = 8
  private val minCos = DedupQueries.COSINE_MIN

  private case class Vec(id: Long, cell: Option[Long], v: Seq[Double])

  private lazy val corpus: Seq[Vec] = {
    val rnd = new scala.util.Random(1234)
    def unit(i: Int, x: Double): Seq[Double] = Seq.tabulate(dims)(j => if (j == i) x else 0.0)
    val background = (0L until 40L).map(i =>
      Vec(i, Some(i % 3), Seq.fill(dims)(rnd.nextGaussian())))
    val twin = Seq.fill(dims)(rnd.nextGaussian())
    val atMin = Seq(0.45, math.sqrt(1 - 0.45 * 0.45)) ++ Seq.fill(dims - 2)(0.0)
    val belowMin = Seq(0.4499994, math.sqrt(1 - 0.4499994 * 0.4499994)) ++ Seq.fill(dims - 2)(0.0)
    background ++ Seq(
      Vec(100L, Some(0L), twin), Vec(101L, Some(0L), twin), // identical vectors
      Vec(102L, Some(0L), unit(0, 1.0)), Vec(103L, Some(0L), atMin), // cos6 = COSINE_MIN
      Vec(104L, Some(1L), unit(0, 1.0)), Vec(105L, Some(1L), belowMin), // cos6 just below
      Vec(106L, Some(7L), unit(2, 1.0)), // the only member of cell 7
      Vec(107L, None, unit(2, 1.0))) // no cell
  }

  private def frame: DataFrame = {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    corpus.map(x => (x.id, x.cell, x.v)).toDF("vec_id", "cell", "v")
      .withColumn("norm", sqrt(call_function("graft_dot", col("v"), col("v"))))
  }

  // the reference scores with the operator's arithmetic: an index-order
  // dot, sqrt of the self-dot, one division, Spark's HALF_UP 6dp round
  private def dot(a: Seq[Double], b: Seq[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def cos6(a: Vec, b: Vec): Double =
    BigDecimal(dot(a.v, b.v) / (math.sqrt(dot(a.v, a.v)) * math.sqrt(dot(b.v, b.v))))
      .setScale(6, RoundingMode.HALF_UP).toDouble

  private def reference(keep: (Vec, Vec) => Boolean): Seq[(Long, Long)] =
    (for (a <- corpus; b <- corpus if keep(a, b)) yield (a.id, b.id)).sorted

  private def ids(df: DataFrame): Seq[(Long, Long)] =
    df.select("vec_id_a", "vec_id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def sameCell(a: Vec, b: Vec): Boolean = a.cell.isDefined && a.cell == b.cell

  test("undirected pairs with the 6dp cosine threshold equal the exhaustive reference") {
    val got = PairJoin.blockPairs(frame, "vec_id")
      .withColumn("cs", PairJoin.cosine6)
      .filter(col("cs") >= minCos)
    val want = reference((a, b) => a.id < b.id && cos6(a, b) >= minCos)
    assert(ids(got) === want)
    val byPair = got.select("vec_id_a", "vec_id_b", "cs").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val vec = corpus.map(x => x.id -> x).toMap
    byPair.foreach { case ((a, b), cs) =>
      assert(cs === cos6(vec(a), vec(b)), s"pair ($a, $b) scores like the reference")
    }
    assert(byPair((100L, 101L)) === 1.0, "identical vectors pair at cosine 1")
    assert(byPair((102L, 103L)) === minCos, "a pair at exactly COSINE_MIN is kept")
    assert(!byPair.contains((104L, 105L)) && cos6(vec(104L), vec(105L)) === 0.449999,
      "a pair one 6dp step below COSINE_MIN is dropped")
    assert(want.exists { case (a, b) => a == 107L || b == 107L },
      "without a cell key the cell-less id pairs like any other")
  }

  test("directed all-pairs: every ordered pair of distinct ids exactly once, payload on its side") {
    val got = PairJoin.blockPairs(frame, "vec_id", directed = true)
    assert(ids(got) === reference((a, b) => a.id != b.id))
    val n = corpus.size.toLong
    assert(got.count() === n * (n - 1))
    val vec = corpus.map(x => x.id -> x).toMap
    got.select("vec_id_a", "v_a", "cell_a", "vec_id_b", "v_b", "cell_b").collect().foreach { r =>
      val (a, b) = (vec(r.getLong(0)), vec(r.getLong(3)))
      assert(r.getSeq[Double](1) === a.v && r.getSeq[Double](4) === b.v)
      assert(Option(r.get(2)).map(_.asInstanceOf[Long]) === a.cell &&
        Option(r.get(5)).map(_.asInstanceOf[Long]) === b.cell)
    }
  }

  test("within-cell pairs: same non-NULL cell only, undirected and directed") {
    val undirected = PairJoin.blockPairs(frame, "vec_id", within = Some("cell"))
    assert(undirected.columns.count(_ == "cell") === 1, "the cell is the shared join key")
    assert(ids(undirected) === reference((a, b) => a.id < b.id && sameCell(a, b)))
    val directed = PairJoin.blockPairs(frame, "vec_id", within = Some("cell"), directed = true)
    val want = reference((a, b) => a.id != b.id && sameCell(a, b))
    assert(ids(directed) === want)
    assert(!want.exists { case (a, b) => Set(a, b).exists(Set(106L, 107L)) },
      "the one-member cell and the cell-less id have no in-cell pair")
    assert(want.contains((100L, 101L)) && want.contains((101L, 100L)))
  }
}
