package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native, whole-stage-codegen'd dot product over two double arrays.
  *
  * Why a custom Catalyst Expression (SURVEY.md §4.2's one sanctioned
  * case): the higher-order-function formulation
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, (acc,x) -> acc+x)`
  * is interpreted — per-element lambda dispatch with boxing — which
  * dominates the similarity/dedup benchmarks (millions of pairs × 64
  * dims). This expression compiles to a tight primitive loop inside
  * WholeStageCodegen. Accumulation order is identical to the HOF form
  * (index order, double precision), so results are bit-identical and
  * the DuckDB oracles are unaffected.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullable: Boolean = true

  /** Length mismatch yields NULL — matching the reference formulation
    * `aggregate(zip_with(a,b,(x,y)->x*y), 0D, ...)`, where zip_with
    * null-pads the shorter array and the sum degrades to NULL. A
    * truncated/corrupt vector must surface, not produce a plausible
    * partial similarity. */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("dotN")
      val s = ctx.freshName("dotS")
      val i = ctx.freshName("dotI")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** Numeric view of an md5 prefix: the first `n` (≤ 15) hex chars of
  * md5(input) as a BIGINT — exactly `conv(substring(md5(x),1,n),16,10)`
  * and DuckDB's `('0x' || substring(md5(x),1,n))::BIGINT`, but computed
  * with a reused MessageDigest and no hex-string round-trip. Spark's
  * stock md5 + conv pair costs ~27µs/row (per-call digest instantiation
  * + string number parsing), which dominated the near-dup pipelines.
  */
case class Md5Prefix64(child: Expression, hexChars: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(hexChars > 0 && hexChars <= 15, "hexChars must be in [1, 15] to fit a signed long")
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(s"graft_md5_prefix expects string, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    Md5Prefix64.hash(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], hexChars)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = Md5Prefix64.getClass.getName // graft.functions.Md5Prefix64$
    defineCodeGen(ctx, ev, c => s"$cls.MODULE$$.hash($c, $hexChars)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "graft_md5_prefix"
}

object Md5Prefix64 {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** First `hexChars` hex digits of md5(s) as a long. */
  def hash(s: org.apache.spark.unsafe.types.UTF8String, hexChars: Int): Long = {
    val md = digests.get()
    md.reset()
    val bytes = md.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < hexChars) {
      val nibble = if ((i & 1) == 0) (bytes(i >> 1) >> 4) & 0xf else bytes(i >> 1) & 0xf
      v = (v << 4) | nibble
      i += 1
    }
    v
  }
}

/** Single-pass SimHash over an array of 32-bit hash values: bit b of the
  * result is set iff more than half the hashes have bit b set (the
  * majority-vote definition — identical to the SQL formulation
  * `2·Σ((h>>b)&1) > n`). Replaces an explode + 33-aggregate shuffle with
  * a per-row loop.
  */
case class SimHash32(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(s"graft_simhash expects array<bigint>, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    SimHash32.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimHash32.getClass.getName // graft.functions.SimHash32$
    defineCodeGen(ctx, ev, c => s"$cls.MODULE$$.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "graft_simhash"
}

object SimHash32 {
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 32) {
        counts(b) += ((h >> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 32) {
      if (2 * counts(b) > n) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** 64-bit SimHash over an array of 64-bit hash values — the at-scale
  * signature (Manku, Jain & Das Sarma, "Detecting Near-Duplicates for
  * Web Crawling", WWW'07: 64-bit fingerprints at 8B-page scale). Bit b
  * of the result is the majority vote of bit b over all input hashes,
  * identical semantics to [[SimHash32]] at twice the width: for
  * unrelated documents P(Hamming ≤ 3) ≈ 2.4e-15 vs the 32-bit form's
  * measured ~1.8e-4 P(Hamming ≤ 6) — the difference between a pair
  * list bounded by true near-dup mass and one that floods ∝ n².
  * Input hashes come from xxhash64 (full 64 well-mixed bits, codegen'd
  * in Spark); the oracle-replayed 32-bit tier keeps its md5 derivation.
  */
case class SimHash64Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(s"graft_simhash64 expects array<bigint>, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    SimHash64Expr.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SimHash64Expr.getClass.getName // graft.functions.SimHash64Expr$
    defineCodeGen(ctx, ev, c => s"$cls.MODULE$$.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "graft_simhash64"
}

object SimHash64Expr {
  def compute(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2 * counts(b) > n) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Exact nearest-centroid assignment in ONE map-side pass — replaces
  * the corpus × centroids broadcast-NLJ + max_by that dominated
  * AnnIndex.build at 10M vectors (869 s, of which the assignment join
  * materialized 2.5e9 intermediate rows just to reduce them again).
  * Per row: k in-register dot products, argmax by (csim rounded to
  * 6dp, lowest-label tiebreak) — BIT-IDENTICAL to
  * `max_by(clabel, struct(round(dot/(norm·cnorm), 6), -clabel))`,
  * including Spark's NaN-greatest total order (a degenerate zero-norm
  * centroid still wins exactly as the join form would have it).
  * Rounding runs only on the few candidates within 1e-6 of the raw
  * maximum (round is monotone, so no other centroid can tie at the
  * rounded level) — the BigDecimal HALF_UP step that would cost more
  * than the dot products never touches the cold candidates.
  * Centroids arrive as literal arrays (the broadcast analog: k·dims
  * doubles shipped once per task in the plan).
  */
case class NearestCellExpr(vec: Expression, norm: Expression,
                           labels: Seq[Long], cvs: Seq[Seq[Double]],
                           cnorms: Seq[Double])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  // Seq fields, NOT arrays: case-class equality on Array compares
  // references, so two builds of the same query would never
  // canonicalize equal and the cacheManager would re-persist every
  // downstream memo per invocation (measured: CacheHygieneSpec grew
  // 2 entries per pass). Structural Seq equality keeps plan dedupe;
  // the transient lazy arrays below keep the per-row loop allocation-free.
  @transient private lazy val labelsArr: Array[Long] = labels.toArray
  @transient private lazy val cvsArr: Array[Array[Double]] = cvs.map(_.toArray).toArray
  @transient private lazy val cnormsArr: Array[Double] = cnorms.toArray

  override def left: Expression = vec
  override def right: Expression = norm
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, norm.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _), org.apache.spark.sql.types.DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_cell expects (array<double>, double), got $t")
    }

  override def nullSafeEval(v: Any, n: Any): Any =
    NearestCellExpr.compute(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      labelsArr, cvsArr, cnormsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("ncLabels", labelsArr, "long[]")
    val c = ctx.addReferenceObj("ncCvs", cvsArr, "double[][]")
    val n = ctx.addReferenceObj("ncNorms", cnormsArr, "double[]")
    val cls = NearestCellExpr.getClass.getName // graft.functions.NearestCellExpr$
    defineCodeGen(ctx, ev, (v, nm) => s"$cls.MODULE$$.compute($v, $nm, $l, $c, $n)")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, norm = newRight)
  override def prettyName: String = "graft_nearest_cell"
}

object NearestCellExpr {
  /** Spark's round(x, 6): BigDecimal HALF_UP on the canonical repr. */
  private def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** max_by's double comparison semantics, replicated: NaN greatest,
    * NaN == NaN, and — measured, AssignCellsSpec's signed-zero case —
    * −0.0 == +0.0 (primitive IEEE equality, NOT Double.compare's total
    * order: the join form ties two centroids whose cosines round to
    * ±0.0 and hands the tie to the lower label; a Double.compare
    * implementation here diverged). */
  private def gt(a: Double, b: Double): Boolean = {
    val an = java.lang.Double.isNaN(a); val bn = java.lang.Double.isNaN(b)
    if (an || bn) an && !bn else a > b
  }
  private def eq6(a: Double, b: Double): Boolean = {
    val an = java.lang.Double.isNaN(a); val bn = java.lang.Double.isNaN(b)
    if (an || bn) an && bn else a == b
  }

  def compute(arr: ArrayData, norm: Double, labels: Array[Long],
              cvs: Array[Array[Double]], cnorms: Array[Double]): Long =
    computeAmong(arr.toDoubleArray(), norm, labels, cvs, cnorms, null)

  /** The argmin loop over a CANDIDATE subset (`idxs` = indices into the
    * centroid arrays; null = all) — identical operations in identical
    * order to the full scan when idxs covers everything, which is how
    * [[compute]] now delegates (bit-identity preserved by construction).
    * The two-level expression feeds it the probed super-cells' members. */
  def computeAmong(v: Array[Double], norm: Double, labels: Array[Long],
                   cvs: Array[Array[Double]], cnorms: Array[Double],
                   idxs: Array[Int]): Long = {
    val k = if (idxs == null) labels.length else idxs.length
    val sims = new Array[Double](k)
    var rawMax = Double.NegativeInfinity
    var sawNaN = false
    var i = 0
    while (i < k) {
      val ci = if (idxs == null) i else idxs(i)
      val cv = cvs(ci)
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += v(j) * cv(j); j += 1 }
      val sim = dot / (norm * cnorms(ci))
      sims(i) = sim
      if (java.lang.Double.isNaN(sim)) sawNaN = true
      else if (sim > rawMax) rawMax = sim
      i += 1
    }
    // only candidates whose ROUNDED sim can reach the rounded maximum
    // need the BigDecimal step: round(x) == round(rawMax) ⇒
    // |x − rawMax| < 1e-6 (NaN candidates always qualify — they are
    // greatest in Spark's ordering)
    val floor = rawMax - 1.1e-6
    var bestLabel = Long.MaxValue
    var bestSim = Double.NegativeInfinity
    var first = true
    i = 0
    while (i < k) {
      val s = sims(i)
      if (java.lang.Double.isNaN(s) || (!sawNaN && s >= floor)) {
        val r = round6(s)
        val lbl = labels(if (idxs == null) i else idxs(i))
        if (first || gt(r, bestSim) || (eq6(r, bestSim) && lbl < bestLabel)) {
          bestSim = r; bestLabel = lbl; first = false
        }
      }
      i += 1
    }
    bestLabel
  }

  /** Two-level assignment ([[NearestCellExpr]]'s at-scale sibling):
    * rank the √k unit SUPER-centroids by raw dot (norm is constant per
    * row, so v·ŝ ordering equals cosine ordering — no division, no
    * rounding: this stage only selects which members to scan), then run
    * the EXACT argmin — same rounding, same tiebreaks — over the top-3
    * supers' member centroids. ~4√k dots instead of k; the result
    * diverges from the full scan only when the true cell's centroid
    * lives outside all probed supers (bounded-divergent by
    * construction, measured in the `vector.cells2` smoke). */
  def computeTwoLevel(arr: ArrayData, norm: Double, labels: Array[Long],
                      cvs: Array[Array[Double]], cnorms: Array[Double],
                      superU: Array[Array[Double]],
                      members: Array[Array[Int]]): Long = {
    val v = arr.toDoubleArray()
    val ns = superU.length
    // top-3 supers by raw dot (measured: probe-2 diverged 1.0% on the
    // 10M clustered smoke, probe-3 is comfortably inside the bound at
    // one extra sqrt(k)-sized member scan)
    val bi = Array(-1, -1, -1)
    val bd = Array(Double.NegativeInfinity, Double.NegativeInfinity, Double.NegativeInfinity)
    var s = 0
    while (s < ns) {
      val su = superU(s)
      var d = 0.0
      var j = 0
      while (j < v.length) { d += v(j) * su(j); j += 1 }
      if (d > bd(0)) {
        bd(2) = bd(1); bi(2) = bi(1); bd(1) = bd(0); bi(1) = bi(0); bd(0) = d; bi(0) = s
      } else if (d > bd(1)) {
        bd(2) = bd(1); bi(2) = bi(1); bd(1) = d; bi(1) = s
      } else if (d > bd(2)) { bd(2) = d; bi(2) = s }
      s += 1
    }
    if (bi(0) < 0) // all super dots NaN (degenerate vector): full scan
      return computeAmong(v, norm, labels, cvs, cnorms, null)
    var total = 0
    var p = 0
    while (p < 3) { if (bi(p) >= 0) total += members(bi(p)).length; p += 1 }
    if (total == 0) // all probed supers emptied during Lloyd: full scan,
      return computeAmong(v, norm, labels, cvs, cnorms, null) // never MaxValue
    val idxs = new Array[Int](total)
    var off = 0
    p = 0
    while (p < 3) {
      if (bi(p) >= 0) {
        val m = members(bi(p))
        System.arraycopy(m, 0, idxs, off, m.length)
        off += m.length
      }
      p += 1
    }
    computeAmong(v, norm, labels, cvs, cnorms, idxs)
  }
}

/** [[NearestCellExpr]] with TWO-LEVEL candidate pruning — the k-dots-
  * per-row full scan becomes the assignment wall once k grows with the
  * corpus (k ≈ √N cells at 10⁸–10⁹ vectors is 10⁴–3×10⁴ dots/row):
  * this form ranks √k unit super-centroids first and runs the exact
  * argmin over the top-3 supers' members only (~4√k dots). Same
  * (v, norm) signature; super structure and members arrive as literal
  * fields like the centroid tables. Divergence contract: a row whose
  * true nearest centroid lives outside both probed supers may assign to
  * its best PROBED centroid instead — bounded-divergent, measured, and
  * only engaged from `SimilarityQueries.TwoLevelMinK` cells on (every
  * oracle-replayed quantizer is far below it). */
case class NearestCell2Expr(vec: Expression, norm: Expression,
                            labels: Seq[Long], cvs: Seq[Seq[Double]],
                            cnorms: Seq[Double], superU: Seq[Seq[Double]],
                            members: Seq[Seq[Int]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  @transient private lazy val labelsArr: Array[Long] = labels.toArray
  @transient private lazy val cvsArr: Array[Array[Double]] = cvs.map(_.toArray).toArray
  @transient private lazy val cnormsArr: Array[Double] = cnorms.toArray
  @transient private lazy val superArr: Array[Array[Double]] = superU.map(_.toArray).toArray
  @transient private lazy val membersArr: Array[Array[Int]] = members.map(_.toArray).toArray
  override def left: Expression = vec
  override def right: Expression = norm
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, norm.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _), org.apache.spark.sql.types.DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_nearest_cell2 expects (array<double>, double), got $t")
    }
  override def nullSafeEval(v: Any, n: Any): Any =
    NearestCellExpr.computeTwoLevel(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      labelsArr, cvsArr, cnormsArr, superArr, membersArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("nc2Labels", labelsArr, "long[]")
    val c = ctx.addReferenceObj("nc2Cvs", cvsArr, "double[][]")
    val n = ctx.addReferenceObj("nc2Norms", cnormsArr, "double[]")
    val su = ctx.addReferenceObj("nc2Super", superArr, "double[][]")
    val mb = ctx.addReferenceObj("nc2Members", membersArr, "int[][]")
    val cls = NearestCellExpr.getClass.getName
    defineCodeGen(ctx, ev, (v, nm) =>
      s"$cls.MODULE$$.computeTwoLevel($v, $nm, $l, $c, $n, $su, $mb)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, norm = newRight)
  override def prettyName: String = "graft_nearest_cell2"
}

/** Product-quantization code assignment in ONE map-side pass — the
  * [[NearestCellExpr]] of the PQ family. The join form (explode M
  * subvector rows per vector → broadcast-join M×KSUB codebook rows →
  * per-(vector, subspace) micro-distance argmin → shuffle) moves
  * n·M rows through an exchange just to reduce them; at 10M vectors
  * that is 80M-row shuffles in AnnIndex.build AND per Lloyd iteration.
  * These helpers compute the identical integer-micro argmin
  * (`floor(((sv·sv − 2·sv·cv) + cv·cv)·1e6 + 0.5)`, lowest-code
  * tiebreak — exact integer comparisons, no rounding subtleties) in a
  * per-row loop. [[PqCodeExpr]] yields one subspace's code for
  * (sv, sub) rows (the training/update shape); [[PqPackExpr]] yields
  * the whole packed BIGINT (Σ code·16^sub) straight from (v, norm) —
  * the ingest path never explodes at all.
  */
object PqCodeOps {
  /** d2-micro argmin over one subspace's codebook; `sv` is the raw
    * 8-dim slice. cvs(code) = centroid, cvv(code) = its precomputed
    * self-dot (the same deterministic double the join form computes
    * per row). */
  def codeFor(sv: Array[Double], cvs: Array[Array[Double]], cvv: Array[Double]): Long = {
    var svv = 0.0
    var j = 0
    while (j < sv.length) { svv += sv(j) * sv(j); j += 1 }
    var best = Long.MaxValue
    var bestCode = 0
    var c = 0
    while (c < cvs.length) {
      val cv = cvs(c)
      var dot = 0.0
      j = 0
      while (j < sv.length) { dot += sv(j) * cv(j); j += 1 }
      val d2m = math.floor(((svv - 2 * dot) + cvv(c)) * 1000000 + 0.5).toLong
      if (d2m < best) { best = d2m; bestCode = c } // ascending c ⇒ ties keep the lowest code
      c += 1
    }
    bestCode.toLong
  }

  def code(sv: ArrayData, sub: Long,
           cvs: Array[Array[Array[Double]]], cvv: Array[Array[Double]]): Long = {
    val arr = sv.toDoubleArray()
    // a subvector wider than its trained codebook entry would read past
    // cv's end (or silently score a truncated window) — the join form
    // degrades to NULL distances there; this path fails loudly instead
    require(arr.length == cvs(sub.toInt)(0).length,
      s"graft_pq_code: subvector dim ${arr.length} != trained dim ${cvs(sub.toInt)(0).length}")
    codeFor(arr, cvs(sub.toInt), cvv(sub.toInt))
  }

  /** Literal array<array<array<double>>> → nested Seqs (the structural-
    * equality form the expressions hold — see [[NearestCellExpr]]'s
    * Array-equality note). */
  def fromLiteral(e: Expression): Seq[Seq[Seq[Double]]] = {
    val outer = e.eval(null).asInstanceOf[ArrayData]
    (0 until outer.numElements()).map { s =>
      val mid = outer.getArray(s)
      (0 until mid.numElements()).map(c => mid.getArray(c).toDoubleArray().toSeq)
    }
  }

  /** cvv(s)(c) = the sequential self-dot — the identical double
    * graft_dot(cv, cv) yields. */
  def selfDots(cvs: Array[Array[Array[Double]]]): Array[Array[Double]] =
    cvs.map(_.map { cv =>
      var d = 0.0; var j = 0
      while (j < cv.length) { d += cv(j) * cv(j); j += 1 }
      d
    })

  def pack(v: ArrayData, norm: Double,
           cvs: Array[Array[Array[Double]]], cvv: Array[Array[Double]]): Long = {
    val raw = v.toDoubleArray()
    val m = cvs.length
    // the TRAINED width, never raw.length / m: a 72-dim vector against
    // 8-dim codebooks must fail loudly, not slice 9-dim windows that
    // read past the codebook entries (and a 32-dim one must not
    // silently pack 4-dim windows the join form never scored)
    val dsub = cvs(0)(0).length
    require(raw.length == m * dsub,
      s"graft_pq_pack: vector dim ${raw.length} != trained M×DSUB = ${m * dsub}")
    val u = new Array[Double](raw.length)
    var i = 0
    while (i < raw.length) { u(i) = raw(i) / norm; i += 1 }
    val sv = new Array[Double](dsub)
    var packed = 0L
    var s = 0
    while (s < m) {
      System.arraycopy(u, s * dsub, sv, 0, dsub)
      packed += codeFor(sv, cvs(s), cvv(s)) << (4 * s) // 16^s exact
      s += 1
    }
    packed
  }

  /** [[pack]]'s residual form (IVFADC): quantize r = v/norm − ĉ(cell)
    * instead of the unit vector. `chats` = UNIT centroids (cv/cnorm),
    * aligned with the SORTED `labels`; the per-element divisions and
    * the subtraction replicate `zip_with(u, chat, (a, b) -> a − b)`
    * bit-for-bit (same IEEE ops, same order). */
  def packRes(v: ArrayData, norm: Double, cell: Long, labels: Array[Long],
              chats: Array[Array[Double]], cvs: Array[Array[Array[Double]]],
              cvv: Array[Array[Double]]): Long = {
    val raw = v.toDoubleArray()
    val m = cvs.length
    val dsub = cvs(0)(0).length
    require(raw.length == m * dsub,
      s"graft_pq_pack_res: vector dim ${raw.length} != trained M×DSUB = ${m * dsub}")
    val ci = java.util.Arrays.binarySearch(labels, cell)
    require(ci >= 0, s"graft_pq_pack_res: cell $cell not among the quantizer's labels")
    val chat = chats(ci)
    val r = new Array[Double](raw.length)
    var i = 0
    while (i < raw.length) { r(i) = raw(i) / norm - chat(i); i += 1 }
    val sv = new Array[Double](dsub)
    var packed = 0L
    var s = 0
    while (s < m) {
      System.arraycopy(r, s * dsub, sv, 0, dsub)
      packed += codeFor(sv, cvs(s), cvv(s)) << (4 * s) // 16^s exact
      s += 1
    }
    packed
  }
}

/** (sv, sub) → 4-bit code against literal codebooks. */
case class PqCodeExpr(sv: Expression, sub: Expression,
                      cvs: Seq[Seq[Seq[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  @transient private lazy val cvsArr: Array[Array[Array[Double]]] =
    cvs.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val cvvArr: Array[Array[Double]] = PqCodeOps.selfDots(cvsArr)
  override def left: Expression = sv
  override def right: Expression = sub
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (sv.dataType, sub.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _), org.apache.spark.sql.types.LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_code expects (array<double>, bigint), got $t")
    }
  override def nullSafeEval(s: Any, b: Any): Any =
    PqCodeOps.code(s.asInstanceOf[ArrayData], b.asInstanceOf[Long], cvsArr, cvvArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("pqCvs", cvsArr, "double[][][]")
    val n = ctx.addReferenceObj("pqCvv", cvvArr, "double[][]")
    val cls = PqCodeOps.getClass.getName // graft.functions.PqCodeOps$
    defineCodeGen(ctx, ev, (s, b) => s"$cls.MODULE$$.code($s, $b, $c, $n)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(sv = newLeft, sub = newRight)
  override def prettyName: String = "graft_pq_code"
}

/** (v, norm) → packed BIGINT of all M codes against literal codebooks. */
case class PqPackExpr(vec: Expression, norm: Expression,
                      cvs: Seq[Seq[Seq[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  @transient private lazy val cvsArr: Array[Array[Array[Double]]] =
    cvs.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val cvvArr: Array[Array[Double]] = PqCodeOps.selfDots(cvsArr)
  override def left: Expression = vec
  override def right: Expression = norm
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, norm.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _), org.apache.spark.sql.types.DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_pack expects (array<double>, double), got $t")
    }
  override def nullSafeEval(v: Any, n: Any): Any =
    PqCodeOps.pack(v.asInstanceOf[ArrayData], n.asInstanceOf[Double], cvsArr, cvvArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = ctx.addReferenceObj("pqCvs", cvsArr, "double[][][]")
    val n = ctx.addReferenceObj("pqCvv", cvvArr, "double[][]")
    val cls = PqCodeOps.getClass.getName
    defineCodeGen(ctx, ev, (v, nm) => s"$cls.MODULE$$.pack($v, $nm, $c, $n)")
  }
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, norm = newRight)
  override def prettyName: String = "graft_pq_pack"
}

/** (v, norm, cell) → packed BIGINT of all M RESIDUAL codes against
  * literal codebooks — the IVFADC encoding ([[PqPackExpr]]'s residual
  * sibling): the residual r = v/norm − ĉ(cell) is quantized instead of
  * the unit vector, with ĉ = cv/cnorm the UNIT centroid of the
  * already-assigned cell (an input column, so the argmin
  * [[NearestCellExpr]] computed is never re-run). Bit-identical to the
  * compositional form `graft_pq_code(slice(zip_with(u, chat, a − b)))`
  * (PqSpec pins it): same element divisions, same subtraction order,
  * same integer-micro argmin per subspace. Labels arrive SORTED with
  * chats aligned — cell resolves by binary search. */
case class PqResPackExpr(vec: Expression, norm: Expression, cell: Expression,
                         labels: Seq[Long], chats: Seq[Seq[Double]],
                         cvs: Seq[Seq[Seq[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  // Seq fields for structural plan equality (the NearestCellExpr rule);
  // transient arrays keep the per-row loop allocation-free
  @transient private lazy val labelsArr: Array[Long] = labels.toArray
  @transient private lazy val chatsArr: Array[Array[Double]] = chats.map(_.toArray).toArray
  @transient private lazy val cvsArr: Array[Array[Array[Double]]] =
    cvs.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val cvvArr: Array[Array[Double]] = PqCodeOps.selfDots(cvsArr)
  override def first: Expression = vec
  override def second: Expression = norm
  override def third: Expression = cell
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, norm.dataType, cell.dataType) match {
      case (ArrayType(org.apache.spark.sql.types.DoubleType, _),
            org.apache.spark.sql.types.DoubleType, org.apache.spark.sql.types.LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_pack_res expects (array<double>, double, bigint), got $t")
    }
  override def nullSafeEval(v: Any, n: Any, c: Any): Any =
    PqCodeOps.packRes(v.asInstanceOf[ArrayData], n.asInstanceOf[Double],
      c.asInstanceOf[Long], labelsArr, chatsArr, cvsArr, cvvArr)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = ctx.addReferenceObj("rpLabels", labelsArr, "long[]")
    val h = ctx.addReferenceObj("rpChats", chatsArr, "double[][]")
    val c = ctx.addReferenceObj("rpCvs", cvsArr, "double[][][]")
    val n = ctx.addReferenceObj("rpCvv", cvvArr, "double[][]")
    val cls = PqCodeOps.getClass.getName
    defineCodeGen(ctx, ev, (v, nm, ce) =>
      s"$cls.MODULE$$.packRes($v, $nm, $ce, $l, $h, $c, $n)")
  }
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, norm = newSecond, cell = newThird)
  override def prettyName: String = "graft_pq_pack_res"
}

/** Per-document term frequencies in ONE pass over the token array:
  * array<string> → array<struct<tok, tf>> with tf = the token's
  * occurrence count in the array. This is the [[MinHashSig]] of the
  * inverted-index build: term frequency is per-ROW-local work (every
  * token of a document lives in one array), so computing it as an
  * expression removes the corpus-sized explode → groupBy(doc, tok)
  * shuffle from the TextIndex postings build entirely — the stage that
  * OOM'd the 16 GB default heap at 2M documents (the hash aggregate
  * held the (doc, tok) keyspace across 32 concurrent reducers). Output
  * order is first-occurrence (LinkedHashMap), irrelevant downstream —
  * the postings write range-clusters by tok anyway; the (tok, tf) SET
  * equals the groupBy's rows (TextIndexSpec pins it). */
case class TokenTf(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("tok", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("tf", org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_token_tf expects array<string>, got $t")
    }
  override def nullSafeEval(v: Any): Any = TokenTf.compute(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = TokenTf.getClass.getName // graft.functions.TokenTf$
    defineCodeGen(ctx, ev, c =>
      s"(org.apache.spark.sql.catalyst.util.ArrayData) $cls.MODULE$$.compute($c)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_token_tf"
}

object TokenTf {
  def compute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    // LinkedHashMap: deterministic first-occurrence order. Keys are
    // CLONED — an UnsafeArrayData element points into a shared buffer
    // the caller may reuse before the consumer copies the output rows.
    val m = new java.util.LinkedHashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { // tokenizers never emit null; skip defensively
        val t = arr.getUTF8String(i).clone()
        val prev = m.get(t)
        m.put(t, java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue() + 1L))
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue.longValue())
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Single-pass MinHash signature over an array of shingle strings:
  * element i of the result is `min(md5(concat(i, '|', shingle)))` over
  * all shingles — hex-lexicographic min, exactly what the HOF chain
  * `array_min(transform(sh, x -> md5(concat('i|', x))))` computes per
  * hash i, and what the DuckDB oracle reproduces with
  * `list_min(list_transform(...))`. The HOF chain costs numHashes
  * interpreted array traversals per row, each allocating a concat'd
  * UTF8String and a 32-char hex string per element; this expression
  * makes ONE pass over the shingles, reuses a thread-local
  * MessageDigest, compares raw 16-byte digests unsigned (equivalent to
  * lexicographic order of lowercase hex), and hex-encodes only the
  * numHashes winners.
  */
case class MinHashSig(child: Expression, numHashes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(numHashes > 0 && numHashes <= 256, "numHashes must be in [1, 256]")
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = true)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_minhash expects array<string>, got $t")
    }

  override def nullSafeEval(v: Any): Any =
    MinHashSig.compute(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = MinHashSig.getClass.getName // graft.functions.MinHashSig$
    defineCodeGen(ctx, ev, c => s"(org.apache.spark.sql.catalyst.util.ArrayData) $cls.MODULE$$.compute($c, $numHashes)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
  override def prettyName: String = "graft_minhash"
}

object MinHashSig {
  private val digests = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  // "0|", "1|", … prefix byte strings, cached per numHashes
  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def prefixes(n: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(n, k =>
      Array.tabulate(k)(i => s"$i|".getBytes(java.nio.charset.StandardCharsets.UTF_8)))

  private val HEX = "0123456789abcdef".toCharArray
  private def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = HEX((b(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def compute(arr: ArrayData, numHashes: Int): ArrayData = {
    val md = digests.get()
    val pre = prefixes(numHashes)
    val mins = new Array[Array[Byte]](numHashes)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      if (!arr.isNullAt(j)) { // null shingles are skipped, as array_min skips nulls
        val sb = arr.getUTF8String(j).getBytes
        var i = 0
        while (i < numHashes) {
          md.reset()
          md.update(pre(i))
          md.update(sb)
          val dig = md.digest()
          if (mins(i) == null || java.util.Arrays.compareUnsigned(dig, mins(i)) < 0) mins(i) = dig
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Any](numHashes)
    var i = 0
    while (i < numHashes) {
      // empty/all-null input → null minima, matching array_min(empty) = NULL
      out(i) = if (mins(i) == null) null
        else org.apache.spark.unsafe.types.UTF8String.fromString(hex(mins(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Registration: exposes graft functions to SQL/expr(). Idempotent —
  * call from any query builder that uses them. A SparkSessionExtensions
  * hook (`GraftExtensions`) covers spark.sql.extensions deployments.
  */
object VectorFunctions {
  private[functions] def builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "graft_md5_prefix" -> (exprs =>
      Md5Prefix64(exprs(0), exprs(1).eval(null).asInstanceOf[Number].intValue())),
    "graft_simhash" -> (exprs => SimHash32(exprs(0))),
    "graft_simhash64" -> (exprs => SimHash64Expr(exprs(0))),
    "graft_minhash" -> (exprs =>
      MinHashSig(exprs(0), exprs(1).eval(null).asInstanceOf[Number].intValue())),
    "graft_token_tf" -> (exprs => TokenTf(exprs(0))),
    // (score, id, k-lit) — bounded top-k heap aggregate; k folded at
    // build time like Md5Prefix64's width
    "graft_topk" -> (exprs =>
      TopKPairs(exprs(0), exprs(1), exprs(2).eval(null).asInstanceOf[Number].intValue())),
    // (v, norm, labels-lit, cvs-lit, cnorms-lit) — the literal tails
    // are folded into the expression at build time (the Md5Prefix64
    // pattern), so the per-row signature is just (vec, norm)
    "graft_nearest_cell" -> (exprs => {
      val labels = exprs(2).eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      val cvsAd = exprs(3).eval(null).asInstanceOf[ArrayData]
      val cvs = (0 until cvsAd.numElements()).map(i => cvsAd.getArray(i).toDoubleArray().toSeq)
      val cnorms = exprs(4).eval(null).asInstanceOf[ArrayData].toDoubleArray().toSeq
      NearestCellExpr(exprs(0), exprs(1), labels, cvs, cnorms)
    }),
    // (v, norm, labels-lit, cvs-lit, cnorms-lit, superU-lit, members-lit)
    "graft_nearest_cell2" -> (exprs => {
      val labels = exprs(2).eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      val cvsAd = exprs(3).eval(null).asInstanceOf[ArrayData]
      val cvs = (0 until cvsAd.numElements()).map(i => cvsAd.getArray(i).toDoubleArray().toSeq)
      val cnorms = exprs(4).eval(null).asInstanceOf[ArrayData].toDoubleArray().toSeq
      val suAd = exprs(5).eval(null).asInstanceOf[ArrayData]
      val su = (0 until suAd.numElements()).map(i => suAd.getArray(i).toDoubleArray().toSeq)
      val mbAd = exprs(6).eval(null).asInstanceOf[ArrayData]
      val mb = (0 until mbAd.numElements()).map(i => mbAd.getArray(i).toIntArray().toSeq)
      NearestCell2Expr(exprs(0), exprs(1), labels, cvs, cnorms, su, mb)
    }),
    "graft_pq_code" -> (exprs =>
      PqCodeExpr(exprs(0), exprs(1), PqCodeOps.fromLiteral(exprs(2)))),
    "graft_pq_pack" -> (exprs =>
      PqPackExpr(exprs(0), exprs(1), PqCodeOps.fromLiteral(exprs(2)))),
    // (v, norm, cell, labels-lit, chats-lit, cvs-lit) — labels sorted,
    // chats = unit centroids aligned with them
    "graft_pq_pack_res" -> (exprs => {
      val labels = exprs(3).eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      val chAd = exprs(4).eval(null).asInstanceOf[ArrayData]
      val chats = (0 until chAd.numElements()).map(i => chAd.getArray(i).toDoubleArray().toSeq)
      PqResPackExpr(exprs(0), exprs(1), exprs(2), labels, chats,
        PqCodeOps.fromLiteral(exprs(5)))
    }),
  )

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      val ident = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident,
          new ExpressionInfo(classOf[DotProduct].getName, name), builder)
      }
    }
  }
}

/** spark.sql.extensions entry point: injects ALL graft functions into
  * every session built with this extension (cluster deployment path —
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` makes
  * the whole SQL surface available with no code on the driver). Injects
  * the same builder list [[VectorFunctions.register]] installs
  * per-session, so the two paths can never drift.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    VectorFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction(
        (org.apache.spark.sql.catalyst.FunctionIdentifier(name),
          new ExpressionInfo(classOf[DotProduct].getName, name),
          builder))
    }
}
