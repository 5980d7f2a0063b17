package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew mitigation for grouped aggregation — the explicit-salting
  * complement to AQE's runtime skew-join splitting.
  *
  * When one series (key) holds a disproportionate share of rows, a
  * plain groupBy sends that whole key to one reducer. Algebraic
  * aggregates (count/sum/min/max) decompose: aggregate (key, salt)
  * first — spreading the hot key over `salts` reducers — then merge
  * the partials per key. Spark's partial aggregation already does this
  * within map tasks; salting extends it across the REDUCE side, which
  * matters when a single key exceeds one reducer's capacity at 100 TB.
  *
  * NOTE on which engine paths need this: the O8 stat struct is entirely
  * algebraic, so its reduce input is already bounded at one partial row
  * per map partition per key — statScan does NOT skew and is not
  * salted. The genuinely skew-prone served path is the EXACT-percentile
  * calculator: Spark's `percentile` buffers a value→count map per group
  * and merges the hot series' whole value multiset in ONE final task
  * (10⁸ distinct values → one OOM-bound hash map). That path routes to
  * [[distributedPercentiles]] past a stats-index row threshold
  * (GraftEngine.calculator).
  */
object SkewTools {

  /** Two-phase salted equivalent of
    * `df.groupBy(key).agg(count, sum(valueCol), min, max)`.
    * Deterministic salt (hash of a row-unique column, not rand()) keeps
    * runs reproducible. */
  def saltedStat(df: DataFrame, key: Column, valueCol: Column, saltBy: Column, salts: Int): DataFrame =
    df.withColumn("_salt", pmod(hash(saltBy), lit(salts)))
      .groupBy(key.as("k"), col("_salt"))
      .agg(count(lit(1)).as("c"), sum(valueCol).as("s"),
        min(valueCol).as("mn"), max(valueCol).as("mx"))
      .groupBy(col("k"))
      .agg(sum("c").as("cnt"), sum("s").as("sum_value"),
        min("mn").as("min_value"), max("mx").as("max_value"))

  /** Exact interpolated percentiles per key WITHOUT a per-group value
    * buffer — the hot-series replacement for `percentile(value, p)`:
    *
    *   1. count rows per (key, value) — fine-grained keys, partial-agg
    *      friendly, spreads a hot series over every reducer;
    *   2. cumulative count per key in value order (one window pass over
    *      SLIM (value, count) rows — a sort that spills gracefully,
    *      versus the hash map `percentile`'s single merge task must
    *      hold in memory);
    *   3. the value at 0-based rank k is the smallest value whose
    *      cumulative count exceeds k — one conditional min per needed
    *      rank, then Spark's exact interpolation formula
    *      `(hi − pos)·v_lo + (pos − lo)·v_hi` so results are
    *      bit-identical to the built-in (SkewToolsSpec pins it).
    *
    * `ps` maps output column name → percentile in [0, 1]. Returns one
    * row per key: (k, <name>...). Rows with NULL values are ignored by
    * `percentile`; callers pass non-null value columns. A zero answers
    * +0.0 ([[positiveZero]]), so this equals the built-in under
    * [[positiveZero]] bit for bit. */
  def distributedPercentiles(df: DataFrame, key: Column, valueCol: Column,
                             ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty && ps.forall { case (_, p) => p >= 0.0 && p <= 1.0 })
    val byV = Window.partitionBy("k").orderBy("v")
    val whole = Window.partitionBy("k")
    val cum = df.select(key.as("k"), valueCol.as("v"))
      .groupBy("k", "v").agg(count(lit(1)).as("c"))
      .select(col("k"), col("v"),
        sum("c").over(byV).as("cum"), sum("c").over(whole).as("n"))
    def pos(p: Double): Column = lit(p) * (col("n") - lit(1)).cast("double")
    val rankAggs = ps.zipWithIndex.flatMap { case ((_, p), i) =>
      Seq(min(when(col("cum") > floor(pos(p)), col("v"))).as(s"_lo_$i"),
        min(when(col("cum") > ceil(pos(p)), col("v"))).as(s"_hi_$i"))
    }
    val agged = cum.groupBy("k").agg(max("n").as("n"), rankAggs: _*)
    val outs = ps.zipWithIndex.map { case ((name, p), i) =>
      val (lo, hi) = (col(s"_lo_$i"), col(s"_hi_$i"))
      positiveZero(when(ceil(pos(p)) === floor(pos(p)), lo)
        .otherwise((ceil(pos(p)) - pos(p)) * lo + (pos(p) - floor(pos(p))) * hi))
        .as(name)
    }
    agged.select(col("k") +: outs: _*)
  }

  /** The percentile contract has one zero, +0.0. The built-in
    * `percentile` keys its count map on the boxed value, which keeps
    * -0.0 and +0.0 apart (which one answers depends on hash order);
    * grouping on the value normalizes -0.0 to +0.0. `x + 0.0` is `x`
    * for every other double, NaN included. */
  def positiveZero(c: Column): Column = c + lit(0.0)
}
