package graft

import org.apache.spark.sql.functions._

import graft.operators.SkewTools
import graft.sources.EventsSource

class SkewToolsSpec extends SparkSpec {

  test("salted two-phase stat equals the direct grouped aggregation on a skewed input") {
    // manufacture skew: replicate one series' rows 50×
    val meas = EventsSource.meas(spark, sfDir)
    val hot = meas.limit(1).select("id").head().getLong(0)
    val skewed = meas.unionByName(
      (1 to 49).map(i => meas.filter(col("id") === hot).withColumn("seq", col("seq") + i * 1000000L))
        .reduce(_ unionByName _))

    val direct = skewed.groupBy(col("id").as("k"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_value"),
        min("value").as("min_value"), max("value").as("max_value"))
    val salted = SkewTools.saltedStat(skewed, col("id"), col("value"), col("seq"), salts = 8)

    val joined = direct.withColumnRenamed("cnt", "d_cnt")
      .withColumnRenamed("sum_value", "d_sum")
      .withColumnRenamed("min_value", "d_mn").withColumnRenamed("max_value", "d_mx")
      .join(salted, "k")
    assert(joined.count() === direct.count())
    val bad = joined.filter(col("d_cnt") =!= col("cnt")
      || abs(col("d_sum") - col("sum_value")) > 1e-6
      || col("d_mn") =!= col("min_value") || col("d_mx") =!= col("max_value"))
    assert(bad.count() === 0L)
    // the hot key really was spread: its partials existed on >1 salt
    val hotSalts = skewed.filter(col("id") === hot)
      .select(pmod(hash(col("seq")), lit(8)).as("s")).distinct().count()
    assert(hotSalts > 1)
  }

  test("distributedPercentiles is bit-identical to the buffering percentile aggregate") {
    val meas = EventsSource.meas(spark, sfDir)
    val ps = Seq("median" -> 0.5, "percentile90" -> 0.9, "percentile99" -> 0.99)
    val builtin = meas.groupBy(col("id").as("k"))
      .agg(expr("percentile(value, 0.5D)").as("median"),
        expr("percentile(value, 0.9D)").as("percentile90"),
        expr("percentile(value, 0.99D)").as("percentile99"))
      .orderBy("k").collect().map(_.toSeq)
    val routed = SkewTools.distributedPercentiles(meas, col("id"), col("value"), ps)
      .orderBy("k").collect().map(_.toSeq)
    assert(routed === builtin, "same ranks, same interpolation, bit-identical doubles")
  }

  test("property: distributedPercentiles ≡ percentile on arbitrary multisets and edge p values") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // duplicate-heavy values (small integer grid) force rank ties; key 9
    // gets a single row (the n=1 interpolation edge); key 10 mixes NaN,
    // -0.0 and +0.0 in one series; p ∈ {0, 1} pin the rank extremes
    val gen = Gen.listOfN(300, for {
      k <- Gen.choose(1L, 8L)
      v <- Gen.choose(-20, 20).map(_ / 4.0)
    } yield (k, v))
    val ps = Seq("p0" -> 0.0, "p37" -> 0.37, "median" -> 0.5, "p99" -> 0.99, "p100" -> 1.0)
    for (i <- 1 to 3) {
      val rows = gen(Gen.Parameters.default, Seed(7L + i)).getOrElse(sys.error("gen failed")) ++
        Seq((9L, 3.25)) ++
        Seq(-0.0, 0.0, Double.NaN, -0.0, -1.5, 0.0, Double.NaN, 2.0).take(3 + 2 * i).map(v => (10L, v))
      val df = spark.createDataFrame(rows).toDF("id", "value")
      val aggs = ps.map { case (n, p) => expr(s"percentile(value, ${p}D)").as(n) }
      // bit for bit (NaN ≠ NaN under ==), except the sign of a zero: the
      // distributed route groups on the value, and Spark normalizes a
      // grouping key's -0.0 to 0.0, so a percentile that lands on -0.0
      // answers +0.0 there; the buffering aggregate keeps -0.0 and +0.0
      // as separate keys in hash order. Both are 0.0 under SQL equality.
      def bits(d: org.apache.spark.sql.DataFrame) = d.orderBy("k").collect().map(_.toSeq.map {
        case v: Double => java.lang.Double.doubleToRawLongBits(if (v == 0.0) 0.0 else v)
        case other => other
      }).toSeq
      val expected = bits(df.groupBy(col("id").as("k")).agg(aggs.head, aggs.tail: _*))
      val routed = bits(SkewTools.distributedPercentiles(df, col("id"), col("value"), ps))
      assert(routed === expected, s"case $i diverged")
    }
  }

  test("calculator serves hot series through the distributed route with identical answers") {
    val eng = new graft.engine.GraftEngine(spark, tmpDir("graft-skew-calc"), buckets = 4)
    eng.append(EventsSource.meas(spark, sfDir))
    val q = graft.engine.QueryInterval(Seq.empty, 0L,
      java.sql.Timestamp.valueOf("2000-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2100-01-01 00:00:00"))
    val plain = eng.calculator(q).collect().map(_.toSeq)
    // threshold 0 forces every series onto the distributed route
    val routed = eng.calculator(q, percentileSkewThreshold = 0L).collect().map(_.toSeq)
    assert(routed === plain, "routed calculator must answer exactly like the default path")
    // subset + reordered functions keep the requested column order
    val fns = Seq("percentile99", "count", "median")
    val subPlain = eng.calculator(q, fns).collect().map(_.toSeq)
    val subRouted = eng.calculator(q, fns, percentileSkewThreshold = 0L).collect().map(_.toSeq)
    assert(subRouted === subPlain)
  }
}
