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
      // the reference is the built-in under the one-zero contract
      // (SkewTools.positiveZero): +0.0 wherever a percentile is a zero
      val aggs = ps.map { case (n, p) =>
        SkewTools.positiveZero(expr(s"percentile(value, ${p}D)")).as(n) }
      // bit for bit: NaN ≠ NaN under ==, and -0.0 == +0.0
      def bits(d: org.apache.spark.sql.DataFrame) = d.orderBy("k").collect().map(_.toSeq.map {
        case v: Double => java.lang.Double.doubleToRawLongBits(v)
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

  test("calculator percentiles answer one zero, +0.0, on both routes") {
    // series 1 holds only -0.0 (the built-in's count map then has the
    // single key -0.0); series 2 mixes -0.0, +0.0, NaN and a negative;
    // series 3 +0.0, NaN and a positive
    val eng = new graft.engine.GraftEngine(spark, tmpDir("graft-skew-zero"), buckets = 2)
    val vals = Seq(1L -> Seq(-0.0, -0.0, -0.0), 2L -> Seq(-0.0, 0.0, Double.NaN, -0.0, -1.5),
      3L -> Seq(0.0, Double.NaN, 2.0))
    eng.append(vals.flatMap { case (id, vs) => vs.zipWithIndex.map { case (v, i) =>
      graft.core.Meas(id, new java.sql.Timestamp(1700000000000L + i * 1000L), v, 0L, i.toLong)
    } })
    val q = graft.engine.QueryInterval(Seq(1L, 2L, 3L), 0L,
      new java.sql.Timestamp(1600000000000L), new java.sql.Timestamp(1800000000000L))
    val fns = Seq("median", "percentile90", "percentile99")
    def bits(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq.map {
      case v: Double => java.lang.Double.doubleToRawLongBits(v)
      case other => other
    }).toSeq
    val plain = bits(eng.calculator(q, fns))
    assert(plain === bits(eng.calculator(q, fns, percentileSkewThreshold = 0L)),
      "built-in and distributed routes agree bit for bit")
    assert(plain.head === Seq(1L, 0L, 0L, 0L), "an all -0.0 series answers +0.0")
  }
}
