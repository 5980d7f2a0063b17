package graft

import org.apache.spark.sql.functions._

import graft.core.Flags
import graft.sources.EventsSource
import graft.streaming.Subscribe

class SubscribeSpec extends SparkSpec {

  test("subscription delivers only matching ids+flag, across appends") {
    val dir = tmpDir("graft-sub-src")
    val ckpt = tmpDir("graft-sub-ckpt")
    val meas = EventsSource.meas(spark, sfDir).cache()
    val ids = Seq(17L, 18L, 25L, 26L)
    val flag = Flags.ERROR | Flags.PURCHASE

    // first append before subscription start
    meas.filter(col("seq") < 500).write.mode("append").parquet(dir)
    val q = Subscribe.start(spark, dir, ids, flag, "sub_test", ckpt)
    q.processAllAvailable()
    val n1 = spark.sql("SELECT count(*) FROM sub_test").head().getLong(0)

    // live append → subscription must pick it up
    meas.filter(col("seq") >= 500).write.mode("append").parquet(dir)
    q.processAllAvailable()
    val delivered = spark.sql("SELECT * FROM sub_test")
    val n2 = delivered.count()
    q.stop()

    val expected = meas.filter(col("id").isin(ids: _*)
      && (col("flag").bitwiseAND(lit(flag)) =!= 0L))
    assert(n2 === expected.count())
    assert(n2 > n1, "second append must deliver additional rows")
    // delivered set == expected set
    assert(delivered.exceptAll(expected).isEmpty && expected.exceptAll(delivered).isEmpty)
    meas.unpersist()
  }

  test("flag 0 subscribes to everything for the chosen ids") {
    val dir = tmpDir("graft-sub0-src")
    val ckpt = tmpDir("graft-sub0-ckpt")
    val meas = EventsSource.meas(spark, sfDir)
    meas.write.mode("append").parquet(dir)
    val q = Subscribe.start(spark, dir, Seq(17L), 0L, "sub_all", ckpt)
    q.processAllAvailable()
    val got = spark.sql("SELECT count(*) FROM sub_all").head().getLong(0)
    q.stop()
    assert(got === meas.filter(col("id") === 17L).count())
  }

  test("a memory-sink stream serves one run: a restart on its checkpoint is refused by Spark") {
    val dir = tmpDir("graft-sub-restart-src")
    val ckpt = tmpDir("graft-sub-restart-ckpt")
    EventsSource.meas(spark, sfDir).limit(50).write.mode("append").parquet(dir)
    val q = Subscribe.start(spark, dir, Seq(17L), 0L, "sub_restart", ckpt)
    try q.processAllAvailable() finally q.stop()
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Subscribe.start(spark, dir, Seq(17L), 0L, "sub_restart", ckpt).stop()
    }
    assert(e.getMessage.contains("This query does not support recovering from checkpoint location"))
  }
}
