package graft

import graft.core.Meas
import graft.engine.GraftEngine
import graft.extensions.SimilarityQueries

/** A `spark.graft.*` value that does not parse fails at its read with an
  * IllegalArgumentException naming the key and the value — one case
  * per kind of key: integer and boolean. */
class ConfSpec extends SparkSpec {

  private def rejected(key: String, value: String)(read: => Any): Unit = {
    spark.conf.set(key, value)
    val err = try intercept[IllegalArgumentException](read)
      finally spark.conf.unset(key)
    assert(err.getMessage.contains(key) && err.getMessage.contains(value), err.getMessage)
  }

  test("a non-integer value for an integer key names the key and the value") {
    rejected(SimilarityQueries.TrainSampleKey, "2k")(
      SimilarityQueries.trainSampleTarget(spark, 16L))
  }

  test("a non-boolean value for a boolean key names the key and the value") {
    val engine = new GraftEngine(spark, tmpDir("graft-conf-bool"), buckets = 2)
    rejected("spark.graft.lock.appends", "yes")(
      engine.append(Seq(Meas(1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"), 1.0, 1L, 1L))))
  }
}
