package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: time one registered query N times in a warm JVM and
  * print its formatted physical plan. Usage:
  *   runMain graft.BenchOne <queryName> [sfDir] [reps]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val q = SparkEntry.all(name)
    // noop sink, not count(): count() lets Catalyst prune columns (and
    // sometimes whole subtrees) so it can time a cheaper plan than the
    // bench measures (guide §1.4). Matches Bench.runOnce exactly.
    (1 to reps).foreach { i =>
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[benchone] $name rep$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    if (sys.env.get("GRAFT_EXPLAIN").contains("1"))
      q.build(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
