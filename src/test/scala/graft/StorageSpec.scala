package graft

import org.apache.spark.sql.functions._

import graft.sources.{EventsSource, TsdbStorage}

class StorageSpec extends SparkSpec {

  test("clustered append round-trips the full Meas set") {
    val dir = tmpDir("graft-store")
    val meas = EventsSource.meas(spark, sfDir)
    TsdbStorage.append(meas, dir, buckets = 8)
    val back = TsdbStorage.read(spark, dir)
    assert(back.count() === meas.count())
    // exact content equality (schema-ordered, set semantics)
    assert(back.exceptAll(meas).isEmpty && meas.exceptAll(back).isEmpty)
  }

  test("eraseOld drops whole day partitions, keeps the rest intact") {
    val dir = tmpDir("graft-erase")
    val meas = EventsSource.meas(spark, sfDir)
    TsdbStorage.append(meas, dir, buckets = 4)
    val cutoff = java.time.LocalDate.parse("2024-01-15")
    val dropped = TsdbStorage.eraseOld(spark, dir, cutoff)
    assert(dropped.nonEmpty && dropped.forall(_.startsWith("day=")))
    val back = TsdbStorage.read(spark, dir)
    assert(back.filter(col("time") < lit("2024-01-15 00:00:00").cast("timestamp")).count() === 0L)
    val expectKept = meas.filter(to_date(col("time")) >= lit(java.sql.Date.valueOf(cutoff))).count()
    assert(back.count() === expectKept)
  }

  test("rewriteDaysFiltered survives a crash between moving a day aside and landing its rewrite") {
    import graft.core.Meas
    import java.sql.Timestamp
    import spark.implicits._
    def ts(s: String) = Timestamp.valueOf(s)
    val dir = tmpDir("graft-rewrite-crash")
    TsdbStorage.append(spark.createDataset(Seq(
      Meas(1L, ts("2024-03-01 06:00:00"), 1.0, 1L, 1), // id to erase
      Meas(2L, ts("2024-03-01 07:00:00"), 2.0, 1L, 2), // bystander, same day
      Meas(2L, ts("2024-03-02 07:00:00"), 3.0, 1L, 3))).toDF(), dir, buckets = 2)

    // simulate the fatal window of the old delete-then-rename swap: the
    // rewrite tmp is fully written, day=2024-03-01 was moved ASIDE, and
    // the process died before the rewritten copy was renamed in — the
    // live store no longer has the day at all
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val day = "day=2024-03-01"
    val keep = !(col("id") === 1L)
    val days = Seq(java.sql.Date.valueOf("2024-03-01"))
    // produce a real tmp the way the implementation would
    TsdbStorage.rewriteDaysFiltered(spark, dir, days, buckets = 2, keep)
    // wind back to the crash state: restore an UN-rewritten day copy
    // aside, and plant a stale tmp
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir.rewrite.old"))
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/$day"),
      new org.apache.hadoop.fs.Path(s"$dir.rewrite.old/$day"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$day")))

    // the re-run must first RECOVER the aside copy (never delete the
    // only copy), then redo the rewrite; the bystander id-2 row of the
    // crashed day must survive
    TsdbStorage.rewriteDaysFiltered(spark, dir, days, buckets = 2, keep)
    val back = TsdbStorage.read(spark, dir)
    assert(back.filter(col("id") === 2L).count() === 2L,
      "bystander rows in the crashed day survived the recovery + redo")
    assert(back.filter(col("id") === 1L).count() === 0L, "erase target stays erased")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir.rewrite.old")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$dir.rewrite")), "no swap debris left")
  }

  test("compact keeps exactly the freshest row per (id, time) and is idempotent") {
    val dir = tmpDir("graft-compact")
    val meas = EventsSource.meas(spark, sfDir)
    // two appends: second is a rewrite of a slice with higher seq (fresher)
    TsdbStorage.append(meas, dir, buckets = 4)
    TsdbStorage.append(
      meas.filter(col("seq") % 7 === 0)
        .withColumn("value", col("value") * 2)
        .withColumn("seq", col("seq") + 1000000L),
      dir, buckets = 4)
    // the store-rewrite protocol over every day, read back from disk
    TsdbStorage.compactDays(spark, dir, TsdbStorage.days(spark, dir), buckets = 4)
    val compacted = TsdbStorage.read(spark, dir).cache()
    assert(compacted.groupBy("id", "time").count().filter(col("count") > 1).count() === 0L)
    // rewritten rows won: every seq%7==0 slice must carry the boosted seq
    val boosted = compacted.filter(col("seq") >= 1000000L).count()
    assert(boosted === meas.filter(col("seq") % 7 === 0).count())
    // idempotent: compacting the compacted set changes nothing
    val again = compacted.groupBy("id", "time")
      .agg(max_by(struct(col("value"), col("flag"), col("seq")), col("seq")).as("m"))
    assert(again.count() === compacted.count())
    compacted.unpersist()
  }
}
