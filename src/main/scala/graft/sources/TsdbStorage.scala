package graft.sources

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructField, StructType}

/** Physical storage layout for the Meas store — the Spark-native
  * re-expression of the reference's page/WAL machinery (SURVEY.md §4.2).
  *
  * Layout contract:
  *  - files partitioned by `day(time)` → retention (eraseOld) is a
  *    partition DROP, never a rewrite [U: engines/engine.cpp — eraseOld];
  *  - within a partition, rows are hash-bucketed by series id and sorted
  *    by (id, time) → parquet row-group min/max stats give per-series
  *    chunk pruning, the analog of the reference's page footer index
  *    [U: storage/pages/page_manager.cpp — ChunkLink index];
  *  - value compression: parquet dictionary/ZSTD stands in for the
  *    reference's Gorilla codecs [U: compression/delta.cpp, xor.cpp] —
  *    same role, format-native;
  *  - an optional per-(day, id) statistic index (the chunk-footer
  *    `Statistic` analog [U: storage/chunk.h — Statistic]) is maintained
  *    incrementally at append time and serves stat()/minMaxTime()
  *    without touching data files.
  *
  * At 1000 executors none of this changes: the bucket count is the only
  * knob (≥ cluster cores; co-partitions series for merge-free reads).
  */
object TsdbStorage {

  private def withDaySchema: StructType =
    StructType(graft.core.Meas.schema.fields :+ StructField("day", DateType))

  /** O1 append: write a Meas batch in the clustered layout. ZSTD +
    * a bloom filter on `flag` stand in for the reference's Gorilla
    * codecs + per-chunk flag blooms [U: compression/, storage/chunk.h
    * — flag_bloom] — same pruning role, format-native.
    *
    * When `statsPath` is given, the per-(day, id) statistic index is
    * refreshed for the batch's touched days in the same call — the
    * analog of the reference writing the chunk-footer Statistic as part
    * of the chunk flush, so the index never lags the data. */
  def append(meas: DataFrame, path: String, buckets: Int = 32,
             statsPath: Option[String] = None): Unit = {
    val spark = meas.sparkSession
    // day partitions present BEFORE this write — distinguishes brand-new
    // days (stats derive from the batch alone, no store read-back) from
    // already-populated days (stats must re-merge against stored rows)
    val preExisting = days(spark, path).toSet
    // data and index cannot commit atomically — so the sync MARKER is
    // dropped before the data write and restored only after the index
    // update: a crash in between leaves the index flagged unusable and
    // readers fall back to the (always-correct) scan path instead of
    // silently serving a stale index.
    //
    // Re-certification rule: this append may re-mark the index ONLY if
    // the index was usable when the append started (refreshing the
    // touched days preserves completeness) or the store held no data at
    // all (the index it builds covers everything). An index staled by a
    // PREVIOUS crash, or absent over pre-existing data, stays
    // uncertified — repair is an explicit full rebuild (engine
    // compact()/reindex()), never an incidental later append.
    val canCertify = statsPath.forall(sp =>
      statsUsable(spark, sp) || preExisting.isEmpty)
    statsPath.foreach(markStatsOutOfSync(spark, _))
    // the clustered frame is persisted (only when a stats pass will
    // consume it) so stats re-read the shuffle output from cache
    // instead of re-shuffling the batch
    val clustered = cluster(meas.withColumn("day", to_date(col("time"))), buckets)
    if (statsPath.isDefined) clustered.persist()
    writeClustered(clustered, path)
    statsPath.foreach { sp =>
      // touched-day list is bounded by the batch's day span — a tiny
      // driver-side collect even for a billion-row batch
      val touched = clustered.select(col("day")).distinct()
        .collect().map(_.getDate(0)).toSeq
      val (oldDays, newDays) = touched.partition(preExisting)
      // common ingest case (append-only daily batches): every touched day
      // is new → stats stream out of the ALREADY-clustered batch with
      // zero additional shuffle (ids are bucket-disjoint and (id, time)
      // sorted, so duplicate keys are adjacent) — the Spark analog of
      // the reference computing chunk-footer stats during the flush
      if (newDays.nonEmpty)
        writeStatsRows(
          clusteredMergedStats(clustered.filter(col("day").isin(newDays: _*))), sp)
      if (oldDays.nonEmpty) refreshStats(spark, path, sp, oldDays)
      if (canCertify) markStatsInSync(spark, sp)
      clustered.unpersist()
    }
  }

  // ---- stats-index sync protocol -------------------------------------
  // `_SYNCED` inside the stats dir is the single-writer commit marker:
  // absent ⇒ a mutation (append / eraseOld / compact) died between the
  // data commit and the index update, and the index must not be served.

  private val SyncMarker = "_SYNCED"

  def markStatsOutOfSync(spark: SparkSession, statsPath: String): Unit = {
    val p = new Path(statsPath, SyncMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
  }

  /** The stats-index row format the `_SYNCED` token records: v2 added
    * `last_value` / `last_flag`. An index certified under another
    * format (a bare token, as the format before v2 wrote) is
    * uncertified for this reader — its reads run over every day the
    * time bounds admit, and `maintain()` rebuilds it through
    * `reindex()`. */
  private val StatsFormat = "v2"

  def markStatsInSync(spark: SparkSession, statsPath: String): Unit = {
    val root = new Path(statsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // never conjure an empty-but-"synced" index: marking requires actual
    // index content to exist (a maintenance op on a store without an
    // index must leave it index-less)
    if (!fs.exists(root)) return
    // a fresh token per certification: readers bracket a lookup with
    // [[statsGeneration]], and an unchanged token proves no mutation
    // committed (or began) in between
    val out = fs.create(new Path(root, SyncMarker), true)
    try out.write(s"$StatsFormat:${java.util.UUID.randomUUID()}".getBytes("UTF-8"))
    finally out.close()
  }

  /** True iff `dir` holds a `_SYNCED` marker, whatever format its token
    * records — the artifact indexes' certification test (their rows do
    * not carry the stats format). */
  def markedInSync(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir, SyncMarker)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The certified generation of the stats index: the `_SYNCED`
    * marker's token, None when the index is uncertified, was certified
    * under another stats format, or the marker is being rewritten under
    * the reader. */
  private[graft] def statsGeneration(spark: SparkSession, statsPath: String): Option[String] = {
    val p = new Path(statsPath, SyncMarker)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val token = try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.IOException => None }
    token.filter(_.startsWith(s"$StatsFormat:"))
  }

  /** True iff the stats index exists AND its last mutation committed
    * under the current stats format — the serve-from-index
    * precondition. */
  def statsUsable(spark: SparkSession, statsPath: String): Boolean =
    statsGeneration(spark, statsPath).isDefined

  /** Per-(day, id) MERGED stats from a frame that is bucket-partitioned
    * by id and sorted by (id, time) within partitions: one streaming
    * pass — duplicate (id, time) runs are adjacent (freshest `seq`
    * wins), every id lives in exactly one partition, so per-partition
    * partials are already global. Genuine per-partition imperative
    * logic; no shuffle. A (day, id)'s runs arrive in time order, so its
    * last run is the one at `max_time`: `last_value` / `last_flag`. */
  private def clusteredMergedStats(clustered: DataFrame): DataFrame = {
    val spark = clustered.sparkSession
    import spark.implicits._
    clustered
      .select(col("id"), col("time"), col("value"), col("flag"), col("seq"), col("day"))
      .as[(Long, java.sql.Timestamp, Double, Long, Long, java.sql.Date)]
      .mapPartitions { it =>
        final class Acc(var cnt: Long, var minT: java.sql.Timestamp, var maxT: java.sql.Timestamp,
                        var minV: Double, var maxV: Double, var sumV: Double,
                        var lastV: Double, var lastF: Long)
        val acc = scala.collection.mutable.HashMap[(java.sql.Date, Long), Acc]()
        var runId = 0L; var runTime: java.sql.Timestamp = null
        var runDay: java.sql.Date = null; var runSeq = 0L; var runValue = 0.0; var runFlag = 0L
        def foldRun(): Unit = if (runTime != null) {
          val a = acc.getOrElseUpdate((runDay, runId),
            new Acc(0L, runTime, runTime, runValue, runValue, 0.0, runValue, runFlag))
          a.cnt += 1
          if (runTime.compareTo(a.minT) < 0) a.minT = runTime
          if (runTime.compareTo(a.maxT) > 0) { a.maxT = runTime; a.lastV = runValue; a.lastF = runFlag }
          if (runValue < a.minV) a.minV = runValue
          if (runValue > a.maxV) a.maxV = runValue
          a.sumV += runValue
        }
        it.foreach { case (id, time, value, flag, seq, day) =>
          if (runTime != null && id == runId && time.equals(runTime)) {
            if (seq > runSeq) { runSeq = seq; runValue = value; runFlag = flag } // freshest wins
          } else {
            foldRun()
            runId = id; runTime = time; runDay = day; runSeq = seq; runValue = value; runFlag = flag
          }
        }
        foldRun()
        acc.iterator.map { case ((day, id), a) =>
          (day, id, a.cnt, a.minT, a.maxT, a.minV, a.maxV, a.sumV, a.lastV, a.lastF)
        }
      }
      .toDF("day", "id", "cnt", "min_time", "max_time", "min_value", "max_value", "sum_value",
        "last_value", "last_flag")
  }

  // ---- per-(day, id) statistic index ---------------------------------

  /** Mergeable partial-stat columns: readers re-aggregate with
    * sum/min/max, so per-day rows combine into any interval. Over a
    * merged frame `time` is unique per id, so `last_value` / `last_flag`
    * are the row at `max_time`. */
  private val statAggs = Seq(
    count(lit(1)).as("cnt"),
    min("time").as("min_time"), max("time").as("max_time"),
    min("value").as("min_value"), max("value").as("max_value"),
    sum("value").as("sum_value"),
    max_by(col("value"), col("time")).as("last_value"),
    max_by(col("flag"), col("time")).as("last_flag"))

  /** Recompute the index rows for `touchedDays` from the data store
    * (merge-on-read applied first, so the index always reflects the
    * RESOLVED store — duplicate (id, time) rewrites don't double-count)
    * and dynamically overwrite exactly those day partitions. Reading
    * back the touched days costs one pruned partition scan per append —
    * the same work the reference's dropper does re-packing the hot
    * chunk, and the price of an index that is exact at all times. */
  def refreshStats(spark: SparkSession, dataPath: String, statsPath: String,
                   touchedDays: Seq[java.sql.Date]): Unit = {
    if (touchedDays.isEmpty) return
    // drop the touched index partitions first: dynamic overwrite only
    // rewrites partitions PRESENT in the output, so a touched day whose
    // data vanished entirely (per-id retention emptied it) would keep
    // its stale index rows. Callers bracket with the sync marker, and
    // readers bracket their lookups with its generation, so the
    // transient gap is never served.
    val root = new Path(statsPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root))
      touchedDays.foreach(d => fs.delete(new Path(root, s"day=$d"), true))
    writeStats(mergeFreshest(readDays(spark, dataPath, touchedDays)), statsPath)
  }

  /** Aggregate an already-deduped Meas frame into per-(day, id) index
    * rows and write them. */
  private def writeStats(merged: DataFrame, statsPath: String): Unit =
    writeStatsRows(
      merged
        .withColumn("day", to_date(col("time")))
        .groupBy("day", "id")
        .agg(statAggs.head, statAggs.tail: _*),
      statsPath)

  /** Write per-(day, id) index rows, dynamically overwriting exactly the
    * day partitions present in the frame. */
  private def writeStatsRows(statsRows: DataFrame, statsPath: String): Unit =
    statsRows
      .coalesce(1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(statsPath)

  private def statsSchema: StructType = StructType(Seq(
    StructField("id", org.apache.spark.sql.types.LongType),
    StructField("cnt", org.apache.spark.sql.types.LongType),
    StructField("min_time", org.apache.spark.sql.types.TimestampType),
    StructField("max_time", org.apache.spark.sql.types.TimestampType),
    StructField("min_value", org.apache.spark.sql.types.DoubleType),
    StructField("max_value", org.apache.spark.sql.types.DoubleType),
    StructField("sum_value", org.apache.spark.sql.types.DoubleType),
    StructField("last_value", org.apache.spark.sql.types.DoubleType),
    StructField("last_flag", org.apache.spark.sql.types.LongType),
    StructField("day", DateType)))

  /** Read the stats index. Keeps the `day` column for partition pruning
    * and full-day interval math. */
  def readStats(spark: SparkSession, statsPath: String): DataFrame =
    spark.read.schema(statsSchema).parquet(statsPath)

  /** The stats index rows of the UTC days the inclusive interval spans,
    * read from those day directories only (see [[readDayDirs]]). */
  def readStatsWithin(spark: SparkSession, statsPath: String,
                      from: Timestamp, to: Timestamp): DataFrame =
    readDayDirs(spark, statsPath, statsSchema, daysWithin(spark, statsPath, Some(from), Some(to)))

  /** Read only the given day partitions of the data store; a day
    * without a directory reads nothing. */
  def readDays(spark: SparkSession, path: String, days: Seq[java.sql.Date]): DataFrame = {
    val present = this.days(spark, path).map(_.toString).toSet
    readDayDirs(spark, path, withDaySchema, days.filter(d => present(d.toString))).drop("day")
  }

  /** Read exactly the given (existing) day directories of a
    * day-partitioned parquet dir, with `basePath` so `day` stays a
    * partition column. Spark lists these directories only: handed the
    * dir's root it lists every day of the store at each read, and past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32) day
    * directories that listing is a Spark job of its own. */
  private def readDayDirs(spark: SparkSession, path: String, schema: StructType,
                          days: Seq[java.sql.Date]): DataFrame =
    if (days.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else spark.read.option("basePath", path).schema(schema)
      .parquet(days.map(d => new Path(path, s"day=$d").toString): _*)

  /** The day partition a time falls in. */
  private[graft] def utcDay(t: Timestamp): java.time.LocalDate =
    t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate

  /** The existing day partitions inside the UTC days of the inclusive
    * bounds (the session TZ is pinned UTC, matching the writer's
    * `to_date(time)`). */
  private def daysWithin(spark: SparkSession, path: String,
                         from: Option[Timestamp], to: Option[Timestamp]): Seq[java.sql.Date] =
    days(spark, path).filter { d =>
      val day = d.toLocalDate
      from.forall(f => !day.isBefore(utcDay(f))) && to.forall(t => !day.isAfter(utcDay(t)))
    }

  // ---- reads ---------------------------------------------------------

  /** Read the store back as a canonical Meas DataFrame. The schema is
    * supplied explicitly so an empty store (e.g. after retention dropped
    * every partition) reads as an empty DataFrame instead of failing
    * schema inference. */
  def read(spark: SparkSession, path: String): DataFrame =
    readRange(spark, path, None, None)

  /** Read only the day partitions intersecting the inclusive interval —
    * the partition-pruning analog of the reference's page index lookup
    * [U: storage/pages/page_manager.cpp — chunksByIterval]. The days
    * are chosen on the driver from one listing of the store's root, and
    * Spark reads those day directories only: a one-day read of a
    * 100-day store lists one directory. The precise `time` bounds
    * additionally prune parquet row groups. */
  def readRange(spark: SparkSession, path: String,
                from: Option[Timestamp], to: Option[Timestamp]): DataFrame =
    (from.map(f => col("time") >= lit(f)) ++ to.map(t => col("time") <= lit(t)))
      .foldLeft(readDayDirs(spark, path, withDaySchema, daysWithin(spark, path, from, to)))(_ filter _)
      .drop("day")

  // ---- day partitions ------------------------------------------------

  /** The store's day partitions, oldest first; empty when `path` is
    * absent. The one `day=` listing every writer shares. */
  def days(spark: SparkSession, path: String): Seq[java.sql.Date] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("day=")).map(n => java.sql.Date.valueOf(n.stripPrefix("day=")))
      .sortBy(_.getTime)
  }

  /** The parquet files of each given day, in the given order (a day
    * without a directory lists none). */
  private[graft] def dayFiles(spark: SparkSession, path: String,
                               days: Seq[java.sql.Date]): Seq[(java.sql.Date, Seq[Path])] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    days.map { d =>
      val dir = new Path(path, s"day=$d")
      d -> (if (!fs.exists(dir)) Seq.empty
        else fs.listStatus(dir).toSeq.map(_.getPath).filter(_.getName.endsWith(".parquet")))
    }
  }

  /** O11 eraseOld: drop whole day partitions strictly older than the
    * cutoff date. Pure metadata/filesystem operation — no data rewrite,
    * which is the only retention strategy that survives 100 TB. Applies
    * to any day-partitioned dir (data and stats index alike). */
  def eraseOld(spark: SparkSession, path: String, cutoffDay: java.time.LocalDate): Seq[String] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    days(spark, path).filter(_.toLocalDate.isBefore(cutoffDay)).map { d =>
      fs.delete(new Path(path, s"day=$d"), true)
      s"day=$d"
    }
  }

  // ---- the one store-rewrite protocol ---------------------------------
  // Every rewrite of stored rows (compactDays, per-id retention, the
  // engine's compact() and its scheme-log compaction) lands new files
  // BESIDE the files it read and then deletes exactly those:
  //   1. list the target files once;  2. read exactly them;
  //   3. transform the rows;  4. write the result to a staging dir;
  //   5. move each new file into its live directory (Spark part names
  //      are unique per write job, so no live file is overwritten);
  //   6. delete the listed files, then each day left with no file.
  // Every intermediate state holds a superset of the rows, and reads
  // resolve duplicate (id, time) keys to the freshest seq: a crash after
  // step 5 leaves compaction's answer unchanged and a retention rerun
  // finishes the erase. No day directory is ever moved or absent, so
  // readers see files appear and disappear, never a missing day; and a
  // file appended after step 1 is never read, moved or deleted, so
  // lease-free appends survive the rewrite. There is no recovery step:
  // a crashed rewrite's staging dir is dropped when the next one starts.

  /** Rewrite ONLY the given day partitions, keeping rows matching
    * `keep`, in the clustered layout — per-id retention (O11 per-id
    * variant), where a partition drop is too coarse. Untouched days are
    * never read or written; a day whose rows are ALL erased is removed. */
  def rewriteDaysFiltered(spark: SparkSession, path: String,
                          days: Seq[java.sql.Date], buckets: Int,
                          keep: org.apache.spark.sql.Column): Unit =
    rewriteDays(spark, path, days, buckets, _.filter(keep))

  /** O12: rewrite only the given day partitions with merge-on-read
    * MATERIALIZED (duplicate (id, time) keys collapse to the freshest
    * seq, append-accumulated small files coalesce into the clustered
    * layout). Duplicate keys never span days (a row's day is a function
    * of its time), so a per-day merge equals the global one restricted
    * to those days: over every day it is the engine's full compact(),
    * over a few it is how a year-old store pays its hot days' debt. */
  def compactDays(spark: SparkSession, path: String,
                  days: Seq[java.sql.Date], buckets: Int): Unit =
    rewriteDays(spark, path, days, buckets,
      df => mergeFreshest(df).withColumn("day", to_date(col("time"))))

  private def rewriteDays(spark: SparkSession, path: String,
                          days: Seq[java.sql.Date], buckets: Int,
                          transform: DataFrame => DataFrame): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // debris of the retired aside-swap format: a day whose swap crashed
    // between its two renames lives only in `<path>.rewrite.old`
    val aside = new Path(s"$path.rewrite.old")
    if (fs.exists(aside)) {
      fs.listStatus(aside).filter(_.getPath.getName.startsWith("day=")).foreach { st =>
        val dst = new Path(path, st.getPath.getName)
        if (!fs.exists(dst)) fs.rename(st.getPath, dst)
      }
      fs.delete(aside, true)
    }
    val listed = dayFiles(spark, path, days).flatMap(_._2)
    if (listed.isEmpty) return
    replaceFiles(spark, path, listed) { staging =>
      writeClustered(cluster(transform(spark.read.option("basePath", path)
        .schema(withDaySchema).parquet(listed.map(_.toString): _*)), buckets), staging)
    }
    // non-recursive: a day an append has just landed a file in stays
    days.foreach { d =>
      try fs.delete(new Path(path, s"day=$d"), false)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Steps 4–6 for any parquet dir: `write(staging)` materializes the
    * replacement in `<root>.rewrite`, each new file moves to the same
    * relative place under `root`, then exactly `listed` is deleted. */
  private[graft] def replaceFiles(spark: SparkSession, root: String, listed: Seq[Path])
                                 (write: String => Unit): Unit = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = fs.makeQualified(new Path(s"$root.rewrite"))
    fs.delete(staging, true)
    write(staging.toString)
    ParquetProbe.listParquet(spark, staging).foreach { f =>
      val dst = new Path(root, staging.toUri.relativize(f.toUri).getPath)
      fs.mkdirs(dst.getParent)
      fs.rename(f, dst)
    }
    fs.delete(staging, true)
    listed.foreach(fs.delete(_, false))
  }

  /** Hash-bucket a frame carrying `day` by series id and sort by
    * (id, time) within partitions — the layout every writer lands. */
  private def cluster(withDay: DataFrame, buckets: Int): DataFrame =
    withDay.repartition(buckets, pmod(hash(col("id")), lit(buckets)))
      .sortWithinPartitions("id", "time")

  private def writeClustered(clustered: DataFrame, path: String): Unit =
    clustered.write.mode("append")
      .partitionBy("day")
      .option("compression", "zstd")
      .option("parquet.bloom.filter.enabled#flag", "true")
      .parquet(path)

  /** Merge-on-read dedup: exactly one (the freshest, by `seq`) row per
    * (id, time). Partial-aggregating max_by — no window, one shuffle on
    * the dedup key. One fixed-width max_by per payload column (`seq` is
    * unique per measurement, so both pick the same row) keeps the
    * aggregation buffer hashable: the merge plans as a HashAggregate,
    * where a struct payload forces two sorts and a SortAggregate.
    * Public because the engine's MEMORY hot level unions into the same
    * resolution (SURVEY.md §2.1 O16, §3.1 strategies). */
  def mergeFreshest(df: DataFrame): DataFrame =
    df.groupBy("id", "time")
      .agg(max_by(col("value"), col("seq")).as("value"), max_by(col("flag"), col("seq")).as("flag"),
        max(col("seq")).as("seq"))

  /** fsck probe over a parquet artifact dir (data store, index, log):
    * distributed full-decompression check of every file under `path`;
    * empty when the dir is absent. */
  def probeFiles(spark: SparkSession, path: String): Seq[String] =
    ParquetProbe.probe(spark, ParquetProbe.listParquet(spark, new Path(path)))
}
