package graft.engine

import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Meas
import graft.extensions.TxnCursors
import graft.sources.TsdbStorage
import graft.streaming.Subscribe

/** Queries-as-data, mirroring the reference's only predicate language
  * (SURVEY.md §1.3) [U: libdariadb/query.h — QueryInterval,
  * QueryTimePoint]. Interval ends are inclusive; flag 0 matches all,
  * otherwise any-shared-bit.
  */
case class QueryInterval(ids: Seq[Long], flag: Long, from: Timestamp, to: Timestamp)
case class QueryTimePoint(ids: Seq[Long], flag: Long, timePoint: Timestamp)

/** What one [[GraftEngine.maintain]] pass did to ONE artifact index
  * (AnnIndex / TextIndex): corrupt files found (and dropped when
  * repairing), whether the uncertified index was rebuilt from its
  * corpus, whether append-fragmentation was compacted away. */
case class ArtifactReport(dir: String, corrupt: Seq[String],
                          rebuilt: Boolean, compacted: Boolean,
                          retuned: Option[String] = None)

/** What one [[GraftEngine.maintain]] pass did: corrupt files found (and
  * dropped when repairing), fragmented days compacted, whether the stat
  * index needed a rebuild — plus a per-artifact report for each index
  * handed to the call. */
case class MaintenanceReport(corrupt: Seq[String], compactedDays: Seq[java.sql.Date],
                             reindexed: Boolean,
                             artifacts: Seq[ArtifactReport] = Seq.empty)

/** The facade surface remote fronts program against — implemented by
  * the single-store [[GraftEngine]] AND the [[ShardedEngine]] router,
  * mirroring the reference's storage polymorphism (its network server
  * fronts `Engine` and `ShardEngine` through the same interface
  * [U: interfaces/imeasstorage.h]). `GraftServer` serves either. */
trait EngineApi {
  def append(ms: Seq[Meas]): Unit
  def readInterval(q: QueryInterval): DataFrame
  def intervalReader(q: QueryInterval): Iterator[Meas]
  def readTimePoint(q: QueryTimePoint): DataFrame
  def currentValue(ids: Seq[Long], flag: Long): DataFrame
  def readGrid(from: Timestamp, to: Timestamp, stepSeconds: Long,
               maxStalenessSeconds: Long): DataFrame
  /** Register an append observer firing with every committed batch, in
    * commit order for any single series (the push-subscribe hook). */
  def onAppend(listener: Seq[Meas] => Unit): Unit
  def removeAppendListener(listener: Seq[Meas] => Unit): Unit
}

/** The embedded-engine facade — the reference's `Engine` API surface
  * [U: engines/engine.h — class Engine; interfaces/imeasstorage.h],
  * re-expressed over the clustered parquet store. A dariadb user's
  * call sites map one-to-one:
  *
  *   append / readInterval / readTimePoint / currentValue / minMaxTime /
  *   stat / calculator / subscribe / eraseOld / compact / fsck /
  *   addParam / getParamId / ls
  *
  * Every read path resolves duplicate (id, time) keys to the freshest
  * `seq` — the merge-on-read semantic of the reference's WAL/mem/page
  * levels (SURVEY.md §2.1 O16); `compact()` materializes that
  * resolution ([U: engines/engine.cpp — compact]).
  */
class GraftEngine(val spark: SparkSession, val path: String, buckets: Int = 32,
                  hotCapacity: Long = 0L) extends EngineApi {
  import spark.implicits._

  private val schemePath = s"$path/_scheme"
  private val dataPath = s"$path/data"
  private val statsPath = s"$path/_stats"

  // ---- single-writer lease -----------------------------------------
  // Every maintenance writer (compact/compactDays/eraseOld/reindex/
  // fsck/maintain) brackets its marker transitions with the store-level
  // `_LOCK` lease: a second engine instance maintaining the same path
  // fails fast (WriterLock.ConcurrentWriterException) instead of
  // interleaving markStatsOutOfSync/markStatsInSync and re-certifying a
  // half-mutated index. One owner token per engine instance; maintain()
  // re-enters the lease its sub-ops acquire. Appends stay lease-free —
  // they are serialized per instance by the append lock, and the hot
  // ingest path must not pay two FS round-trips per batch. Concurrent
  // ingest, from other engines or during maintenance, is merge-safe:
  // appends only add day files and refresh only touched days, and every
  // maintenance rewrite deletes exactly the files it listed, so a file
  // appended mid-rewrite is never read, moved or deleted
  // (TsdbStorage's store-rewrite protocol).
  private val writerId = graft.sources.WriterLock.newOwner()
  private def locked[T](body: => T): T =
    graft.sources.WriterLock.withLock(spark, path, writerId)(body)

  /** Opt-in lease for the APPEND path (`spark.graft.lock.appends`):
    * default off — appends are serialized per instance by the monitor,
    * and the hot path must not pay lease round-trips per batch — but a
    * deployment genuinely running multiple writer engines on one path
    * can turn every ingest into a fail-fast lease term too. Reentrant
    * with the maintenance lease (same owner token), so maintain() and
    * an append from another thread of the SAME engine never deadlock. */
  private def maybeLeased[T](body: => T): T =
    if (graft.core.Conf.bool(spark, "spark.graft.lock.appends", false)) locked(body)
    else body

  // ---- MEMORY-strategy hot level -----------------------------------
  // The reference's Strategy::MEMORY keeps appends in an in-process
  // memstorage level and drops them to pages when the memory limit is
  // hit [U: libdariadb/settings.h — Strategy; storage/memstorage/
  // memstorage.cpp]. Spark-native analog: each appended batch becomes a
  // persisted (MEMORY_AND_DISK) DataFrame chunk; reads union the chunks
  // under the SAME seq-freshness merge as the durable levels (O16), so
  // hot rows outrank older stored rows and are outranked by fresher
  // appends after flush — no second resolution mechanism. `flush()`
  // drains the level through the normal append path (stats index
  // included). hotCapacity == 0 ⇒ WAL/COMPRESSED behavior (every append
  // goes straight to parquet), which is also the multi-writer-safe mode;
  // the hot level, like the reference's memstorage, is single-process.
  private val hotChunks = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private var hotRows = 0L

  /** Rows currently held in the MEMORY level (0 unless hotCapacity > 0). */
  def hotSize: Long = synchronized { hotRows }

  /** Drop the MEMORY level to the durable store — the memstorage→page
    * "drop" [U: storage/memstorage/memstorage.cpp — drop_by_limit]. */
  def flush(): Unit = synchronized {
    if (hotChunks.nonEmpty) maybeLeased {
      val batch = hotChunks.reduce(_ unionByName _)
      TsdbStorage.append(batch, dataPath, buckets, Some(statsPath))
      // no explicit unpersist: a concurrent reader may still hold a plan
      // over these chunks, and dropping their blocks under it would
      // force a recompute through lineage the checkpoint has truncated.
      // References are cleared; the ContextCleaner reclaims the blocks
      // once the chunk DataFrames become unreachable.
      hotChunks.clear()
      hotRows = 0L
    }
  }

  private def hotUnion: Option[DataFrame] = synchronized { hotChunks.reduceOption(_ unionByName _) }

  private def emptyMeas: DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), Meas.schema)

  private def fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Restore debris of the retired whole-directory compact swap: a
    * crash between its `rename(live → .old)` and `rename(.compacting →
    * live)` left the live path MISSING and the aside copy holding the
    * only data — a reader would then silently see an empty store/catalog
    * (and scheme re-registrations would assign ids diverging from the
    * logged ones). Restoring the aside copy (the pre-compact original)
    * is always correct. No writer creates this debris any more (rewrites
    * land files beside the live ones); checked on every read-path entry,
    * two fs.exists when the live path is absent, one when present. */
  private def recoverSwap(live: String): Unit = {
    val p = new Path(live)
    if (!fs.exists(p)) {
      val old = new Path(s"$live.old")
      if (fs.exists(old)) fs.rename(old, p)
    }
  }

  private def hasData = { recoverSwap(dataPath); fs.exists(new Path(dataPath)) }
  /** The durable store's day partitions, oldest first. */
  private def days: Seq[java.sql.Date] = if (hasData) TsdbStorage.days(spark, dataPath) else Nil
  // index exists AND its last mutation committed (data+index cannot
  // commit atomically; a crash in between leaves the marker absent and
  // every read runs its query over every day the time bounds admit)
  private def hasStats = TsdbStorage.statsUsable(spark, statsPath)

  private def flagPred(flag: Long) = graft.core.Flags.matches(col("flag"), flag)
  private def idPred(ids: Seq[Long]) =
    if (ids.isEmpty) lit(true) else col("id").isin(ids: _*)

  // ---- append listeners --------------------------------------------
  // The reference notifies its subscribe machinery on EVERY append
  // reaching the engine [U: engines/engine.cpp — Engine::append →
  // SubscribeNotificator]; this is the same hook, used by the network
  // server's last-hop socket push (O17). Listeners fire INSIDE the
  // append lock, after the level commit — so delivery order matches
  // commit order across concurrent appenders. Driver-side by nature
  // (the push target is a driver-held socket); the DataFrame path
  // streams the batch through toLocalIterator in bounded chunks and
  // only when a listener is actually registered.
  private val appendListeners =
    new java.util.concurrent.CopyOnWriteArrayList[Seq[Meas] => Unit]()

  /** Register an append observer (e.g. the network server's push). */
  def onAppend(listener: Seq[Meas] => Unit): Unit = appendListeners.add(listener)

  def removeAppendListener(listener: Seq[Meas] => Unit): Unit =
    appendListeners.remove(listener)

  private def notifyAppended(ms: Seq[Meas]): Unit =
    appendListeners.forEach(l => l(ms))

  private def notifyAppended(meas: DataFrame): Unit =
    if (!appendListeners.isEmpty) {
      import scala.jdk.CollectionConverters._
      meas.select(Meas.schema.fieldNames.map(col).toSeq: _*).as[Meas]
        .toLocalIterator().asScala
        .grouped(1024)
        .foreach(chunk => notifyAppended(chunk.toSeq))
    }

  // ---- O1 append ---------------------------------------------------
  /** Appends the batch AND refreshes the per-(day, id) chunk-stat index
    * for the touched days, so stat()/minMaxTime() never scan data files
    * (SURVEY.md §1.1 Statistic; §4.2 footer index).
    *
    * Under the MEMORY strategy (hotCapacity > 0) the batch lands in the
    * in-memory level instead and is dropped to parquet when the level
    * exceeds hotCapacity rows — reads see it immediately either way. */
  def append(meas: DataFrame): Unit = synchronized {
    maybeLeased(notifyAppended(appendCore(meas)))
  }
  def append(ms: Seq[Meas]): Unit = synchronized {
    maybeLeased {
      appendCore(spark.createDataset(ms).toDF())
      notifyAppended(ms)
    }
  }

  /** Level commit; returns the frame listeners should replay (the
    * checkpointed hot chunk when one was made — re-running the caller's
    * plan for notification would double-read its source). */
  private def appendCore(meas: DataFrame): DataFrame =
    if (hotCapacity <= 0L) {
      TsdbStorage.append(meas, dataPath, buckets, Some(statsPath))
      meas
    } else {
      // eager localCheckpoint: materializes the chunk AND truncates its
      // lineage — a foreachBatch-sourced batch must not keep a live
      // dependency on streaming source files that compaction/retention
      // may later remove
      val chunk = meas.localCheckpoint(true)
      hotRows += chunk.count()
      hotChunks += chunk
      if (hotRows >= hotCapacity) flush()
      chunk
    }

  /** O1, streaming strategy: continuous ingest from a Meas stream into
    * the clustered layout — the reference's WAL→Dropper→page pipeline
    * as a microbatch sink [U: storage/dropper.cpp]. Exactly-once under
    * foreachBatch's at-least-once replay via [[appendOnce]] (the
    * checkpoint path is the cursor's appId scope). */
  def appendStream(source: DataFrame, checkpoint: String): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) => appendOnce(batch, checkpoint, bid) }
      .start()

  // (appId, batchId) idempotency cursor for the engine's OWN streaming
  // append — the same contract the artifact streams got (AnnIndex/
  // TextIndex `txn`): foreachBatch is at-least-once, and before this
  // cursor a crash between the engine commit and the streaming
  // checkpoint commit re-appended the whole micro-batch on restart.
  // Correctness was masked (mergeFreshest collapses duplicate (id,time)
  // keys) but storage and the stats refresh paid for the duplicates
  // until compact(). The cursor is a tiny root-level file (NOT under
  // _stats — reindex()/compact() rebuild that directory from scratch
  // and must not reset stream progress), overwritten after each applied
  // batch: a per-app [[TxnCursors]] map, so two streams appending to
  // one engine cannot defeat each other's replay detection, and a NEW
  // stream restarting batch numbering at 0 is not mistaken for a
  // replay. Legacy single-cursor files ("appId\nbatchId") parse as a
  // one-entry map.
  private def cursorFile = new Path(s"$path/_stream_cursor")

  /** Append a streamed micro-batch at most once: a replayed (appId,
    * batchId) — one at or behind the persisted cursor — is a no-op (no
    * parquet written, no stats refresh, no listener notification).
    *
    * The cursor engages only in DURABLE mode (hotCapacity == 0): under
    * the MEMORY strategy an applied-but-unflushed batch dies with the
    * process, and a durable cursor would then tell the replay to skip
    * it — converting at-least-once into data LOSS. The hot level keeps
    * replay-re-append semantics instead (duplicates masked by
    * mergeFreshest, paid until compact) — the same single-process
    * caveat the level itself documents. */
  def appendOnce(batch: DataFrame, appId: String, batchId: Long): Unit = synchronized {
    if (hotCapacity <= 0L) maybeLeased {
      val cursors =
        if (!fs.exists(cursorFile)) ""
        else { val in = fs.open(cursorFile); try new String(in.readAllBytes(), "UTF-8") finally in.close() }
      if (TxnCursors.applied(cursors, appId).forall(batchId > _)) { // else replay: already applied
        notifyAppended(appendCore(batch))
        val out = fs.create(cursorFile, true)
        try out.write(TxnCursors.advance(cursors, appId, batchId).getBytes("UTF-8"))
        finally out.close()
      }
    } else maybeLeased(notifyAppended(appendCore(batch)))
  }

  /** Merge-on-read view: freshest row per (id, time), across the
    * durable store AND the MEMORY hot level. */
  def merged: DataFrame = TsdbStorage.mergeFreshest(levels(None, None, None))

  /** The unmerged rows of both levels. The durable store contributes
    * the day partitions an index lookup chose (`days`), else every day
    * the time bounds admit ([[TsdbStorage.readRange]]); either way Spark
    * lists only those day directories, so a one-day read of a 100-day
    * store lists one directory. The hot level (bounded by hotCapacity, already in
    * memory) unions in whole: every caller filters `time` itself, and
    * the filter reaches both sides of the union. */
  private def levels(days: Option[Seq[java.sql.Date]],
                     from: Option[Timestamp], to: Option[Timestamp]): DataFrame = {
    val cold = days match {
      case Some(ds) if ds.nonEmpty => TsdbStorage.readDays(spark, dataPath, ds)
      case None if hasData => TsdbStorage.readRange(spark, dataPath, from, to)
      case _ => emptyMeas
    }
    hotUnion.fold(cold)(cold.unionByName(_))
  }

  /** Run a collected stats-index lookup against ONE certified
    * generation of the index. Every mutation drops the `_SYNCED` marker
    * before it touches the index (a touched day's partition is deleted
    * and rewritten, so a lookup listing it mid-refresh silently misses
    * that day) and re-creates it with a fresh token after. The token is
    * read before and after the lookup; an absent or changed token, or a
    * file deleted under the lookup, answers None and the caller runs its
    * query over every day the time bounds admit. Holds across engine
    * instances: the marker lives in the store. The index covers only the
    * durable level, so unflushed hot rows answer None too. */
  private def indexLookup[T](lookup: => T): Option[T] = indexLookupAt(_ => Some(lookup))

  /** [[indexLookup]] for a lookup that is told the generation it runs
    * under and may decline (None). */
  private def indexLookupAt[T](lookup: String => Option[T]): Option[T] =
    if (hotSize != 0L) None
    else TsdbStorage.statsGeneration(spark, statsPath).flatMap { gen =>
      val found = try lookup(gen) catch { case e: Exception if missingFile(e) => None }
      found.filter(_ => TsdbStorage.statsGeneration(spark, statsPath).contains(gen))
    }

  private def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException => true
      case t: org.apache.spark.SparkThrowable =>
        Set("FAILED_READ_FILE.FILE_NOT_EXIST", "PATH_NOT_FOUND").contains(t.getCondition)
      case _ => false
    }

  // ---- O2/O3 interval reads ----------------------------------------
  // Every facade read kind builds its answer with ONE data query; the
  // stats index only chooses what that query reads (the reference's page
  // footer index picking the chunks its one merge path opens [U:
  // storage/pages/page_manager.cpp — chunksByIterval]). When
  // [[indexLookup]] cannot answer, the same query runs over every day the
  // time bounds admit.

  /** O2. An explicit id list with a certified index and no hot rows
    * reads only the ids' RESIDENT days inside the interval — a 300-day
    * read of a series that lived one week scans 7 partitions, not 300.
    * A window that admits at most two UTC days (every window of 24 h or
    * less) reads them with no lookup: the lookup is a Spark job of its
    * own and could drop one of the two days at most. Catalog-wide reads
    * read every day the interval admits. */
  def readInterval(q: QueryInterval): DataFrame =
    intervalQuery(q, if (q.ids.nonEmpty && !GraftEngine.shortWindow(q)) indexLookup(residentDays(q)) else None)

  /** The interval query with no index answer. */
  def readIntervalScan(q: QueryInterval): DataFrame = intervalQuery(q, None)

  /** The per-(day, id) index rows of the ids whose [min_time, max_time]
    * intersects the interval. The day range is implied by the time
    * overlap (every index row's times fall inside its own day) and is
    * what limits the index read: a 3-day read lists 3 index days, not
    * all of them. */
  private def overlapping(ids: Seq[Long], from: Timestamp, to: Timestamp): DataFrame =
    TsdbStorage.readStatsWithin(spark, statsPath, from, to)
      .filter(idPred(ids) && col("max_time") >= lit(from) && col("min_time") <= lit(to))

  /** The ids' resident days inside the interval. The flag is NOT
    * consulted (the index doesn't know flags): the day set only needs
    * to cover every day holding rows for the ids. No shuffle — the rows
    * are de-duplicated on the driver, bounded by |ids| × interval days. */
  private def residentDays(q: QueryInterval): Seq[java.sql.Date] =
    overlapping(q.ids, q.from, q.to).select("day").collect().map(_.getDate(0)).distinct.toSeq

  /** The interval query, with ONE exchange: the rows are
    * range-partitioned on (id, time), which both clusters the freshness
    * merge's keys and orders its output, so the merge and the final sort
    * share it. An explicit id list targets one partition, for which
    * Spark computes no range bounds and so runs no sampling job; the scan
    * below the exchange stays parallel. Catalog-wide reads keep
    * `spark.sql.shuffle.partitions`. The flag predicate stays above the
    * merge — a fresher version whose flag fails must still hide the
    * superseded one. */
  private def intervalQuery(q: QueryInterval, days: Option[Seq[java.sql.Date]]): DataFrame = {
    val rows = levels(days, Some(q.from), Some(q.to))
      .filter(idPred(q.ids) && col("time").between(lit(q.from), lit(q.to)))
    TsdbStorage.mergeFreshest(
        if (q.ids.nonEmpty) rows.repartitionByRange(1, col("id"), col("time"))
        else rows.repartitionByRange(col("id"), col("time")))
      .filter(flagPred(q.flag))
      .orderBy("id", "time")
  }

  /** O3 cursor form: per-series iterator over the interval result —
    * the Id2Cursor analog [U: storage/cursors.h]. Streams through the
    * driver one range partition at a time; an explicit-id answer is one
    * partition. */
  def intervalReader(q: QueryInterval): Iterator[Meas] = {
    val it = readInterval(q).as[Meas].toLocalIterator()
    new Iterator[Meas] { def hasNext = it.hasNext; def next() = it.next() }
  }

  /** O7 foreach: push-based scan — the IReadCallback shape
    * [U: interfaces/icallbacks.h]. Streams through the cursor. */
  def foreach(q: QueryInterval)(callback: Meas => Unit): Unit =
    intervalReader(q).foreach(callback)

  // ---- O4/O5 point reads -------------------------------------------
  /** O4 as-of read: one row per distinct requested id. With flag 0 (the
    * index doesn't know flags), no unflushed hot rows and a certified
    * index, a timepoint at or after every requested series' latest time
    * (every `currentValue`) is answered from the latest-value map with
    * no Spark query; any other timepoint has the index pinpoint each
    * series' LAST RESIDENT day at-or-before it, so the query reads only
    * those few partitions instead of every day up to the timepoint —
    * the difference between "a few pruned partitions" and "half the
    * store" on an aged store. */
  def readTimePoint(q: QueryTimePoint): DataFrame =
    if (q.flag != 0L) asOfQuery(q, None)
    else latestAnswer(q).getOrElse(
      asOfQuery(q, indexLookup(lastResidentDays(q.ids.distinct, q.timePoint))))

  // O5: dariadb answers currentValue from an in-memory map of each
  // series' last value [U: engines/engine.cpp — currentValue]. Here the
  // map is the stats index's per-id latest (max_time, last_value,
  // last_flag), collected on the driver and keyed on the `_SYNCED`
  // token it was built under — one entry per indexed series, the
  // driver-size contract of the catalog memo `knownIds`. Any mutation
  // changes the token, from this engine instance or another, so a
  // cached map is served only while the store is exactly the one it
  // was built from.
  @volatile private var latest: Option[(String, Map[Long, Row])] = None

  /** The as-of answer from the latest-value map, when every requested
    * series' latest time is at or before the timepoint: an indexed id
    * answers its latest row, an id absent from the index NO_DATA, and
    * the catalog-wide request every indexed series. A miss (changed or
    * new token) rebuilds the map. The rebuild runs inside
    * [[indexLookupAt]]'s bracket and outside the append monitor; a
    * token that changes under it caches nothing. */
  private def latestAnswer(q: QueryTimePoint): Option[DataFrame] = {
    val current = indexLookupAt(gen => Some(latest.filter(_._1 == gen).getOrElse(gen -> buildLatest())))
    current.flatMap { built =>
      latest = Some(built)
      val m = built._2
      val answer = (if (q.ids.isEmpty) m.keys.toSeq else q.ids.distinct).sorted
        .map(id => m.getOrElse(id, noData(id)))
      if (answer.exists(r => !r.isNullAt(1) && r.getTimestamp(1).after(q.timePoint))) None
      else Some(localAnswer(answer))
    }
  }

  private def noData(id: Long): Row = Row(id, null, null, Meas.NO_DATA)

  /** An as-of answer built on the driver: a local relation, which
    * collects with no Spark job. */
  private def localAnswer(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), GraftEngine.AsOfSchema)

  /** One grouped pass over the stats index, no data file: per id the
    * row at its largest `max_time` (each (day, id) row's `max_time` lies
    * in its own day, so the largest is unique). */
  private def buildLatest(): Map[Long, Row] =
    TsdbStorage.readStats(spark, statsPath).groupBy("id")
      .agg(max("max_time"), max_by(col("last_value"), col("max_time")),
        max_by(col("last_flag"), col("max_time")))
      .collect().map(r => r.getLong(0) -> r).toMap

  /** The as-of query with no index answer. */
  def readTimePointScan(q: QueryTimePoint): DataFrame = asOfQuery(q, None)

  /** The as-of query over the lookup's (universe, days), else over every
    * day up to the timepoint with the requested ids — or, catalog-wide,
    * every stored id — as the universe. At flag 0 the raw rows need no
    * freshness merge: `seq` is unique per measurement, so the largest
    * (time, seq) at or before the timepoint IS the freshest version at
    * the latest time. A flag filter breaks that argument — a superseded
    * version can match a flag its fresher version does not, and must not
    * answer — so only then the merge runs before the filter. An explicit
    * id list is its own universe and is answered by [[asOfOnDriver]];
    * the catalog-wide request by the distributed [[asOf]]. */
  private def asOfQuery(q: QueryTimePoint,
                        index: Option[(Seq[Long], Seq[java.sql.Date])]): DataFrame = {
    val ids = q.ids.distinct
    val rows = levels(index.map(_._2), None, Some(q.timePoint))
      .filter(col("time") <= lit(q.timePoint) && idPred(ids))
    val candidates = if (q.flag == 0L) rows else TsdbStorage.mergeFreshest(rows).filter(flagPred(q.flag))
    if (ids.nonEmpty) asOfOnDriver(ids, candidates)
    else asOf(index.map(_._1.toDF("id")).getOrElse(levels(None, None, None).select("id")), candidates)
  }

  /** The explicit-id as-of answer, combined on the driver: each task
    * keeps, per id, its candidate with the largest (time, seq) — the
    * order of [[asOf]]'s `max_by` — and the driver keeps the largest of
    * those at most tasks × |ids| partial rows, NO_DATA for an id with
    * none. One Spark job, no exchange (at flag ≠ 0, the freshness
    * merge's); the answer is a local relation sorted by id. */
  private def asOfOnDriver(ids: Seq[Long], candidates: DataFrame): DataFrame = {
    val cols = candidates.select("id", "time", "value", "flag", "seq")
    val latest = cols.mapPartitions(GraftEngine.latestPerId)(org.apache.spark.sql.Encoders.row(cols.schema))
      .collect()
      .groupMapReduce(_.getLong(0))(identity)((a, b) => if (GraftEngine.later(b, a)) b else a)
    localAnswer(ids.sorted.map(id => latest.get(id)
      .fold(noData(id))(r => Row(id, r.get(1), r.get(2), r.get(3)))))
  }

  /** The as-of id universe, and per id the last day at-or-before the
    * timepoint that holds a row ≤ timepoint (a day before the
    * timepoint's day, or the day itself when its min_time is ≤ the
    * timepoint — a day whose rows all fall AFTER a mid-day timepoint is
    * skipped for its predecessor) as the distinct such days. Explicit
    * ids are their own universe: they collect their (id, day) rows and
    * take each id's max on the driver — no shuffle, bounded by |ids| ×
    * resident days ≤ tp. The catalog-wide request keeps the distributed
    * per-id max, since its rows grow with series × days, and collects
    * one row per indexed series — the size of the answer itself: the
    * universe must be read inside the lookup's generation bracket too,
    * not lazily by the data query.
    * Exactness: the index reflects the merged store (refreshed under the
    * _SYNCED marker at every mutation). */
  private def lastResidentDays(ids: Seq[Long], tp: Timestamp): (Seq[Long], Seq[java.sql.Date]) = {
    val tpDay = java.sql.Date.valueOf(TsdbStorage.utcDay(tp))
    val resident = col("day") <= lit(tpDay) && (col("day") < lit(tpDay) || col("min_time") <= lit(tp))
    val stats = TsdbStorage.readStats(spark, statsPath)
    if (ids.nonEmpty)
      (ids, stats.filter(resident && idPred(ids)).select("id", "day").collect()
        .groupMapReduce(_.getLong(0))(_.getDate(1))((a, b) => if (a.after(b)) a else b)
        .values.toSeq.distinct)
    else {
      val last = stats.groupBy("id").agg(max(when(resident, col("day"))).as("last_day")).collect()
      (last.map(_.getLong(0)).toSeq, last.filterNot(_.isNullAt(1)).map(_.getDate(1)).toSeq.distinct)
    }
  }

  /** The as-of answer over `candidates` (rows at or before the
    * timepoint): per id of `universe`, the row with the largest (time,
    * seq), or NO_DATA. Each universe id adds a placeholder row (id,
    * null, null, NO_DATA, null) whose (null, null) key sorts below every
    * real row, so it wins only for an id with no candidate; repeated
    * ids collapse in the same groupBy. One exchange, no join; the
    * answer — one row per series — is sorted inside a single partition. */
  private def asOf(universe: DataFrame, candidates: DataFrame): DataFrame =
    universe.select(col("id"), lit(null).cast("timestamp").as("time"),
        lit(null).cast("double").as("value"), lit(Meas.NO_DATA).as("flag"),
        lit(null).cast("long").as("seq"))
      .unionByName(candidates.select("id", "time", "value", "flag", "seq"))
      .groupBy("id")
      .agg(max_by(struct(col("time"), col("value"), col("flag")), struct(col("time"), col("seq"))).as("m"))
      .select(col("id"), col("m.time").as("time"), col("m.value").as("value"), col("m.flag").as("flag"))
      .coalesce(1).sortWithinPartitions("id")

  def currentValue(ids: Seq[Long], flag: Long): DataFrame =
    readTimePoint(QueryTimePoint(ids, flag, Meas.TIME_MAX))

  /** Grid read — the dashboard/feature-snapshot shape: every catalog
    * series sampled on a fixed step over [from, to], forward-filled
    * with a bounded staleness horizon (readTimePoint is the single-
    * point special case). The bound is what makes this an engine-grade
    * scan: plain forward fill implies unbounded history lookback, but a
    * fill older than maxStaleness answers null anyway — so the read is
    * day-pruned to [from − maxStaleness, to], a constant-width window
    * however old the store is. Grid ids come from the scheme catalog
    * (O14): a registered series with no rows in the window still emits
    * its grid points with null value — the _NO_DATA analog. One shuffle
    * (on id), one sort, one window pass (TemporalQueries.fillCore). */
  def readGrid(from: Timestamp, to: Timestamp, stepSeconds: Long,
               maxStalenessSeconds: Long): DataFrame =
    readGrid(from, to, stepSeconds, maxStalenessSeconds, None)

  def readGrid(from: Timestamp, to: Timestamp, stepSeconds: Long,
               maxStalenessSeconds: Long, gridIds: Option[DataFrame]): DataFrame = {
    require(!to.before(from), "readGrid: inverted interval")
    require(stepSeconds > 0, "readGrid: step must be positive")
    // upper bound keeps the ms/µs arithmetic below overflow — a horizon
    // past a century is "unbounded", which this API deliberately isn't
    require(maxStalenessSeconds >= 0 && maxStalenessSeconds <= 100L * 365L * 86400L,
      "readGrid: staleness must be in [0, ~100 years]")
    val lower = new Timestamp(from.getTime - maxStalenessSeconds * 1000L)
    val obs = TsdbStorage.mergeFreshest(levels(None, Some(lower), Some(to)))
      .filter(col("time").between(lit(lower), lit(to)))
      .select(col("id").as("k"), col("time").as("t"), col("seq"), col("value").as("v"))
    // gridIds (a `series_id` frame) overrides the catalog-derived grid —
    // the sharded router passes each shard the ids it OWNS, which may
    // include legacy series whose catalog row sits on another shard
    val grid = gridIds.getOrElse(ls()).select(col("series_id").as("k"))
      .withColumn("t", explode(sequence(lit(from), lit(to), expr(s"interval $stepSeconds seconds"))))
    val stalenessUs = maxStalenessSeconds * 1000000L
    val fresh = col("ft").isNotNull &&
      (unix_micros(col("t")) - unix_micros(col("ft"))) <= lit(stalenessUs)
    graft.extensions.TemporalQueries.fillCore(obs, grid)
      .select(col("k").as("id"), col("t").as("grid_ts"),
        when(fresh, col("fv")).as("value"),
        when(fresh, unix_micros(col("t")) - unix_micros(col("ft"))).as("fill_age_us"))
      .orderBy("id", "grid_ts")
  }

  // ---- O6/O8/O9 aggregates -----------------------------------------
  /** O6: min/max time per series — answered from the stats index when
    * it is certified (a |days|×1 aggregate over index rows, no data-file
    * scan, bracketed by [[indexLookup]]; min/max time are
    * merge-invariant, so the index answer is exact even under
    * duplicate-key rewrites). */
  def minMaxTime(id: Long): Option[(Timestamp, Timestamp)] = {
    val r = indexLookup(TsdbStorage.readStats(spark, statsPath).filter(col("id") === id)
        .agg(min("min_time"), max("max_time")).head())
      .getOrElse(merged.filter(col("id") === id).agg(min("time"), max("time")).head())
    if (r.isNullAt(0)) None else Some((r.getTimestamp(0), r.getTimestamp(1)))
  }

  /** O8: the per-series Statistic struct over an interval. The index
    * rows of the series whose [min_time, max_time] lies inside the
    * interval are pre-aggregated answers for their days; the days of the
    * rows that only overlap it are read. A 100-day stat over a 100 TB
    * store reads ~100 tiny index rows plus ≤ 2 day partitions. The index
    * stores MERGED stats (refreshed per touched day at append), so both
    * forms agree exactly — StatIndexSpec asserts it across
    * append/rewrite/compact/eraseOld. */
  def stat(id: Long, from: Timestamp, to: Timestamp): DataFrame =
    statQuery(id, from, to, indexLookup {
      val found = overlapping(Seq(id), from, to)
      val (inside, partial) = found.collect().partition(r =>
        !r.getAs[Timestamp]("min_time").before(from) && !r.getAs[Timestamp]("max_time").after(to))
      (spark.createDataFrame(java.util.Arrays.asList(inside: _*), found.schema)
          .drop("day", "last_value", "last_flag"),
        partial.map(_.getAs[java.sql.Date]("day")).distinct.toSeq)
    })

  /** The stat query with no index answer. */
  def statScan(id: Long, from: Timestamp, to: Timestamp): DataFrame = statQuery(id, from, to, None)

  /** The stat query over the lookup's (pre-aggregated index rows, days
    * to read), else over every day the interval admits. One exchange:
    * the read rows are hash-partitioned on `id`, which clusters the
    * freshness merge's (id, time) keys too; the index rows are collected
    * (the query never reads the index again), and the answer — one row
    * for one series — aggregates inside a single partition. */
  private def statQuery(id: Long, from: Timestamp, to: Timestamp,
                        index: Option[(DataFrame, Seq[java.sql.Date])]): DataFrame = {
    val read = TsdbStorage.mergeFreshest(
        levels(index.map(_._2), Some(from), Some(to))
          .filter(col("id") === id && col("time").between(lit(from), lit(to)))
          .repartition(col("id")))
      .select(col("id"), lit(1L).as("cnt"), col("time").as("min_time"), col("time").as("max_time"),
        col("value").as("min_value"), col("value").as("max_value"), col("value").as("sum_value"))
    index.fold(read)(ix => read.unionByName(ix._1)).coalesce(1)
      .groupBy("id")
      .agg(sum("cnt").as("cnt"), min("min_time").as("min_time"), max("max_time").as("max_time"),
        min("min_value").as("min_value"), max("max_value").as("max_value"),
        sum("sum_value").as("sum_value"))
  }

  /** Rebuild the chunk-stat index from scratch — the explicit repair
    * path for an index left uncertified by a crash (or for a store that
    * predates the index). Cheaper than compact(): no data rewrite. */
  def reindex(): Unit = locked {
    if (hasData) mutating(recertify = true)(fs.delete(new Path(statsPath), true))(
      _ => TsdbStorage.refreshStats(spark, dataPath, statsPath, days))
  }

  /** The stats-index bracket around every store mutation: the index is
    * uncertified before `mutate` touches anything (a crash anywhere in
    * it leaves readers on the scan path), then `refresh` re-derives the
    * index rows it changed and the index is re-certified — only if
    * `recertify`, which callers pass as "usable going in": an index
    * that was already stale must not be laundered back to usable by an
    * incidental mutation (repair is [[reindex]]). */
  private def mutating[T](recertify: Boolean)(mutate: => T)(refresh: T => Unit): T = {
    TsdbStorage.markStatsOutOfSync(spark, statsPath)
    val out = mutate
    if (recertify) {
      refresh(out)
      TsdbStorage.markStatsInSync(spark, statsPath)
    }
    out
  }

  /** O9: the named statistic-calculator function set, selectable by
    * name like the reference's `Calculator::apply(..., {functions})`
    * [U: statistic/calculator.h — FunctionFactory::functions]. Unknown
    * names fail fast (the reference's factory silently yields nothing
    * for them — failing is the safer contract).
    *
    * Skew route: the algebraic functions partial-aggregate map-side and
    * cannot overload a reducer, but exact `percentile` buffers a
    * value→count map per group whose final merge lands a hot series'
    * whole value multiset on ONE task. When the stats index reports a
    * queried series above `percentileSkewThreshold` rows, percentile
    * functions are served by SkewTools.distributedPercentiles (counts +
    * cumulative rank over slim rows — spillable) — bit-identical
    * answers (SkewToolsSpec), bounded per-task memory. */
  def calculator(q: QueryInterval,
                 functions: Seq[String] = GraftEngine.CalculatorFunctions,
                 percentileSkewThreshold: Long = GraftEngine.PercentileSkewThreshold): DataFrame = {
    val pcts = GraftEngine.PercentileFunctions.filter { case (n, _) => functions.contains(n) }
    if (pcts.isEmpty || maxSeriesRowsInRange(q) <= percentileSkewThreshold) {
      val selected = GraftEngine.calculatorAggs(functions)
      readInterval(q)
        .groupBy("id")
        .agg(selected.head, selected.tail: _*)
        .orderBy("id")
    } else {
      val rows = readInterval(q)
      val pctDf = graft.operators.SkewTools
        .distributedPercentiles(rows, col("id"), col("value"), pcts)
        .withColumnRenamed("k", "id")
      val others = functions.filterNot(pcts.map(_._1).toSet)
      val joined =
        if (others.isEmpty) pctDf
        else {
          val sel = GraftEngine.calculatorAggs(others)
          rows.groupBy("id").agg(sel.head, sel.tail: _*).join(pctDf, "id")
        }
      val outName = (f: String) => if (f == "count") "cnt" else f
      // requested column order, regardless of which route computed each
      joined.select(col("id") +: functions.map(f => col(outName(f))): _*).orderBy("id")
    }
  }

  /** Skew detector for the calculator: the largest per-series row count
    * inside the query's day range, answered from the per-(day, id)
    * stats index — bounded index rows, no data files touched. Flag
    * filters are ignored (an overcount only routes to the equally-exact
    * distributed path). 0 when the index cannot answer (absent, stale,
    * unflushed hot rows, or changed under the [[indexLookup]] bracket)
    * — the default path then applies. */
  private def maxSeriesRowsInRange(q: QueryInterval): Long = {
    if (q.from.after(q.to)) return 0L
    val utc = java.time.ZoneOffset.UTC
    val fromDay = java.sql.Date.valueOf(q.from.toInstant.atZone(utc).toLocalDate)
    val toDay = java.sql.Date.valueOf(q.to.toInstant.atZone(utc).toLocalDate)
    indexLookup(TsdbStorage.readStats(spark, statsPath)
      .filter(idPred(q.ids) && col("day").between(lit(fromDay), lit(toDay)))
      .groupBy("id").agg(sum("cnt").as("c"))
      .agg(coalesce(max("c"), lit(0L)))
      .head().getLong(0)).getOrElse(0L)
  }

  // ---- O10 subscribe (delegates to the one subscription definition) --
  // Subscriptions tap the DURABLE level (the parquet file stream):
  // MEMORY-level rows reach subscribers at flush time, the same moment
  // the reference's memstorage drop makes them page-visible.
  def subscribe(ids: Seq[Long], flag: Long, queryName: String, checkpoint: String): StreamingQuery =
    Subscribe.start(spark, dataPath, ids, flag, queryName, checkpoint, dayPartitioned = true)

  /** O10 extension: continuous anomaly detection over the append
    * stream — each flushed sample scored against its series' preceding
    * w-sample window (StatefulStreams.zscores; streamed scores are
    * bit-identical to the batch `series_zscore` operator). Same
    * durable-level tap as subscribe(). */
  def subscribeAnomalies(queryName: String, checkpoint: String, w: Int = 8): StreamingQuery =
    graft.streaming.StatefulStreams.startZscores(
      spark, dataPath, queryName, checkpoint, w, dayPartitioned = true)

  // ---- O11/O12/O13 maintenance -------------------------------------
  def eraseOld(cutoff: Timestamp): Seq[String] = locked {
    // interpret the cutoff in UTC explicitly: day partitions are derived
    // under the session TZ (pinned UTC), while Timestamp.toLocalDateTime
    // uses the JVM default TZ — on a non-UTC JVM that off-by-hours day
    // would drop a partition still containing in-retention data
    // drop the MEMORY level to its day partitions first, so retention
    // applies uniformly (the reference drops memstorage before erase)
    flush()
    val cutoffDay = cutoff.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
    // the stats index is day-partitioned identically — drop in lockstep
    mutating(hasStats) {
      TsdbStorage.eraseOld(spark, statsPath, cutoffDay)
      TsdbStorage.eraseOld(spark, dataPath, cutoffDay)
    }(_ => ())
  }

  /** O11, per-id variant [U: engines/engine.cpp — eraseOld(id, to)]:
    * drop only the given series' rows older than the cutoff. Unlike the
    * whole-store form this cannot be a partition drop — affected day
    * partitions are REWRITTEN with an anti-filter through the store's
    * one rewrite protocol (new files land beside the listed ones, which
    * are then deleted; untouched days are never read or written, and a
    * concurrent append's file is never touched). The
    * per-(day, id) stats index restricts the rewrite to days ACTUALLY
    * holding erasable rows for the target ids (index row present with
    * min_time < cutoff) — so erasing a series that lived one week out
    * of a year-old store rewrites ~7 days, not 365. Falls back to the
    * full pre-cutoff day list when the index is unusable; cost is then
    * proportional to the days the cutoff spans, never the store. */
  def eraseOld(cutoff: Timestamp, ids: Seq[Long]): Seq[String] = locked {
    require(ids.nonEmpty, "per-id eraseOld needs at least one id")
    flush()
    val cutoffDay = cutoff.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate
    // unlike the whole-store partition-drop form (day granularity by
    // necessity), this path is a row-level rewrite — so a mid-day cutoff
    // includes the cutoff day itself and the keep-filter's exact time
    // bound applies. A midnight cutoff skips it (no row can precede
    // 00:00 on its own day).
    val midnightCutoff =
      cutoff.toInstant == cutoffDay.atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val candidateDays = days.filter(d => d.toLocalDate.isBefore(cutoffDay)
      || (!midnightCutoff && d.toLocalDate == cutoffDay))
    if (candidateDays.isEmpty) return Seq.empty
    // index-driven day pruning: the index reflects the MERGED store, so
    // a (day, id) row with min_time < cutoff exists iff that day holds
    // at least one erasable row. The collect is bounded by the candidate
    // day count (tiny), same as the directory listing above. Appends are
    // lease-free, so the lookup runs inside the generation bracket; a
    // torn one falls back to every candidate day.
    val affectedDays = indexLookup {
      val present = TsdbStorage.readStats(spark, statsPath)
        .filter(idPred(ids) && col("day").isin(candidateDays: _*)
          && col("min_time") < lit(cutoff))
        .select("day").distinct()
        .collect().map(_.getDate(0)).toSet
      candidateDays.filter(present)
    }.getOrElse(candidateDays)
    if (affectedDays.isEmpty) return Seq.empty
    mutating(hasStats)(TsdbStorage.rewriteDaysFiltered(spark, dataPath, affectedDays, buckets,
      keep = !(col("id").isin(ids: _*) && col("time") < lit(cutoff))))(
      _ => TsdbStorage.refreshStats(spark, dataPath, statsPath, affectedDays))
    affectedDays.map(d => s"day=$d")
  }

  /** O12: rewrite the store with merge-on-read materialized
    * ([U: engines/engine.cpp — compact]): the scheme log is repacked,
    * then [[compactDays]]' rewrite runs over every day and [[reindex]]
    * rebuilds the stats index from the compacted store. The rewrite
    * lands new files beside the old ones and deletes exactly the files
    * it read — a crash leaves a superset of the rows (merge-on-read
    * answers the same), and appends that land meanwhile survive. */
  def compact(): Unit = locked {
    flush()
    // repack the scheme log first (independent of data presence):
    // per-call appends accumulate one tiny file each; compact() is
    // where the store pays that debt down
    compactScheme()
    val all = days
    if (all.nonEmpty) {
      // no refresh: reindex() rebuilds the whole index right after
      mutating(recertify = false)(TsdbStorage.compactDays(spark, dataPath, all, buckets))(_ => ())
      reindex()
    }
  }

  /** O12, incremental form: compact ONLY the given day partitions
    * (merge-on-read materialized, small files coalesced) — how an aged
    * store pays down its hot days' append debt without rewriting every
    * day. Same rewrite protocol as [[compact]]: the listed files are
    * replaced, a file appended mid-rewrite is kept. The stats index rows
    * for these days are value-invariant (they already reflect the merged
    * view) but are refreshed anyway so index files track data files
    * one-to-one. */
  def compactDays(days: Seq[java.sql.Date]): Unit = locked {
    flush()
    // no-op for days this store doesn't host (a sharded router passes
    // every shard the same day list) — saves the rewrite/index machinery
    // an empty pass
    val target = days.filter(this.days.toSet)
    if (target.nonEmpty)
      mutating(hasStats)(TsdbStorage.compactDays(spark, dataPath, target, buckets))(
        _ => TsdbStorage.refreshStats(spark, dataPath, statsPath, target))
  }

  /** The days worth compacting: more parquet files than `maxFiles` (the
    * append-accumulation signature). Pure directory-listing metadata —
    * the periodic-maintenance driver for [[compactDays]], the analog of
    * the reference's period-worker picking hot chunks to drop. */
  def fragmentedDays(maxFiles: Int = 2 * buckets): Seq[java.sql.Date] =
    TsdbStorage.dayFiles(spark, dataPath, days).collect { case (d, files) if files.size > maxFiles => d }

  /** The nightly-maintenance entrypoint — one call chains the repair
    * and debt-payment ops a production deployment crons, in dependency
    * order: integrity probe (dropping corrupt files when `repair`) →
    * targeted compaction of append-fragmented days → stat-index rebuild
    * IF anything above (or a prior crash) left it uncertified. After a
    * clean maintain(), every index-served read path is armed again.
    * Idempotent: a second run reports nothing to do.
    *
    * The store's ARTIFACT indexes cron through the same call: pass
    * `annIndex`/`textIndex` as (indexDir, corpus) and each gets the
    * same probe → repair → debt-payment cycle — fsck (corrupt files
    * dropped + index uncertified), REBUILD from the corpus when left
    * uncertified (artifact repair IS rebuild: the index is derived
    * data), and a size-targeted compact when append-accumulated. The
    * corpus travels with the dir because recertification cannot be
    * conjured from the index's own (possibly damaged) files. Artifact
    * dirs hold their own `_LOCK` leases (separate dirs, separate
    * writers), taken sequentially inside the store's lease. */
  def maintain(maxFilesPerDay: Int = 2 * buckets, repair: Boolean = true,
               annIndex: Option[(String, DataFrame)] = None,
               textIndex: Option[(String, DataFrame)] = None): MaintenanceReport = locked {
    val corrupt = fsck(repair)
    val frag = fragmentedDays(maxFilesPerDay)
    if (frag.nonEmpty) compactDays(frag)
    val reindexNeeded = hasData && !TsdbStorage.statsUsable(spark, statsPath)
    if (reindexNeeded) reindex()
    MaintenanceReport(corrupt, frag, reindexNeeded,
      maintainArtifacts(annIndex, textIndex, repair))
  }

  /** The artifact-index half of [[maintain]], callable on its own: each
    * handed index gets the probe → verify → rebuild-if-uncertified →
    * compact-if-fragmented cycle. Artifact dirs hold their own `_LOCK`
    * leases (separate dirs, separate writers), so this needs no store
    * lease — which is what lets [[ShardedEngine.maintain]] run it
    * exactly ONCE for corpus-level artifacts after the per-shard
    * fan-out instead of once per shard. */
  def maintainArtifacts(annIndex: Option[(String, DataFrame)] = None,
                        textIndex: Option[(String, DataFrame)] = None,
                        repair: Boolean = true): Seq[ArtifactReport] =
    (annIndex.map(graft.extensions.AnnIndex -> _) ++
      textIndex.map(graft.extensions.TextIndex -> _)).toSeq.map { case (ix, (dir, corpus)) =>
      maintainArtifact(ix, dir, corpus, repair)
    }

  /** One artifact's probe → verify → rebuild-if-uncertified →
    * retune-if-asked → compact-if-fragmented cycle. Usability is sampled
    * BEFORE fsck so a never-built dir (nothing to rebuild from scratch
    * here — the user never asked for an index) is distinguished from one
    * a crash or the probe just uncertified. `verify` is the
    * full-fingerprint audit (content term always included): it
    * uncertifies an index that no longer matches its corpus — a corpus
    * grown or mutated without the index keeping up is caught HERE even
    * when the per-query content check is opted out (ContentCheckKey). */
  private def maintainArtifact(ix: graft.extensions.CorpusIndex[_], dir: String,
                               corpus: DataFrame, repair: Boolean): ArtifactReport = {
    val existed = ix.usable(spark, dir) || // uncertified remains of a real index: rebuildable
      new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new Path(dir))
    val bad = ix.fsck(spark, dir, repair)
    if (ix.usable(spark, dir)) ix.verify(spark, dir, corpus) // uncertifies on mismatch
    val needRebuild = existed && !ix.usable(spark, dir)
    if (needRebuild && repair) ix.build(spark, corpus, dir)
    // tuning-debt payment, consulted only on a CERTIFIED index (a
    // rebuild above re-derived the tuning already — the retune then
    // re-checks the FRESH one, so a rebuild that still collapses gets
    // its retune in the same pass)
    val retuned = if (repair && ix.usable(spark, dir)) ix.retune(spark, dir, corpus) else None
    val doCompact = ix.fragmented(spark, dir)
    if (doCompact) ix.compact(spark, dir)
    ArtifactReport(dir, bad, needRebuild && repair, doCompact, retuned)
  }

  /** Rewrite the append-only scheme log as its dedup view in one file,
    * through the store's replace step: the new file lands beside the
    * listed ones, which are then deleted. A crash in between leaves
    * duplicate rows, which the `distinct` view [[ls]] collapses. */
  private def compactScheme(): Unit = {
    recoverSwap(schemePath)
    val listed = graft.sources.ParquetProbe.listParquet(spark, new Path(schemePath))
    if (listed.nonEmpty) TsdbStorage.replaceFiles(spark, schemePath, listed)(
      spark.read.schema(GraftEngine.SchemeSchema).parquet(listed.map(_.toString): _*)
        .distinct().coalesce(1).write.parquet(_))
  }

  /** O13 fsck: verify every data file — footer, every row group, and
    * every page payload DECOMPRESSED for every column (a head-only or
    * header-only probe would miss in-page corruption; codec framing and
    * checksums fail on bit-flipped payloads). Value-level re-decoding
    * beyond decompression is not performed. Optionally drops broken
    * files [U: engines/engine.cpp — fsck]. Returns the bad file list.
    *
    * The store's ARTIFACTS are probed too, with repair semantics per
    * artifact: a corrupt stats-index file UNCERTIFIES the index
    * immediately (even without repair — readers must fall back to the
    * scan path, not throw mid-query; `reindex()`/`compact()` rebuild),
    * and with repair the bad index files are dropped. A corrupt scheme
    * log file is REPORTED but never deleted, repair or not — the log is
    * the only copy of legacy id assignments; dropping rows would
    * silently re-assign divergent content-addressed ids.
    *
    * The probe runs DISTRIBUTED: file paths are parallelized and each
    * executor task walks its files — O(#files / cluster-cores)
    * wall-clock, not O(#files) driver round-trips. */
  def fsck(repair: Boolean = false): Seq[String] = locked {
    // a writer even without `repair`: the probe may uncertify the stats
    // index and runs the swap-recovery preamble (both mutations)
    val badData = if (!hasData) Seq.empty
      else TsdbStorage.probeFiles(spark, dataPath)
    if (repair && badData.nonEmpty) {
      // dropping data files CHANGES the merged store — the per-(day,id)
      // stats must not keep serving counts that include the dropped
      // rows. Uncertify; reads fall back to the scan path until
      // reindex()/maintain() rebuilds from the surviving files.
      TsdbStorage.markStatsOutOfSync(spark, statsPath)
      badData.foreach(p => fs.delete(new Path(p), false))
    }
    val badStats = TsdbStorage.probeFiles(spark, statsPath)
    if (badStats.nonEmpty) {
      TsdbStorage.markStatsOutOfSync(spark, statsPath)
      if (repair) badStats.foreach(p => fs.delete(new Path(p), false))
    }
    val badScheme = {
      recoverSwap(schemePath)
      TsdbStorage.probeFiles(spark, schemePath)
    }
    badData ++ badStats ++ badScheme
  }

  // ---- O14 scheme --------------------------------------------------
  /** addParam: register (or look up) a series name → id
    * [U: scheme/scheme.cpp — Scheme::addParam].
    *
    * Content-addressed: the id IS a 63-bit md5 prefix of the name, so
    * registration never reads the existing catalog — it appends ONE row
    * to an append-only log, O(1) at any catalog size (the round-2
    * read-modify-write collected and rewrote the whole catalog per
    * call). `ls()` is the log's dedup view: duplicate registrations of
    * the same name produce bit-identical rows, which `distinct`
    * collapses. Collision odds are n²/2⁶⁴ ≈ 5e-8 at a million series —
    * the same determinism-for-capacity trade every content-addressed id
    * in this repo makes. The catalog memo loads from the log once per
    * engine instance (O(catalog) once, O(1) per call — never the
    * round-2 per-call read-modify-write), which also keeps the log
    * authoritative for stores whose ids predate content addressing. */
  def addParam(name: String): Long = synchronized {
    knownIds.getOrElse(name, {
      val id = GraftEngine.seriesId(name)
      knownIds(name) = id
      appendScheme(Seq(name -> id))
      id
    })
  }

  /** Batch registration: one log write for any number of names — the
    * shape to use when onboarding 10⁴+ series. */
  def addParams(names: Seq[String]): Map[String, Long] = synchronized {
    val fresh = names.distinct.filterNot(knownIds.contains)
      .map(n => n -> GraftEngine.seriesId(n))
    fresh.foreach { case (n, id) => knownIds(n) = id }
    if (fresh.nonEmpty) appendScheme(fresh)
    names.map(n => n -> knownIds(n)).toMap
  }

  /** Driver memo of the catalog, loaded from the log ONCE per engine
    * instance (single-writer store, like the reference's in-process
    * Scheme). The log stays authoritative: a store whose catalog was
    * written by an engine version with different id assignment keeps
    * its stored ids — re-registration returns the logged id, never a
    * conflicting fresh one.
    *
    * SIZE CONTRACT: this is a deliberate driver-side materialization —
    * ~100 B/entry, so 10⁶ series ≈ 100 MB of driver heap, the same
    * order as the reference's in-process scheme map. It is the right
    * trade while catalogs are ≤ a few million names (every param-id
    * lookup is O(1), no Spark job per name); a 10⁷⁺-series deployment
    * should shard engines (ShardedEngine routes by id hash, so each
    * driver memo holds only its shard's names) before it outgrows
    * this map. The WARN below makes the approach self-reporting
    * instead of failing as a silent heap creep. */
  private lazy val knownIds: scala.collection.mutable.HashMap[String, Long] = {
    val m = scala.collection.mutable.HashMap[String, Long]()
    ls().collect().foreach(r => m(r.getString(0)) = r.getLong(1))
    if (m.size > 2000000)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"scheme catalog memo holds ${m.size} names (~${m.size / 10000} MB driver heap); " +
          "consider sharding the store (ShardedEngine) before the catalog outgrows the driver")
    m
  }

  private def appendScheme(rows: Seq[(String, Long)]): Unit =
    rows.toDF("name", "series_id").coalesce(1).write.mode("append").parquet(schemePath)

  /** getParamId: served from the once-per-engine driver memo — a Spark
    * job per name lookup would reintroduce the per-call catalog-scan
    * cost addParam was rid of (single-writer store: the memo cannot go
    * stale under this engine's own registrations, which update it). */
  def getParamId(name: String): Option[Long] = synchronized { knownIds.get(name) }

  /** Adopt an EXISTING (name, id) registration from another store — used
    * by the sharded router to co-locate a legacy catalog row with the
    * shard that owns the id's data. No-op when the name is known. */
  private[engine] def adopt(name: String, id: Long): Unit = adoptAll(Seq(name -> id))

  /** Batched adoption: ONE log write for any number of foreign
    * registrations — the sharded router's bulk-onboarding path (a
    * per-name append would write one tiny file per name). */
  private[engine] def adoptAll(rows: Seq[(String, Long)]): Unit = synchronized {
    val fresh = rows.filterNot { case (n, _) => knownIds.contains(n) }
    fresh.foreach { case (n, id) => knownIds(n) = id }
    if (fresh.nonEmpty) appendScheme(fresh)
  }

  /** ls(): the catalog (dedup view over the append-only log). The log
    * is read with its schema, so building the view runs no
    * footer-reading job. */
  def ls(): DataFrame = {
    recoverSwap(schemePath)
    if (!fs.exists(new Path(schemePath)))
      Seq.empty[(String, Long)].toDF("name", "series_id")
    else spark.read.schema(GraftEngine.SchemeSchema).parquet(schemePath).distinct()
  }
}

object GraftEngine {
  /** The as-of answer's columns, for an answer built on the driver. */
  private val AsOfSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "id BIGINT, time TIMESTAMP, value DOUBLE, flag BIGINT")

  /** Whether an interval admits at most two UTC day partitions. */
  private def shortWindow(q: QueryInterval): Boolean =
    java.time.temporal.ChronoUnit.DAYS.between(TsdbStorage.utcDay(q.from), TsdbStorage.utcDay(q.to)) < 2

  /** Whether candidate row `a` (id, time, value, flag, seq) follows `b`
    * in the as-of order: larger time, then larger seq — the order of
    * `max_by(…, struct(time, seq))`, a NULL seq lowest. */
  private def later(a: Row, b: Row): Boolean = {
    val byTime = a.getTimestamp(1).compareTo(b.getTimestamp(1))
    byTime > 0 || (byTime == 0 && !a.isNullAt(4) && (b.isNullAt(4) || a.getLong(4) > b.getLong(4)))
  }

  /** Per id, the partition's latest candidate row under [[later]]. */
  private def latestPerId(rows: Iterator[Row]): Iterator[Row] = {
    val best = scala.collection.mutable.HashMap[Long, Row]()
    rows.foreach { r =>
      if (best.get(r.getLong(0)).forall(later(r, _))) best(r.getLong(0)) = r
    }
    best.valuesIterator
  }

  /** The scheme log's columns. */
  private val SchemeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "name STRING, series_id BIGINT")

  /** O9 function names [U: statistic/calculator.cpp — FunctionFactory]. */
  val CalculatorFunctions: Seq[String] =
    Seq("average", "median", "percentile90", "percentile99", "sigma", "minimum", "maximum", "count")

  /** The O9 functions that buffer per-group state (exact percentile) —
    * eligible for the distributed hot-series route in `calculator`. */
  val PercentileFunctions: Seq[(String, Double)] =
    Seq("median" -> 0.5, "percentile90" -> 0.9, "percentile99" -> 0.99)

  /** Per-series row count past which `calculator` serves percentiles
    * via the distributed counts+rank path instead of the built-in
    * buffering aggregate (~8M rows ≈ where a value→count map per merge
    * task stops being comfortably memory-resident). */
  val PercentileSkewThreshold: Long = 8L * 1000 * 1000

  /** The SINGLE name→aggregate definition of the O9 function set —
    * `calculator` above and the oracle-gated `calculator_subset` query
    * both build from it, so the driver's hash gate pins the facade's
    * selection logic, not a parallel re-implementation. Unknown names
    * fail fast (the reference's factory silently yields nothing — the
    * safer contract here is failing). `round6` wraps the float
    * aggregates for cross-engine determinism in gated queries; the
    * facade serves full precision. */
  def calculatorAggs(functions: Seq[String], round6: Boolean = false): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions._
    val unknown = functions.filterNot(CalculatorFunctions.contains)
    require(unknown.isEmpty, s"unknown calculator functions: ${unknown.mkString(", ")}")
    require(functions.nonEmpty, "calculator needs at least one function")
    def r(c: org.apache.spark.sql.Column) = if (round6) round(c, 6) else c
    // one zero, +0.0, on both calculator routes (SkewTools.positiveZero)
    def pct(p: String) = graft.operators.SkewTools.positiveZero(expr(s"percentile(value, $p)"))
    functions.map {
      case "average"      => r(avg("value")).as("average")
      case "median"       => r(pct("0.5D")).as("median")
      case "percentile90" => r(pct("0.9D")).as("percentile90")
      case "percentile99" => r(pct("0.99D")).as("percentile99")
      case "sigma"        => r(stddev_pop("value")).as("sigma")
      case "minimum"      => min("value").as("minimum")
      case "maximum"      => max("value").as("maximum")
      case "count"        => count(lit(1)).as("cnt")
    }
  }

  /** Content-addressed series id: first 8 bytes of md5(name), sign bit
    * cleared. Deterministic across engines/shards — two stores assign
    * the same id to the same name with no coordination. */
  def seriesId(name: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(name.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong & Long.MaxValue
  }
}
