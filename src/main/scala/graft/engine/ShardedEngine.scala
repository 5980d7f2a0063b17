package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O15 ShardEngine parity [U: engines/shard.cpp — ShardEngine]: routes
  * series across N sub-stores by id hash, fans queries out and merges
  * results.
  *
  * Honest scale note: on Spark this class is mostly ceremony — a single
  * clustered store already hash-partitions series across files and the
  * scheduler fans out by construction (SURVEY.md §2.1 O15 calls it
  * "what Spark does by construction"). It exists for API parity and for
  * the one real use case: stores with different lifecycles/locations
  * (e.g. hot vs cold roots) behind one query surface.
  */
class ShardedEngine(spark: SparkSession, roots: Seq[String], buckets: Int = 32,
                    hotCapacity: Long = 0L)
    extends EngineApi {
  require(roots.nonEmpty, "at least one shard root")

  val shards: Seq[GraftEngine] = roots.map(new GraftEngine(spark, _, buckets, hotCapacity))

  /** §3.1 MEMORY strategy, sharded: each shard runs its own hot level
    * (capacity applies PER SHARD — the aggregate memory budget is
    * hotCapacity × shards, matching the reference's per-store
    * memstorage limits). */
  def flush(): Unit = shards.foreach(_.flush())
  def hotSize: Long = shards.map(_.hotSize).sum

  private def shardOf(id: Long): GraftEngine =
    shards(((id % shards.size) + shards.size).toInt % shards.size)

  /** Ownership routing: each shard with the requested ids it owns, or
    * every shard with the catalog-wide (empty) request. Ids are
    * pmod-disjoint across shards, so exactly one shard answers each id
    * and the per-shard answers merge by plain union. */
  private def byOwner[T](ids: Seq[Long])(f: (GraftEngine, Seq[Long]) => T): Seq[T] =
    if (ids.isEmpty) shards.map(f(_, ids)) else ids.distinct.groupBy(shardOf).toSeq.map(f.tupled)

  /** Routed append: each measurement lands on its series' shard. */
  def append(meas: DataFrame): Unit = routed(meas)(_.append(_))

  /** `write` each shard's slice of `meas` on that shard. The input is
    * cached for the N filtered passes (one write per shard) — without
    * it each slice would rescan the source. */
  private def routed(meas: DataFrame)(write: (GraftEngine, DataFrame) => Unit): Unit = {
    val n = shards.size
    // borrow-don't-own (TransientCache): a caller may pass a frame it
    // (or a registry memo) already persisted — never evict it on exit
    graft.core.TransientCache.borrowCached(meas) {
      shards.zipWithIndex.foreach { case (shard, i) =>
        write(shard, meas.filter(pmod(col("id"), lit(n.toLong)) === i.toLong))
      }
    }
  }

  def append(ms: Seq[graft.core.Meas]): Unit = {
    import spark.implicits._
    append(spark.createDataset(ms).toDF())
  }

  /** Fan-out + merge, ROUTED BY OWNERSHIP: each owning shard reads only
    * its own ids (so its resident-day lookup sees only them); a
    * catalog-wide read asks every shard. The union is re-ordered. */
  def readInterval(q: QueryInterval): DataFrame =
    byOwner(q.ids)((shard, owned) => shard.readInterval(q.copy(ids = owned)))
      .reduce(_ unionByName _).orderBy("id", "time")

  /** O4 as-of fan-out, ROUTED BY OWNERSHIP (the readGrid discipline):
    * an explicit id list is pmod-partitioned so each owning shard is
    * asked ONLY for its own ids — no shard joins a foreign id, no
    * NO_DATA rows are derived just to be merged away; the catalog
    * default lets each shard derive its own resident-id universe
    * (routed appends make those pmod-disjoint). Either way exactly one
    * shard answers each id — ownership is total, and the owning shard
    * itself emits the NO_DATA row for an absent id — so the merge is a
    * plain union with no aggregation shuffle, and GraftEngine's
    * one-row-per-requested-id contract is preserved by construction. */
  def readTimePoint(q: QueryTimePoint): DataFrame =
    byOwner(q.ids)((shard, owned) => shard.readTimePoint(q.copy(ids = owned)))
      .reduce(_ unionByName _).orderBy("id")

  def currentValue(ids: Seq[Long], flag: Long): DataFrame =
    byOwner(ids)(_.currentValue(_, flag)).reduce(_ unionByName _).orderBy("id")

  /** O14 routed scheme: a new name registers on the shard that will own
    * its content-addressed id. A name ALREADY in some shard's log keeps
    * its logged id — and because DATA for that id routes by the id hash
    * regardless of where the legacy catalog row sits, the owning shard
    * ADOPTS the registration, co-locating catalog and data (readGrid
    * derives each shard's grid from the ids it owns). */
  def addParam(name: String): Long =
    shards.iterator.flatMap(_.getParamId(name)).nextOption() match {
      case Some(id) => shardOf(id).adopt(name, id); id
      case None     => shardOf(GraftEngine.seriesId(name)).addParam(name)
    }

  /** Batch registration: fresh names are grouped by OWNING shard and
    * registered with one `GraftEngine.addParams` call (= one log file)
    * per shard — onboarding 10⁴ names writes ≤ |shards| files, not 10⁴.
    * Names already logged somewhere keep their logged id and are
    * batch-adopted onto their owning shard, same single-write discipline. */
  def addParams(names: Seq[String]): Map[String, Long] = {
    val distinct = names.distinct
    val (legacy, fresh) = distinct.partition(n => getParamId(n).isDefined)
    val legacyPairs = legacy.map(n => n -> getParamId(n).get)
    legacyPairs.groupBy { case (_, id) => shardOf(id) }
      .foreach { case (shard, pairs) => shard.adoptAll(pairs) }
    fresh.map(n => n -> GraftEngine.seriesId(n))
      .groupBy { case (_, id) => shardOf(id) }
      .foreach { case (shard, pairs) => shard.addParams(pairs.map(_._1)) }
    distinct.map(n => n -> getParamId(n).get).toMap
  }

  def getParamId(name: String): Option[Long] =
    shards.iterator.flatMap(_.getParamId(name)).nextOption()

  /** The catalog: distinct because adoption may leave the same
    * (name, id) row on two shards' logs. */
  def ls(): DataFrame =
    shards.map(_.ls()).reduce(_ unionByName _).distinct().orderBy("name")

  /** Grid read: the grid id set comes from the UNIONED catalog and each
    * id is served by the shard that OWNS its data — so a legacy series
    * whose catalog row sits on a non-owning shard (registered before
    * sharding, never re-touched by addParam adoption) still emits its
    * grid rows from the shard holding its data, preserving the
    * registered-series-emits-rows contract. Each shard's scan keeps its
    * own staleness-bounded day pruning; exactly one shard serves each
    * id, so the union needs no dedup. */
  def readGrid(from: java.sql.Timestamp, to: java.sql.Timestamp, stepSeconds: Long,
               maxStalenessSeconds: Long): DataFrame = {
    val n = shards.size.toLong
    val catalog = ls().select("series_id")
    shards.zipWithIndex.map { case (sh, i) =>
      sh.readGrid(from, to, stepSeconds, maxStalenessSeconds,
        gridIds = Some(catalog.filter(pmod(col("series_id"), lit(n)) === i.toLong)))
    }.reduce(_ unionByName _).orderBy("id", "grid_ts")
  }

  /** O6/O8 route to the single shard owning the series — with the
    * per-shard chunk-stat index these answer from index rows, no fan-out
    * needed (the id→shard mapping is total). */
  def minMaxTime(id: Long): Option[(java.sql.Timestamp, java.sql.Timestamp)] =
    shardOf(id).minMaxTime(id)

  def stat(id: Long, from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame =
    shardOf(id).stat(id, from, to)

  /** O3/O7 cursor + push forms ride the routed interval read (same
    * merge/ordering as a single engine — readInterval re-orders the
    * union), streamed through toLocalIterator one partition at a
    * time. */
  def intervalReader(q: QueryInterval): Iterator[graft.core.Meas] = {
    import spark.implicits._
    val it = readInterval(q).as[graft.core.Meas].toLocalIterator()
    new Iterator[graft.core.Meas] { def hasNext = it.hasNext; def next() = it.next() }
  }

  def foreach(q: QueryInterval)(callback: graft.core.Meas => Unit): Unit =
    intervalReader(q).foreach(callback)

  /** O9 calculator, routed: ids are pmod-disjoint across shards, so
    * per-shard calculators (each with its own stats-index skew detector
    * and hot-percentile route) answer disjoint id sets — the merge is a
    * plain union, identical to a single engine over the same data. */
  def calculator(q: QueryInterval,
                 functions: Seq[String] = GraftEngine.CalculatorFunctions): DataFrame =
    byOwner(q.ids)((shard, owned) => shard.calculator(q.copy(ids = owned), functions))
      .reduce(_ unionByName _).orderBy("id")

  /** O10 subscribe, fanned out: one stream per shard (each tails its
    * own durable level), all pushing into the same callback query name.
    * Stop every returned query to unsubscribe. */
  def subscribe(ids: Seq[Long], flag: Long, queryName: String,
                checkpoint: String): Seq[org.apache.spark.sql.streaming.StreamingQuery] =
    shards.zipWithIndex.map { case (shard, i) =>
      shard.subscribe(ids, flag, s"$queryName-s$i", s"$checkpoint/s$i")
    }

  /** O1 streaming strategy, routed: each micro-batch splits across the
    * owning shards exactly like a batch append, and each shard applies
    * its slice through [[GraftEngine.appendOnce]] under the checkpoint's
    * appId — a replayed micro-batch (foreachBatch is at-least-once) is a
    * no-op on every shard. */
  def appendStream(source: DataFrame,
                   checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        routed(batch)(_.appendOnce(_, checkpoint, bid))
      }
      .start()

  /** Run `f` over every shard CONCURRENTLY (bounded pool) and return the
    * results in shard order. Shard maintenance is embarrassingly
    * parallel — each shard owns its own directory tree, lease, and
    * marker protocol, and Spark accepts jobs from multiple threads — so
    * a 32-shard nightly maintain costs ~the slowest shard, not the sum.
    * Pool width: min(shards, 8) — wide enough to hide per-shard
    * stragglers, narrow enough that the concurrent Spark jobs don't
    * thrash the scheduler. A shard failure propagates (unwrapped) after
    * the pool drains — no shard's maintenance is silently skipped. */
  private def inParallel[T](f: GraftEngine => T): Seq[T] = {
    val par = math.min(shards.size, 8)
    if (par <= 1) shards.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par, (r: Runnable) => {
        val t = new Thread(r, "graft-shard-maint"); t.setDaemon(true); t
      })
      try {
        val futures = shards.map(s =>
          pool.submit(new java.util.concurrent.Callable[T] { def call(): T = f(s) }))
        futures.map(fu =>
          try fu.get()
          catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
      } finally pool.shutdownNow()
    }
  }

  /** O13 index repair, fanned out concurrently. */
  def reindex(): Unit = { inParallel(_.reindex()); () }

  /** Append observers, registered on EVERY shard: a routed append fires
    * the listener on the owning shard with exactly the rows that landed
    * there, inside that shard's append lock — per-series delivery still
    * matches commit order (a series lives on one shard). This is what
    * lets [[graft.network.GraftServer]] front a sharded store with the
    * same push-subscribe semantics as a single engine. */
  def onAppend(listener: Seq[graft.core.Meas] => Unit): Unit =
    shards.foreach(_.onAppend(listener))

  def removeAppendListener(listener: Seq[graft.core.Meas] => Unit): Unit =
    shards.foreach(_.removeAppendListener(listener))

  def compact(): Unit = { inParallel(_.compact()); () }
  def eraseOld(cutoff: java.sql.Timestamp): Seq[String] =
    inParallel(_.eraseOld(cutoff)).flatten

  /** O11 per-id retention, routed: each id's rewrite runs ONLY on its
    * owning shard (where its data lives), with the per-shard stats
    * index restricting the touched days further. */
  def eraseOld(cutoff: java.sql.Timestamp, ids: Seq[Long]): Seq[String] =
    if (ids.isEmpty) Seq.empty else byOwner(ids)(_.eraseOld(cutoff, _)).flatten

  /** O12 incremental compaction, fanned out concurrently: every shard
    * compacts the days it hosts from the list (foreign days no-op per
    * shard). */
  def compactDays(days: Seq[java.sql.Date]): Unit = { inParallel(_.compactDays(days)); () }

  def fragmentedDays(maxFiles: Int): Seq[java.sql.Date] =
    shards.flatMap(_.fragmentedDays(maxFiles)).distinct.sortBy(_.toString)

  def fsck(repair: Boolean = false): Seq[String] = inParallel(_.fsck(repair)).flatten

  /** Nightly maintenance, fanned out concurrently; one merged report
    * (wall-clock ≈ slowest shard — the `engine` smoke entry times it).
    * The ARTIFACT indexes (`annIndex`/`textIndex`, same params as the
    * single-engine maintain) are corpus-level, not per-shard, so their
    * probe → rebuild-if-uncertified → compact cycle runs exactly ONCE,
    * after the shard fan-out, and merges into the one report — the
    * sharded nightly covers everything in the same single call the
    * docs advertise as the cron entrypoint. */
  def maintain(maxFilesPerDay: Int = 2 * buckets, repair: Boolean = true,
               annIndex: Option[(String, org.apache.spark.sql.DataFrame)] = None,
               textIndex: Option[(String, org.apache.spark.sql.DataFrame)] = None): MaintenanceReport = {
    val reports = inParallel(_.maintain(maxFilesPerDay, repair))
    val artifacts = shards.head.maintainArtifacts(annIndex, textIndex, repair)
    MaintenanceReport(reports.flatMap(_.corrupt),
      reports.flatMap(_.compactedDays).distinct.sortBy(_.toString),
      reports.exists(_.reindexed), artifacts)
  }
}
