package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core.{Flags, Meas}
import graft.engine.{QueryInterval, ShardedEngine}

class ShardedEngineSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sharded engine routes by id, fans out and merges reads") {
    val eng = new ShardedEngine(spark, Seq(tmpDir("shard0"), tmpDir("shard1"), tmpDir("shard2")), buckets = 2)
    val ms = (0 until 30).map(i =>
      Meas(i.toLong, ts(f"2024-03-01 10:${i % 60}%02d:00"), i.toDouble, Flags.CLICK, i.toLong))
    eng.append(ms)

    // routing: each shard holds only ids ≡ shard index (mod 3)
    eng.shards.zipWithIndex.foreach { case (shard, i) =>
      val ids = shard.merged.select("id").collect().map(_.getLong(0))
      assert(ids.nonEmpty && ids.forall(_ % 3 == i), s"shard $i got ids ${ids.toSeq}")
    }

    // fan-out read covers everything, in order
    val all = eng.readInterval(QueryInterval(Seq.empty, 0L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")))
    assert(all.count() === 30)

    // routed read touches only the owning shards
    val some = eng.readInterval(QueryInterval(Seq(3L, 6L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")))
    assert(some.select("id").collect().map(_.getLong(0)).toSet === Set(3L, 6L))

    // current values across shards
    val cur = eng.currentValue(Seq(1L, 2L, 3L), 0L)
    assert(cur.count() === 3)

    // one-row-per-requested-id even for an id no shard owns: the
    // NO_DATA row survives the cross-shard merge
    val withMissing = eng.currentValue(Seq(1L, 999L), 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(withMissing.keySet === Set(1L, 999L))
    assert(withMissing(999L) === graft.core.Meas.NO_DATA)
    assert(withMissing(1L) !== graft.core.Meas.NO_DATA)

    // O6/O8 route to the owning shard (index-served there)
    assert(eng.minMaxTime(7L) === eng.shards(1).minMaxTime(7L))
    assert(eng.minMaxTime(7L).isDefined)
    val st = eng.stat(7L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st.getLong(1) === 1 && st.getDouble(6) === 7.0)

    // maintenance fans out
    assert(eng.fsck() === Seq.empty)
    eng.compact()
    assert(eng.readInterval(QueryInterval(Seq.empty, 0L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))).count() === 30)
  }

  test("sharded readTimePoint: as-of fan-out with real-over-NO_DATA merge") {
    val eng = new ShardedEngine(spark, Seq(tmpDir("tpshard0"), tmpDir("tpshard1")), buckets = 2)
    eng.append(Seq(
      Meas(2L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1), // shard 0
      Meas(2L, ts("2024-03-01 14:00:00"), 2.0, Flags.CLICK, 2),
      Meas(3L, ts("2024-03-01 11:00:00"), 3.0, Flags.CLICK, 3))) // shard 1
    import graft.engine.QueryTimePoint
    val tp = eng.readTimePoint(QueryTimePoint(Seq(2L, 3L, 999L), 0L, ts("2024-03-01 12:00:00")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(tp.keySet === Set(2L, 3L, 999L))
    assert(tp(2L).getDouble(2) === 1.0, "as-of 12:00 is the 10:00 row, not the 14:00 one")
    assert(tp(3L).getDouble(2) === 3.0)
    assert(tp(999L).getLong(3) === graft.core.Meas.NO_DATA)
    // catalog default (ids empty): one row per series across shards
    val all = eng.readTimePoint(QueryTimePoint(Seq.empty, 0L, ts("2024-03-02 00:00:00")))
    assert(all.collect().map(_.getLong(0)).toSet === Set(2L, 3L))
  }

  test("sharded per-id eraseOld touches only the owning shard") {
    val eng = new ShardedEngine(spark, Seq(tmpDir("eshard0"), tmpDir("eshard1")), buckets = 2)
    eng.append(Seq(
      Meas(2L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1), // shard 0
      Meas(3L, ts("2024-03-01 11:00:00"), 3.0, Flags.CLICK, 2))) // shard 1
    def snapshot(shard: Int): Map[String, Long] = {
      val dataDir = new java.io.File(s"${eng.shards(shard).path}/data/day=2024-03-01")
      dataDir.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val shard1Before = snapshot(1)
    val touched = eng.eraseOld(ts("2024-03-02 00:00:00"), Seq(2L))
    assert(touched === Seq("day=2024-03-01"), "only the owning shard's day is rewritten")
    assert(snapshot(1) === shard1Before, "the non-owning shard is untouched")
    assert(eng.currentValue(Seq(2L), 0L).head().getLong(3) === graft.core.Meas.NO_DATA)
    assert(eng.currentValue(Seq(3L), 0L).head().getDouble(2) === 3.0)
  }

  test("sharded compactDays compacts hosted days per shard; fragmentedDays unions") {
    val eng = new ShardedEngine(spark, Seq(tmpDir("cshard0"), tmpDir("cshard1")), buckets = 2)
    (1 to 4).foreach { k =>
      eng.append(Seq(
        Meas(2L, ts("2024-03-01 10:00:00"), k.toDouble, Flags.CLICK, k.toLong),
        Meas(3L, ts("2024-03-01 11:00:00"), k.toDouble, Flags.CLICK, (10 + k).toLong)))
    }
    val frag = eng.fragmentedDays(maxFiles = 3)
    assert(frag === Seq(java.sql.Date.valueOf("2024-03-01")))
    val before = eng.readInterval(QueryInterval(Seq.empty, 0L,
      ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))).collect().map(_.toSeq).toSet
    eng.compactDays(frag)
    assert(eng.fragmentedDays(maxFiles = 3) === Seq.empty)
    val after = eng.readInterval(QueryInterval(Seq.empty, 0L,
      ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))).collect().map(_.toSeq).toSet
    assert(after === before, "merge-on-read view unchanged by compaction")
  }

  test("routed scheme and cross-shard grid read") {
    val eng = new ShardedEngine(spark, Seq(tmpDir("gshard0"), tmpDir("gshard1")), buckets = 2)
    val idX = eng.addParam("grid.x")
    val idY = eng.addParam("grid.y")
    assert(eng.getParamId("grid.x") === Some(idX))
    assert(eng.ls().count() === 2)
    // each name registered on exactly one shard (disjoint catalogs)
    assert(eng.shards.map(_.ls().count()).sum === 2)

    eng.append(Seq(
      Meas(idX, ts("2024-03-05 09:30:00"), 5.0, Flags.CLICK, 1),
      Meas(idY, ts("2024-03-05 10:15:00"), 9.0, Flags.CLICK, 2)))
    val grid = eng.readGrid(ts("2024-03-05 10:00:00"), ts("2024-03-05 11:00:00"),
      stepSeconds = 3600L, maxStalenessSeconds = 3600L).collect()
    assert(grid.length === 4, "2 series x 2 grid points across shards")
    def cell(id: Long, t: String) =
      grid.find(r => r.getLong(0) == id && r.getTimestamp(1) == ts(t))
        .flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
    assert(cell(idX, "2024-03-05 10:00:00") === Some(5.0))
    assert(cell(idY, "2024-03-05 10:00:00") === None, "observation after the grid point")
    assert(cell(idY, "2024-03-05 11:00:00") === Some(9.0))
  }

  test("batched registration writes at most one scheme log file per shard") {
    val roots = Seq(tmpDir("bshard0"), tmpDir("bshard1"), tmpDir("bshard2"))
    val eng = new ShardedEngine(spark, roots, buckets = 2)
    val names = (0 until 10000).map(i => s"series.batch.$i")
    val ids = eng.addParams(names)
    assert(ids.size === 10000)
    assert(eng.ls().count() === 10000)
    // one GraftEngine.addParams call per owning shard = ≤ 1 parquet
    // part-file per shard log (the looped form wrote one file per name)
    roots.foreach { root =>
      val dir = new java.io.File(s"$root/_scheme")
      val parts = Option(dir.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
      assert(parts <= 1, s"shard $root wrote $parts scheme files for one batch")
    }
    // every id routes consistently: lookup agrees with content addressing
    names.take(100).foreach { n =>
      assert(eng.getParamId(n) === Some(graft.engine.GraftEngine.seriesId(n)))
    }
  }

  test("readGrid serves a legacy series whose catalog row sits on a non-owning shard") {
    val roots = Seq(tmpDir("fshard0"), tmpDir("fshard1"))
    // catalog row for id 42 lives ONLY on shard 1; id 42's data routes
    // to shard 0 (42 pmod 2 = 0). No addParam call ever adopts it — the
    // grid must still emit the series from its owning shard.
    spark.createDataFrame(Seq(("foreign.legacy", 42L))).toDF("name", "series_id")
      .write.parquet(s"${roots(1)}/_scheme")
    val eng = new ShardedEngine(spark, roots, buckets = 2)
    eng.append(Seq(Meas(42L, ts("2024-03-05 09:30:00"), 6.25, Flags.CLICK, 1)))
    val grid = eng.readGrid(ts("2024-03-05 10:00:00"), ts("2024-03-05 10:00:00"),
      stepSeconds = 3600L, maxStalenessSeconds = 3600L).collect()
    assert(grid.length === 1, "the legacy series emits exactly one grid row")
    assert(grid.head.getLong(0) === 42L && grid.head.getDouble(2) === 6.25)

    // and a registered series with NO data still emits its null grid row
    // from its owning shard (the contract the ownership filter used to break)
    spark.createDataFrame(Seq(("foreign.empty", 43L))).toDF("name", "series_id")
      .write.mode("append").parquet(s"${roots(0)}/_scheme") // 43 pmod 2 = 1: shard 0 is non-owning
    val grid2 = eng.readGrid(ts("2024-03-05 10:00:00"), ts("2024-03-05 10:00:00"),
      stepSeconds = 3600L, maxStalenessSeconds = 3600L).collect()
    assert(grid2.length === 2)
    val empty = grid2.find(_.getLong(0) === 43L).get
    assert(empty.isNullAt(2), "registered series with no data emits its null grid row")
  }

  test("routed addParam honors a legacy registration on whatever shard holds it") {
    val roots = Seq(tmpDir("lshard0"), tmpDir("lshard1"))
    // a legacy catalog row sits on a shard the content-addressed route
    // would NOT pick — registration must still find and keep it
    import graft.engine.GraftEngine
    val contentShard = (((GraftEngine.seriesId("legacy.name") % 2) + 2) % 2).toInt
    val legacyShard = 1 - contentShard
    spark.createDataFrame(Seq(("legacy.name", 42L))).toDF("name", "series_id")
      .write.parquet(s"${roots(legacyShard)}/_scheme")
    val eng = new ShardedEngine(spark, roots, buckets = 2)
    assert(eng.addParam("legacy.name") === 42L, "logged id wins over the content hash")
    assert(eng.getParamId("legacy.name") === Some(42L))
    assert(eng.ls().count() === 1, "adoption must not surface duplicate catalog rows")

    // catalog/data co-location: data for id 42 routes by id hash to
    // shard 0 — the catalog row started on shard 1, so without adoption
    // the grid would read the series as all-null from the wrong shard
    eng.append(Seq(Meas(42L, ts("2024-03-05 09:30:00"), 7.5, Flags.CLICK, 1)))
    val grid = eng.readGrid(ts("2024-03-05 10:00:00"), ts("2024-03-05 10:00:00"),
      stepSeconds = 3600L, maxStalenessSeconds = 3600L).collect()
    assert(grid.length === 1, "one grid row for the one registered series")
    assert(grid.head.getLong(0) === 42L && grid.head.getDouble(2) === 7.5,
      "the owning shard serves the legacy series' data at the grid point")
  }

  test("sharded MEMORY strategy: per-shard hot levels, reads merge them, flush drains") {
    val eng = new ShardedEngine(spark, Seq(tmpDir("hotshard0"), tmpDir("hotshard1")),
      buckets = 2, hotCapacity = 1000L)
    val ms = (0 until 20).map(i =>
      Meas(i % 4L, ts(f"2024-03-01 10:${i % 60}%02d:00"), i.toDouble, Flags.CLICK, i.toLong))
    eng.append(ms)
    assert(eng.hotSize === 20L, "rows held in the per-shard hot levels")
    assert(eng.shards.forall(_.hotSize > 0L), "both shards hold their routed rows")
    val q = QueryInterval(Seq.empty, 0L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))
    assert(eng.readInterval(q).count() === 20L, "reads see unflushed hot rows")
    eng.flush()
    assert(eng.hotSize === 0L)
    assert(eng.readInterval(q).count() === 20L, "flush drains to the durable stores")
  }

  test("sharded calculator / cursor / streaming parity with a single engine on the same data") {
    val sharded = new ShardedEngine(spark, Seq(tmpDir("parshard0"), tmpDir("parshard1")), buckets = 2)
    val single = new graft.engine.GraftEngine(spark, tmpDir("parsingle"), buckets = 2)
    val ms = (0 until 200).map(i =>
      Meas(i % 9L, ts(f"2024-03-01 ${10 + i % 8}%02d:${i % 60}%02d:00"), i * 0.5,
        Flags.CLICK, i.toLong))
    sharded.append(ms); single.append(ms)
    val q = QueryInterval(Seq.empty, 0L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))

    // O9: routed per-shard calculators union to the single-engine answer
    // (ids are disjoint across shards, so even the non-mergeable exact
    // percentiles agree — each id is computed whole on its owning shard)
    assert(sharded.calculator(q).collect().map(_.toSeq) ===
      single.calculator(q).collect().map(_.toSeq))
    val explicit = q.copy(ids = Seq(1L, 2L, 8L))
    assert(sharded.calculator(explicit, Seq("median", "count")).collect().map(_.toSeq) ===
      single.calculator(explicit, Seq("median", "count")).collect().map(_.toSeq))

    // O3/O7: cursor and push forms stream the routed interval read
    val viaCursor = sharded.intervalReader(q).map(_.seq).toSeq
    assert(viaCursor === single.readInterval(q).collect().map(_.getLong(4)).toSeq)
    var pushCount = 0
    sharded.foreach(q.copy(ids = Seq(3L)))(_ => pushCount += 1)
    assert(pushCount === single.readInterval(q.copy(ids = Seq(3L))).count())

    // O1 streaming: a routed micro-batch stream lands rows on owning shards
    val src = tmpDir("parstream-src")
    import spark.implicits._
    spark.createDataset(
      (1000 until 1030).map(i => Meas(i % 9L, ts("2024-03-02 08:00:00"), i.toDouble, 1L, i.toLong)))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    val stream = sharded.appendStream(
      spark.readStream.schema(graft.core.Meas.schema).parquet(src), tmpDir("parstream-ckpt"))
    try stream.processAllAvailable() finally stream.stop()
    val q2 = QueryInterval(Seq.empty, 0L, ts("2024-03-02 00:00:00"), ts("2024-03-03 00:00:00"))
    assert(sharded.readInterval(q2).count() === 9L, "streamed rows merged-on-read per (id,time)")
    sharded.shards.zipWithIndex.foreach { case (shard, i) =>
      val ids = shard.readInterval(q2).select("id").collect().map(_.getLong(0))
      assert(ids.forall(_ % 2 == i), s"streamed rows routed to owning shard $i")
    }
  }

  test("sharded maintain crons corpus-level artifact indexes exactly once") {
    import graft.extensions.AnnIndex
    val eng = new ShardedEngine(spark, Seq(tmpDir("mtart-s0"), tmpDir("mtart-s1")), buckets = 2)
    eng.append(Seq(Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1L),
      Meas(2L, ts("2024-03-01 10:00:00"), 2.0, Flags.CLICK, 2L)))
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val annDir = tmpDir("mtart-ann")
    AnnIndex.build(spark, raw, annDir)
    // corrupt one codes file — the nightly's one call must find it,
    // rebuild from the corpus, and re-certify
    java.nio.file.Files.write(
      new java.io.File(s"$annDir/codes/part-corrupt.parquet").toPath, "junk".getBytes)
    val report = eng.maintain(annIndex = Some((annDir, raw)))
    assert(report.artifacts.map(_.dir) === Seq(annDir), "one artifact report — not one per shard")
    assert(report.artifacts.head.corrupt.exists(_.contains("part-corrupt")))
    assert(report.artifacts.head.rebuilt, "uncertified index rebuilt from its corpus")
    assert(AnnIndex.usable(spark, annDir), "re-certified in the same nightly call")
    assert(AnnIndex.readCodes(spark, annDir).count() === raw.count())
    // idempotent second pass
    val again = eng.maintain(annIndex = Some((annDir, raw)))
    assert(again.artifacts.forall(a => a.corrupt.isEmpty && !a.rebuilt && !a.compacted))
  }

  test("sharded appendStream replay: a re-run micro-batch writes no parquet on any shard") {
    import spark.implicits._
    val roots = Seq(tmpDir("replay-s0"), tmpDir("replay-s1"))
    val eng = new ShardedEngine(spark, roots, buckets = 2)
    def dataFiles(): Seq[String] = roots.flatMap { r =>
      new java.io.File(s"$r/data").listFiles.filter(_.isDirectory).flatMap(_.listFiles)
        .filter(_.getName.endsWith(".parquet")).map(f => s"$r:${f.getName}:${f.length}")
    }.sorted
    val src = tmpDir("replay-src")
    spark.createDataset((0 until 10).map(i => Meas(i.toLong, ts("2024-03-01 10:00:00"), i.toDouble, 1L, i.toLong)))
      .toDF().coalesce(1).write.mode("append").parquet(src)
    val ckpt = tmpDir("replay-ckpt")
    def run(): Unit = {
      val q = eng.appendStream(spark.readStream.schema(Meas.schema).parquet(src), ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    run()
    val files = dataFiles()
    assert(roots.forall(r => files.exists(_.startsWith(s"$r:"))), "the batch landed on both shards")
    // a crash after the shards applied batch 0 but before Spark committed
    // it: the restart re-runs batch 0 with the same batchId
    val commit = new org.apache.hadoop.fs.Path(s"$ckpt/commits/0")
    assert(commit.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(commit, false))
    run()
    assert(dataFiles() === files, "the replayed micro-batch must not write parquet on any shard")
    val q = QueryInterval(Seq.empty, 0L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))
    assert(eng.readInterval(q).count() === 10L)
  }
}
