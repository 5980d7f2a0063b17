package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.core.{Flags, Meas}
import graft.engine.{GraftEngine, QueryInterval, QueryTimePoint}
import graft.sources.EventsSource

/** End-to-end spec of the embedded-engine facade: a dariadb user's
  * session (append → query → subscribe → maintain) against one store.
  */
class EngineSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def flagMatches(rowFlag: Long, queryFlag: Long) =
    queryFlag == 0L || (rowFlag & queryFlag) != 0L

  /** The interval answer computed on the driver from the whole-store
    * merge-on-read view. */
  private def intervalReference(engine: GraftEngine, q: QueryInterval): Seq[Seq[Any]] =
    FacadeProbe.merged(engine)
      .filter(m => q.ids.contains(m.id) && !m.time.before(q.from) && !m.time.after(q.to)
        && flagMatches(m.flag, q.flag))
      .sortBy(m => (m.id, m.time.getTime))
      .map(m => Seq(m.id, m.time, m.value, m.flag, m.seq))

  /** The as-of answer computed on the driver from the whole-store
    * merge-on-read view: per requested (or, catalog-wide, stored) id,
    * the latest matching row at or before the timepoint, else NO_DATA. */
  private def asOfReference(engine: GraftEngine, q: QueryTimePoint): Seq[Seq[Any]] = {
    val all = FacadeProbe.merged(engine)
    (if (q.ids.isEmpty) all.map(_.id) else q.ids).distinct.sorted.map { id =>
      all.filter(m => m.id == id && !m.time.after(q.timePoint) && flagMatches(m.flag, q.flag))
        .sortBy(_.time.getTime).lastOption
        .fold(Seq[Any](id, null, null, Meas.NO_DATA))(m => Seq(m.id, m.time, m.value, m.flag))
    }
  }

  test("full engine lifecycle: append, interval/point reads, stat, scheme, retention, compaction") {
    val engine = new GraftEngine(spark, tmpDir("graft-engine"), buckets = 4)

    // O14 scheme
    val idA = engine.addParam("host1.cpu.load")
    val idB = engine.addParam("host1.mem.free")
    assert(idA !== idB)
    assert(engine.addParam("host1.cpu.load") === idA, "addParam is idempotent")
    assert(engine.getParamId("host1.mem.free") === Some(idB))
    assert(engine.ls().count() === 2)

    // O1 append (two batches, second rewrites one point with fresher seq)
    engine.append(Seq(
      Meas(idA, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(idA, ts("2024-03-01 11:00:00"), 2.0, Flags.CLICK, 2),
      Meas(idA, ts("2024-03-02 10:00:00"), 3.0, Flags.ERROR, 3),
      Meas(idB, ts("2024-03-01 10:30:00"), 10.0, Flags.CLICK, 4)))
    engine.append(Seq(
      Meas(idA, ts("2024-03-01 11:00:00"), 20.0, Flags.CLICK, 5))) // fresher rewrite

    // O2 merge-on-read: rewrite wins, no duplicate keys
    val all = engine.readInterval(QueryInterval(Seq(idA), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00")))
    assert(all.count() === 3)
    assert(all.filter(col("time") === ts("2024-03-01 11:00:00")).head().getDouble(2) === 20.0)

    // flag filtering: any-shared-bit
    val errs = engine.readInterval(QueryInterval(Seq(idA), Flags.ERROR, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00")))
    assert(errs.count() === 1)

    // O3 cursor
    val cursor = engine.intervalReader(QueryInterval(Seq(idA), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00")))
    val times = cursor.map(_.time).toList
    assert(times === times.sorted, "cursor is time-ordered")

    // O4 as-of read + _NO_DATA
    val tp = engine.readTimePoint(QueryTimePoint(Seq(idA, idB, 999L), 0L, ts("2024-03-01 10:45:00")))
    assert(tp.count() === 3)
    val rows = tp.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(idA).getDouble(2) === 1.0, "latest at-or-before 10:45 is the 10:00 point")
    assert(rows(999L).getLong(3) === Meas.NO_DATA)

    // O5 current values
    val cur = engine.currentValue(Seq(idA), 0L)
    assert(cur.head().getDouble(2) === 3.0)

    // O6 min/max time
    val Some((mn, mx)) = engine.minMaxTime(idA)
    assert(mn === ts("2024-03-01 10:00:00") && mx === ts("2024-03-02 10:00:00"))

    // O8 stat
    val st = engine.stat(idA, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00")).head()
    assert(st.getLong(1) === 3 && st.getDouble(6) === 24.0) // cnt, sum

    // O9 calculator: named-function selection like FunctionFactory
    val calc = engine.calculator(
      QueryInterval(Seq(idA), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00")),
      Seq("average", "maximum", "count"))
    assert(calc.columns.toSeq === Seq("id", "average", "maximum", "cnt"))
    val c0 = calc.head()
    assert(c0.getDouble(2) === 20.0 && c0.getLong(3) === 3)
    intercept[IllegalArgumentException] {
      engine.calculator(QueryInterval(Seq(idA), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00")),
        Seq("no_such_function"))
    }

    // O13 fsck clean store
    assert(engine.fsck() === Seq.empty)

    // O11 retention: drop the 2024-03-01 partition
    val dropped = engine.eraseOld(ts("2024-03-02 00:00:00"))
    assert(dropped === Seq("day=2024-03-01"))
    assert(engine.merged.count() === 1)

    // O12 compact rewrites in place and preserves content
    engine.append(Seq(Meas(idA, ts("2024-03-02 10:00:00"), 99.0, Flags.ERROR, 100)))
    engine.compact()
    val after = engine.merged.collect()
    assert(after.length === 1 && after.head.getDouble(2) === 99.0)
  }

  test("compact-swap crash recovery: a live path left aside-only is restored on next read") {
    val dir = tmpDir("graft-swap")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    val id = engine.addParam("swap.series")
    engine.append(Seq(Meas(id, ts("2024-03-01 10:00:00"), 5.0, Flags.CLICK, 1)))

    // simulate a compactScheme() crash between rename(_scheme → .old)
    // and rename(.compacting → _scheme): the aside copy is the only copy
    val scheme = new java.io.File(s"$dir/_scheme")
    assert(scheme.renameTo(new java.io.File(s"$dir/_scheme.old")))
    // ls() must recover the catalog, NOT silently read it as empty
    assert(engine.ls().count() === 1)
    assert(scheme.exists, "recovery restored the live scheme path")
    // a fresh engine (no memo) still resolves the logged id after recovery
    assert(new GraftEngine(spark, dir, buckets = 2).getParamId("swap.series") === Some(id))

    // same crash window for the data compact(): data → data.old only
    val data = new java.io.File(s"$dir/data")
    assert(data.renameTo(new java.io.File(s"$dir/data.old")))
    assert(engine.merged.count() === 1, "read path recovered the aside data copy")
    assert(data.exists)
    // and compact() itself starts with the recovery preamble
    assert(data.renameTo(new java.io.File(s"$dir/data.old")))
    engine.compact()
    assert(engine.merged.count() === 1)
  }

  test("fsck detects and repairs a corrupt data file") {
    val dir = tmpDir("graft-fsck")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1)))
    // plant a corrupt file inside the day partition
    val day = new java.io.File(s"$dir/data/day=2024-03-01")
    val corrupt = new java.io.File(day, "part-corrupt.parquet")
    java.nio.file.Files.write(corrupt.toPath, "not parquet at all".getBytes)
    val bad = engine.fsck(repair = false)
    assert(bad.exists(_.contains("part-corrupt")), s"fsck must flag the corrupt file, got $bad")
    engine.fsck(repair = true)
    assert(!corrupt.exists, "repair must delete the corrupt file")
    assert(engine.fsck() === Seq.empty)
    assert(engine.merged.count() === 1)

    // repairing a REAL data file changes the merged store — the stats
    // index must be uncertified (else index-served stats keep counting
    // the dropped rows) and a reindex rebuilds from the survivors
    val dir2 = tmpDir("graft-fsck-real")
    val engine2 = new GraftEngine(spark, dir2, buckets = 1)
    engine2.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1),
      Meas(1L, ts("2024-03-02 10:00:00"), 2.0, 1L, 2)))
    new java.io.File(s"$dir2/data/day=2024-03-01").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.write(f.toPath, "ruined".getBytes))
    assert(engine2.fsck(repair = true).nonEmpty)
    assert(!graft.sources.TsdbStorage.statsUsable(spark, s"$dir2/_stats"),
      "content-changing repair must uncertify the index")
    engine2.reindex()
    val st = engine2.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00")).head()
    assert(st.getLong(1) === 1L && st.getDouble(6) === 2.0,
      "rebuilt index reflects only the surviving rows (cnt=1, sum=2.0)")
  }

  test("readGrid: staleness-bounded forward fill, catalog-driven grid, out-of-horizon days pruned") {
    val dir = tmpDir("graft-grid")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    val idA = engine.addParam("grid.a")
    val idB = engine.addParam("grid.b") // registered, no data → null grid rows
    engine.append(Seq(
      Meas(idA, ts("2024-03-01 10:00:00"), 1.0, 1L, 1),   // far outside the horizon
      Meas(idA, ts("2024-03-05 09:30:00"), 5.0, 1L, 2),
      Meas(idA, ts("2024-03-05 11:10:00"), 7.0, 1L, 3)))

    // horizon = 1h back from 10:00 → scan range [09:00, 13:00]: the
    // 2024-03-01 day partition is pruned. Prove it the hard way: corrupt
    // that partition on disk — a pruned read must still succeed.
    val day1 = new java.io.File(s"$dir/data/day=2024-03-01")
    day1.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => java.nio.file.Files.write(f.toPath, "ruined".getBytes))

    val out = engine.readGrid(ts("2024-03-05 10:00:00"), ts("2024-03-05 13:00:00"),
      stepSeconds = 3600L, maxStalenessSeconds = 3600L)
    val rows = out.collect()
    assert(rows.length === 8, "2 catalog series x 4 grid points")

    def cell(id: Long, t: String): Option[Double] =
      rows.find(r => r.getLong(0) == id && r.getTimestamp(1) == ts(t))
        .flatMap(r => Option(r.get(2)).map(_.asInstanceOf[Double]))
    assert(cell(idA, "2024-03-05 10:00:00") === Some(5.0), "09:30 obs within 1h staleness")
    assert(cell(idA, "2024-03-05 11:00:00") === None, "09:30 obs now 90min stale → null")
    assert(cell(idA, "2024-03-05 12:00:00") === Some(7.0), "11:10 obs within 1h")
    assert(cell(idA, "2024-03-05 13:00:00") === None, "11:10 obs now 110min stale → null")
    assert((0 to 3).forall(h => cell(idB, s"2024-03-05 1$h:00:00") === None),
      "registered series without data emits null grid rows")

    // age tracks the supplying observation
    val age = rows.find(r => r.getLong(0) == idA && r.getTimestamp(1) == ts("2024-03-05 10:00:00")).get
    assert(age.getLong(3) === 30L * 60L * 1000000L, "fill_age_us = 30 minutes")
  }

  test("subscription over the engine store delivers appended measurements") {
    val dir = tmpDir("graft-engine-sub")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(7L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(8L, ts("2024-03-01 10:00:00"), 2.0, Flags.ERROR, 2)))
    val q = engine.subscribe(Seq(7L), 0L, "engine_sub", tmpDir("graft-engine-sub-ckpt"))
    q.processAllAvailable()
    assert(spark.sql("SELECT count(*) FROM engine_sub").head().getLong(0) === 1)
    engine.append(Seq(Meas(7L, ts("2024-03-01 11:00:00"), 3.0, Flags.CLICK, 3)))
    q.processAllAvailable()
    q.stop()
    assert(spark.sql("SELECT count(*) FROM engine_sub").head().getLong(0) === 2)
  }

  test("scheme is an O(1) append-only log: 10^4 names register without quadratic driver time") {
    val dir = tmpDir("graft-scheme-scale")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    val names = (0 until 10000).map(i => s"host$i.cpu.load")
    val t0 = System.nanoTime()
    val ids = engine.addParams(names)
    // a further 100 single-call registrations: each is one tiny append,
    // never a read-modify-write of the 10^4-row catalog
    val extra = (0 until 100).map(i => engine.addParam(s"late$i.mem.free"))
    val elapsedSec = (System.nanoTime() - t0) / 1e9
    assert(ids.size === 10000 && extra.distinct.size === 100)
    assert(engine.ls().count() === 10100)
    // re-registration (same or new engine instance) is idempotent
    assert(engine.addParam("host7.cpu.load") === ids("host7.cpu.load"))
    val engine2 = new GraftEngine(spark, dir, buckets = 2)
    assert(engine2.addParam("host7.cpu.load") === ids("host7.cpu.load"))
    assert(engine2.ls().count() === 10100, "duplicate registration must not grow the dedup view")
    assert(engine2.getParamId("late42.mem.free") === Some(GraftEngine.seriesId("late42.mem.free")))
    assert(engine2.getParamId("never.registered") === None)
    // content-addressed ids are collision-free over this catalog
    assert((ids.values.toSet ++ extra).size === 10100)
    // generous wall-clock bound: the round-2 O(catalog) rewrite was
    // quadratic (~10^8 row-writes for this workload); the log is linear
    assert(elapsedSec < 60.0, s"catalog registration took ${elapsedSec}s")

    // compact() repacks the log (100+ per-call files) into one file
    engine2.compact()
    val schemeFiles = new java.io.File(s"$dir/_scheme").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(schemeFiles === 1, s"scheme log must repack to one file, found $schemeFiles")
    assert(engine2.ls().count() === 10100, "repack must preserve the catalog")
  }

  test("addParam honors ids already in the log, whatever scheme assigned them") {
    val dir = tmpDir("graft-scheme-legacy")
    // a catalog written by an engine version with sequential ids
    spark.createDataFrame(Seq(("legacy.series", 42L))).toDF("name", "series_id")
      .write.parquet(s"$dir/_scheme")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    assert(engine.addParam("legacy.series") === 42L,
      "re-registration must return the LOGGED id, not a conflicting content-addressed one")
    assert(engine.ls().count() === 1, "no duplicate row for the legacy name")
    assert(engine.getParamId("legacy.series") === Some(42L))
    // new names still get content-addressed ids
    assert(engine.addParam("new.series") === GraftEngine.seriesId("new.series"))
  }

  test("per-id eraseOld with a mid-day cutoff erases cutoff-day rows before the exact time") {
    val dir = tmpDir("graft-erase-midday")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-03 06:00:00"), 1.0, 1L, 1),
      Meas(1L, ts("2024-03-03 18:00:00"), 2.0, 1L, 2),
      Meas(2L, ts("2024-03-03 06:00:00"), 3.0, 1L, 3)))
    engine.eraseOld(ts("2024-03-03 12:00:00"), Seq(1L))
    val left = engine.merged.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(left === Set(
      (1L, ts("2024-03-03 18:00:00"), 2.0),
      (2L, ts("2024-03-03 06:00:00"), 3.0)),
      "the 06:00 row of id 1 is gone; id 1 after the cutoff and id 2 survive")
  }

  test("per-id eraseOld rewrites only affected days; other series and newer rows survive") {
    val dir = tmpDir("graft-erase-id")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1),
      Meas(1L, ts("2024-03-02 10:00:00"), 2.0, 1L, 2),
      Meas(2L, ts("2024-03-01 10:00:00"), 3.0, 1L, 3),
      Meas(2L, ts("2024-03-03 10:00:00"), 4.0, 1L, 4)))
    val touched = engine.eraseOld(ts("2024-03-03 00:00:00"), Seq(1L))
    assert(touched.sorted === Seq("day=2024-03-01", "day=2024-03-02"))
    val left = engine.merged.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(left === Set(
      (2L, ts("2024-03-01 10:00:00"), 3.0),
      (2L, ts("2024-03-03 10:00:00"), 4.0)))
    // a day emptied by the erase is deleted; a day with survivors stays
    assert(!new java.io.File(s"$dir/data/day=2024-03-02").exists)
    assert(new java.io.File(s"$dir/data/day=2024-03-01").exists)
    // the stats index was refreshed for the rewritten days and stays exact
    assert(engine.minMaxTime(1L) === None)
    val st = engine.stat(2L, ts("2024-03-01 00:00:00"), ts("2024-03-04 00:00:00")).head()
    assert(st.getLong(1) === 2 && st.getDouble(6) === 7.0)
  }

  test("per-id eraseOld prunes via the stats index: days without the ids are byte-identical") {
    val dir = tmpDir("graft-erase-pruned")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    // id 1 lives on five days; id 2 lived exactly one day in the middle
    engine.append((1 to 5).map(d =>
      Meas(1L, ts(f"2024-03-0$d 10:00:00"), d.toDouble, 1L, d.toLong)) :+
      Meas(2L, ts("2024-03-03 11:00:00"), 30.0, 1L, 99))

    def snapshot(day: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$dir/data/day=2024-03-0$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    }
    val before = Seq("1", "2", "4", "5").map(d => d -> snapshot(d)).toMap

    // erase id 2's whole history: only its one day may be rewritten
    val touched = engine.eraseOld(ts("2024-03-06 00:00:00"), Seq(2L))
    assert(touched === Seq("day=2024-03-03"),
      "index pruning must restrict the rewrite to the days holding the id")
    Seq("1", "2", "4", "5").foreach { d =>
      assert(snapshot(d) === before(d), s"day 2024-03-0$d files must be byte-identical")
    }
    // semantics unchanged: id 2 gone, id 1 intact, index stays exact
    assert(engine.minMaxTime(2L) === None)
    val st = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-06 00:00:00")).head()
    assert(st.getLong(1) === 5 && st.getDouble(6) === 15.0)

    // a second erase for the same id finds no erasable rows: zero days touched
    assert(engine.eraseOld(ts("2024-03-06 00:00:00"), Seq(2L)) === Seq.empty)

    // min_time refinement: a mid-day cutoff BEFORE the id's first row on
    // the cutoff day touches nothing (no erasable row exists)
    assert(engine.eraseOld(ts("2024-03-05 09:00:00"), Seq(1L)).sorted
      === Seq("day=2024-03-01", "day=2024-03-02", "day=2024-03-03", "day=2024-03-04"),
      "cutoff-day partition skipped when the id's min_time there is after the cutoff")
  }

  test("index-served readInterval ≡ scan path: resident-day pruning, flags, rewrites") {
    val dir = tmpDir("graft-ri-indexed")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(1L, ts("2024-03-05 10:00:00"), 2.0, Flags.ERROR, 2),
      Meas(2L, ts("2024-03-03 10:00:00"), 3.0, Flags.CLICK, 3)))
    engine.append(Seq( // fresher rewrite of the day-5 key
      Meas(1L, ts("2024-03-05 10:00:00"), 20.0, Flags.ERROR, 4)))

    // the index answer (its lookup observed), the scan answer; the index
    // answer must also equal the whole-store merged view's
    def both(q: QueryInterval): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val (indexed, qes) = FacadeProbe.executions(spark)(rows(engine.readInterval(q)))
      assert(qes.exists(FacadeProbe.reads(_, "_stats")), s"the index answered $q")
      assert(indexed === intervalReference(engine, q), s"index path vs merged view for $q")
      (indexed, rows(engine.readIntervalScan(q)))
    }

    // wide interval, one sparse id: indexed ≡ scan, rewrite wins
    val qWide = QueryInterval(Seq(1L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-10 00:00:00"))
    val (iW, sW) = both(qWide)
    assert(iW === sW && iW.size === 2)
    assert(iW.last(2) === 20.0, "freshest seq wins across the indexed day scan")
    // flag filtering applies after the day pruning
    val (iF, sF) = both(qWide.copy(flag = Flags.ERROR))
    assert(iF === sF && iF.size === 1)
    // interval that misses the id's resident days entirely: empty, right schema
    val qMiss = QueryInterval(Seq(1L), 0L, ts("2024-03-02 00:00:00"), ts("2024-03-04 00:00:00"))
    val (iM, sM) = both(qMiss)
    assert(iM === sM && iM.isEmpty)
    assert(engine.intervalReader(qMiss).toList === Nil, "cursor path survives the empty indexed read")
    // a staled index falls back to the scan path
    graft.sources.TsdbStorage.markStatsOutOfSync(spark, s"$dir/_stats")
    assert(engine.readInterval(qWide).collect().toSeq.map(_.toSeq) === sW)
  }

  test("index-served readTimePoint ≡ scan path: boundary days, NO_DATA, rewrites") {
    val dir = tmpDir("graft-tp-indexed")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1),
      Meas(1L, ts("2024-03-03 09:00:00"), 2.0, 1L, 2),
      Meas(1L, ts("2024-03-03 18:00:00"), 3.0, 1L, 3),
      Meas(2L, ts("2024-03-01 08:00:00"), 9.0, 1L, 4)))
    engine.append(Seq( // fresher-seq rewrite of an existing key
      Meas(1L, ts("2024-03-03 09:00:00"), 20.0, 1L, 5)))

    // the index answer (its lookup observed), the scan answer; the index
    // answer must also equal the whole-store merged view's
    def both(q: QueryTimePoint): (Seq[Seq[Any]], Seq[Seq[Any]]) = {
      val (indexed, qes) = FacadeProbe.executions(spark)(rows(engine.readTimePoint(q)))
      assert(qes.exists(FacadeProbe.reads(_, "_stats")), s"the index answered $q")
      assert(indexed === asOfReference(engine, q), s"index path vs merged view for $q")
      (indexed, rows(engine.readTimePointScan(q)))
    }
    // mid-day timepoint BEFORE the cutoff day's first row: the index
    // must fall back to the previous resident day, not return NO_DATA
    val qEarly = QueryTimePoint(Seq(1L, 2L, 999L), 0L, ts("2024-03-03 08:00:00"))
    val (iEarly, sEarly) = both(qEarly)
    assert(iEarly === sEarly)
    assert(iEarly.find(_.head == 1L).get(2) === 1.0, "day-3 rows are all after 08:00 → day-1 row answers")
    assert(iEarly.find(_.head == 999L).get(3) === Meas.NO_DATA)
    // mid-day timepoint between the cutoff day's rows: rewrite wins
    val qMid = QueryTimePoint(Seq.empty, 0L, ts("2024-03-03 12:00:00"))
    val (iMid, sMid) = both(qMid)
    assert(iMid === sMid)
    assert(iMid.find(_.head == 1L).get(2) === 20.0, "freshest seq at 09:00 wins on the scanned day")
    // timepoint before ANY data: every requested id answers NO_DATA
    val qNone = QueryTimePoint(Seq(1L, 2L), 0L, ts("2024-02-01 00:00:00"))
    val (iNone, sNone) = both(qNone)
    assert(iNone === sNone && iNone.forall(_(3) == Meas.NO_DATA))
    // a staled index forces the scan path (same result, no index read)
    graft.sources.TsdbStorage.markStatsOutOfSync(spark, s"$dir/_stats")
    assert(engine.readTimePoint(qMid).collect().toSeq.map(_.toSeq) === sMid)
  }

  test("flag filters apply after the freshness merge: a superseded version never answers") {
    val dir = tmpDir("graft-flag-merge")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(1L, ts("2024-03-02 10:00:00"), 2.0, Flags.CLICK, 2)))
    engine.append(Seq( // fresher version of the day-2 key; its flag no longer matches CLICK
      Meas(1L, ts("2024-03-02 10:00:00"), 20.0, Flags.ERROR, 3)))

    val qi = QueryInterval(Seq(1L), Flags.CLICK, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00"))
    val clickRow = Seq(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1L)
    assert(rows(engine.readInterval(qi)) === Seq(clickRow), "index path")
    assert(rows(engine.readIntervalScan(qi)) === Seq(clickRow), "scan path")

    val tp = ts("2024-03-03 00:00:00")
    val asOfClick = Seq(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK)
    for (ids <- Seq(Seq(1L), Seq.empty[Long])) {
      val q = QueryTimePoint(ids, Flags.CLICK, tp)
      assert(rows(engine.readTimePoint(q)) === Seq(asOfClick), s"facade, ids=$ids")
      assert(rows(engine.readTimePointScan(q)) === Seq(asOfClick), s"scan path, ids=$ids")
    }
    // flag 0 (index path, no merge on the raw rows): the fresher version answers
    assert(rows(engine.readTimePoint(QueryTimePoint(Seq(1L), 0L, tp)))
      === Seq(Seq(1L, ts("2024-03-02 10:00:00"), 20.0, Flags.ERROR)))
  }

  test("as-of reads answer one row per distinct requested id on every path") {
    val dirs = Seq("a", "b").map(s => tmpDir(s"graft-dup-ids-$s"))
    val engine = new GraftEngine(spark, tmpDir("graft-dup-ids"), buckets = 2)
    val sharded = new graft.engine.ShardedEngine(spark, dirs, buckets = 2)
    val batch = Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(2L, ts("2024-03-02 10:00:00"), 2.0, Flags.ERROR, 2))
    engine.append(batch)
    sharded.append(batch)

    val ids = Seq(2L, 1L, 999L, 2L, 999L, 1L)
    val tp = ts("2024-03-05 00:00:00")
    val expected = Seq(
      Seq(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK),
      Seq(2L, ts("2024-03-02 10:00:00"), 2.0, Flags.ERROR),
      Seq(999L, null, null, Meas.NO_DATA))
    assert(rows(engine.readTimePoint(QueryTimePoint(ids, 0L, tp))) === expected, "index path")
    assert(rows(engine.readTimePointScan(QueryTimePoint(ids, 0L, tp))) === expected, "scan path")
    assert(rows(engine.currentValue(ids, 0L)) === expected, "currentValue")
    assert(rows(sharded.readTimePoint(QueryTimePoint(ids, 0L, tp))) === expected, "sharded")
    assert(rows(engine.readTimePoint(QueryTimePoint(ids, Flags.ERROR, tp))).map(_.head)
      === Seq(1L, 2L, 999L), "flagged (scan) path")
  }

  /** Rows with every double as its string, so NaN equals NaN and -0.0
    * differs from 0.0. */
  private def exact(rs: Seq[Seq[Any]]): Seq[Seq[Any]] =
    rs.map(_.map { case d: Double => java.lang.Double.toString(d); case v => v })

  /** The current values of `ids` (all series when empty), served from
    * the latest-value map: the call that (re)builds the map reads
    * `_stats` and never `data`, a repeated call runs no query execution,
    * and the answer equals the scan path's and the merged view's. */
  private def mapServed(engine: GraftEngine, ids: Seq[Long]): Seq[Seq[Any]] = {
    val (_, build) = FacadeProbe.executions(spark)(engine.currentValue(ids, 0L))
    assert(build.forall(qe => FacadeProbe.reads(qe, "_stats") && !FacadeProbe.reads(qe, "data")),
      s"currentValue($ids) reads the index only")
    val (df, qes) = FacadeProbe.executions(spark)(engine.currentValue(ids, 0L))
    assert(qes.isEmpty, s"a repeated currentValue($ids) ran ${qes.size} queries")
    val served = rows(df)
    val q = QueryTimePoint(ids, 0L, Meas.TIME_MAX)
    assert(exact(served) === exact(asOfReference(engine, q)), s"map vs merged view for $ids")
    assert(exact(served) === exact(rows(engine.readTimePointScan(q))), s"map vs scan path for $ids")
    served
  }

  test("latest-value map ≡ scan ≡ merged view: in and out of order, rewrites, compact, retention, NaN, -0.0") {
    val engine = new GraftEngine(spark, tmpDir("graft-latest-map"), buckets = 2)
    val ids = Seq(1L, 2L, 3L, 4L, 5L, 999L, 2L)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(1L, ts("2024-03-02 10:00:00"), 2.0, Flags.ERROR, 2),
      Meas(2L, ts("2024-03-01 12:00:00"), 3.0, Flags.CLICK, 3),
      Meas(3L, ts("2024-03-02 08:00:00"), 4.0, Flags.SIGNUP, 4),
      Meas(3L, ts("2024-03-02 08:00:00"), 4.5, Flags.CLICK, 5), // fresher seq at 3's max_time, same batch
      Meas(4L, ts("2024-03-01 09:00:00"), 5.0, 1L, 6),
      Meas(4L, ts("2024-03-02 09:00:00"), Double.NaN, 1L, 7),
      Meas(5L, ts("2024-03-02 11:00:00"), -0.0, 2L, 8)))
    val first = mapServed(engine, ids)
    assert(first.map(_.head) === Seq(1L, 2L, 3L, 4L, 5L, 999L), "one row per distinct id, sorted")
    assert(exact(first).map(r => r.head -> r(2)).toMap ===
      Map(1L -> "2.0", 2L -> "3.0", 3L -> "4.5", 4L -> "NaN", 5L -> "-0.0", 999L -> null))
    assert(first.last(3) === Meas.NO_DATA)
    assert(mapServed(engine, Nil).map(_.head) === Seq(1L, 2L, 3L, 4L, 5L), "catalog-wide: every indexed series")
    // any timepoint at or after every latest time is the same answer, with no query
    val (later, qes) = FacadeProbe.executions(spark)(
      engine.readTimePoint(QueryTimePoint(ids, 0L, ts("2024-03-05 00:00:00"))))
    assert(qes.isEmpty && exact(rows(later)) === exact(first))

    // in order: a new latest day for 1; out of order: an older row for 2
    engine.append(Seq(
      Meas(1L, ts("2024-03-03 10:00:00"), 6.0, Flags.CLICK, 9),
      Meas(2L, ts("2024-03-01 06:00:00"), 7.0, Flags.ERROR, 10)))
    val appended = mapServed(engine, ids)
    assert(appended.find(_.head == 1L).get(2) === 6.0 && appended.find(_.head == 2L).get(2) === 3.0)
    // stored days re-read: a later row inside 2's day, a fresher seq at 3's max_time
    engine.append(Seq(
      Meas(2L, ts("2024-03-01 13:00:00"), 8.0, Flags.CLICK, 11),
      Meas(3L, ts("2024-03-02 08:00:00"), 40.0, Flags.ERROR, 12)))
    val rewritten = mapServed(engine, ids)
    assert(rewritten.find(_.head == 2L).get.slice(2, 4) === Seq(8.0, Flags.CLICK))
    assert(rewritten.find(_.head == 3L).get.slice(2, 4) === Seq(40.0, Flags.ERROR))
    engine.compact()
    assert(exact(mapServed(engine, ids)) === exact(rewritten))
    mapServed(engine, Nil)
    // per-id retention erases series 5: NO_DATA, and it leaves the catalog-wide answer
    engine.eraseOld(ts("2024-03-04 00:00:00"), Seq(5L))
    assert(mapServed(engine, ids).find(_.head == 5L).get(3) === Meas.NO_DATA)
    assert(!mapServed(engine, Nil).exists(_.head == 5L))
    // whole-store retention drops day 1, which held all of series 2
    engine.eraseOld(ts("2024-03-02 00:00:00"))
    assert(mapServed(engine, ids).find(_.head == 2L).get(3) === Meas.NO_DATA)
    assert(mapServed(engine, Nil).map(_.head) === Seq(1L, 3L, 4L))
  }

  test("an append from a second engine instance between two currentValue calls is seen by the second") {
    val dir = tmpDir("graft-latest-two")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1)))
    assert(mapServed(engine, Seq(1L)).head(2) === 1.0)
    new GraftEngine(spark, dir, buckets = 2).append(Seq(Meas(1L, ts("2024-03-01 11:00:00"), 2.0, 1L, 2)))
    assert(mapServed(engine, Seq(1L)).head(2) === 2.0)
  }

  test("flag ≠ 0, unflushed hot rows and a timepoint before a latest time are not served from the map") {
    val dir = tmpDir("graft-latest-bypass")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(1L, ts("2024-03-02 10:00:00"), 2.0, Flags.ERROR, 2),
      Meas(2L, ts("2024-03-02 08:00:00"), 3.0, Flags.CLICK, 3)))
    mapServed(engine, Seq(1L, 2L)) // the map is built and cached
    def ran(eng: GraftEngine, q: QueryTimePoint): Seq[org.apache.spark.sql.execution.QueryExecution] = {
      val (got, qes) = FacadeProbe.executions(spark)(rows(eng.readTimePoint(q)))
      assert(got === asOfReference(eng, q), s"$q")
      assert(qes.exists(FacadeProbe.reads(_, "data")), s"$q ran its data query")
      qes
    }
    // a timepoint before series 1's latest time: the resident-day lookup, then the data query
    assert(ran(engine, QueryTimePoint(Seq(1L, 2L), 0L, ts("2024-03-02 09:00:00")))
      .exists(FacadeProbe.reads(_, "_stats")), "the resident-day lookup ran")
    // flag ≠ 0: the flagged as-of query, which has no index lookup
    ran(engine, QueryTimePoint(Seq(1L, 2L), Flags.CLICK, Meas.TIME_MAX))
    // unflushed MEMORY rows: the index covers only the durable level
    val hot = new GraftEngine(spark, dir, buckets = 2, hotCapacity = 1000L)
    hot.append(Seq(Meas(2L, ts("2024-03-02 12:00:00"), 30.0, Flags.CLICK, 4)))
    ran(hot, QueryTimePoint(Seq(1L, 2L), 0L, Meas.TIME_MAX))
    assert(rows(hot.currentValue(Seq(2L), 0L)).head(2) === 30.0)
  }

  test("an index certified before last values were indexed reads through the scan path until maintain()") {
    val dir = tmpDir("graft-latest-legacy")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1),
      Meas(2L, ts("2024-03-02 10:00:00"), 2.0, 1L, 2)))
    val expected = asOfReference(engine, QueryTimePoint(Seq(1L, 2L), 0L, Meas.TIME_MAX))
    // the store as the earlier format left it: index rows without
    // last_value / last_flag, certified by a bare token
    val stats = new org.apache.hadoop.fs.Path(s"$dir/_stats")
    val fs = stats.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(tmpDir("graft-legacy-stats"), "stats")
    spark.read.parquet(stats.toString).drop("last_value", "last_flag")
      .write.partitionBy("day").parquet(staged.toString)
    fs.delete(stats, true)
    fs.rename(staged, stats)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$stats/_SYNCED"),
      java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    assert(!graft.sources.TsdbStorage.statsUsable(spark, stats.toString))

    val (got, qes) = FacadeProbe.executions(spark)(rows(engine.currentValue(Seq(1L, 2L), 0L)))
    assert(got === expected)
    assert(qes.nonEmpty && !qes.exists(FacadeProbe.reads(_, "_stats")), "the scan path answered")
    assert(engine.maintain().reindexed, "maintain() rebuilds the earlier-format index")
    assert(mapServed(engine, Seq(1L, 2L)) === expected)
  }

  test("building readGrid's DataFrame runs no Spark job") {
    val engine = new GraftEngine(spark, tmpDir("graft-grid-jobs"), buckets = 2)
    val id = engine.addParam("grid.jobs.a")
    engine.append(Seq(Meas(id, ts("2024-03-01 10:00:00"), 1.0, 1L, 1)))
    val (grid, jobs) = FacadeProbe.jobs(spark)(
      engine.readGrid(ts("2024-03-01 09:00:00"), ts("2024-03-01 12:00:00"), 3600L, 7200L))
    assert(jobs === 0, "building the grid query ran a Spark job")
    assert(grid.count() === 4)
  }

  test("index lookups survive concurrent appends: an untouched series reads its fixed answer") {
    val dir = tmpDir("graft-concurrent-lookup")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03")
    engine.append(days.zipWithIndex.flatMap { case (d, i) => Seq(
      Meas(1L, ts(s"$d 06:00:00"), i.toDouble, 1L, i.toLong),     // series A
      Meas(2L, ts(s"$d 07:00:00"), -i.toDouble, 1L, 100L + i)) }) // series B
    val qi = QueryInterval(Seq(1L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 23:00:00"))
    val qp = QueryTimePoint(Seq(1L), 0L, ts("2024-03-03 12:00:00"))
    val interval = rows(engine.readIntervalScan(qi))
    val point = rows(engine.readTimePointScan(qp))
    val current = rows(engine.readTimePointScan(QueryTimePoint(Seq(1L), 0L, Meas.TIME_MAX)))
    assert(interval.size === 3 && point.head(2) === 2.0 && current === point)

    // appends of B to A's existing days refresh (delete + rewrite) the
    // index partitions A's lookups read; the appender is a second engine
    // instance on the store, so nothing in-process serializes it with
    // the reads
    val appender = new GraftEngine(spark, dir, buckets = 2)
    val writer = new Thread(() => (1 to 20).foreach { n =>
      appender.append(days.map(d => Meas(2L, ts(s"$d 08:00:00"), n.toDouble, 1L, 1000L + n)))
    })
    writer.start()
    val wrong = scala.collection.mutable.ArrayBuffer[String]()
    try (1 to 50).foreach { n =>
      try {
        if (rows(engine.readInterval(qi)) != interval) wrong += s"readInterval #$n"
        if (rows(engine.readTimePoint(qp)) != point) wrong += s"readTimePoint #$n"
        if (rows(engine.currentValue(Seq(1L), 0L)) != current) wrong += s"currentValue #$n"
      } catch { case e: Exception => wrong += s"read #$n threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
    } finally writer.join()
    assert(wrong.isEmpty, wrong.mkString("\n"))
    assert(rows(engine.readInterval(qi)) === interval && rows(engine.readTimePoint(qp)) === point)
    assert(rows(engine.currentValue(Seq(1L), 0L)) === current)
  }

  test("an index lookup that a whole append interleaves answers from the scan path, not a torn index") {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    val dir = tmpDir("graft-interleaved-lookup")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    val appender = new GraftEngine(spark, dir, buckets = 2)
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03")
    engine.append(days.flatMap(d => Seq(
      Meas(1L, ts(s"$d 06:00:00"), 1.0, 1L, 1L + d.last), Meas(2L, ts(s"$d 07:00:00"), 2.0, 1L, 10L + d.last))))
    val qi = QueryInterval(Seq(1L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 23:00:00"))
    val qp = QueryTimePoint(Seq(1L), 0L, ts("2024-03-03 12:00:00"))
    val (interval, point) = (rows(engine.readIntervalScan(qi)), rows(engine.readTimePointScan(qp)))
    // qp is at or after series 1's latest time (the latest-value map's
    // rebuild is the lookup); qpOld falls on an older day (the
    // resident-day lookup, once the map is built at the current token)
    val qpOld = QueryTimePoint(Seq(1L), 0L, ts("2024-03-02 12:00:00"))
    val pointOld = rows(engine.readTimePointScan(qpOld))
    // series 1's index rows all lie inside [from, to]: the lookup answers every day
    val (from, to) = (ts("2024-03-01 00:00:00"), ts("2024-03-03 12:00:00"))
    val stat = rows(engine.statScan(1L, from, to))
    val span = Some((ts("2024-03-01 06:00:00"), ts("2024-03-03 06:00:00")))
    val calc = rows(engine.calculator(qi))

    // The interleaving, made deterministic: the reader's index scan has
    // listed its files (at DataFrame creation); before it executes, a
    // second engine instance runs one whole append to the same days,
    // which deletes and rewrites those index partitions.
    // `withData` arms the append for a plan that reads the store's data
    // too: the data query of a read, which must not touch the index.
    val reader = Thread.currentThread
    @volatile var armed = false
    @volatile var withData = false
    var seq = 100L
    object AppendMidLookup extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        def reads(dir: String) = FacadeProbe.readsIn(plan, dir)
        if (armed && reads("_stats") && (!withData || reads("data"))
            && Thread.currentThread == reader) {
          armed = false
          seq += 1
          val t = new Thread(() => appender.append(days.map(d => Meas(2L, ts(s"$d 08:00:00"), 3.0, 1L, seq))))
          t.start(); t.join()
        }
        plan
      }
    }
    spark.experimental.extraOptimizations ++= Seq(AppendMidLookup)
    try {
      armed = true
      assert(rows(engine.readInterval(qi)) === interval)
      assert(!armed, "the append ran inside the interval lookup")
      armed = true
      assert(rows(engine.readTimePoint(qp)) === point)
      assert(!armed, "the append ran inside the point lookup")
      engine.currentValue(Seq(1L), 0L)
      armed = true
      assert(rows(engine.readTimePoint(qpOld)) === pointOld)
      assert(!armed, "the append ran inside the resident-day lookup")
      armed = true
      assert(rows(engine.stat(1L, from, to)) === stat)
      assert(!armed, "the append ran inside the stat lookup")
      armed = true
      assert(engine.minMaxTime(1L) === span)
      assert(!armed, "the append ran inside the minMaxTime lookup")
      armed = true
      assert(rows(engine.calculator(qi)) === calc)
      assert(!armed, "the append ran inside the calculator's skew lookup")
      // the catalog-wide as-of id universe is read inside the lookup: no
      // later query reads the index, so an append armed for the data
      // query never fires (reading the universe there, the data query
      // would list index files the append then deletes)
      val qAll = QueryTimePoint(Nil, 0L, ts("2024-03-03 12:00:00"))
      val pointAll = rows(engine.readTimePointScan(qAll))
      armed = true; withData = true
      assert(rows(engine.readTimePoint(qAll)) === pointAll)
      assert(armed, "no query after the catalog-wide lookup reads the index")
      armed = false; withData = false
      // per-id eraseOld's day pruning: a torn lookup falls back to every
      // candidate day, so the erase still reaches all of series 1's days
      armed = true
      assert(engine.eraseOld(ts("2024-03-02 12:00:00"), Seq(1L)).sorted ===
        Seq("day=2024-03-01", "day=2024-03-02"))
      assert(!armed, "the append ran inside eraseOld's day lookup")
      assert(rows(engine.readIntervalScan(qi)).map(_.head) === Seq(1L))
    } finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq AppendMidLookup)
  }

  test("index-served reads: the lookup runs no exchange, the data query exactly one shuffle") {
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ShuffleExchangeLike}
    val dir = tmpDir("graft-read-plans")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append((0 until 60).map { i =>
      Meas(i % 4L, ts(f"2024-03-${1 + i % 5}%02d ${i % 24}%02d:00:00"), i.toDouble, 1L, i.toLong)
    })
    /** The final plan of every query the read call runs, in order. */
    def plans(read: => org.apache.spark.sql.DataFrame): Seq[Seq[SparkPlan]] = {
      val (n, qes) = FacadeProbe.executions(spark)(read.collect().length)
      assert(n > 0)
      qes.map(qe => FacadeProbe.nodes(qe.executedPlan))
    }
    def shuffles(plan: Seq[SparkPlan]) = plan.count(_.isInstanceOf[ShuffleExchangeLike])
    // the freshness merge hash-aggregates: no sort-based aggregate
    def hashMerged(name: String, plan: Seq[SparkPlan]): Unit =
      assert(!plan.exists(_.isInstanceOf[SortAggregateExec]), s"$name:\n${plan.head.treeString}")
    // currentValue: the latest-value map's rebuild is one pass over the
    // index
    val (_, rebuild) = FacadeProbe.executions(spark)(engine.currentValue(Seq(3L, 1L), 0L))
    assert(rebuild.size === 1 && FacadeProbe.reads(rebuild.head, "_stats")
      && !FacadeProbe.reads(rebuild.head, "data"), "the rebuild reads the index only")
    // a window of more than two days: the lookup, then the data query
    val interval = plans(engine.readInterval(
      QueryInterval(Seq(1L, 2L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 12:00:00"))))
    assert(interval.size === 2, "readInterval: one lookup, one data query")
    val (lookup, data) = (interval.head, interval(1))
    assert(!lookup.exists(_.isInstanceOf[Exchange]), s"readInterval lookup:\n${lookup.head.treeString}")
    assert(shuffles(data) === 1, s"readInterval data:\n${data.head.treeString}")
    assert(!data.exists(_.isInstanceOf[BroadcastExchangeLike]), s"readInterval data:\n${data.head.treeString}")
    hashMerged("readInterval", data)
    // with the map built at the store's token, and the readTimePoint
    // timepoint before series 1's latest time, the read is the lookup,
    // the data query with no exchange, and the local answer it builds
    def isLocal(plan: Seq[SparkPlan]) = plan.forall(_.isInstanceOf[LocalTableScanExec])
    val qp = QueryTimePoint(Seq(1L, 2L, 9L), 0L, ts("2024-03-03 12:00:00"))
    val point = plans(engine.readTimePoint(qp))
    assert(point.size === 3, "readTimePoint: one lookup, one data query, the local answer")
    assert(!point.head.exists(_.isInstanceOf[Exchange]), s"readTimePoint lookup:\n${point.head.head.treeString}")
    assert(!point(1).exists(_.isInstanceOf[Exchange]), s"readTimePoint data:\n${point(1).head.treeString}")
    assert(isLocal(point(2)), s"readTimePoint answer:\n${point(2).head.treeString}")
    // in jobs: the lookup plus one data job; the answer collects with none
    val (asOf, built) = FacadeProbe.jobs(spark)(engine.readTimePoint(qp))
    assert(built === 2, "readTimePoint: the lookup job and one data job")
    val (answer, collected) = FacadeProbe.jobs(spark)(rows(asOf))
    assert(collected === 0 && answer === asOfReference(engine, qp), "readTimePoint: a local answer")
    // served from the cached map, currentValue runs no query at all, and
    // its answer collects with no Spark job
    val (current, served) = FacadeProbe.executions(spark)(engine.currentValue(Seq(3L, 1L), 0L))
    assert(served.isEmpty, "the cached map answers with no query")
    assert(FacadeProbe.jobs(spark)(current.collect())._2 === 0, "the map answer collects with no job")
    // statScan's query hash-aggregates its merge too
    hashMerged("statScan", plans(engine.statScan(1L, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00"))).head)

    // the index-free interval forms run no lookup and the same query: a
    // window of at most two days with a certified index, the
    // catalog-wide read, an uncertified index, unflushed hot rows
    val q = QueryInterval(Seq(1L, 2L), 0L, ts("2024-03-02 00:00:00"), ts("2024-03-03 12:00:00"))
    def indexFree(name: String, read: => org.apache.spark.sql.DataFrame): Unit = {
      val qs = plans(read)
      assert(qs.size === 1, s"$name: no lookup")
      assert(shuffles(qs.head) === 1, s"$name:\n${qs.head.head.treeString}")
      hashMerged(name, qs.head)
      assert(!qs.head.exists(_.isInstanceOf[BroadcastExchangeLike]), s"$name:\n${qs.head.head.treeString}")
    }
    indexFree("two-day window", engine.readInterval(q))
    indexFree("catalog-wide", engine.readInterval(q.copy(ids = Nil)))
    graft.sources.TsdbStorage.markStatsOutOfSync(spark, s"$dir/_stats")
    indexFree("uncertified index", engine.readInterval(q))
    engine.reindex()
    val hot = new GraftEngine(spark, dir, buckets = 2, hotCapacity = 1000L)
    hot.append(Seq(Meas(1L, ts("2024-03-02 12:30:00"), 99.0, 1L, 1000L)))
    indexFree("unflushed MEMORY rows", hot.readInterval(q))
    // a flag filter needs the freshness merge before the as-of: its one
    // shuffle, then the driver-combined local answer
    val flagged = plans(engine.readTimePoint(QueryTimePoint(Seq(1L, 2L, 9L), 1L, ts("2024-03-03 12:00:00"))))
    assert(flagged.size === 2, "flag ≠ 0: no lookup, one data query, the local answer")
    assert(shuffles(flagged.head) === 1, s"flag ≠ 0:\n${flagged.head.head.treeString}")
    hashMerged("flag ≠ 0", flagged.head)
    assert(isLocal(flagged(1)), s"flag ≠ 0 answer:\n${flagged(1).head.treeString}")
  }

  test("explicit-id reads run at most one lookup job and one data query; a 40-day store lists no day through a job") {
    val dir = tmpDir("graft-read-jobs")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    // 40 day partitions: past the 32-path threshold Spark lists a
    // store root with a Spark job of its own
    val start = java.time.LocalDate.parse("2024-03-01")
    engine.append((0 until 40).flatMap { d =>
      Seq(1L, 2L, 3L).map(id => Meas(id, Timestamp.valueOf(start.plusDays(d).atTime(id.toInt, 0)),
        d * 10.0 + id, 1L, d * 10L + id))
    })
    val day = (d: Int) => start.plusDays(d).toString
    def counted(read: => org.apache.spark.sql.DataFrame): (Seq[Seq[Any]], Int, Boolean) = {
      val ((got, jobs), qes) = FacadeProbe.executions(spark)(FacadeProbe.jobs(spark)(rows(read)))
      (got, jobs, qes.exists(FacadeProbe.reads(_, "_stats")))
    }
    // a window of at most two days: no index read, the shuffle map stage
    // and the result stage
    val short = QueryInterval(Seq(1L, 2L), 0L, ts(s"${day(38)} 00:00:00"), ts(s"${day(39)} 23:00:00"))
    val (shortRows, shortJobs, shortIndex) = counted(engine.readInterval(short))
    assert(!shortIndex, "a two-day window reads no index")
    assert(shortJobs === 2, "a two-day window: the shuffle map stage and the result stage")
    assert(shortRows === intervalReference(engine, short))
    // a three-day window: the lookup job, then the same data shape
    val long = short.copy(from = ts(s"${day(37)} 00:00:00"))
    val (longRows, longJobs, longIndex) = counted(engine.readInterval(long))
    assert(longIndex, "a three-day window runs the lookup")
    assert(longJobs === 3, "a three-day window: the lookup, then the two data jobs")
    assert(longRows === intervalReference(engine, long))
    // an explicit as-of before the latest times, on the index path, the
    // scan path and the flagged path: the same local answer
    val q = QueryTimePoint(Seq(3L, 1L, 99L), 0L, ts(s"${day(20)} 02:30:00"))
    val expected = asOfReference(engine, q)
    assert(expected.map(_(2)) === Seq(201.0, 193.0, null), "series 3 answers day 19's row")
    for ((name, df) <- Seq("index" -> engine.readTimePoint(q), "scan" -> engine.readTimePointScan(q),
        "flagged" -> engine.readTimePoint(q.copy(flag = 1L)))) {
      val (answer, collected) = FacadeProbe.jobs(spark)(rows(df))
      assert(collected === 0 && answer === expected, s"$name: a local answer")
    }
  }

  test("per-id eraseOld falls back to the full day list when the index is unusable") {
    val dir = tmpDir("graft-erase-fallback")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1),
      Meas(1L, ts("2024-03-02 10:00:00"), 2.0, 1L, 2),
      Meas(2L, ts("2024-03-02 11:00:00"), 3.0, 1L, 3)))
    // simulate a crash-staled index: marker gone ⇒ index unusable
    graft.sources.TsdbStorage.markStatsOutOfSync(spark, s"$dir/_stats")
    val touched = engine.eraseOld(ts("2024-03-03 00:00:00"), Seq(1L))
    assert(touched.sorted === Seq("day=2024-03-01", "day=2024-03-02"),
      "without a usable index every pre-cutoff day is rewritten")
    val left = engine.merged.collect().map(r => (r.getLong(0), r.getDouble(2))).toSet
    assert(left === Set((2L, 3.0)))
  }

  test("fsck probes artifacts: corrupt stats file uncertifies the index, scheme is never deleted") {
    val dir = tmpDir("graft-fsck-artifacts")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.addParam("fsck.series")
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1),
      Meas(1L, ts("2024-03-01 11:00:00"), 2.0, 1L, 2)))
    assert(engine.fsck() === Seq.empty)

    def plantBogus(rel: String): java.io.File = {
      val f = new java.io.File(s"$dir/$rel/part-corrupt.parquet")
      java.nio.file.Files.write(f.toPath, "not parquet at all".getBytes)
      f
    }
    // corrupt stats-index file: fsck must report it AND uncertify the
    // index even WITHOUT repair — stat() then serves from the scan path
    // instead of throwing mid-query
    plantBogus("_stats/day=2024-03-01")
    val bad1 = engine.fsck(repair = false)
    assert(bad1.exists(_.contains("_stats")) && !bad1.exists(_.contains("_scheme")))
    assert(!graft.sources.TsdbStorage.statsUsable(spark, s"$dir/_stats"))
    val st = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st.getLong(1) === 2 && st.getDouble(6) === 3.0, "scan fallback answers correctly")
    // repair drops the bad index file; reindex() rebuilds and recertifies
    assert(engine.fsck(repair = true).exists(_.contains("_stats")))
    engine.reindex()
    assert(graft.sources.TsdbStorage.statsUsable(spark, s"$dir/_stats"))

    // corrupt the scheme log: reported but NEVER deleted, repair or not
    val schemeFile = plantBogus("_scheme")
    val bad2 = engine.fsck(repair = true)
    assert(bad2.exists(_.contains("_scheme")))
    assert(schemeFile.exists, "the scheme log is the only copy of legacy id assignments")
  }

  test("compactDays merges duplicates and coalesces files for ONLY the chosen days") {
    val dir = tmpDir("graft-compact-days")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    // five appends: day 1 accumulates five files rewriting ONE key, day 2
    // accumulates five files of distinct keys
    (1 to 5).foreach { k =>
      engine.append(Seq(
        Meas(1L, ts("2024-03-01 10:00:00"), k.toDouble, 1L, k.toLong),
        Meas(1L, ts(f"2024-03-02 0$k%d:00:00"), k.toDouble, 1L, (10 + k).toLong)))
    }
    def files(day: String) = new java.io.File(s"$dir/data/day=$day").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> (f.length, f.lastModified)).toMap
    assert(files("2024-03-01").size >= 5, "append accumulation is the fixture premise")
    val day2Before = files("2024-03-02")
    assert(engine.fragmentedDays(maxFiles = 4)
      === Seq(java.sql.Date.valueOf("2024-03-01"), java.sql.Date.valueOf("2024-03-02")))

    val before = engine.merged.collect().map(_.toSeq).toSet
    engine.compactDays(Seq(java.sql.Date.valueOf("2024-03-01")))
    assert(engine.merged.collect().map(_.toSeq).toSet === before, "merge-on-read view unchanged")
    assert(files("2024-03-01").size <= 2, "chosen day coalesced to ≤ buckets files")
    assert(files("2024-03-02") === day2Before, "unchosen day byte-identical")
    assert(engine.fragmentedDays(maxFiles = 4) === Seq(java.sql.Date.valueOf("2024-03-02")))
    // stats index stays certified and exact over the compacted day
    val st = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-01 23:00:00")).head()
    assert(st.getLong(1) === 1 && st.getDouble(6) === 5.0, "the freshest-seq rewrite is the one surviving row")
  }

  /** Run `rewrite` on a store whose day 03-01 is fragmented, with one
    * append landing in 03-01 between the rewrite's file listing and its
    * write — made deterministic by an optimizer rule that fires on the
    * rewrite's first plan reading the data (the listing happened at
    * DataFrame creation). The appender is a second engine instance:
    * appends take no lease. The appended row must survive, and the
    * index-served read must equal the scan. */
  private def appendMidRewrite(name: String)(rewrite: GraftEngine => Unit): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.rules.Rule
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = tmpDir(s"graft-append-mid-$name")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    val appender = new GraftEngine(spark, dir, buckets = 2)
    (1 to 3).foreach { k =>
      engine.append(Seq("2024-03-01", "2024-03-02", "2024-03-03").flatMap(d => Seq(
        Meas(1L, ts(s"$d 0$k:00:00"), k.toDouble, 1L, 10L * k),
        Meas(2L, ts(s"$d 1$k:00:00"), -k.toDouble, 1L, 10L * k + 1))))
    }
    val landed = Meas(9L, ts("2024-03-01 20:00:00"), 90.0, 1L, 900L)
    val rewriter = Thread.currentThread
    @volatile var armed = true
    object AppendMidRewrite extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        val readsData = plan.exists {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.exists(p =>
              Iterator.iterate(p)(_.getParent).takeWhile(_ != null).exists(_.getName == "data"))
            case _ => false
          }
          case _ => false
        }
        if (armed && readsData && Thread.currentThread == rewriter) {
          armed = false
          val t = new Thread(() => appender.append(Seq(landed)))
          t.start(); t.join()
        }
        plan
      }
    }
    spark.experimental.extraOptimizations ++= Seq(AppendMidRewrite)
    try rewrite(engine)
    finally spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ eq AppendMidRewrite)
    assert(!armed, s"the append ran inside $name")
    val q = QueryInterval(Seq(1L, 2L, 9L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 23:00:00"))
    assert(rows(engine.readIntervalScan(q.copy(ids = Seq(9L)))) ===
      Seq(Seq(9L, landed.time, 90.0, 1L, 900L)), s"the row appended during $name survives")
    assert(graft.sources.TsdbStorage.statsUsable(spark, s"$dir/_stats"), s"$name re-certifies the index")
    assert(rows(engine.readInterval(q)) === rows(engine.readIntervalScan(q)), s"index path ≡ scan after $name")
  }

  test("compactDays keeps a row appended between its file listing and its write") {
    appendMidRewrite("compactDays")(_.compactDays(Seq(java.sql.Date.valueOf("2024-03-01"))))
  }

  test("per-id eraseOld keeps a row appended between its file listing and its write") {
    appendMidRewrite("eraseOld") { engine =>
      assert(engine.eraseOld(ts("2024-03-02 00:00:00"), Seq(1L)) === Seq("day=2024-03-01"))
      assert(engine.readIntervalScan(QueryInterval(Seq(1L), 0L, ts("2024-03-01 00:00:00"),
        ts("2024-03-03 23:00:00"))).count() === 6L, "series 1 keeps only its 03-02 and 03-03 rows")
    }
  }

  test("compact() keeps a row appended between its file listing and its write") {
    appendMidRewrite("compact")(_.compact())
  }

  test("a rewrite that crashed after landing its files leaves a superset; a rerun finishes it") {
    import java.nio.file.{Files, StandardCopyOption}
    val dir = tmpDir("graft-rewrite-window")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    (1 to 4).foreach { k =>
      engine.append(Seq(
        Meas(1L, ts("2024-03-01 10:00:00"), k.toDouble, 1L, k.toLong), // one key, rewritten
        Meas(1L, ts(f"2024-03-01 0$k%d:00:00"), k.toDouble, 1L, 10L + k),
        Meas(2L, ts(f"2024-03-01 1$k%d:30:00"), -k.toDouble, 1L, 20L + k)))
    }
    val day = java.sql.Date.valueOf("2024-03-01")
    val dayDir = new java.io.File(s"$dir/data/day=$day")
    def view = engine.merged.collect().map(_.toSeq).toSet
    def raw = graft.sources.TsdbStorage.read(spark, s"$dir/data").count()
    /** Run `rewrite`, then restore the files it listed: the state a crash
      * between landing the new files and deleting the listed ones leaves
      * (with the index uncertified, as the rewrite left it). */
    def crashBeforeDeletes(rewrite: => Unit): Unit = {
      val save = Files.createTempDirectory("graft-rewrite-listed")
      val listed = dayDir.listFiles().filter(_.getName.endsWith(".parquet"))
      listed.foreach(f => Files.copy(f.toPath, save.resolve(f.getName)))
      rewrite
      listed.foreach(f => Files.copy(save.resolve(f.getName), f.toPath, StandardCopyOption.REPLACE_EXISTING))
      graft.sources.TsdbStorage.markStatsOutOfSync(spark, s"$dir/_stats")
    }

    // compaction: the landed merge plus the listed originals answer the
    // pre-rewrite view; the rerun leaves one copy of each row
    val before = view
    crashBeforeDeletes(engine.compactDays(Seq(day)))
    assert(view === before, "merged view unchanged in the crash window")
    assert(raw > before.size, "both generations are on disk")
    engine.compactDays(Seq(day))
    assert(view === before)
    assert(raw === before.size.toLong, "the rerun leaves one copy of each row")

    // retention: the crash window still holds the rows to erase; the
    // rerun (index uncertified: every candidate day) finishes the erase
    val erased = before.filterNot(r => r(0) == 1L && r(1).asInstanceOf[Timestamp].before(ts("2024-03-01 05:00:00")))
    crashBeforeDeletes(engine.eraseOld(ts("2024-03-01 05:00:00"), Seq(1L)))
    assert(view === before, "the crash window is a superset: nothing erased yet")
    assert(engine.eraseOld(ts("2024-03-01 05:00:00"), Seq(1L)) === Seq(s"day=$day"))
    assert(view === erased, "the rerun finishes the erase")
    engine.reindex()
    val q = QueryInterval(Seq(1L, 2L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-01 23:00:00"))
    assert(rows(engine.readInterval(q)) === rows(engine.readIntervalScan(q)))
  }

  test("MEMORY strategy: hot-level rows serve reads before any parquet exists, flush outranks") {
    val dir = tmpDir("graft-hot")
    val engine = new GraftEngine(spark, dir, buckets = 2, hotCapacity = 1000L)

    // append lands in the memory level only — no data directory yet
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(1L, ts("2024-03-01 11:00:00"), 2.0, Flags.CLICK, 2)))
    assert(engine.hotSize === 2)
    assert(!new java.io.File(s"$dir/data").exists, "hot rows must not touch parquet")

    // every read path sees the hot level
    assert(engine.currentValue(Seq(1L), 0L).head().getDouble(2) === 2.0)
    assert(engine.readInterval(
      QueryInterval(Seq(1L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))).count() === 2)
    val st = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st.getLong(1) === 2 && st.getDouble(6) === 3.0)
    val Some((mn, mx)) = engine.minMaxTime(1L)
    assert(mn === ts("2024-03-01 10:00:00") && mx === ts("2024-03-01 11:00:00"))

    // hot rewrite of a stored key: freshness merge spans levels
    engine.flush()
    assert(engine.hotSize === 0)
    assert(new java.io.File(s"$dir/data").exists, "flush drops the level to parquet")
    engine.append(Seq(Meas(1L, ts("2024-03-01 11:00:00"), 20.0, Flags.CLICK, 3)))
    assert(engine.hotSize === 1, "post-flush append buffers again")
    assert(engine.currentValue(Seq(1L), 0L).head().getDouble(2) === 20.0,
      "hot rewrite outranks the flushed row")

    // capacity overflow auto-drops the level
    val bulk = (0 until 1000).map(i => Meas(2L, ts("2024-03-01 10:00:00"), i.toDouble, 1L, 100L + i))
    engine.append(bulk)
    assert(engine.hotSize === 0, "exceeding hotCapacity flushes")
    assert(engine.currentValue(Seq(1L), 0L).head().getDouble(2) === 20.0,
      "flushed rewrite still outranks the original by seq")
    // after flush the stat-index fast path serves again, and agrees
    val st2 = engine.stat(2L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st2.getLong(1) === 1 && st2.getDouble(6) === 999.0, "merge-on-read collapsed the bulk dups")
  }

  test("streaming ingest lands in the clustered layout") {
    val src = tmpDir("graft-ingest-src")
    val engine = new GraftEngine(spark, tmpDir("graft-ingest-store"), buckets = 2)
    EventsSource.meas(spark, sfDir).limit(100).write.mode("append").parquet(src)
    val stream = spark.readStream.schema(Meas.schema).parquet(src)
    val q = engine.appendStream(stream, tmpDir("graft-ingest-ckpt"))
    q.processAllAvailable()
    q.stop()
    assert(engine.merged.count() === 100)
  }

  test("appendStream replay: an already-applied (appId, batchId) re-writes nothing") {
    import spark.implicits._
    val dir = tmpDir("graft-ingest-replay")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    def dataFiles(): Seq[String] = {
      val root = new java.io.File(s"$dir/data")
      if (!root.exists) Seq.empty
      else root.listFiles.filter(_.isDirectory).flatMap(_.listFiles)
        .map(f => s"${f.getName}:${f.length}").toSeq.sorted
    }
    def statFiles(): Seq[String] = {
      val root = new java.io.File(s"$dir/_stats")
      if (!root.exists) Seq.empty
      else root.listFiles.filter(_.isDirectory).flatMap(_.listFiles)
        .map(f => s"${f.getParentFile.getName}/${f.getName}:${f.length}").toSeq.sorted
    }
    val batch0 = spark.createDataset(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(2L, ts("2024-03-01 11:00:00"), 2.0, Flags.CLICK, 2))).toDF()
    engine.appendOnce(batch0, "ckpt-A", 0L)
    val files = dataFiles(); val stats = statFiles()
    val rows = engine.merged.collect().map(_.toSeq).toSet
    // foreachBatch replay after a crash-restart: same appId, same batchId
    engine.appendOnce(batch0, "ckpt-A", 0L)
    assert(dataFiles() === files, "a replayed micro-batch must not write parquet")
    assert(statFiles() === stats, "…nor refresh the stats index")
    assert(engine.merged.collect().map(_.toSeq).toSet === rows)
    // the NEXT batch applies normally
    engine.appendOnce(spark.createDataset(Seq(
      Meas(3L, ts("2024-03-01 12:00:00"), 3.0, Flags.CLICK, 3))).toDF(), "ckpt-A", 1L)
    assert(engine.merged.count() === 3L)
    // a DIFFERENT stream legitimately restarting batch numbering at 0
    engine.appendOnce(spark.createDataset(Seq(
      Meas(4L, ts("2024-03-01 13:00:00"), 4.0, Flags.CLICK, 4))).toDF(), "ckpt-B", 0L)
    assert(engine.merged.count() === 4L, "a fresh appId is not a replay")
    // INTERLEAVED streams: stream A's replay arriving AFTER stream B's
    // append must still be detected (the cursor is a per-app map, not
    // last-writer-wins — a single cursor would re-apply here)
    val filesAfterB = dataFiles()
    engine.appendOnce(spark.createDataset(Seq(
      Meas(3L, ts("2024-03-01 12:00:00"), 3.0, Flags.CLICK, 3))).toDF(), "ckpt-A", 1L)
    assert(dataFiles() === filesAfterB,
      "stream A's replayed batch after stream B's append writes nothing")
    assert(engine.merged.count() === 4L)
    // the real streaming path drives the same cursor
    val src = tmpDir("graft-ingest-replay-src")
    spark.createDataset(Seq(Meas(5L, ts("2024-03-01 14:00:00"), 5.0, Flags.CLICK, 5)))
      .toDF().write.mode("append").parquet(src)
    val q = engine.appendStream(
      spark.readStream.schema(Meas.schema).parquet(src), tmpDir("graft-ingest-replay-ckpt"))
    try q.processAllAvailable() finally q.stop()
    assert(engine.merged.count() === 5L)
  }

  test("appendOnce reads a legacy single-cursor file: its replay is still a no-op") {
    import spark.implicits._
    val dir = tmpDir("graft-ingest-legacy-cursor")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    val batch0 = spark.createDataset(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1))).toDF()
    engine.appendOnce(batch0, "ckpt-A", 0L)
    // the cursor as an engine predating the per-app map wrote it
    val cursor = new org.apache.hadoop.fs.Path(s"$dir/_stream_cursor")
    val fs = cursor.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(cursor, true)
    try out.write("ckpt-A\n0".getBytes("UTF-8")) finally out.close()
    def dataFiles(): Seq[String] = new java.io.File(s"$dir/data").listFiles
      .filter(_.isDirectory).flatMap(_.listFiles).map(f => s"${f.getName}:${f.length}").toSeq.sorted
    val files = dataFiles()
    engine.appendOnce(batch0, "ckpt-A", 0L)
    assert(dataFiles() === files, "the legacy cursor still marks batch 0 applied")
    engine.appendOnce(spark.createDataset(Seq(
      Meas(2L, ts("2024-03-01 11:00:00"), 2.0, Flags.CLICK, 2))).toDF(), "ckpt-A", 1L)
    assert(engine.merged.count() === 2L, "the next batch applies")
  }

  test("maintain(): one call repairs corruption, compacts fragmented days, recertifies the index") {
    val dir = tmpDir("graft-maintain")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    // fragment one day with many small appends
    for (i <- 0 until 6)
      engine.append(Seq(Meas(1L, ts(f"2024-03-01 10:0$i:00"), i.toDouble, 1L, i.toLong)))
    engine.append(Seq(Meas(1L, ts("2024-03-02 10:00:00"), 9.0, 1L, 10L)))
    val before = engine.merged.collect().map(_.toSeq).toSet
    // plant a corrupt file AND uncertify the stats index (crash analog)
    val day = new java.io.File(s"$dir/data/day=2024-03-01")
    java.nio.file.Files.write(
      new java.io.File(day, "part-corrupt.parquet").toPath, "not parquet".getBytes)
    graft.sources.TsdbStorage.markStatsOutOfSync(spark, s"$dir/_stats")

    val report = engine.maintain(maxFilesPerDay = 3)
    assert(report.corrupt.exists(_.contains("part-corrupt")), "probe found the planted file")
    assert(report.compactedDays === Seq(java.sql.Date.valueOf("2024-03-01")),
      "only the fragmented day was compacted")
    assert(report.reindexed, "the uncertified index was rebuilt")
    assert(engine.merged.collect().map(_.toSeq).toSet === before, "data unchanged")
    assert(graft.sources.TsdbStorage.statsUsable(spark, s"$dir/_stats"),
      "index-served paths armed again")
    assert(new java.io.File(s"$dir/data/day=2024-03-01").listFiles()
      .count(_.getName.endsWith(".parquet")) <= 3, "fragmentation paid down")
    // idempotent: a clean store reports nothing to do
    val again = engine.maintain(maxFilesPerDay = 3)
    assert(again === graft.engine.MaintenanceReport(Seq.empty, Seq.empty, false))
    // sharded fan-out merges per-shard reports
    val sh = new graft.engine.ShardedEngine(spark, Seq(tmpDir("mt-s0"), tmpDir("mt-s1")), buckets = 2)
    sh.append(Seq(Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1L),
      Meas(2L, ts("2024-03-01 10:00:00"), 2.0, 1L, 2L)))
    assert(sh.maintain() === graft.engine.MaintenanceReport(Seq.empty, Seq.empty, false))
  }

  test("maintain() crons the artifact indexes: corrupt → uncertified → rebuilt, fragmentation compacted") {
    import graft.extensions.{AnnIndex, TextIndex}
    val engine = new GraftEngine(spark, tmpDir("graft-maintain-art"), buckets = 2)
    engine.append(Seq(Meas(1L, ts("2024-03-01 10:00:00"), 1.0, 1L, 1L)))
    val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val annDir = tmpDir("graft-maintain-ann")
    val textDir = tmpDir("graft-maintain-text")
    AnnIndex.build(spark, raw, annDir)
    TextIndex.build(spark, docs, textDir)
    val servedBefore = {
      spark.conf.set(AnnIndex.ConfKey, annDir)
      try SparkEntry.queries("sim_ann")(spark, sfDir).collect().toSeq.map(_.toSeq)
      finally spark.conf.unset(AnnIndex.ConfKey)
    }
    // corrupt one codes file — fsck must uncertify, maintain must rebuild
    java.nio.file.Files.write(
      new java.io.File(s"$annDir/codes/part-corrupt.parquet").toPath, "junk".getBytes)

    val report = engine.maintain(
      annIndex = Some((annDir, raw)), textIndex = Some((textDir, docs)))
    assert(report.artifacts.map(_.dir) === Seq(annDir, textDir))
    val annR = report.artifacts.head
    assert(annR.corrupt.exists(_.contains("part-corrupt")), "probe found the planted file")
    assert(annR.rebuilt, "the uncertified index was rebuilt from its corpus")
    assert(AnnIndex.usable(spark, annDir), "…and re-certified in the same call")
    assert(AnnIndex.readCodes(spark, annDir).count() === raw.count())
    // the repaired index serves identical results
    spark.conf.set(AnnIndex.ConfKey, annDir)
    try assert(SparkEntry.queries("sim_ann")(spark, sfDir).collect().toSeq.map(_.toSeq)
      === servedBefore)
    finally spark.conf.unset(AnnIndex.ConfKey)
    assert(TextIndex.usable(spark, textDir))
    // idempotent: the second pass finds nothing to probe, rebuild, or compact
    val again = engine.maintain(
      annIndex = Some((annDir, raw)), textIndex = Some((textDir, docs)))
    assert(again.artifacts.forall(a => a.corrupt.isEmpty && !a.rebuilt && !a.compacted),
      s"second maintain must be a no-op, got ${again.artifacts}")
    // a corpus mutated in place (ids unchanged): the maintenance-time
    // fingerprint audit uncertifies, and maintain rebuilds against the
    // corpus it was handed — the backstop for deployments that opt the
    // per-query content check out
    val mutated = raw.withColumn("embedding",
      expr("transform(embedding, x -> CAST(x + 1.0f AS FLOAT))"))
    val r3 = engine.maintain(annIndex = Some((annDir, mutated)))
    assert(r3.artifacts.head.rebuilt, "fingerprint audit caught the in-place mutation")
    assert(AnnIndex.usable(spark, annDir))
    spark.conf.set(AnnIndex.ConfKey, annDir)
    try assert(AnnIndex.resolveFor(spark, mutated) === Some(annDir),
      "the rebuilt index serves the corpus it was rebuilt from")
    finally spark.conf.unset(AnnIndex.ConfKey)
  }
}
