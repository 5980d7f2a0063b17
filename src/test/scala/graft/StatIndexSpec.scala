package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row

import graft.core.{Flags, Meas}
import graft.engine.{GraftEngine, QueryInterval}

/** The per-(day, id) chunk-stat index: GraftEngine serves stat() and
  * minMaxTime() from index rows instead of scanning data files. These
  * specs prove the index path and the scan path agree EXACTLY through
  * every mutation the engine supports — append, duplicate-key rewrite,
  * compact, eraseOld — and that interval reads prune day partitions
  * before the merge-on-read dedup (the pruned partition's files are
  * physically corrupted; the query can only succeed if they are never
  * opened).
  */
class StatIndexSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The index-served stat (its lookup observed) ≡ the scan ≡ the
    * answer computed on the driver from the whole-store merged view. */
  private def assertPathsAgree(engine: GraftEngine, id: Long, from: String, to: String): Unit = {
    val (idx, qes) = FacadeProbe.executions(spark)(engine.stat(id, ts(from), ts(to)).collect().toSeq)
    assert(qes.exists(FacadeProbe.reads(_, "_stats")), s"the index answered id=$id [$from, $to]")
    val scan = engine.statScan(id, ts(from), ts(to)).collect().toSeq
    assert(idx === scan, s"stat index vs scan diverged for id=$id [$from, $to]")
    val in = FacadeProbe.merged(engine)
      .filter(m => m.id == id && !m.time.before(ts(from)) && !m.time.after(ts(to)))
    val reference = if (in.isEmpty) Seq.empty else Seq(Row(id, in.size.toLong,
      in.map(_.time).minBy(_.getTime), in.map(_.time).maxBy(_.getTime),
      in.map(_.value).min, in.map(_.value).max, in.map(_.value).sum))
    assert(idx === reference, s"stat index vs merged view diverged for id=$id [$from, $to]")
  }

  test("stat index agrees with the scan path across append, rewrite, compact, eraseOld") {
    val engine = new GraftEngine(spark, tmpDir("graft-statidx"), buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.5, Flags.CLICK, 1),
      Meas(1L, ts("2024-03-01 23:30:00"), 2.25, Flags.CLICK, 2),
      Meas(1L, ts("2024-03-02 08:00:00"), 4.0, Flags.ERROR, 3),
      Meas(1L, ts("2024-03-03 12:00:00"), 8.0, Flags.CLICK, 4),
      Meas(2L, ts("2024-03-02 09:00:00"), 16.0, Flags.CLICK, 5)))

    // whole-range (all days fully covered) + partial-day edges both sides
    assertPathsAgree(engine, 1L, "2024-03-01 00:00:00", "2024-03-04 00:00:00")
    assertPathsAgree(engine, 1L, "2024-03-01 12:00:00", "2024-03-03 11:00:00")
    assertPathsAgree(engine, 1L, "2024-03-02 00:00:00", "2024-03-02 12:00:00") // single partial day
    assertPathsAgree(engine, 2L, "2024-03-01 00:00:00", "2024-03-04 00:00:00")

    // duplicate-key rewrite: the index must reflect MERGED stats, not
    // raw row counts — refresh recomputes the touched day post-dedup
    engine.append(Seq(Meas(1L, ts("2024-03-01 23:30:00"), 100.0, Flags.CLICK, 10)))
    assertPathsAgree(engine, 1L, "2024-03-01 00:00:00", "2024-03-04 00:00:00")
    val st = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st.getLong(1) === 2, "rewrite must not double-count")
    assert(st.getDouble(6) === 101.5, "rewritten value wins in the indexed sum")

    // O6 from the index matches the scan answer
    assert(engine.minMaxTime(1L) ===
      Some((ts("2024-03-01 10:00:00"), ts("2024-03-03 12:00:00"))))

    engine.compact()
    assertPathsAgree(engine, 1L, "2024-03-01 00:00:00", "2024-03-04 00:00:00")
    assertPathsAgree(engine, 1L, "2024-03-01 12:00:00", "2024-03-03 11:00:00")

    engine.eraseOld(ts("2024-03-02 00:00:00"))
    assertPathsAgree(engine, 1L, "2024-03-01 00:00:00", "2024-03-04 00:00:00")
    assert(engine.minMaxTime(1L) ===
      Some((ts("2024-03-02 08:00:00"), ts("2024-03-03 12:00:00"))),
      "dropped day must vanish from the index too")
  }

  test("sync marker: an index left unsynced by a crash is bypassed until repaired") {
    import graft.sources.TsdbStorage
    val dir = tmpDir("graft-marker")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1)))

    // simulate a crash between the data commit and the index update:
    // marker cleared, data written WITHOUT the stats pass
    TsdbStorage.markStatsOutOfSync(spark, s"$dir/_stats")
    val bypass = spark.createDataFrame(
      Seq(Meas(1L, ts("2024-03-01 11:00:00"), 5.0, Flags.CLICK, 2)))
    TsdbStorage.append(bypass, s"$dir/data", buckets = 2)

    // the index knows nothing of the 5.0 row — stat() must fall back to
    // the scan path and still see it
    val st = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st.getLong(1) === 2 && st.getDouble(6) === 6.0,
      "unsynced index must not be served; scan fallback sees all rows")

    // a later append must NOT incidentally re-certify the index — the
    // crashed mutation may have staled days this append never touches
    engine.append(Seq(Meas(1L, ts("2024-03-01 12:00:00"), 10.0, Flags.CLICK, 3)))
    assert(!TsdbStorage.statsUsable(spark, s"$dir/_stats"),
      "append over a store with an uncertified index must not launder it")
    val st2 = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st2.getLong(1) === 3 && st2.getDouble(6) === 16.0, "scan fallback stays correct")

    // repair is EXPLICIT: reindex() rebuilds from storage and certifies
    engine.reindex()
    assert(TsdbStorage.statsUsable(spark, s"$dir/_stats"))
    assertPathsAgree(engine, 1L, "2024-03-01 00:00:00", "2024-03-02 00:00:00")
    val st3 = engine.stat(1L, ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")).head()
    assert(st3.getLong(1) === 3 && st3.getDouble(6) === 16.0)
  }

  test("readInterval prunes day partitions before the merge-on-read dedup") {
    val dir = tmpDir("graft-prune")
    val engine = new GraftEngine(spark, dir, buckets = 2)
    engine.append(Seq(
      Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1),
      Meas(1L, ts("2024-03-05 10:00:00"), 5.0, Flags.CLICK, 2)))

    // corrupt every data file of the out-of-interval day: the interval
    // read below can only succeed if that partition is pruned at the
    // scan (file listing is metadata-only; footers are read per-task)
    val dayDir = new java.io.File(s"$dir/data/day=2024-03-01")
    dayDir.listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, "garbage, not parquet".getBytes)
    }

    val r = engine.readInterval(
      QueryInterval(Seq(1L), 0L, ts("2024-03-05 00:00:00"), ts("2024-03-06 00:00:00")))
    assert(r.collect().map(_.getDouble(2)).toSeq === Seq(5.0))
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("day"),
      s"interval read must carry a day-partition filter:\n$plan")
  }
}
