package graft.smoke

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Smoke.{Entry, Tokens, text, token}
import graft.engine.{GraftEngine, QueryInterval, QueryTimePoint, ShardedEngine}
import graft.extensions.{ShardExport, TemporalQueries, TextIndex}

/** Smoke entries for the storage engine, the skew route, shard export,
  * span dedup and the temporal operators. */
object CoreSmokes {

  /** The core engine operators over an N-row Meas store spread over
    * `days` day partitions. Evidence that the operator plans and the
    * storage layout hold when the data is no longer toy-sized — and,
    * run at days=30 vs days=365 with the same row count, that the
    * DAY-PRUNED read paths (readGrid, indexed stat, index-pruned per-id
    * erase) stay FLAT as the store ages instead of scaling with its
    * history. */
  val engine = Entry("engine", "[rows=20M] [series=max(100, rows/2000)] [days=30, >=14]",
    Seq(20000L)) { (c, sz) =>
    val spark = c.spark
    val rows = sz(0, 20000000L)
    val series = sz(1, math.max(100L, rows / 2000L))
    val days = sz(2, 30L).toInt
    require(days >= 14, s"days must be >= 14 so the 7-day series fits: $days")
    val dir = c.dir("engine")
    // bucket count trades file count for per-file size: at 365 day
    // partitions the default would mint days×buckets tiny files, so the
    // year run caps buckets — in production per-day volume is what sets
    // the bucket count, not history length
    val buckets = if (days > 60) 16 else 2 * spark.sparkContext.defaultParallelism
    val engine = new GraftEngine(spark, dir, buckets = buckets)

    // deterministic synthetic Meas: `series` ids spread over `days` days
    val baseUs = 1704067200000000L // 2024-01-01 00:00:00 UTC
    val spanSeconds = days * 86400L
    // stride 37 is coprime with any day-span (whose factors are 2/3/5/73),
    // so (37·i) mod span covers the WHOLE span even when rows < span —
    // a plain i mod span would leave the tail days empty on a year store
    def mkMeas(n: Long) = spark.range(n).select(
      pmod(col("id"), lit(series)).as("id"),
      timestamp_micros(lit(baseUs) + ((col("id") * 37L) % spanSeconds) * 1000000L).as("time"),
      (pmod(col("id") * 2654435761L, lit(100000L)) / 100.0).as("value"),
      expr("CAST(shiftleft(1, CAST(id % 5 AS INT)) AS BIGINT)").as("flag"),
      col("id").as("seq"))

    c.time(f"ingest $rows%,d rows across $days day partitions")(engine.append(mkMeas(rows)))

    // one SHORT-LIVED series: hourly points on 7 days in the middle of
    // the span — the per-id retention case the stats index prunes for
    val shortId = series + 1L
    val shortStartDay = days / 2
    engine.append(spark.range(7L * 24).select(
      lit(shortId).as("id"),
      timestamp_micros(lit(baseUs) + (col("id") * 3600L + lit(shortStartDay * 86400L)) * 1000000L).as("time"),
      lit(1.0).as("value"), lit(1L).as("flag"), col("id").as("seq")))

    def dayTs(d: Long) = new java.sql.Timestamp(baseUs / 1000L + d * 86400000L)

    val ti = c.time("readInterval (1 day, 3 series)")(
      engine.readInterval(QueryInterval(Seq(17L, 42L, 99L), 0L,
        dayTs(days - 2L), dayTs(days - 1L))).count())
    val tp = c.time("readTimePoint (all series)")(
      engine.readTimePoint(QueryTimePoint(Seq.empty, 0L, dayTs(days / 2L))).count())
    val cv = c.time("currentValue (all series)")(
      engine.currentValue(Seq.empty, 0L).count())

    // readGrid: 1-day dashboard window, hourly step, 2 h staleness —
    // day-pruned to a constant-width window however old the store is
    val gridIds = spark.range(series / 10L).toDF("series_id")
    val rg = c.time(s"readGrid (${series / 10L} series, 1-day window, 1h step, 2h staleness)")(
      engine.readGrid(dayTs(days - 2L), dayTs(days - 1L), 3600L, 7200L,
        gridIds = Some(gridIds)).count())

    // stat over a 300-day interval (clamped to the span): index rows
    // inside it answer from ~1 row each, ≤2 boundary days are read;
    // statScan is the same query over every day the interval admits
    val statSpan = math.min(300L, days.toLong)
    val (statFrom, statTo) = (dayTs(days.toLong - statSpan), dayTs(days.toLong))
    // sum_value is left out: its summation order differs between paths
    def statRow(df: DataFrame) =
      df.select("cnt", "min_time", "max_time", "min_value", "max_value").collect().toSeq
    val st = c.time(s"stat via chunk-stat index (1 series, $statSpan-day interval)")(
      statRow(engine.stat(17L, statFrom, statTo)))
    val ss = c.time(s"statScan (same query, no index answer: every day of the $statSpan-day interval)")(
      statRow(engine.statScan(17L, statFrom, statTo)))
    assert(st.nonEmpty && st == ss, s"index-served stat must equal the scan: $st vs $ss")
    val mm = c.time("minMaxTime from index")(engine.minMaxTime(17L).isDefined)

    // interval read of the short-lived series over the WHOLE span: the
    // index restricts the scan to its 7 resident days
    val tiSparse = c.time("readInterval (full-span window, 7-day-lived series, index-pruned)")(
      engine.readInterval(QueryInterval(Seq(shortId), 0L, dayTs(0L), dayTs(days.toLong))).count())
    assert(tiSparse == 7L * 24, s"the 7-day hourly series reads back whole: $tiSparse rows")

    // per-id retention of the short-lived series: the stats index must
    // restrict the rewrite to its 7 resident days, not the whole span
    val erShort = c.time("per-id eraseOld (7-day-lived series, index-pruned)")(
      engine.eraseOld(dayTs(days.toLong), Seq(shortId)).size)
    assert(erShort == 7, s"per-id retention rewrites exactly the 7 resident days: $erShort")

    // sharded fan-out over a 10% slice: routed append + cross-shard grid
    val shardRows = math.max(rows / 10L, 1L)
    val sharded = new ShardedEngine(spark, Seq(s"$dir/s0", s"$dir/s1"), buckets = 8)
    c.time(f"sharded ingest ($shardRows%,d rows, 2 shards)")(
      sharded.append(mkMeas(shardRows)))
    val sg = c.time("sharded readGrid fan-out (same 1-day window, ids routed to owners)")(
      sharded.shards.zipWithIndex.map { case (sh, i) =>
        sh.readGrid(dayTs(days - 2L), dayTs(days - 1L), 3600L, 7200L,
          gridIds = Some(gridIds.filter(pmod(col("series_id"), lit(2L)) === i.toLong)))
      }.reduce(_ unionByName _).count())
    val sstat = c.time("sharded stat routed to owning shard")(
      sharded.stat(17L, dayTs(0L), dayTs(days.toLong)).count())

    // sharded maintenance fan-out: per-shard ops are independent, so the
    // concurrent fan-out should cost ~the slowest shard. compact() always
    // rewrites (maintain() is idempotent — a timed rerun has no work).
    val maintEng = new ShardedEngine(spark, (0 until 4).map(i => s"$dir/m$i"), buckets = 8)
    c.time(f"sharded-maintenance ingest ($shardRows%,d rows, 4 shards)")(
      maintEng.append(mkMeas(shardRows)))
    c.time("sharded compact, 4 shards concurrently (wall-clock ~ slowest shard)")(maintEng.compact())

    // ---- throughput vs the reference's claimed "millions of values/sec"
    // (BASELINE.md rows 4-5, (L)-caveat): measure all three regimes.
    // MEMORY-level append = the reference's MEMORY strategy analog;
    // durable append = COMPRESSED/WAL analog (clustered write + stats
    // index); scan = interval read of the whole store.
    val hotRows = math.min(rows / 4L, 5000000L)
    val hotEngine = new GraftEngine(spark, s"$dir/hot", buckets = buckets,
      hotCapacity = Long.MaxValue)
    val tHot = c.timed(f"MEMORY-level append ($hotRows%,d rows)")(hotEngine.append(mkMeas(hotRows)))._2
    c.report("memory_append_throughput", "m_rows_per_s" -> hotRows / tHot / 1e6)
    val (n, tScan) = c.timed("merge-on-read full scan")(engine.merged.count())
    c.report("merge_on_read_scan_throughput", "rows" -> n, "m_rows_per_s" -> n / tScan / 1e6)

    val er = c.time("eraseOld (drop 1/3 of the day partitions)")(
      engine.eraseOld(dayTs(days / 3L)).size)

    c.report("results", "interval" -> ti, "interval_sparse" -> tiSparse, "timepoint" -> tp,
      "current" -> cv, "grid" -> rg, "stat" -> st.size, "statScan" -> ss.size, "minmax" -> mm,
      "erase_short_days" -> erShort, "sharded_grid" -> sg, "sharded_stat" -> sstat,
      "dropped_partitions" -> er)
  }

  /** Hot-key percentiles: ONE series holding every row — the
    * pathological key the calculator's skew route exists for. The
    * built-in buffering `percentile` (whole value multiset merged on one
    * task) against SkewTools.distributedPercentiles (counts + cumulative
    * rank over slim rows), answers identical. */
  val skew = Entry("skew", "[rows=20M]", Seq(20000L)) { (c, sz) =>
    val rows = sz(0, 20000000L)
    // one hot key; ~100k distinct values via integer hashing (no RNG)
    val df = c.spark.range(rows).select(lit(7L).as("id"),
      (pmod(col("id") * lit(2654435761L), lit(100000L)) / lit(1000.0)).as("value"))
      .persist()
    c.time(f"materialize $rows%,d rows on ONE key")(df.count())
    val ps = Seq("median" -> 0.5, "percentile90" -> 0.9, "percentile99" -> 0.99)
    val builtin = c.time("built-in percentile (value buffer, single merge task)") {
      df.groupBy("id").agg(
        expr("percentile(value, 0.5D)").as("median"),
        expr("percentile(value, 0.9D)").as("percentile90"),
        expr("percentile(value, 0.99D)").as("percentile99")).collect()
    }
    val routed = c.time("distributedPercentiles (counts + cumulative rank)") {
      graft.operators.SkewTools.distributedPercentiles(df, col("id"), col("value"), ps).collect()
    }
    val same = builtin.map(_.toSeq.drop(1)).toSeq == routed.map(_.toSeq.drop(1)).toSeq
    c.report("percentiles", "identical" -> same, "routed" -> routed.head.toSeq.drop(1))
    require(same, "distributed percentile diverged from the built-in")
  }

  /** A parquet corpus of docs 0 until `n` (doc_id, text, lang, source,
    * n_chars) whose text is `textOf` over `doc_id`. */
  private[smoke] def writeDocs(c: graft.Smoke.Ctx, n: Long, path: String,
                               textOf: org.apache.spark.sql.Column): Unit =
    c.spark.range(n).withColumnRenamed("id", "doc_id")
      .select(col("doc_id"), textOf.as("text"), lit("en").as("lang"), lit("src0").as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(path)

  /** Shard export over a duplication-free corpus (export cost is layout
    * cost): initial write, two incremental appends, a replay, and a
    * read-back audit. write() ≈ one corpus pass (no shuffle), append()
    * cost tracks the BATCH, not the corpus, and a replayed append is
    * O(metadata). */
  val shardExport = Entry("export", "[docs=200k]", Seq(20000L)) { (c, sz) =>
    val spark = c.spark
    val nDocs = sz(0, 200000L)
    val dir = c.dir("export-src")
    c.time(f"materialize $nDocs%,d docs × $Tokens tokens (parquet)")(
      writeDocs(c, nDocs, s"$dir/documents.parquet", text(token(col("doc_id"), _))))
    val out = c.dir("export-out")
    c.time(s"ShardExport.write ($nDocs docs, 16 shards, no shuffle)") {
      ShardExport.write(spark, dir, out)
    }
    assert(ShardExport.readDocs(spark, out).count() == nDocs)
    val man0 = ShardExport.readManifest(spark, out)
    assert(man0.agg(sum("n_docs")).collect()(0).getLong(0) == nDocs)
    val skews = man0.select("skew_pm").collect().map(_.getLong(0))
    c.report("balance", "skew_pm_min" -> skews.min, "skew_pm_max" -> skews.max, "shards" -> 16)
    assert(skews.min > 900 && skews.max < 1100, "md5 assignment must balance within ±10 %")

    val batchN = nDocs / 20
    def batch(off: Long) =
      spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 20 === 7).withColumn("doc_id", col("doc_id") + off)
    c.time(f"append batch 1 ($batchN%,d docs — cost tracks the batch)") {
      assert(ShardExport.append(spark, batch(10000000L), out, "xscale", 1L))
    }
    c.time(f"append batch 2 ($batchN%,d docs)") {
      assert(ShardExport.append(spark, batch(20000000L), out, "xscale", 2L))
    }
    c.time("replay of batch 2 (must be O(metadata))") {
      assert(!ShardExport.append(spark, batch(20000000L), out, "xscale", 2L))
    }
    val total = ShardExport.readDocs(spark, out).count()
    assert(total == nDocs + 2 * batchN, s"read-back $total")
    val man = ShardExport.readManifest(spark, out)
    assert(man.agg(sum("n_docs")).collect()(0).getLong(0) == total,
      "manifest counts every shipped row exactly once")
    c.report("export", "rows" -> total, "shards" -> 16)
  }

  /** Substring dedup: N documents with planted boilerplate through the
    * span family's PRODUCTION query paths. Evidence that the
    * three-shuffle span design holds at scale and that the work scales
    * with corpus TOKENS + DUPLICATED tokens, not with doc pairs.
    *
    * Every 5th doc carries a shared 20-token boilerplate run at a
    * doc-dependent offset, so the outcome is checkable: one maximal span
    * per carrier, and scrub removes exactly the run from every carrier
    * except the first. */
  val span = Entry("span", "[docs=100k]", Seq(2000L)) { (c, sz) =>
    val spark = c.spark
    val nDocs = sz(0, 100000L)
    val run = 20 // boilerplate length; > SPAN_K so interior windows duplicate
    val dir = c.dir("span")
    def query(name: String) = graft.SparkEntry.queries(name)(spark, dir)
    // carriers (doc_id % 5 == 0) splice the shared run at an offset
    // that varies by doc (so spans prove position-independence)
    val doc = col("doc_id")
    val off = (doc % 37 + lit(10)).cast("int") // 10..46 ∈ [0, 120-run]
    c.time(f"materialize $nDocs%,d docs × $Tokens tokens (parquet)")(
      writeDocs(c, nDocs, s"$dir/documents.parquet", text(i =>
        when(doc % 5 === 0 && i >= off && i < off + run, concat(lit("b"), i - off))
          .otherwise(token(doc, i)))))

    val expectedCarriers = (nDocs + 4) / 5 // ids 0, 5, 10, …
    val spans = c.time(s"dedup_spans over ~${nDocs * (Tokens - 7)} windows") {
      query("dedup_spans").cache().count()
    }
    // every carrier yields exactly one maximal span covering the run
    assert(spans == expectedCarriers,
      s"expected $expectedCarriers spans (one per carrier), got $spans")
    val spanRows = query("dedup_spans").agg(min("span_tokens"), max("span_tokens")).head()
    assert(spanRows.getLong(0) == run && spanRows.getLong(1) == run,
      s"every span must cover exactly the $run-token run, got $spanRows")

    def carriersWithDups() = query("dedup_span_frac").filter(col("dup_ppm") > 0).count()
    val frac = c.time("dedup_span_frac (per-doc ppm over the full corpus)")(carriersWithDups())
    assert(frac == expectedCarriers, s"ppm>0 for carriers only: $frac")

    // window-level decontamination rides the same machinery: the eval
    // slice (doc_id % 25 == 0) is a SUBSET of the carriers (% 5 == 0),
    // so every train carrier shares the run's interior windows with
    // eval docs → contaminated with exactly the run span; the planted
    // tranche (eval copies at train ids) is fully contaminated
    val evalCarriers = (nDocs + 24) / 25
    val decon = c.time("decontaminate_spans (train vs eval slice, token accounting)") {
      query("decontaminate_spans").cache()
    }
    val dcount = decon.count()
    assert(dcount == (expectedCarriers - evalCarriers) + 2,
      s"contaminated train docs = train carriers + 2 planted: got $dcount")
    assert(decon.filter(col("doc_id") < 3000000L)
      .filter(col("cont_tokens") =!= run).count() == 0,
      "every natural train carrier is contaminated with exactly the run span")
    assert(decon.filter(col("doc_id") >= 3000000L)
      .filter(col("cont_ppm") =!= 1000000L).count() == 0,
      "planted eval copies are fully contaminated")
    decon.unpersist()

    def scrubbed() =
      query("dedup_scrub").agg(sum("n_removed"), count(when(col("n_removed") > 0, 1))).head()
    val removed = c.time("dedup_scrub (keep-first excision + text rebuild)")(scrubbed())
    // doc 0 keeps its copy; every other carrier loses exactly the run
    assert(removed.getLong(0) == (expectedCarriers - 1) * run,
      s"scrub must remove $run tokens per non-first carrier, got ${removed.getLong(0)}")
    assert(removed.getLong(1) == expectedCarriers - 1)

    // build-once serving: the TextIndex stores the rolling-window hash
    // arrays (swh) + token counts — the span family then never touches
    // the text column (no scan, no tokenize, no per-window md5; the
    // part of each query that grows with corpus tokens moves to ingest)
    val idx = s"$dir/_textidx"
    c.time("TextIndex.build (all signatures incl. swh rolling-window hashes)") {
      TextIndex.build(spark, spark.read.parquet(s"$dir/documents.parquet"), idx)
    }
    c.withConf(TextIndex.ConfKey, idx) {
      val spansIdx = c.time("dedup_spans INDEX-SERVED")(query("dedup_spans").count())
      assert(spansIdx == spans, s"served spans must equal recompute: $spansIdx vs $spans")
      val fracIdx = c.time("dedup_span_frac INDEX-SERVED")(carriersWithDups())
      assert(fracIdx == frac, s"served frac must equal recompute: $fracIdx vs $frac")
      val removedIdx = c.time("dedup_scrub INDEX-SERVED (marking from swh; text read only for rebuild)")(
        scrubbed())
      assert(removedIdx.getLong(0) == removed.getLong(0)
        && removedIdx.getLong(1) == removed.getLong(1), "served scrub must equal recompute")
      val dcountIdx = c.time("decontaminate_spans INDEX-SERVED")(query("decontaminate_spans").count())
      assert(dcountIdx == dcount, s"served decontamination must equal recompute: $dcountIdx vs $dcount")
    }
    c.report("spans", "spans" -> spans, "tokens_scrubbed" -> removed.getLong(0),
      "docs_scrubbed" -> removed.getLong(1), "windows" -> nDocs * (Tokens - 7))
  }

  /** The as-of join both ways, far beyond the sf0.1 events table —
    * evidence for the union+window formulation's 100 TB claim:
    *
    *  - asofCore (union + running last-ignoreNulls window): ONE shuffle
    *    of N rows on the key, per-key sorted scan, output = probe count.
    *    Cost depends only on total row count — NOT on per-key history
    *    depth (phase 2 pins this: at 5M rows, 0.9 / 1.8 / 1.3 s for
    *    200 / 10 000 / 100 000 rows/key — flat).
    *  - the naive range-join alternative (probes ⋈ refs on key with
    *    t_ref ≤ t_probe, then per-probe argmax): the equi-join multiplies
    *    each probe by its key's full reference history before the argmax
    *    collapses it — O(probes × refs/key) intermediate rows, which then
    *    feed a sort-aggregate (max_by over structs is not hash-aggregable).
    *    Measured at local[32], 48g, clean run: at 20M rows with only ~200
    *    rows/key the naive form takes 220 s vs 11 s for the window — 20×
    *    — and at fixed 1M rows its cost grows with history depth (1.9 s →
    *    3.8 s → 37 s at 200 → 1k → 2k rows/key, the last jump
    *    super-linear as the intermediate starts spilling) while the
    *    window holds ~0.6–0.9 s flat.
    *
    * Historical trap, kept as a warning: an earlier generator derived
    * BOTH the key (pmod(id·C, nKeys)) and the probe flag (id % 10 = 0)
    * from linear maps of the same id. For key counts sharing a factor
    * with the probe stride, probes and references landed on DISJOINT key
    * sets — the naive join was EMPTY and "benchmarked" at bare scan
    * cost, reversing the conclusion. The generator derives the probe
    * flag from the key's round number (id div nKeys) and cross-checks
    * both formulations with an order-independent checksum. */
  val temporal = Entry("temporal", "[rows=20M] [keys=rows/200]", Seq(200000L)) { (c, sz) =>
    val spark = c.spark
    val rows = sz(0, 20000000L)
    val keys = sz(1, rows / 200L)

    // round-robin keys, timestamps spread over ~23 days, every 10th
    // observation PER KEY a probe — codegen'd column arithmetic, no RNG
    def mkBase(nRows: Long, nKeys: Long) = spark.range(nRows)
      .select(
        (col("id") % lit(nKeys)).as("k"),
        timestamp_micros(lit(1704067200000000L) + col("id") * lit(100000L) % lit(2000000000000L)).as("t"),
        col("id").as("seq"),
        (col("id") % lit(1000)).cast("double").as("v"),
        (floor(col("id") / lit(nKeys)).cast("long") % lit(10) === 0).as("is_probe"))

    def naive(probes: DataFrame, refs0: DataFrame) = {
      val refs = refs0.select(col("k"), col("t").as("rt"), col("seq").as("rseq"), col("v").as("rv"))
      probes.join(refs, Seq("k"))
        .filter(col("rt") <= col("t"))
        .groupBy("k", "t", "seq", "v")
        .agg(max_by(struct(col("rt"), col("rv")), struct(col("rt"), col("rseq"))).as("m"))
        .select(col("k"), col("t"), col("seq"), col("v"),
          col("m.rt").as("ref_t"), col("m.rv").as("ref_v"))
    }

    // one checksum shape for both formulations: enriched probes only
    // (the inner-join form drops never-enriched probes by construction);
    // bit_xor is order-independent and cannot overflow
    def checksum(df: DataFrame): (Long, Long) = {
      val r = df.filter(col("ref_t").isNotNull)
        .agg(count(lit(1)), expr("bit_xor(xxhash64(k, t, seq, v, ref_t, ref_v))"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def phase(label: String, nRows: Long, nKeys0: Long,
              withNaive: Boolean, check: Boolean = false): Unit = {
      val nKeys = math.max(1L, nKeys0)
      val base = mkBase(nRows, nKeys).persist()
      base.count()
      c.report(label, "rows" -> nRows, "keys" -> nKeys, "rows_per_key" -> nRows / nKeys)
      def shaped(probe: Boolean) =
        base.filter(col("is_probe") === probe).select("k", "t", "seq", "v")
      val wdf = TemporalQueries.asofCore(shaped(true), shaped(false))
      c.time(s"$label asofCore (union+window)")(noop(wdf))
      if (withNaive) {
        val ndf = naive(shaped(true), shaped(false))
        c.time(s"$label naive range-join + argmax")(noop(ndf))
        if (check) {
          val (w, n) = (checksum(wdf), checksum(ndf))
          c.report(s"$label checksums", "window" -> w.toString, "naive" -> n.toString, "agree" -> (w == n))
          require(w == n, s"$label: formulations disagree")
        }
      }
      base.unpersist()
    }

    // Phase 1 — head-to-head at production-ish shape (naive is already
    // ~31× slower here; its intermediate is only 20× the input).
    phase("head-to-head", rows, keys, withNaive = true, check = true)

    // Phase 2 — window depth-invariance: same total rows, history depth
    // ×500; asofCore time must stay ~flat (cost is O(N log N) in total
    // rows, never in rows/key).
    val depthRows = rows / 4
    phase("window-depth-200", depthRows, depthRows / 200, withNaive = false)
    phase("window-depth-10k", depthRows, depthRows / 10000, withNaive = false)
    phase("window-depth-100k", depthRows, depthRows / 100000, withNaive = false)

    // Phase 3 — naive depth-growth at a bounded size so the entry
    // terminates: doubling history depth ~doubles the naive join's
    // intermediate while the window side is flat.
    val naiveRows = rows / 20
    phase("naive-depth-200", naiveRows, naiveRows / 200, withNaive = true, check = true)
    phase("naive-depth-1k", naiveRows, naiveRows / 1000, withNaive = true)
    phase("naive-depth-2k", naiveRows, naiveRows / 2000, withNaive = true)

    // Phase 4 — the series-analytics family THROUGH THE PRODUCTION
    // REGISTRY at the full row count: all four are one-window-sort-per-
    // series + grouped-aggregate shapes, so cost must track total rows
    // (like asofCore), never per-series depth. Alternating event types
    // per round give every user two series so the xcorr pair join has
    // real work.
    val evDir = c.dir("temporal-ev")
    c.time(f"materialize $rows%,d events (parquet)") {
      mkBase(rows, keys)
        .select(col("seq").as("event_id"), col("t").as("ts"), col("k").as("user_id"),
          when(floor(col("seq") / lit(keys)) % 2 === 0, lit("click"))
            .otherwise(lit("view")).as("event_type"),
          col("v").as("value"), lit("{}").as("props"))
        .write.parquet(s"$evDir/events.parquet")
    }
    Seq("series_acf", "series_cusum", "anomaly_windows", "series_xcorr").foreach { name =>
      c.time(s"$name over $rows rows (registry build, noop sink)")(
        noop(graft.SparkEntry.queries(name)(spark, evDir)))
      spark.catalog.clearCache()
    }
  }

  val entries: Seq[Entry] = Seq(engine, skew, shardExport, span, temporal)
}
