package perfbench

import java.io.File
import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Meas
import graft.engine.{GraftEngine, QueryInterval}
import graft.extensions.TextIndex
import graft.operators.CoreQueries
import graft.streaming.StreamingClean

/** One client's batch work, one op at a time: two registry queries, one
  * [[StreamingClean.admitBatch]] call over a micro-batch laid out in
  * tranches with known verdicts, three 1,000-value appends straight
  * into a durable [[GraftEngine]] (about 1 % rewrites of keys appended
  * before) and one `maintain()`. A pass runs them always in that
  * order: in a fresh JVM the first op pays most of the warm-up, so an
  * order that varied with the seed would move every op's time. The
  * cache is cleared before each op. Passes repeat until the run's time
  * is up. The first pass writes each query's result as parquet, for the
  * oracle check the runner does with DuckDB; later passes write to the
  * `noop` sink. At the end every acknowledged value must read back from
  * a fresh engine. */
object BatchMixed extends Workload {
  val name = "batch_mixed"

  /** `stat` (operators; the r13 spike) and `hybrid_rrf` (extensions;
    * the slowest query with an open per-query lead). */
  val Queries: Seq[String] = Seq("stat", "hybrid_rrf")
  private val Admit = "admit"
  private val Append = "append"
  private val Maintain = "maintain"
  private val AppendsPerPass = 3
  private val WrittenSeries = 200

  /** Module a registered query lives in, for its layer metric name. */
  def module(q: String): String =
    if (CoreQueries.defs.get(q).exists(_ eq SparkEntry.all(q))) "operators" else "extensions"

  def run(ctx: Ctx, r: Report): Unit = {
    val spark = ctx.spark
    val sf = if (ctx.tiny) 0.001 else 0.01
    val adm = new Admission(spark, ctx.seed, owned = if (ctx.tiny) 200 else 1000,
      batch = if (ctx.tiny) 100 else 500)
    // inputs (harness work, made once); set-up is the program's work:
    // indexing the owned corpus
    val tables = ctx.dir("batch-tables")
    DataGen.write(spark, sf, ctx.seed, tables)
    val owned = ctx.dir("admit-owned")
    adm.writeCorpus(owned)
    val index = Clock.setups[String](r, d => Host.deleteTree(new File(d))) { i =>
      val idx = ctx.dir(s"admit-index-$i")
      adm.buildIndex(owned, idx)
      idx
    }
    val all = SparkEntry.all
    val order = Queries ++ Seq(Admit) ++ Seq.fill(AppendsPerPass)(Append) :+ Maintain
    val storeDir = ctx.dir("ingest-store")
    val engine = new GraftEngine(spark, storeDir, buckets = 4)
    val gen = new MeasGen(ctx.seed)
    val rnd = new Random(ctx.seed * 7919L + 1)
    val writeIds = MeasGen.seriesIds(WrittenSeries)
    val valuesPerAppend = if (ctx.tiny) 100 else 1000
    val written = new Model
    val mine = mutable.ArrayBuffer[Meas]()
    var cursor = MeasGen.Epoch
    val dump = ctx.dir("batch-dump")
    val verdicts = ctx.dir("admit-verdicts")
    val oracle = Queries.flatMap(q => all(q).oracle.map(q -> _)).toMap
    val w = new java.io.PrintWriter(s"$dump/oracle_sql.json", "UTF-8")
    try w.print(Json(oracle)) finally w.close()

    val perOp = order.distinct.map(_ -> new Samples).toMap
    val build = new Samples
    val runs = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    var batches, compactions = 0
    var indexFiles = adm.indexFiles(index)

    /** One op; returns its seconds, or None when it failed. Queries
      * write to `sink` (parquet) or to the noop sink. */
    def op(name: String, sink: Option[String]): Option[Double] = {
      spark.sharedState.cacheManager.clearCache()
      try {
        if (name == Admit) {
          batches += 1
          val batch = adm.batchOf(batches).localCheckpoint()
          r.attempt(adm.batch)
          val (_, ms) = Clock.ms(Tracer.span("streaming.admit_batch")(StreamingClean.admitBatch(
            spark, batch, owned, index, verdicts, "perfbench", batches)))
          if (ctx.trace) {
            val n = adm.indexFiles(index)
            if (n < indexFiles) compactions += 1
            indexFiles = n
          }
          Some(ms / 1000)
        } else if (name == Append) {
          val rw = if (mine.isEmpty) Nil
            else Seq.fill(valuesPerAppend / 100)(mine(rnd.nextInt(mine.size))).map(m => gen.meas(m.id, m.time.getTime))
          val fresh = (0 until valuesPerAppend - rw.size).map(k =>
            gen.meas(writeIds(rnd.nextInt(writeIds.size)), cursor + k * 7L))
          cursor += valuesPerAppend * 7L
          r.attempt()
          val (_, ms) = Clock.ms(Tracer.span("engine.append")(engine.append(fresh ++ rw)))
          written.put(fresh ++ rw)
          mine ++= fresh
          Some(ms / 1000)
        } else if (name == Maintain) {
          r.attempt()
          val (_, ms) = Clock.ms(Tracer.span("engine.maintain")(engine.maintain()))
          Some(ms / 1000)
        } else {
          r.attempt()
          runs(name) += 1
          val o0 = System.nanoTime()
          val df = Tracer.span(s"operators.build:$name")(all(name).build(spark, tables))
          build.add((System.nanoTime() - o0) / 1e6)
          val out = df.write.mode("overwrite")
          Tracer.span(s"query:$name")(sink match {
            case Some(dir) => out.parquet(s"$dir/$name")
            case None => out.format("noop").save()
          })
          Some((System.nanoTime() - o0) / 1e9)
        }
      } catch { case e: Exception =>
        r.fail(s"$name: $e", if (name == Admit) adm.batch else 1)
        None
      }
    }

    val t0 = Tracer.nowMs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var sink = Option(dump)
    do {
      order.foreach(name => op(name, sink).foreach(perOp(name).add))
      sink = None
    } while (System.nanoTime() < deadline)
    val t1 = Tracer.nowMs
    spark.sharedState.cacheManager.clearCache()

    val kept = adm.check(r, verdicts, batches, ctx.plantWrong)
    // durability: every acknowledged value reads back from a fresh engine
    r.attempt()
    try {
      val got = new GraftEngine(spark, storeDir, buckets = 4)
        .readIntervalScan(QueryInterval(Nil, 0L, Meas.TIME_MIN, Meas.TIME_MAX))
        .collect().map(row => (row.getAs[Long]("id"), row.getAs[Timestamp]("time").getTime) ->
          (row.getAs[Double]("value"), row.getAs[Long]("flag"), row.getAs[Long]("seq"))).toMap
      val lost = written.all.count { case (id, t, v, f, s) => !got.get((id, t)).contains((v, f, s)) }
      if (lost > 0) r.fail(s"durability: $lost acknowledged values missing or changed after reopen", lost)
    } catch { case e: Exception => r.fail(s"durability check: $e") }
    val opS = perOp.values.flatMap(_.values).toSeq
    r.single("ops_per_s", "1/s", opS.size / opS.sum, opS.size)
    r.dist("op_p50_ms", "ms", opS.map(_ * 1000))
    r.p90("op_p90_ms", "ms", opS.map(_ * 1000))
    val queryS = Queries.flatMap(perOp(_).values)
    r.single("batch_qps", "1/s", queryS.size / queryS.sum, queryS.size)
    r.dist("admit_docs_per_s", "1/s", perOp(Admit).values.map(adm.batch / _))
    val appendS = perOp(Append).values
    r.single("append_values_per_s", "1/s", appendS.size * valuesPerAppend / appendS.sum, appendS.size)
    r.dist("append_p50_ms", "ms", appendS.map(_ * 1000))
    val store = new File(storeDir)
    r.single("store_bytes_per_value", "bytes", Host.treeBytes(store).toDouble / math.max(written.size, 1L),
      written.size)
    r.details("batch") = Map("tables" -> tables, "dump" -> dump, "runs" -> runs.toMap,
      "plant_wrong" -> ctx.plantWrong, "order" -> Queries)

    ctx.trace0.foreach { st =>
      st.drain()
      st.report(r, t0, t1, opS.size)
      Queries.foreach(q => r.dist(s"${module(q)}.${q}_s", "s", perOp(q).values, layer = true))
      r.dist("operators.build_ms", "ms", build.values, layer = true)
      r.dist("streaming.admit_batch_ms", "ms", perOp(Admit).values.map(_ * 1000), layer = true)
      r.single("streaming.kept_ratio", "ratio", kept.toDouble / math.max(batches * adm.batch, 1),
        batches * adm.batch, layer = true)
      r.single("extensions.textindex_files", "count", adm.indexFiles(index).toDouble, 1, layer = true)
      r.single("extensions.textindex_compactions", "count", compactions.toDouble, batches, layer = true)
      r.dist("engine.append_ms", "ms", perOp(Append).values.map(_ * 1000), layer = true)
      r.dist("engine.maintain_ms", "ms", perOp(Maintain).values.map(_ * 1000), layer = true)
      val appendJobs = Tracer.all.filter(_.name == "engine.append")
        .flatMap(s => st.jobsIn(s.startMs - 1, s.endMs))
      r.single("sources.bytes_written_per_value", "bytes",
        appendJobs.map(_.bytesWritten).sum.toDouble / math.max(appendS.size * valuesPerAppend, 1),
        appendS.size * valuesPerAppend, layer = true)
      val days = Option(new File(store, "data").listFiles).toSeq.flatten.filter(_.getName.startsWith("day="))
      r.single("sources.files_per_day", "count",
        days.map(d => Host.treeFiles(d, _.getName.endsWith(".parquet")).size).sum.toDouble / math.max(days.size, 1),
        days.size, layer = true)
      r.single("sources.index_bytes", "bytes", Host.treeBytes(new File(store, "_stats")).toDouble, 1, layer = true)
    }
  }
}

/** Admission inputs: a seeded owned corpus with its text index, and
  * micro-batches whose tranches have known verdicts — exact and
  * one-token copies of owned documents (near_dup), non-English
  * documents (lang), too-short documents (quality) and novel documents
  * (kept). Batches copy disjoint owned ranges while the corpus lasts. */
final class Admission(spark: SparkSession, seed: Long, owned: Long, val batch: Int) {
  private val Tokens = 60
  private val FirstId = 10000000L
  /** Share of one-token copies that must be caught: LSH banding is
    * probabilistic, and the admission smoke holds the same floor. */
  private val NearFloor = 0.9
  private val (exactEnd, nearEnd, langEnd, tinyEnd) = (batch / 4, batch / 2, batch * 6 / 10, batch * 7 / 10)

  private def toks(src: Column, from: Int): Column =
    concat_ws(" ", transform(sequence(lit(from), lit(Tokens - 1)), j =>
      concat(lit("t"), pmod(src * 2654435761L + j * 40503L + lit(seed * 1000003L), lit(1000000000000L)))))

  def writeCorpus(ownedDir: String): Unit =
    spark.range(owned).select(col("id").as("doc_id"), toks(col("id"), 0).as("text"))
      .write.parquet(s"$ownedDir/seed")

  def buildIndex(ownedDir: String, indexDir: String): Unit =
    TextIndex.build(spark, spark.read.parquet(s"$ownedDir/seed"), indexDir)

  def batchOf(b: Int): DataFrame = {
    val i = col("i")
    val src = pmod(i + lit(b.toLong * nearEnd), lit(owned))
    val novel = i + lit(owned + b.toLong * batch)
    spark.range(batch).select((lit(FirstId + b.toLong * batch) + col("id")).as("doc_id"), col("id").as("i"))
      .select(col("doc_id"),
        when(i < exactEnd, toks(src, 0))
          .when(i < nearEnd, concat(lit("zz0 "), toks(src, 1)))
          .when(i >= langEnd && i < tinyEnd, lit("tiny doc"))
          .otherwise(toks(novel, 0)).as("text"),
        when(i >= nearEnd && i < langEnd, "de").otherwise("en").as("lang"),
        timestamp_seconds(lit(b.toLong * 1000L) + i / lit(1000.0)).as("ingest_ts"))
  }

  private def expected(pos: Int): String =
    if (pos < nearEnd) "near_dup" else if (pos < langEnd) "lang" else if (pos < tinyEnd) "quality" else "kept"

  def indexFiles(indexDir: String): Int =
    Host.treeFiles(new File(indexDir), _.getName.endsWith(".parquet")).size

  /** Check every batch's verdicts against its tranche layout; returns
    * the number of documents kept. */
  def check(r: Report, verdictsDir: String, batches: Int, plantWrong: Boolean): Long = {
    val got = spark.read.option("recursiveFileLookup", "true").parquet(verdictsDir)
      .select("doc_id", "verdict").collect().map(row => row.getLong(0) -> row.getString(1)).toMap
    var kept = 0L
    for (b <- 1 to batches) {
      val v = (0 until batch).map(p => p -> got.get(FirstId + b.toLong * batch + p))
      kept += v.count(_._2.contains("kept"))
      val nearCaught = v.count { case (p, x) => p >= exactEnd && p < nearEnd && x.contains("near_dup") }
      val nearOk = nearCaught >= NearFloor * (nearEnd - exactEnd)
      v.foreach { case (p, x) =>
        val exp = if (plantWrong && b == 1 && p == 0) "kept" else expected(p)
        val missedNear = p >= exactEnd && p < nearEnd && x.contains("kept")
        if (!x.contains(exp) && !(missedNear && nearOk)) r.fail(s"admission batch $b doc $p: verdict $x, expected $exp")
      }
    }
    kept
  }
}
