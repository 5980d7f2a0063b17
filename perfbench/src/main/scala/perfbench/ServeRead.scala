package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.util.Random

import graft.core.Meas
import graft.engine.{EngineApi, GraftEngine, QueryInterval, QueryTimePoint}
import graft.network.{GraftClient, GraftServer}

/** dariadb's remote read path: closed-loop TCP read clients
  * (readInterval / readTimePoint / currentValue / readGrid) against an
  * in-process [[GraftServer]] over a pre-loaded durable store with no
  * hot level. Every answer is checked exactly against the generator's
  * model. The load stays below what saturates the cores, so a run's
  * figures move with the program more than with the host. */
object ServeRead extends Workload {
  val name = "serve_read"

  final case class Sizes(series: Int, days: Int, perSeries: Int, gridSeries: Int,
                         readers: Int, buckets: Int)
  private val full = Sizes(series = 1000, days = 30, perSeries = 60, gridSeries = 100,
    readers = 2, buckets = 4)
  private val tiny = Sizes(series = 50, days = 30, perSeries = 20, gridSeries = 10,
    readers = 2, buckets = 4)

  /** One cycle of the read mix as percentiles: 40 % readInterval,
    * 25 % readTimePoint, 25 % currentValue, 10 % readGrid, interleaved
    * so any run sees the same proportions. Reader c starts at entry 2c,
    * so the first two calls of two readers cover every kind. */
  private val Mix: Seq[Int] = Seq(0, 45, 70, 95, 10, 50, 75, 20, 55, 80, 30, 60, 85, 35, 65, 90, 5, 40, 15, 25)

  private val GridStepS = 3600L
  private val GridStalenessS = 6 * 3600L

  final case class Store(engine: GraftEngine, server: GraftServer, dir: String) {
    def release(): Unit = { server.stop(); Host.deleteTree(new File(dir)) }
  }

  def run(ctx: Ctx, r: Report): Unit = {
    val sz = if (ctx.tiny) tiny else full
    val ids = MeasGen.seriesIds(sz.series)
    val gridIds = ids.take(sz.gridSeries)
    val endMs = MeasGen.Epoch + sz.days * MeasGen.Day
    val gen = new MeasGen(ctx.seed)
    val base = gen.spread(ids, sz.perSeries, MeasGen.Epoch, sz.days * MeasGen.Day)
    val preload = base ++ gen.rewrites(base, 0.01)
    val model = new Model
    model.put(preload)

    val store = Clock.setups[Store](r, _.release()) { i =>
      val dir = ctx.dir(s"serve-store-$i")
      val engine = new GraftEngine(ctx.spark, dir, buckets = sz.buckets)
      engine.append(MeasGen.frame(ctx.spark, preload))
      engine.addParams(MeasGen.seriesNames(sz.gridSeries))
      val api: EngineApi = if (ctx.trace) new TracedEngine(ctx.spark, engine) else engine
      Store(engine, new GraftServer(api).start(), dir)
    }

    val lat = Seq("readInterval", "readTimePoint", "currentValue", "readGrid").map(_ -> new Samples).toMap
    val pooled = new Samples
    val rowsReturned, bytesReturned = new AtomicLong()
    val planted = new AtomicBoolean(ctx.plantWrong)

    def check[T](op: String, got: Seq[T], expected: Seq[T]): Unit = {
      val exp = if (planted.getAndSet(false)) expected.drop(1) else expected
      if (got != exp) r.fail(s"$op: got ${got.size} rows, expected ${exp.size}; first difference " +
        got.map(Some(_)).zipAll(exp.map(Some(_)), None, None).find(p => p._1 != p._2))
    }

    /** One client call returning (rows, their bytes on the wire). */
    def timed(op: String)(body: => (Int, Long)): Unit = {
      r.attempt()
      val t0 = Tracer.nowMs
      try {
        val (rows, bytes) = body
        val ms = Tracer.nowMs - t0
        lat(op).add(ms)
        pooled.add(ms)
        rowsReturned.addAndGet(rows)
        bytesReturned.addAndGet(bytes)
      } catch { case e: Exception => r.fail(s"$op: $e") }
    }

    def reader(c: Int, deadlineNs: Long): Unit = {
      val rnd = new Random(ctx.seed * 1000003L + c)
      val cl = new GraftClient("127.0.0.1", store.server.boundPort)
      var k = c * 2
      try while (System.nanoTime() < deadlineNs) {
        val pick = Mix(k % Mix.size)
        k += 1
        if (pick < 40) timed("readInterval") {
          val qIds = Seq.fill(1 + rnd.nextInt(3))(ids(rnd.nextInt(ids.size)))
          val from =
            if (rnd.nextInt(10) < 8) endMs - 2 * MeasGen.Day + (rnd.nextDouble() * MeasGen.Day).toLong
            else MeasGen.Epoch + (rnd.nextDouble() * (endMs - MeasGen.Day - MeasGen.Epoch)).toLong
          val to = from + MeasGen.Day
          val got = cl.readInterval(QueryInterval(qIds, 0L, new Timestamp(from), new Timestamp(to)))
          check("readInterval", got.map(m => (m.id, m.time.getTime, m.value, m.flag, m.seq)),
            model.interval(qIds, from, to))
          (got.size, got.map(lineBytes).sum)
        } else if (pick < 90) {
          val current = pick >= 65
          timed(if (current) "currentValue" else "readTimePoint") {
            val qIds = rnd.shuffle(ids).take(10)
            val at = if (current) Long.MaxValue
              else MeasGen.Epoch + (rnd.nextDouble() * (endMs - MeasGen.Epoch)).toLong
            val got =
              if (current) cl.currentValue(qIds, 0L)
              else cl.readTimePoint(QueryTimePoint(qIds, 0L, new Timestamp(at)))
            check(if (current) "currentValue" else "readTimePoint",
              got.map(p => (p._1, p._2.map(_.getTime), p._3, p._4)), model.point(qIds, at))
            (got.size, got.map(p => (s"POINT ${p._1} ${p._2.map(_.getTime * 1000).getOrElse("-")} " +
              s"${p._3.getOrElse("-")} ${p._4}\n").length.toLong).sum)
          }
        } else timed("readGrid") {
          val from = MeasGen.Epoch + rnd.nextInt(sz.days - 1) * MeasGen.Day + rnd.nextInt(24) * 3600000L
          val to = from + MeasGen.Day
          val got = cl.readGrid(new Timestamp(from), new Timestamp(to), GridStepS, GridStalenessS)
          check("readGrid", got.map(g => (g._1, g._2.getTime, g._3, g._4)),
            expectedGrid(model, gridIds, from, to))
          (got.size, got.map(g => (s"GRID ${g._1} ${g._2.getTime * 1000} ${g._3.getOrElse("-")} " +
            s"${g._4.getOrElse("-")}\n").length.toLong).sum)
        }
      } finally cl.close()
    }

    val t0 = Tracer.nowMs
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val threads = (0 until math.min(sz.readers, ctx.cores)).map(c =>
      new Thread(() => reader(c, deadline), s"perfbench-reader-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t1 = Tracer.nowMs
    store.server.stop()

    val windowS = (t1 - t0) / 1000.0
    r.single("ops_per_s", "1/s", pooled.size / windowS, pooled.size)
    r.dist("op_p50_ms", "ms", pooled.values)
    r.p90("op_p90_ms", "ms", pooled.values)
    r.single("read_ops_per_s", "1/s", pooled.size / windowS, pooled.size)
    r.dist("read_interval_p50_ms", "ms", lat("readInterval").values)
    r.dist("read_timepoint_p50_ms", "ms", lat("readTimePoint").values)
    r.dist("current_value_p50_ms", "ms", lat("currentValue").values)
    r.dist("read_grid_p50_ms", "ms", lat("readGrid").values)
    r.p90("read_p90_ms", "ms", pooled.values)

    ctx.trace0.foreach { st =>
      st.drain()
      st.report(r, t0, t1, pooled.size)
      val calls = Tracer.all.filter(s => s.name == "engine.call" && s.startMs >= t0 && s.startMs <= t1)
      val callByReq = calls.map(s => s.req -> s).toMap
      val jobs = st.jobsIn(t0, t1).filter(j => callByReq.contains(j.req))
      val postCallJobMs = jobs.filter(j => j.submitMs >= callByReq(j.req).endMs - 1)
        .map(j => j.endMs - j.submitMs).sum
      r.single("network.self_ms", "ms",
        (pooled.values.sum - calls.map(_.ms).sum - postCallJobMs) / math.max(pooled.size, 1),
        pooled.size, layer = true)
      r.single("network.bytes_per_row", "bytes",
        bytesReturned.get.toDouble / math.max(rowsReturned.get, 1L), rowsReturned.get, layer = true)
      r.dist("engine.call_ms", "ms", calls.map(_.ms), layer = true)
      r.single("sources.rows_read_per_row_returned", "ratio",
        jobs.map(_.recordsRead).sum.toDouble / math.max(rowsReturned.get, 1L), rowsReturned.get, layer = true)
    }
    store.release()
  }

  /** Size of one `MEAS` line of the wire protocol. */
  private def lineBytes(m: Meas): Long =
    s"MEAS ${m.id} ${m.time.getTime * 1000} ${m.value} ${m.flag} ${m.seq}\n".length.toLong

  /** readGrid's answer: every grid series at each step of [from, to],
    * filled from its newest row no older than the staleness bound. */
  def expectedGrid(model: Model, gridIds: Seq[Long], from: Long, to: Long)
      : Seq[(Long, Long, Option[Double], Option[Long])] =
    for (id <- gridIds.sorted; t <- from to to by GridStepS * 1000) yield
      model.floor(id, t) match {
        case Some((ft, row)) if t - ft <= GridStalenessS * 1000 =>
          (id, t, Some(row.value), Some((t - ft) * 1000))
        case _ => (id, t, None, None)
      }
}
