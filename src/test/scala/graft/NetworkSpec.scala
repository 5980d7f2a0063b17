package graft

import java.sql.Timestamp

import graft.core.{Flags, Meas}
import graft.engine.{GraftEngine, QueryInterval, QueryTimePoint}
import graft.network.{GraftClient, GraftServer}

/** O17 round-trip spec: every QueryKind over the wire must agree with
  * the in-process engine result on the same store.
  */
class NetworkSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("append/read/subscribe round-trip over the wire equals in-process results") {
    val engine = new GraftEngine(spark, tmpDir("graft-net"), buckets = 4)
    val server = new GraftServer(engine).start()
    try {
      val client = new GraftClient("127.0.0.1", server.boundPort)
      assert(client.ping())

      // SUBSCRIBE registered before the appends it must observe
      val pushed = new java.util.concurrent.LinkedBlockingQueue[Meas]()
      val subClient = new GraftClient("127.0.0.1", server.boundPort)
      subClient.subscribe(Seq(1L), Flags.ERROR)(pushed.put)

      // APPEND over the wire (batch 1), then a fresher rewrite (batch 2)
      val batch = Seq(
        Meas(1L, ts("2024-03-01 10:00:00"), 1.5, Flags.CLICK, 1),
        Meas(1L, ts("2024-03-01 11:00:00"), 2.25, Flags.ERROR, 2),
        Meas(2L, ts("2024-03-01 10:30:00"), -10.125, Flags.CLICK, 3),
        Meas(2L, ts("2024-03-02 09:00:00"), 4.0, Flags.SIGNUP, 4))
      assert(client.append(batch) === 4)
      assert(client.append(Seq(Meas(1L, ts("2024-03-01 11:00:00"), 20.0, Flags.ERROR, 5))) === 1)

      // READ_INTERVAL over the wire ≡ in-process readInterval
      val q = QueryInterval(Seq(1L, 2L), 0L, ts("2024-03-01 00:00:00"), ts("2024-03-03 00:00:00"))
      val wire = client.readInterval(q)
      val local = engine.readInterval(q).collect().map(r =>
        Meas(r.getLong(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq
      assert(wire === local)
      assert(wire.size === 4, "merge-on-read: the fresher rewrite replaced the stale row")
      assert(wire.find(m => m.id == 1L && m.time == ts("2024-03-01 11:00:00")).get.value === 20.0)

      // flag filter travels: any-shared-bit semantics
      val flagged = client.readInterval(q.copy(flag = Flags.ERROR))
      assert(flagged.map(_.seq) === Seq(5L))

      // READ_TIMEPOINT: as-of value per series, _NO_DATA for unknown id
      val tp = client.readTimePoint(QueryTimePoint(Seq(1L, 2L, 999L), 0L, ts("2024-03-01 10:45:00")))
      assert(tp.size === 3)
      val byId = tp.map(p => p._1 -> p).toMap
      assert(byId(1L)._3 === Some(1.5))
      assert(byId(2L)._2 === Some(ts("2024-03-01 10:30:00")))
      assert(byId(999L)._3 === None)
      assert(byId(999L)._4 === Meas.NO_DATA)

      // CURRENT_VALUE ≡ in-process currentValue
      val cur = client.currentValue(Seq(1L, 2L), 0L)
      val curLocal = engine.currentValue(Seq(1L, 2L), 0L).collect().map { r =>
        (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getTimestamp(1)),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getLong(3))
      }.toSeq
      assert(cur === curLocal)
      assert(cur.find(_._1 == 2L).get._3 === Some(4.0))
      // a repeated id answers once, like dariadb's Id2Meas map
      assert(client.currentValue(Seq(2L, 1L, 2L, 1L), 0L) === cur)
      assert(client.readTimePoint(QueryTimePoint(Seq(999L, 1L, 999L, 2L), 0L,
        ts("2024-03-01 10:45:00"))).map(_._1) === Seq(1L, 2L, 999L))

      // SUBSCRIBE: the id-1 ERROR appends were pushed (seq 2 then 5),
      // the CLICK/SIGNUP and id-2 rows were filtered server-side
      val got = Iterator.continually(
        Option(pushed.poll(10, java.util.concurrent.TimeUnit.SECONDS)))
        .take(2).flatten.toSeq
      assert(got.map(_.seq).sorted === Seq(2L, 5L))
      assert(pushed.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS) === null,
        "no unmatched measurement is pushed")

      // malformed requests get an ERR reply, not a dropped connection
      val raw = new java.net.Socket("127.0.0.1", server.boundPort)
      val rawOut = new java.io.PrintWriter(raw.getOutputStream)
      val rawIn = new java.io.BufferedReader(new java.io.InputStreamReader(raw.getInputStream))
      rawOut.println("BOGUS 1 2 3"); rawOut.flush()
      assert(rawIn.readLine().startsWith("ERR"))
      rawOut.println("READ_INTERVAL 1 0 not_a_number 5"); rawOut.flush()
      assert(rawIn.readLine().startsWith("ERR"))
      rawOut.println("PING"); rawOut.flush()
      assert(rawIn.readLine() === "PONG", "connection survives a bad request")
      raw.close()

      // a malformed APPEND COUNT is unresyncable (unknown payload
      // length): ERR then CLOSE, payload lines never replay as requests
      val raw2 = new java.net.Socket("127.0.0.1", server.boundPort)
      val raw2Out = new java.io.PrintWriter(raw2.getOutputStream)
      val raw2In = new java.io.BufferedReader(new java.io.InputStreamReader(raw2.getInputStream))
      raw2Out.println("APPEND x"); raw2Out.flush()
      assert(raw2In.readLine().startsWith("ERR"))
      assert(raw2In.readLine() === null, "server closes after an unresyncable APPEND")
      raw2.close()

      // a subscribed connection is consumed: server rejects reads on it,
      // client refuses to issue them at all
      intercept[IllegalStateException](subClient.ping())
      intercept[IllegalStateException](subClient.currentValue(Seq(1L), 0L))
      val raw3 = new java.net.Socket("127.0.0.1", server.boundPort)
      val raw3Out = new java.io.PrintWriter(raw3.getOutputStream)
      val raw3In = new java.io.BufferedReader(new java.io.InputStreamReader(raw3.getInputStream))
      raw3Out.println("SUBSCRIBE * 0"); raw3Out.flush()
      assert(raw3In.readLine() === "SUBSCRIBED")
      raw3Out.println("CURRENT_VALUE 1 0"); raw3Out.flush()
      assert(raw3In.readLine().startsWith("ERR"),
        "a multi-line reply would interleave with MEAS pushes")
      raw3.close()

      client.close()
      subClient.close()
    } finally server.stop()
  }

  test("READ_GRID over the wire equals the in-process grid read") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-grid"), buckets = 2)
    val idA = engine.addParam("net.grid.a")
    val idB = engine.addParam("net.grid.b") // registered, no data → null grid rows
    engine.append(Seq(
      Meas(idA, ts("2024-03-01 10:00:00"), 1.5, Flags.CLICK, 1),
      Meas(idA, ts("2024-03-01 11:30:00"), 2.5, Flags.CLICK, 2)))
    val server = new GraftServer(engine).start()
    try {
      val client = new GraftClient("127.0.0.1", server.boundPort)
      val from = ts("2024-03-01 10:00:00"); val to = ts("2024-03-01 13:00:00")
      val wire = client.readGrid(from, to, 3600L, 5000L)
      val local = engine.readGrid(from, to, 3600L, 5000L).collect().map(r =>
        (r.getLong(0), r.getTimestamp(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
      assert(wire === local)
      assert(wire.size === 8, "two catalog series x four grid points")
      assert(wire.filter(_._1 == idB).forall(_._3.isEmpty), "dataless series emits null grid rows")
      val aRows = wire.filter(_._1 == idA)
      assert(aRows.head._3 === Some(1.5) && aRows.head._4 === Some(0L))
      assert(aRows.last._3.isEmpty, "13:00 is 5400s after the 11:30 point — past the 5000s horizon")
      client.close()
    } finally server.stop()
  }

  test("one flush per message: a 1,000-line APPEND, a 2,500-row grid and a 10-id currentValue round-trip") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-flush"), buckets = 2)
    val ids = engine.addParams((0 until 25).map(i => s"net.flush.$i")).values.toSeq.sorted
    val server = new GraftServer(engine).start()
    try {
      val client = new GraftClient("127.0.0.1", server.boundPort)
      val from = ts("2024-03-01 00:00:00")
      val batch = (0 until 1000).map(i =>
        Meas(ids(i % 25), new Timestamp(from.getTime + (i / 25) * 600000L), i * 0.5, 1L, i.toLong))
      assert(client.append(batch) === 1000)
      val q = QueryInterval(ids, 0L, from, ts("2024-03-02 00:00:00"))
      assert(client.readInterval(q) === batch.sortBy(m => (m.id, m.time.getTime)))

      // 25 catalog series × 100 grid points
      val to = new Timestamp(from.getTime + 99 * 60000L)
      val wireGrid = client.readGrid(from, to, 60L, 600L)
      val localGrid = engine.readGrid(from, to, 60L, 600L).collect().map(r =>
        (r.getLong(0), r.getTimestamp(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
      assert(wireGrid.size === 2500 && wireGrid === localGrid)

      val cur = client.currentValue(ids.take(10), 0L)
      val curLocal = engine.currentValue(ids.take(10), 0L).collect().map(r =>
        (r.getLong(0), Some(r.getTimestamp(1)), Some(r.getDouble(2)), r.getLong(3))).toSeq
      assert(cur.size === 10 && cur === curLocal)
      assert(cur.map(_._3.get) === ids.take(10).map(id => batch.filter(_.id == id).last.value))
      client.close()
    } finally server.stop()
  }

  test("a CURRENT_VALUE or READ_TIMEPOINT served from the latest-value map runs no Spark job on the server") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-jobs"), buckets = 2)
    val server = new GraftServer(engine).start()
    try {
      val client = new GraftClient("127.0.0.1", server.boundPort)
      client.append(Seq(
        Meas(1L, ts("2024-03-01 10:00:00"), 1.5, Flags.CLICK, 1),
        Meas(2L, ts("2024-03-02 09:00:00"), 4.0, Flags.SIGNUP, 2)))
      val ids = Seq(2L, 9L, 1L)
      val first = client.currentValue(ids, 0L) // builds the map at the store's token
      val (again, jobs) = FacadeProbe.jobs(spark)(client.currentValue(ids, 0L))
      assert(jobs === 0, "CURRENT_VALUE ran Spark jobs on the server")
      assert(again === first && again.map(_._1) === Seq(1L, 2L, 9L) && again(2)._4 === Meas.NO_DATA)
      val (point, pointJobs) = FacadeProbe.jobs(spark)(
        client.readTimePoint(QueryTimePoint(ids, 0L, ts("2024-03-03 00:00:00"))))
      assert(pointJobs === 0 && point === first, "READ_TIMEPOINT at or after the latest times")
      client.close()
    } finally server.stop()
  }

  test("engine-API appends reach socket subscribers (observer fires for every append path)") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-obs"), buckets = 4)
    val server = new GraftServer(engine).start()
    try {
      val pushed = new java.util.concurrent.LinkedBlockingQueue[Meas]()
      val subClient = new GraftClient("127.0.0.1", server.boundPort)
      subClient.subscribe(Seq(7L), 0L)(pushed.put)

      // NOT a wire APPEND: a direct engine-API call (the round-3 server
      // only pushed for wire appends — the reference pushes on every
      // append reaching the engine)
      engine.append(Seq(
        Meas(7L, ts("2024-04-01 10:00:00"), 1.0, Flags.CLICK, 1),
        Meas(8L, ts("2024-04-01 10:00:00"), 2.0, Flags.CLICK, 2)))
      // DataFrame-path append must notify too (streams via toLocalIterator)
      import spark.implicits._
      engine.append(spark.createDataset(Seq(
        Meas(7L, ts("2024-04-01 11:00:00"), 3.0, Flags.ERROR, 3))).toDF())

      val got = Iterator.continually(
        Option(pushed.poll(10, java.util.concurrent.TimeUnit.SECONDS)))
        .take(2).flatten.toSeq
      assert(got.map(_.seq) === Seq(1L, 3L), "id-7 rows pushed in commit order; id-8 filtered")
      assert(pushed.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS) === null)
      subClient.close()

      // after stop() the observer is unregistered: engine appends no
      // longer touch the (dead) server
      server.stop()
      engine.append(Seq(Meas(7L, ts("2024-04-01 12:00:00"), 4.0, Flags.CLICK, 4)))
      assert(pushed.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS) === null)
    } finally server.stop()
  }

  test("oversized APPEND count is rejected before buffering (ERR + close)") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-cap"), buckets = 4)
    val server = new GraftServer(engine).start()
    try {
      val raw = new java.net.Socket("127.0.0.1", server.boundPort)
      val rawOut = new java.io.PrintWriter(raw.getOutputStream)
      val rawIn = new java.io.BufferedReader(new java.io.InputStreamReader(raw.getInputStream))
      rawOut.println("APPEND 2000000000"); rawOut.flush()
      assert(rawIn.readLine().startsWith("ERR"), "count beyond MaxAppendRows rejected up front")
      assert(rawIn.readLine() === null, "server closes (payload lines must not replay as requests)")
      raw.close()

      val raw2 = new java.net.Socket("127.0.0.1", server.boundPort)
      val raw2Out = new java.io.PrintWriter(raw2.getOutputStream)
      val raw2In = new java.io.BufferedReader(new java.io.InputStreamReader(raw2.getInputStream))
      raw2Out.println("APPEND -1"); raw2Out.flush()
      assert(raw2In.readLine().startsWith("ERR"))
      assert(raw2In.readLine() === null)
      raw2.close()
    } finally server.stop()
  }

  test("the wire server fronts a ShardedEngine: routed appends, reads, push-subscribe") {
    val eng = new graft.engine.ShardedEngine(
      spark, Seq(tmpDir("nshard0"), tmpDir("nshard1")), buckets = 2)
    val server = new GraftServer(eng).start()
    try {
      val pushed = new java.util.concurrent.LinkedBlockingQueue[Meas]()
      val subClient = new GraftClient("127.0.0.1", server.boundPort)
      subClient.subscribe(Seq(3L), 0L)(pushed.put)
      val client = new GraftClient("127.0.0.1", server.boundPort)
      val batch = Seq(
        Meas(2L, ts("2024-03-01 10:00:00"), 2.0, Flags.CLICK, 1),
        Meas(3L, ts("2024-03-01 10:00:00"), 3.0, Flags.ERROR, 2),
        Meas(4L, ts("2024-03-01 10:00:00"), 4.0, Flags.CLICK, 3),
        Meas(3L, ts("2024-03-01 11:00:00"), 3.5, Flags.CLICK, 4))
      assert(client.append(batch) === 4)
      // the wire append routed by ownership: each shard holds only its ids
      eng.shards.zipWithIndex.foreach { case (shard, i) =>
        val ids = shard.merged.select("id").collect().map(_.getLong(0))
        assert(ids.nonEmpty && ids.forall(_ % 2 == i), s"shard $i got ${ids.toSeq}")
      }
      // wire reads ≡ the in-process sharded engine
      val q = QueryInterval(Seq(2L, 3L, 4L), 0L,
        ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))
      val wire = client.readInterval(q)
      val local = eng.readInterval(q).collect().map(r =>
        Meas(r.getLong(0), r.getTimestamp(1), r.getDouble(2), r.getLong(3), r.getLong(4))).toSeq
      assert(wire === local && wire.size === 4)
      val cur = client.currentValue(Seq(3L), 0L)
      assert(cur.head._3 === Some(3.5))
      // push-subscribe across the sharded store: id-3 rows in commit order
      val got = Iterator.continually(
        Option(pushed.poll(10, java.util.concurrent.TimeUnit.SECONDS)))
        .take(2).flatten.toSeq
      assert(got.map(_.seq) === Seq(2L, 4L), "owning shard pushes in commit order")
      assert(pushed.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS) === null)
    } finally server.stop()
  }

  test("slow-consumer eviction: a lagging subscriber is dropped, ingest never stalls") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-slow"), buckets = 2)
    val server = new GraftServer(engine, pushQueueCap = 1).start()
    try {
      // a subscriber that NEVER reads: once the OS socket buffers fill,
      // its writer thread wedges mid-batch and the cap-1 queue overflows
      val raw = new java.net.Socket()
      raw.setReceiveBufferSize(4096) // before connect: tiny client window
      raw.connect(new java.net.InetSocketAddress("127.0.0.1", server.boundPort))
      val rawOut = new java.io.PrintWriter(raw.getOutputStream)
      val rawIn = new java.io.BufferedReader(new java.io.InputStreamReader(raw.getInputStream))
      rawOut.println("SUBSCRIBE 7 0"); rawOut.flush()
      assert(rawIn.readLine() === "SUBSCRIBED")
      assert(server.subscriberCount === 1)
      // each append enqueues ONE ~1.2MB batch of MEAS lines — far beyond
      // the combined socket buffers; appends must complete regardless
      for (b <- 0 until 6)
        engine.append((0 until 20000).map(i =>
          Meas(7L, ts(f"2024-03-01 ${10 + b}%02d:00:00"), i.toDouble, 1L, b * 100000L + i)))
      val deadline = System.currentTimeMillis() + 20000
      while (server.subscriberCount > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(server.subscriberCount === 0,
        "a consumer lagging pushQueueCap append batches must be evicted")
      // ingest unharmed (6 batches × 20k same-(id,time) rows dedup to
      // one freshest row per batch), server healthy for other clients
      assert(engine.merged.count() === 6L)
      val c = new GraftClient("127.0.0.1", server.boundPort)
      assert(c.ping())
    } finally server.stop()
  }

  test("shared-secret HELLO gates every command; wrong/missing secret closes unanswered") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-auth"), buckets = 2)
    engine.append(Seq(Meas(1L, ts("2024-03-01 10:00:00"), 1.0, Flags.CLICK, 1)))
    val server = new GraftServer(engine, secret = Some("s3cret")).start()
    try {
      def rawConn(): (java.net.Socket, java.io.PrintWriter, java.io.BufferedReader) = {
        val s = new java.net.Socket("127.0.0.1", server.boundPort)
        (s, new java.io.PrintWriter(s.getOutputStream),
          new java.io.BufferedReader(new java.io.InputStreamReader(s.getInputStream)))
      }
      // no HELLO, straight to a command: closed without ANY reply
      val (s1, o1, i1) = rawConn()
      o1.println("CURRENT_VALUE 1 0"); o1.flush()
      assert(i1.readLine() === null, "unauthenticated command gets silence + close")
      s1.close()
      // wrong secret: same silence
      val (s2, o2, i2) = rawConn()
      o2.println("HELLO wrong"); o2.flush()
      assert(i2.readLine() === null, "wrong secret gets silence + close")
      s2.close()
      // the client helper with a missing secret fails its first request
      intercept[java.io.IOException] {
        val c = new GraftClient("127.0.0.1", server.boundPort)
        c.ping()
      }
      // right secret: full protocol as usual, push-subscribe included
      val c = new GraftClient("127.0.0.1", server.boundPort, secret = Some("s3cret"))
      assert(c.ping())
      val cur = c.currentValue(Seq(1L), 0L)
      assert(cur.head._3 === Some(1.0))
      val pushed = new java.util.concurrent.LinkedBlockingQueue[Meas]()
      val subC = new GraftClient("127.0.0.1", server.boundPort, secret = Some("s3cret"))
      subC.subscribe(Seq(1L), 0L)(pushed.put)
      engine.append(Seq(Meas(1L, ts("2024-03-01 11:00:00"), 2.0, Flags.CLICK, 2)))
      assert(pushed.poll(10, java.util.concurrent.TimeUnit.SECONDS) !== null)
      c.close(); subC.close()
    } finally server.stop()
  }

  test("eviction storm leaks no writer threads (shutdown flag beats the lost-poison race)") {
    def pushThreads(): Set[Thread] = {
      import scala.jdk.CollectionConverters._
      Thread.getAllStackTraces.keySet.asScala
        .filter(t => t.isAlive && t.getName.startsWith("graft-push-")).toSet
    }
    val baseline = pushThreads()
    val engine = new GraftEngine(spark, tmpDir("graft-net-storm"), buckets = 2)
    // cap-1 queues: producers refill a cleared queue instantly, the exact
    // window where the old clear+poison shutdown lost its pill and parked
    // the writer on take() forever
    val server = new GraftServer(engine, pushQueueCap = 1).start()
    try {
      val socks = (0 until 8).map { _ =>
        val raw = new java.net.Socket()
        raw.setReceiveBufferSize(4096)
        raw.connect(new java.net.InetSocketAddress("127.0.0.1", server.boundPort))
        val o = new java.io.PrintWriter(raw.getOutputStream)
        val i = new java.io.BufferedReader(new java.io.InputStreamReader(raw.getInputStream))
        o.println("SUBSCRIBE 7 0"); o.flush()
        assert(i.readLine() === "SUBSCRIBED")
        raw
      }
      assert(server.subscriberCount === 8)
      // concurrent appenders keep every queue under producer pressure
      // while evictions fire (none of the 8 consumers ever reads)
      val appenders = (0 until 3).map { t =>
        new Thread(() => {
          for (b <- 0 until 8)
            engine.append((0 until 20000).map(i =>
              Meas(7L, ts(f"2024-03-01 ${10 + t}%02d:0$b:00"), i.toDouble, 1L,
                t * 1000000L + b * 100000L + i)))
        }, s"storm-appender-$t")
      }
      appenders.foreach(_.start())
      appenders.foreach(_.join(120000))
      val deadline = System.currentTimeMillis() + 20000
      while (server.subscriberCount > 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(server.subscriberCount === 0, "all lagging consumers evicted")
      // the writers must all terminate — the old idiom leaked one parked
      // thread per evicted subscriber under exactly this producer pressure
      val threadDeadline = System.currentTimeMillis() + 20000
      while (pushThreads().diff(baseline).nonEmpty && System.currentTimeMillis() < threadDeadline)
        Thread.sleep(100)
      assert(pushThreads().diff(baseline).isEmpty,
        s"leaked push writers: ${pushThreads().diff(baseline).map(_.getName)}")
      socks.foreach(s => try s.close() catch { case _: Throwable => () })
      val c = new GraftClient("127.0.0.1", server.boundPort)
      assert(c.ping(), "server healthy after the storm")
    } finally server.stop()
  }

  test("concurrent wire appenders: per-subscriber delivery matches commit order, nothing lost") {
    val engine = new GraftEngine(spark, tmpDir("graft-net-conc"), buckets = 4)
    val server = new GraftServer(engine).start()
    try {
      val pushed = new java.util.concurrent.LinkedBlockingQueue[Meas]()
      val subClient = new GraftClient("127.0.0.1", server.boundPort)
      subClient.subscribe(Seq(7L), 0L)(pushed.put)

      // two appender connections racing: listeners fire INSIDE the
      // engine append lock, so per-subscriber socket order must equal
      // the commit interleaving — batches atomic, per-appender FIFO
      val threads = 2; val batches = 10; val rowsPer = 3
      def seqOf(t: Int, b: Int, r: Int): Long = t * 100000L + b * 10L + r
      val appenders = (0 until threads).map { t =>
        new Thread(() => {
          val c = new GraftClient("127.0.0.1", server.boundPort)
          for (b <- 0 until batches) {
            val batch = (0 until rowsPer).map(r =>
              Meas(7L, ts(f"2024-03-01 ${10 + t}%02d:${b}%02d:${r}%02d"),
                r.toDouble, Flags.CLICK, seqOf(t, b, r)))
            assert(c.append(batch) === rowsPer)
          }
        }, s"appender-$t")
      }
      appenders.foreach(_.start())
      appenders.foreach(_.join(120000))

      val total = threads * batches * rowsPer
      val got = Iterator.continually(
        Option(pushed.poll(20, java.util.concurrent.TimeUnit.SECONDS)))
        .take(total).flatten.toSeq
      assert(got.size === total, "every committed row is pushed exactly once")
      assert(got.map(_.seq).sorted === (for {
        t <- 0 until threads; b <- 0 until batches; r <- 0 until rowsPer
      } yield seqOf(t, b, r)).sorted, "no lost, duplicated, or foreign pushes")
      // per-appender FIFO: each thread's rows arrive in its send order
      for (t <- 0 until threads) {
        val mine = got.map(_.seq).filter(_ / 100000L == t)
        assert(mine === mine.sorted, s"appender $t pushes out of send order")
      }
      // batch atomicity: a batch's rows occupy consecutive delivery slots
      // (the push runs under the engine lock and one out.synchronized)
      got.map(_.seq).grouped(rowsPer).foreach { g =>
        assert(g.map(_ / 10L).distinct.size === 1 && g.map(_ % 10L) === (0L until rowsPer.toLong),
          s"interleaved batch in delivery stream: $g")
      }
      assert(pushed.poll(200, java.util.concurrent.TimeUnit.MILLISECONDS) === null)
      // the committed store agrees with what was pushed
      val stored = engine.readInterval(QueryInterval(Seq(7L), 0L,
        ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00")))
        .collect().map(_.getLong(4)).toSeq
      assert(stored.sorted === got.map(_.seq).sorted)
    } finally server.stop()
  }

  test("a result stream cut short or interrupted by ERR throws on every read kind") {
    // raw stub server: answers each request with two rows of the
    // requested kind, then `tail`, then closes the connection
    val rowOf = Map("READ_INTERVAL" -> "MEAS 1 0 1.0 0 1", "READ_TIMEPOINT" -> "POINT 1 0 1.0 0",
      "CURRENT_VALUE" -> "POINT 1 0 1.0 0", "READ_GRID" -> "GRID 1 0 1.0 0")
    def withStub(tail: Seq[String])(f: GraftClient => Unit): Unit = {
      val stub = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
      val t = new Thread(() => {
        val sock = stub.accept()
        try {
          val in = new java.io.BufferedReader(new java.io.InputStreamReader(sock.getInputStream, "UTF-8"))
          val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))
          val row = rowOf(in.readLine().split(" ")(0))
          (Seq(row, row) ++ tail).foreach(out.println)
          out.flush()
        } finally sock.close()
      })
      t.setDaemon(true)
      t.start()
      val client = new GraftClient("127.0.0.1", stub.getLocalPort)
      try f(client) finally { client.close(); t.join(10000L); stub.close() }
    }
    val (from, to) = (ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"))
    val reads: Seq[GraftClient => Any] = Seq(
      _.readInterval(QueryInterval(Seq(1L), 0L, from, to)),
      _.readTimePoint(QueryTimePoint(Seq(1L), 0L, to)),
      _.currentValue(Seq(1L), 0L),
      _.readGrid(from, to, 3600L, 7200L))
    for (read <- reads) {
      withStub(Nil) { c =>
        val e = intercept[java.io.IOException](read(c))
        assert(e.getMessage.contains("after 2 rows"), e.getMessage)
      }
      withStub(Seq("ERR IllegalStateException: boom", "END 2")) { c =>
        val e = intercept[RuntimeException](read(c))
        assert(e.getMessage === "server: ERR IllegalStateException: boom")
      }
    }
  }
}
