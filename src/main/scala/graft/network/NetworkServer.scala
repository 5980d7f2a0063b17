package graft.network

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.core.Meas
import graft.engine.{GraftEngine, QueryInterval, QueryTimePoint}

/** O17 — the network server, re-expressed for Spark (SURVEY.md §2.1 O17)
  * [U: network/libserver/server.cpp, network/common/net_data.h —
  * QueryKinds APPEND/READ_INTERVAL/READ_TIMEPOINT/CURRENT_VALUE/
  * SUBSCRIBE].
  *
  * The reference serves its five message kinds over a custom TCP
  * protocol; for a Spark deployment the production-grade remote surface
  * is Spark Connect (docs/NETWORK.md maps every QueryKind onto it).
  * This module is the faithful in-repo analog of the reference's own
  * wire shape: a TCP server exposing the five QueryKinds (plus
  * READ_GRID for the engine's beyond-reference grid read) over a line
  * protocol, delegating every operation to the embedded [[GraftEngine]]
  * facade — the server owns no query logic of its own.
  *
  * Protocol (one request line; text, space-separated):
  *   APPEND <n>                         then n MEAS payload lines
  *                                      → `OK <n>`
  *   READ_INTERVAL <ids> <flag> <fromUs> <toUs>
  *                                      → `MEAS …` lines, then `END <n>`
  *   READ_TIMEPOINT <ids> <flag> <tpUs> → `POINT …` lines, then `END <n>`
  *   CURRENT_VALUE <ids> <flag>         → `POINT …` lines, then `END <n>`
  *   READ_GRID <fromUs> <toUs> <stepSec> <stalenessSec>
  *                                      → `GRID …` lines, then `END <n>`
  *                                      (beyond-reference: the engine's
  *                                      catalog-driven dashboard read,
  *                                      [[GraftEngine.readGrid]]; GRID
  *                                      rows are `id gridTsUs value
  *                                      fillAgeUs` with `-` for null
  *                                      value/age past the staleness
  *                                      horizon)
  *   SUBSCRIBE <ids> <flag>             → `SUBSCRIBED`, then server-push
  *                                        `MEAS …` lines as appends arrive;
  *                                        the connection is now push-only
  *                                        (reads/appends on it → ERR —
  *                                        they would interleave with
  *                                        pushes; PING/SUBSCRIBE/QUIT
  *                                        stay legal)
  *   PING / QUIT                        → `PONG` / connection close
  * where <ids> is `*` (all series) or comma-separated longs, times are
  * µs since epoch, and MEAS payload is `id timeUs value flag seq`
  * (doubles via Double.toString — exact round-trip). POINT rows are
  * `id timeUs value flag` with `-` for the NULL time/value of a series
  * with no data at/before the timepoint (flag = _NO_DATA, the
  * reference's contract).
  *
  * SUBSCRIBE matches the reference's server-push semantics: the server
  * registers an [[GraftEngine.onAppend]] observer, so EVERY append
  * reaching the engine — wire APPEND, direct API call, or a streaming
  * foreachBatch commit — is evaluated against each subscription filter
  * (same id-set + shared-bit flag semantics as every other read —
  * [[graft.core.Flags.matches]]) and matching measurements are pushed
  * to the subscriber's connection, in commit order: the observer fires
  * inside the engine's append lock and ENQUEUES onto a per-subscriber
  * bounded FIFO; a dedicated writer thread per subscriber drains it to
  * the socket. The lock thus serializes only the (cheap) enqueue —
  * ingest never blocks on a subscriber's socket. A consumer that lags
  * `pushQueueCap` append batches behind, or whose socket has died, is
  * EVICTED (connection closed) rather than allowed to stall appends —
  * the slow-consumer policy every production push transport needs.
  * The engine-side continuous-query surface (O10, Structured
  * Streaming) remains [[graft.streaming.Subscribe]]; the socket path
  * is the last-hop push transport, exactly the split the reference has
  * between `SubscribeLogic` in the server and the storage engine
  * underneath.
  *
  * Interval and grid reads stream through `toLocalIterator`: the
  * server holds one range partition of the result at a time, never the
  * catalog-wide result whole. An explicit-id interval answer is one
  * partition. As-of answers (READ_TIMEPOINT, CURRENT_VALUE) — one row
  * per series — are collected: an answer the engine built on the driver
  * is a local relation, which collects with no Spark job, where
  * `toLocalIterator` would run one per partition.
  *
  * Both ends set `TCP_NODELAY` and flush each message once: a result
  * after its `END` line, an APPEND after its last payload line. A flush
  * per line with Nagle's algorithm on holds every line after the first
  * until the peer's delayed ACK (about 40 ms on Linux) — a fixed stall
  * on every multi-line message.
  *
  * Trust model: by default the protocol has NO authentication — any
  * connected client can read, mutate, and subscribe (the reference's
  * server is the same), so the server binds the LOOPBACK interface
  * unless an explicit `bindAddress` opts into wider exposure. A
  * deployment that binds a routable address should ALSO pass `secret`:
  * every connection must then open with `HELLO <secret>` (compared
  * constant-time) before ANY command — a wrong or missing secret closes
  * the connection without executing or answering anything. The secret
  * is enforced whenever configured (loopback included — configuring it
  * means wanting it), and is an access FLOOR, not transport security:
  * the line protocol is plaintext; a hostile-network deployment still
  * needs TLS/network-level controls in front.
  */
class GraftServer(engine: graft.engine.EngineApi, port: Int = 0, bindAddress: Option[String] = None,
                  pushQueueCap: Int = 1024, secret: Option[String] = None) {

  private val server = new ServerSocket(port, 50,
    bindAddress.map(java.net.InetAddress.getByName)
      .getOrElse(java.net.InetAddress.getLoopbackAddress))

  /** Ephemeral-port support for tests: the port actually bound. */
  def boundPort: Int = server.getLocalPort

  /** One registered subscription: the filter, the connection, and the
    * bounded push queue its writer thread drains. Termination is a
    * `stopped` flag + interrupt, NOT a poison pill: the old
    * `queue.clear(); queue.offer(Nil)` idiom could lose the poison when
    * a concurrent producer refilled the bounded queue between the two
    * calls, parking the writer on `take()` forever (a leaked thread per
    * evicted subscriber). */
  private final class Subscriber(val ids: Set[Long], val flag: Long,
                                 val out: PrintWriter, val sock: Socket) {
    val queue = new java.util.concurrent.LinkedBlockingQueue[Seq[Meas]](pushQueueCap)
    @volatile private var stopped = false
    /** Enqueue a batch; false = queue full (caller evicts). A stopped
      * subscriber accepts nothing — producers racing shutdown cannot
      * keep the queue (or the writer) alive. */
    def push(hit: Seq[Meas]): Boolean = !stopped && queue.offer(hit)
    /** Stop the writer (idempotent): raise the flag, then interrupt —
      * a writer parked on `take()` wakes immediately; one mid-write
      * sees the flag before its next `take()`. */
    def shutdown(): Unit = { stopped = true; queue.clear(); writer.interrupt() }
    val writer = new Thread(() => {
      try {
        while (!stopped) {
          val batch = queue.take()
          if (!stopped && batch.nonEmpty) {
            out.synchronized {
              batch.foreach(m => out.println("MEAS " + Wire.fmtMeas(m)))
              out.flush()
            }
            // PrintWriter swallows IO errors; checkError() surfaces a
            // dead socket so the orphan evicts itself instead of
            // draining pushes into the void forever
            if (out.checkError()) {
              subscribers.remove(Subscriber.this)
              stopped = true
              try sock.close() catch { case _: Throwable => () }
            }
          }
        }
      } catch { case _: InterruptedException => () } // shutdown() — exit
    }, s"graft-push-${sock.getPort}")
    writer.setDaemon(true)
  }
  private val subscribers =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Subscriber]()

  /** Live subscription count (ops metric; eviction makes it drop). */
  def subscriberCount: Int = subscribers.size

  @volatile private var running = false

  // engine-append observer: fires inside the engine's append lock for
  // every append path (wire, API, streaming), so push order matches
  // commit order across concurrent appenders
  private val pushListener: Seq[Meas] => Unit = pushToSubscribers
  engine.onAppend(pushListener)

  def start(): this.type = {
    running = true
    val t = new Thread(() => acceptLoop(), "graft-server-accept")
    t.setDaemon(true)
    t.start()
    this
  }

  def stop(): Unit = {
    running = false
    engine.removeAppendListener(pushListener)
    subscribers.forEach(_.shutdown())
    try server.close() catch { case _: Throwable => () }
  }

  private def acceptLoop(): Unit =
    while (running) {
      try {
        val sock = server.accept()
        sock.setTcpNoDelay(true)
        val t = new Thread(() => handle(sock), s"graft-server-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: SocketException => () // closed in stop()
        case e: Throwable =>
          // a transient accept failure (fd exhaustion, interrupt) must
          // not kill the accept thread — the server would stay bound
          // but silently never service another connection
          if (running) {
            System.err.println(s"[graft-server] accept failed: $e")
            Thread.sleep(100L)
          }
      }
    }

  /** Constant-time equality — a naive String == short-circuits at the
    * first differing byte and leaks prefix length through timing. */
  private def secretMatches(line: String): Boolean = secret.exists { s =>
    java.security.MessageDigest.isEqual(
      line.getBytes("UTF-8"), s"HELLO $s".getBytes("UTF-8"))
  }

  private def handle(sock: Socket): Unit = {
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
    val out = new PrintWriter(new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))
    var sub: Option[Subscriber] = None
    def reply(s: String): Unit = out.synchronized { out.println(s); out.flush() }
    try {
      if (secret.isDefined) {
        // auth gate: the FIRST line must be the HELLO — anything else
        // (including a valid command) closes the connection unanswered,
        // so an unauthenticated peer can neither execute nor probe
        val first = in.readLine()
        if (first == null || !secretMatches(first)) { sock.close(); return }
        reply("OK")
      }
      var line = in.readLine()
      while (line != null) {
        try {
          val parts = line.trim.split("\\s+")
          val kind = parts(0).toUpperCase
          // a subscription consumes the connection: its PrintWriter now
          // carries asynchronous MEAS pushes, and any multi-line reply
          // (or even a one-line OK) would interleave with them and
          // desync the reader. Only SUBSCRIBE (filter replace), PING
          // and QUIT stay legal.
          if (sub.isDefined && kind != "SUBSCRIBE" && kind != "PING" && kind != "QUIT")
            reply(s"ERR connection is in subscribe mode; $kind needs its own connection")
          else kind match {
            case "APPEND" =>
              // the count must parse BEFORE anything else: with an
              // unknown payload length the stream cannot be resynced —
              // close instead of replaying payload lines as requests.
              // (No closure here: a `return` inside a by-name default
              // would throw NonLocalReturnControl into the generic ERR
              // handler and the connection would stay open, desynced.)
              val nOpt = if (parts.length > 1) parts(1).toIntOption else None
              if (nOpt.isEmpty) {
                reply("ERR bad APPEND count; closing (cannot resync)")
                return
              }
              val n = nOpt.get
              // bound the buffered payload: an APPEND claiming 2e9 rows
              // would OOM the server before any parse error fired. The
              // connection closes (same unresyncable-count handling as
              // the non-numeric case — the client will still send its
              // payload lines, which must not replay as requests).
              if (n < 0 || n > GraftServer.MaxAppendRows) {
                reply(s"ERR APPEND count $n out of range [0, ${GraftServer.MaxAppendRows}]; closing (cannot resync)")
                return
              }
              // drain ALL n payload lines BEFORE parsing: a malformed
              // line mid-payload must not leave the remainder in the
              // stream to be misread as top-level requests (protocol
              // desync — every later response on the connection would
              // answer the wrong request)
              val raw = (1 to n).map { _ =>
                val l = in.readLine()
                if (l == null) throw new java.io.IOException(s"EOF inside APPEND payload (expected $n lines)")
                l
              }
              val ms = raw.map(Wire.parseMeas)
              // engine.append is synchronized and notifies subscribers
              // (via the onAppend observer) inside its lock — wire
              // appends across connections serialize there, and push
              // order matches commit order
              engine.append(ms)
              reply(s"OK $n")
            case "READ_INTERVAL" =>
              val q = QueryInterval(Wire.parseIds(parts(1)), parts(2).toLong,
                Wire.usToTs(parts(3).toLong), Wire.usToTs(parts(4).toLong))
              streamRows(engine.intervalReader(q), "MEAS", Wire.fmtMeas, out)
            case "READ_TIMEPOINT" =>
              val q = QueryTimePoint(Wire.parseIds(parts(1)), parts(2).toLong,
                Wire.usToTs(parts(3).toLong))
              streamRows(engine.readTimePoint(q).collect().iterator, "POINT", Wire.fmtPoint, out)
            case "CURRENT_VALUE" =>
              streamRows(engine.currentValue(Wire.parseIds(parts(1)), parts(2).toLong)
                .collect().iterator, "POINT", Wire.fmtPoint, out)
            case "READ_GRID" =>
              val df = engine.readGrid(Wire.usToTs(parts(1).toLong), Wire.usToTs(parts(2).toLong),
                parts(3).toLong, parts(4).toLong)
              streamRows(df.toLocalIterator().asScala, "GRID", Wire.fmtGrid, out)
            case "SUBSCRIBE" =>
              // re-subscribing REPLACES this connection's filter: the
              // previous registration must be removed (and its writer
              // stopped) or it would be pushed to forever
              sub.foreach { old => subscribers.remove(old); old.shutdown() }
              val s = new Subscriber(Wire.parseIds(parts(1)).toSet, parts(2).toLong, out, sock)
              subscribers.add(s)
              s.writer.start()
              sub = Some(s)
              reply("SUBSCRIBED")
            case "PING" => reply("PONG")
            case "QUIT" => return
            case other  => reply(s"ERR unknown request: $other")
          }
        } catch {
          case e: Throwable => reply(s"ERR ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").replace('\n', ' ')}")
        }
        line = in.readLine()
      }
    } catch { case _: Throwable => () }
    finally {
      sub.foreach { s => subscribers.remove(s); s.shutdown() }
      try sock.close() catch { case _: Throwable => () }
    }
  }

  /** One streamed result: a `<kind> <row>` line per row, then `END n`,
    * flushed once after `END` (the writer's buffer still spills a long
    * result to the socket as it fills, so nothing is held whole). */
  private def streamRows[T](rows: Iterator[T], kind: String, fmt: T => String,
                            out: PrintWriter): Unit = out.synchronized {
    var n = 0
    rows.foreach { r => out.println(s"$kind ${fmt(r)}"); n += 1 }
    out.println(s"END $n")
    out.flush()
  }

  /** Runs inside the engine's append lock: filter + non-blocking
    * enqueue only — never a socket write, so a slow or hung subscriber
    * cannot stall ingest. Per-subscriber FIFO + single writer thread
    * preserve the commit-order delivery contract (NetworkSpec's
    * concurrent-appender case). A full queue means the consumer is
    * `pushQueueCap` append batches behind: evict it (close the socket)
    * — the reference's server drops slow clients the same way, and a
    * disconnected consumer can re-subscribe and backfill via
    * READ_INTERVAL. */
  private def pushToSubscribers(ms: Seq[Meas]): Unit = {
    subscribers.forEach { s =>
      val hit = ms.filter(m =>
        (s.ids.isEmpty || s.ids.contains(m.id)) &&
          (s.flag == 0L || (m.flag & s.flag) != 0L))
      if (hit.nonEmpty && !s.push(hit)) {
        subscribers.remove(s)
        s.shutdown()
        try s.sock.close() catch { case _: Throwable => () }
      }
    }
  }
}

object GraftServer {
  /** Upper bound on a single wire APPEND batch — larger ingests should
    * arrive as multiple APPENDs (or through the engine's streaming
    * path). Caps the per-connection payload buffer. */
  val MaxAppendRows: Int = 1000000
}

/** O17 client half [U: network/libclient/client.cpp]. One TCP
  * connection, synchronous request/response; `subscribe` flips the
  * connection into push mode (mirror of the reference client's
  * callback-driven subscribe).
  */
class GraftClient(host: String, port: Int, secret: Option[String] = None) extends AutoCloseable {
  private val sock = new Socket(host, port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedReader(new InputStreamReader(sock.getInputStream, "UTF-8"))
  private val out = new PrintWriter(new java.io.OutputStreamWriter(sock.getOutputStream, "UTF-8"))

  @volatile private var subscribed = false

  // auth handshake first when the deployment requires one: HELLO → OK
  secret.foreach { s =>
    out.println(s"HELLO $s"); out.flush()
    val resp = in.readLine()
    if (resp != "OK") throw new java.io.IOException(
      "server rejected the shared secret (connection closed before any command)")
  }

  private def send(line: String): Unit = { out.println(line); out.flush() }
  private def expect(prefix: String): String = {
    val l = in.readLine()
    if (l == null) throw new java.io.IOException("connection closed")
    if (l.startsWith("ERR")) throw new RuntimeException(s"server: $l")
    if (!l.startsWith(prefix)) throw new RuntimeException(s"protocol: expected $prefix, got $l")
    l
  }
  /** After subscribe() the reader thread owns the input stream — a
    * synchronous request would race it for response lines and hang.
    * Mirrors the server, which rejects reads on subscribed connections. */
  private def requireSync(op: String): Unit =
    if (subscribed) throw new IllegalStateException(
      s"$op on a subscribed connection: open a separate GraftClient for requests")

  def ping(): Boolean = { requireSync("ping"); send("PING"); expect("PONG"); true }

  def append(ms: Seq[Meas]): Int = {
    requireSync("append")
    out.println(s"APPEND ${ms.size}")
    ms.foreach(m => out.println(Wire.fmtMeas(m)))
    out.flush()
    expect("OK ").stripPrefix("OK ").trim.toInt
  }

  /** One streamed result: `<kind> <row>` lines until `END`; an `ERR`
    * line throws. EOF before the END terminator = truncated result, NOT
    * a complete one — a dropped connection must never masquerade as a
    * small result. */
  private def readRows[T](kind: String)(parse: String => T): Seq[T] = {
    val buf = scala.collection.mutable.ArrayBuffer[T]()
    var l = in.readLine()
    while (l != null && !l.startsWith("END")) {
      if (l.startsWith("ERR")) throw new RuntimeException(s"server: $l")
      buf += parse(l.stripPrefix(s"$kind "))
      l = in.readLine()
    }
    if (l == null) throw new java.io.IOException(
      s"connection closed mid-stream after ${buf.size} rows (no END)")
    buf.toSeq
  }

  def readInterval(q: QueryInterval): Seq[Meas] = {
    requireSync("readInterval")
    send(s"READ_INTERVAL ${Wire.fmtIds(q.ids)} ${q.flag} ${Wire.tsToUs(q.from)} ${Wire.tsToUs(q.to)}")
    readRows("MEAS")(Wire.parseMeas)
  }

  def readTimePoint(q: QueryTimePoint): Seq[(Long, Option[Timestamp], Option[Double], Long)] = {
    requireSync("readTimePoint")
    send(s"READ_TIMEPOINT ${Wire.fmtIds(q.ids)} ${q.flag} ${Wire.tsToUs(q.timePoint)}")
    readRows("POINT")(Wire.parsePoint)
  }

  def currentValue(ids: Seq[Long], flag: Long): Seq[(Long, Option[Timestamp], Option[Double], Long)] = {
    requireSync("currentValue")
    send(s"CURRENT_VALUE ${Wire.fmtIds(ids)} $flag")
    readRows("POINT")(Wire.parsePoint)
  }

  /** Beyond-reference: the engine's catalog-driven grid read over the
    * wire. Rows are (id, gridTs, value?, fillAgeUs?) — None past the
    * staleness horizon (the grid's _NO_DATA analog). */
  def readGrid(from: Timestamp, to: Timestamp, stepSeconds: Long,
               stalenessSeconds: Long): Seq[(Long, Timestamp, Option[Double], Option[Long])] = {
    requireSync("readGrid")
    send(s"READ_GRID ${Wire.tsToUs(from)} ${Wire.tsToUs(to)} $stepSeconds $stalenessSeconds")
    readRows("GRID")(Wire.parseGrid)
  }

  /** Push-mode subscription: registers the filter, then delivers every
    * matching server-pushed measurement to `callback` on a daemon
    * thread until the client is closed. The connection is CONSUMED —
    * further synchronous requests (and re-subscribes) on this client
    * throw; the raw-protocol re-SUBSCRIBE (filter replace) remains for
    * wire users driving their own reader. */
  def subscribe(ids: Seq[Long], flag: Long)(callback: Meas => Unit): Unit = {
    requireSync("subscribe")
    send(s"SUBSCRIBE ${Wire.fmtIds(ids)} $flag")
    expect("SUBSCRIBED")
    subscribed = true
    val t = new Thread(() => {
      try {
        var l = in.readLine()
        while (l != null) {
          if (l.startsWith("MEAS ")) callback(Wire.parseMeas(l.stripPrefix("MEAS ")))
          l = in.readLine()
        }
      } catch { case _: Throwable => () }
    }, "graft-client-subscribe")
    t.setDaemon(true)
    t.start()
  }

  override def close(): Unit = {
    try send("QUIT") catch { case _: Throwable => () }
    try sock.close() catch { case _: Throwable => () }
  }
}

/** Wire codec shared by server and client. Timestamps travel as µs
  * since epoch (the store's native precision — exact round-trip);
  * doubles travel as `Double.toString`, which Java parses back
  * bit-identically.
  */
private[network] object Wire {

  def tsToUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def usToTs(us: Long): Timestamp = {
    val ts = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    ts
  }

  def fmtIds(ids: Seq[Long]): String = if (ids.isEmpty) "*" else ids.mkString(",")
  def parseIds(s: String): Seq[Long] = if (s == "*") Seq.empty else s.split(",").map(_.toLong).toSeq

  def fmtMeas(m: Meas): String =
    s"${m.id} ${tsToUs(m.time)} ${m.value} ${m.flag} ${m.seq}"

  def parseMeas(line: String): Meas = {
    val p = line.trim.split("\\s+")
    Meas(p(0).toLong, usToTs(p(1).toLong), p(2).toDouble, p(3).toLong, p(4).toLong)
  }

  /** readTimePoint/currentValue row: (id, time?, value?, flag). */
  def fmtPoint(r: org.apache.spark.sql.Row): String = {
    val time = if (r.isNullAt(1)) "-" else tsToUs(r.getTimestamp(1)).toString
    val value = if (r.isNullAt(2)) "-" else r.getDouble(2).toString
    s"${r.getLong(0)} $time $value ${r.getLong(3)}"
  }

  def parsePoint(line: String): (Long, Option[Timestamp], Option[Double], Long) = {
    val p = line.trim.split("\\s+")
    (p(0).toLong,
      if (p(1) == "-") None else Some(usToTs(p(1).toLong)),
      if (p(2) == "-") None else Some(p(2).toDouble),
      p(3).toLong)
  }

  /** readGrid row: (id, grid_ts, value?, fill_age_us?). */
  def fmtGrid(r: org.apache.spark.sql.Row): String = {
    val value = if (r.isNullAt(2)) "-" else r.getDouble(2).toString
    val age = if (r.isNullAt(3)) "-" else r.getLong(3).toString
    s"${r.getLong(0)} ${tsToUs(r.getTimestamp(1))} $value $age"
  }

  def parseGrid(line: String): (Long, Timestamp, Option[Double], Option[Long]) = {
    val p = line.trim.split("\\s+")
    (p(0).toLong, usToTs(p(1).toLong),
      if (p(2) == "-") None else Some(p(2).toDouble),
      if (p(3) == "-") None else Some(p(3).toLong))
  }
}
