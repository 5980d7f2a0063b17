package graft.smoke

import java.io.File
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connect.service.SparkConnectService

import graft.Smoke.Entry
import graft.core.Meas
import graft.engine.{GraftEngine, QueryInterval}

/** The Spark Connect round trip — docs/NETWORK.md's "the remote surface
  * is Spark Connect" as executed evidence:
  *
  *  1. Spark Connect's gRPC service starts on the runner's session,
  *     which builds a graft store and publishes `readInterval` /
  *     `readGrid` results as global temp views (canonicalized to
  *     strings — timestamps as unix micros, so no client-timezone
  *     sensitivity);
  *  2. a SECOND JVM runs [[ConnectSmokeClient]] on the actual Spark
  *     Connect Scala client from /opt/spark/jars/connect-repl (built
  *     reflectively, so this repo needs no compile-time client
  *     dependency): it connects with `builder.remote("sc://…")` and
  *     collects both views AND a client-built pushdown scan over the
  *     store's parquet;
  *  3. the entry requires the remote rows to equal the in-process rows.
  *
  * Engine-facade calls themselves stay SERVER-side (they need driver
  * filesystem access for day pruning and the stats index — exactly how
  * a production deployment fronts the engine: facade plans published
  * as views/SQL, clients consume them over Connect).
  */
object ConnectSmokes {

  private val ClientJar =
    "/opt/spark/jars/connect-repl/spark-connect-client-jvm_2.13-4.1.2.jar"

  val connect = Entry("connect", "[rows=2000]", Seq(2000L)) { (c, sz) =>
    val spark = c.spark
    val rows = sz(0, 2000L).toInt
    val dir = c.dir("connect")
    val engine = new GraftEngine(spark, s"$dir/store", buckets = 4)
    def ts(s: String) = Timestamp.valueOf(s)
    // registered series so the catalog-driven grid read has a universe;
    // data appended under the catalog ids plus some unregistered ones
    val catIds = engine.addParams((0 until 5).map(i => s"conn.series.$i")).values.toSeq.sorted
    c.time(s"append $rows measurements")(engine.append((0 until rows).map { i =>
      val id = if (i % 20 < 5) catIds(i % 20) else i % 20L
      Meas(id, ts(f"2024-03-${1 + i % 3}%02d ${i % 24}%02d:15:00"), i * 0.25, 1L << (i % 5), i.toLong)
    }))

    val canon = "concat_ws('|', id, unix_micros(time), value, flag, seq)"
    val interval = engine.readInterval(QueryInterval(Seq(catIds.head, 7L), 0L,
      ts("2024-03-01 00:00:00"), ts("2024-03-04 00:00:00"))).selectExpr(s"$canon AS row")
    val grid = engine.readGrid(ts("2024-03-01 00:00:00"), ts("2024-03-02 00:00:00"),
      stepSeconds = 3600L, maxStalenessSeconds = 7200L)
      .selectExpr("concat_ws('|', id, unix_micros(grid_ts), value, fill_age_us) AS row")
    interval.createOrReplaceGlobalTempView("graft_interval")
    grid.createOrReplaceGlobalTempView("graft_grid")
    def strings(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).sorted.toSeq
    val expected = Map(
      "interval" -> strings(interval),
      "grid" -> strings(grid),
      "scan" -> strings(spark.read.parquet(s"$dir/store/data").filter("id = 7").selectExpr(canon)))

    // the service binds Spark's own `spark.connect.grpc.binding.port`
    // (default 15002; set it like any conf, as a -D property)
    val port = spark.sparkContext.getConf.get("spark.connect.grpc.binding.port", "15002")
    c.time("start Spark Connect on the session")(SparkConnectService.start(spark.sparkContext))
    try {
      val out = new File(dir, "remote")
      val log = new File(dir, "client.log")
      val classes = new File(
        classOf[GraftEngine].getProtectionDomain.getCodeSource.getLocation.toURI).getPath
      val cmd = Seq("java", "-Xmx1g") ++ jdk17AddOpens ++ Seq(
        "-cp", Seq(classes, ClientJar, "/opt/spark/jars/*").mkString(":"),
        "graft.smoke.ConnectSmokeClient", s"sc://localhost:$port", s"$dir/store/data", out.getPath)
      val code = c.time("client JVM: both views and a client-built scan over Connect") {
        // output to a file: nothing to drain, so a chatty child cannot
        // block on a full pipe
        val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
        if (proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)) proc.exitValue()
        else { proc.destroyForcibly(); -1 }
      }
      require(code == 0, s"client JVM exited $code:\n" +
        java.nio.file.Files.readAllLines(log.toPath).asScala.takeRight(30).mkString("\n"))
      for ((tag, exp) <- expected) {
        val got = java.nio.file.Files.readAllLines(new File(out, tag).toPath).asScala.toSeq.sorted
        c.report(s"$tag over Spark Connect", "rows_remote" -> got.size, "rows_in_process" -> exp.size)
        require(got == exp, s"$tag: the rows collected over Spark Connect differ from the in-process rows")
      }
    } finally {
      SparkConnectService.stop()
      spark.catalog.dropGlobalTempView("graft_interval")
      spark.catalog.dropGlobalTempView("graft_grid")
    }
  }

  /** What spark-submit would pass a Spark JVM on JDK 17 (the build's
    * `javaOptions` carry the same list). */
  private val jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar").flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  val entries: Seq[Entry] = Seq(connect)
}

/** The client half of the `connect` entry — runs in its OWN JVM with the
  * Spark Connect Scala client jar on the classpath; the connect
  * SparkSession is built reflectively (its class is not on the repo's
  * compile classpath) and then used through the abstract
  * org.apache.spark.sql API it implements. Writes each result's rows to
  * `<outDir>/<tag>`, one per line.
  *
  * Usage: ConnectSmokeClient <sc://host:port> <store data dir> <outDir>
  */
object ConnectSmokeClient {
  def main(args: Array[String]): Unit = {
    val Array(url, scanPath, outDir) = args.take(3)
    val companion = Class.forName("org.apache.spark.sql.connect.SparkSession$")
    val module = companion.getField("MODULE$").get(null)
    val builder = companion.getMethod("builder").invoke(module)
    builder.getClass.getMethod("remote", classOf[String]).invoke(builder, url)
    val sess = builder.getClass.getMethod("getOrCreate").invoke(builder)
      .asInstanceOf[SparkSession]
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(tag: String, rows: Array[org.apache.spark.sql.Row]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(outDir, tag), rows.map(_.getString(0)).toSeq.asJava)
    dump("interval", sess.sql("SELECT row FROM global_temp.graft_interval").collect())
    dump("grid", sess.sql("SELECT row FROM global_temp.graft_grid").collect())
    // a CLIENT-built plan over the store files: filter + projection ship
    // as an unresolved plan and push down into the server-side scan
    dump("scan", sess.read.parquet(scanPath).filter("id = 7")
      .selectExpr("concat_ws('|', id, unix_micros(time), value, flag, seq)").collect())
    sess.close()
  }
}
