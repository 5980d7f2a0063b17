package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the run's arguments and a
  * scratch directory inside the benchmark's working area. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
                     tiny: Boolean, plantWrong: Boolean, workDir: String,
                     trace0: Option[SparkTrace]) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  def dir(name: String): String = {
    val d = new File(workDir, name)
    Host.deleteTree(d)
    d.mkdirs()
    d.getAbsolutePath
  }
}

trait Workload {
  def name: String
  def run(ctx: Ctx, r: Report): Unit
}

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --work DIR [--spans FILE] [--tiny] [--plant-wrong]`.
  * Prints one JSON result record as its last stdout line. */
object Main {
  val workloads: Seq[Workload] = Seq(ServeRead, BatchMixed)

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def flag(f: String) = args.contains(f)
    val wl = workloads.find(_.name == opts("--workload"))
      .getOrElse(sys.error(s"unknown workload ${opts("--workload")}"))
    val workDir = new File(opts("--work")).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()
    val hostBefore = Host.snapshot()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = opts.get("--trace").contains("1")
    Tracer.enabled = trace
    val sparkTrace = if (trace) Some(new SparkTrace(spark).start()) else None
    val ctx = Ctx(spark, opts("--seed").toLong, opts("--seconds").toDouble, trace,
      flag("--tiny"), flag("--plant-wrong"), workDir, sparkTrace)
    val report = new Report(wl.name)
    try wl.run(ctx, report)
    finally {
      sparkTrace.foreach(_.stop())
      opts.get("--spans").foreach(Tracer.writeTo)
    }
    report.single("rss_peak_mb", "MB", Host.vmHwmKb() / 1024.0, 1)
    val hostAfter = Host.snapshot()
    report.details("host") = Map(
      "nproc" -> cores,
      "steal_ticks_delta" -> (hostAfter.steal - hostBefore.steal),
      "cpu_probe_ms" -> Host.cpuProbeMs(),
      "mem_available_mb" -> hostBefore.memAvailableKb / 1024,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))
    spark.stop()
    println(report.toJson)
  }
}

/** Host state recorded beside every run (a record only; nothing is
  * discarded because of it). */
object Host {
  final case class Snap(steal: Long, memAvailableKb: Long)

  private def procLines(path: String): Seq[String] =
    try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toVector finally src.close()
    } catch { case _: Throwable => Seq.empty }

  private def field(path: String, key: String): Long =
    procLines(path).find(_.startsWith(key)).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def snapshot(): Snap = {
    val steal = procLines("/proc/stat").headOption
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)
    Snap(steal, field("/proc/meminfo", "MemAvailable:"))
  }

  def vmHwmKb(): Long = field("/proc/self/status", "VmHWM:")

  @volatile private var sink = 0L

  /** Wall time of a fixed single-core integer loop (after one warm-up
    * pass): how fast a core was during the run. */
  def cpuProbeMs(): Double = {
    def loop(): Long = {
      var x = 0x9E3779B97F4A7C15L; var i = 0
      while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      x
    }
    sink = loop()
    val t0 = System.nanoTime()
    sink = loop()
    (System.nanoTime() - t0) / 1e6
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length

  def treeFiles(f: File, pred: File => Boolean): Seq[File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(treeFiles(_, pred))
    else if (pred(f)) Seq(f) else Seq.empty
}

/** Time helpers shared by the workloads. */
object Clock {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `setup` [[Main.SetupReps]] times, report the median as
    * `setup_s` and keep the last result (earlier ones are released
    * through `release`). */
  def setups[T](r: Report, release: T => Unit)(setup: Int => T): T = {
    val times = scala.collection.mutable.ArrayBuffer[Double]()
    var last: Option[T] = None
    for (i <- 0 until Main.SetupReps) {
      last.foreach(release)
      val (v, t) = ms(setup(i))
      times += t / 1000.0
      last = Some(v)
    }
    r.dist("setup_s", "s", times.toSeq)
    last.get
  }
}
