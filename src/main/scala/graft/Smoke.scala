package graft

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The scale harness: one runner, one table of named entries. Each entry
  * drives one engine, dedup, vector, temporal or admission path at a
  * size where its cost is real work, and asserts the answers it prints.
  * Not a driver gate; `SmokeSpec` runs every entry at its tiny size.
  *
  * The runner owns what every entry shares: the session (`main` only —
  * threads from `SPARK_GRAFT_CPUS`, else every available core), the
  * phase log, one temp root deleted in `finally`, and the output. Every
  * timed step and every reported figure is one JSON row carrying the
  * entry name; the last row is the verdict and the total seconds.
  *
  * Usage: runMain graft.Smoke <entry> [size] [more sizes…]
  *        runMain graft.Smoke list
  */
object Smoke {

  /** Positional size arguments; an absent one takes the entry's default,
    * which entries derive from the first size. */
  final case class Sizes(args: Seq[Long]) {
    def apply(i: Int, default: => Long): Long = args.lift(i).getOrElse(default)
  }

  /** A named entry: `usage` documents its sizes and their defaults,
    * `tiny` is the size at which its asserts are meant to hold inside
    * the test suite. */
  final case class Entry(name: String, usage: String, tiny: Seq[Long])(val run: (Ctx, Sizes) => Unit)

  /** What an entry gets from the runner: the session, a temp root, and
    * the row sink. */
  final class Ctx(val spark: SparkSession, val entry: String, root: File, sink: String => Unit) {
    /** Run `f` as one timed step: a step row, then (result, seconds). */
    def timed[T](step: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val s = secondsSince(t0)
      row("step" -> step, "seconds" -> s)
      (r, s)
    }

    def time[T](step: String)(f: => T): T = timed(step)(f)._1

    def report(figure: String, fields: (String, Any)*): Unit = row(("figure" -> figure) +: fields: _*)

    /** `f` with session conf `key` set to `value`, unset after. */
    def withConf[T](key: String, value: String)(f: => T): T = {
      spark.conf.set(key, value)
      try f finally spark.conf.unset(key)
    }

    /** A fresh directory under the run's temp root. */
    def dir(prefix: String): String =
      java.nio.file.Files.createTempDirectory(root.toPath, prefix).toString

    def row(fields: (String, Any)*): Unit = sink(json(("entry" -> entry) +: fields))
  }

  lazy val entries: Seq[Entry] =
    smoke.CoreSmokes.entries ++ smoke.TextSmokes.entries ++
      smoke.VectorSmokes.entries ++ smoke.CleanSmokes.entries ++ smoke.ConnectSmokes.entries

  /** Run one entry on `spark`; rows go to `sink`. Throws after the
    * verdict row when an assert fails. */
  def run(spark: SparkSession, name: String, sizes: Seq[Long], sink: String => Unit): Unit = {
    val e = entries.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown smoke entry '$name' (runMain graft.Smoke list)"))
    val root = java.nio.file.Files.createTempDirectory("graft-smoke").toFile
    val ctx = new Ctx(spark, name, root, sink)
    functions.VectorFunctions.register(spark) // graft_dot, graft_topk
    val t0 = System.nanoTime()
    try {
      e.run(ctx, Sizes(sizes))
      ctx.row("verdict" -> "pass", "seconds" -> secondsSince(t0))
    } catch {
      case t: Throwable =>
        ctx.row("verdict" -> "fail", "seconds" -> secondsSince(t0), "error" -> t.toString)
        throw t
    } finally {
      spark.catalog.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "list") {
      entries.foreach(e => println(f"${e.name}%-15s ${e.usage}  (tiny: ${e.tiny.mkString(" ")})"))
      return
    }
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    core.PhaseLog.enable() // index-build phase timings
    try run(spark, args(0), args.toSeq.drop(1).map(_.toLong), println)
    finally spark.stop()
  }

  // ---- shared generators --------------------------------------------

  /** Token `i` of document `id`: a unique integer-hash token (no RNG). */
  def token(id: Column, i: Column, prefix: String = "t"): Column =
    concat(lit(prefix), pmod(id * lit(2654435761L) + i * lit(40503), lit(1000000000000L)))

  /** Tokens per generated document. */
  val Tokens = 120

  /** A document: the space-joined tokens at positions `from until
    * Tokens`, e.g. `text(token(col("doc_id"), _))`. */
  def text(tokenAt: Column => Column, from: Int = 0): Column =
    concat_ws(" ", transform(sequence(lit(from), lit(Tokens - 1)), tokenAt))

  val Dims = 64

  /** A 64-dim hash vector: per dim, the weighted sum of terms
    * `(weight, salt, key)`, each uniform in [-1, 1) by xxhash64. */
  def hashVector(terms: (Double, String, Column)*): Column =
    array((0 until Dims).map { j =>
      terms.map { case (w, salt, key) =>
        lit(w) * (pmod(xxhash64(lit(salt), key, lit(j)), lit(2000L)) / 1000.0 - 1.0)
      }.reduce(_ + _)
    }: _*)

  /** Per-query top-k: the `k` best `id`s of each `query_id` by `score`
    * DESC, id ASC, through the graft_topk bounded heap (map-side
    * partial aggregate, no window sort). Columns: query_id, `id`. */
  def topK(df: DataFrame, score: String, id: String, k: Int): DataFrame =
    df.groupBy("query_id")
      .agg(expr(s"graft_topk(CAST($score AS DOUBLE), CAST($id AS BIGINT), $k)").as("top"))
      .select(col("query_id"), explode(col("top.id")).as(id))

  /** [[topK]] collected as (query_id, id) pairs. */
  def topKSet(df: DataFrame, score: String, id: String, k: Int): Set[(Long, Long)] =
    topK(df, score, id, k).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def secondsSince(t0: Long): Double = math.round((System.nanoTime() - t0) / 1e6) / 1e3

  private def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${quote(k)}:${jsonValue(v)}" }.mkString("{", ",", "}")

  private def jsonValue(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case _: Int | _: Long | _: Boolean => v.toString
    case m: Map[_, _] => json(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04x" // ASCII-only on any console
    case c => c.toString
  } + "\""
}
