package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

/** Seeded generator of the `events` and `documents` tables, with the
  * schemas of the repository's test data. Sizes scale with `sf`
  * (sf 0.01: 10k events, 500 documents).
  * Timestamps are written without a time zone, like the test data. */
object DataGen {
  private val Vocab = Seq("a", "the", "data", "table", "row", "column", "value", "key", "join",
    "group", "order", "sort", "scan", "filter", "agg", "window", "merge", "hash", "part",
    "line", "customer", "query", "spark", "stream", "batch", "fast", "slow", "big", "small",
    "vector", "index", "cache", "shuffle", "stage", "task", "plan")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  def write(spark: SparkSession, sf: Double, seed: Long, dir: String): Unit = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    // uniform integer in [0, m) from the row id, the seed and a salt
    def u(idCol: Column, salt: Int, m: Long): Column =
      pmod(xxhash64(idCol, lit(seed), lit(salt)), lit(m))
    def unit(idCol: Column, salt: Int): Column = u(idCol, salt, 1000000L) / lit(1000000.0)
    def pick(idCol: Column, salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (u(idCol, salt, xs.size.toLong) + 1).cast("int"))
    def ntz(secondsCol: Column): Column = timestamp_seconds(secondsCol).cast(TimestampNTZType)
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val id = col("id")
    val nEv = n(1000000)
    val d2024 = 1704067200L
    save("events", spark.range(nEv).select(id.as("event_id"),
      ntz(lit(d2024) + id * lit(30L * 86400L) / lit(nEv) + u(id, 28, 200)).as("ts"),
      u(id, 29, 50).as("user_id"),
      pick(id, 30, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(lit(0.5) + unit(id, 31) * 25, 2).as("value"),
      concat(lit("{\"k\": "), u(id, 32, 100).cast("string"), lit("}")).as("props")))
    val nDoc = n(50000)
    // ~10 % of documents copy an earlier one (half verbatim, half with
    // one token changed), so the dedup operators have work to find
    def words(src: Column) = concat_ws(" ", transform(sequence(lit(0), u(src, 33, 60).cast("int") + 20),
      j => element_at(array(Vocab.map(lit): _*),
        (pmod(xxhash64(src, j, lit(seed)), lit(Vocab.size.toLong)) + 1).cast("int"))))
    val src = when(u(id, 34, 10) === 0 && id > 10, u(id, 35, 10000000L) % id).otherwise(id)
    save("documents", spark.range(nDoc)
      .select(id.as("doc_id"), src.as("src"))
      .select(col("doc_id"),
        when(col("src") =!= col("doc_id") && u(col("doc_id"), 36, 2) === 0,
          concat(lit("novel "), words(col("src")))).otherwise(words(col("src"))).as("text"),
        pick(col("doc_id"), 37, Langs).as("lang"),
        concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
  }
}
