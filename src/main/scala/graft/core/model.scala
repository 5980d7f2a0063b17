package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Canonical measurement model.
  *
  * The reference engine's single fact type is `Meas{id, time, value, flag}`
  * [U: libdariadb/meas.h — struct Meas] (see SURVEY.md §1.1; reference mount
  * empty this round, citations are upstream-path convention). We add `seq`
  * (a unique per-measurement sequence number, sourced from `event_id`) as a
  * deterministic tiebreaker: the reference resolves duplicate (id, time)
  * pairs by storage-level freshness, which Spark has no ambient notion of,
  * so freshness is modeled explicitly.
  */
case class Meas(id: Long, time: java.sql.Timestamp, value: Double, flag: Long, seq: Long)

object Meas {
  /** Canonical schema for Meas DataFrames. */
  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("time", TimestampType),
    StructField("value", DoubleType),
    StructField("flag", LongType),
    StructField("seq", LongType),
  ))

  /** Flag value marking "no measurement at/ before this time point" in
    * as-of reads [U: libdariadb/meas.h — Flags::_NO_DATA]. */
  val NO_DATA: Long = 4294967295L

  /** Sentinel timestamps for "after any real time" (currentValue's
    * as-of-now point) and "before any real time" (streaming state
    * initializers). NOT Long.MaxValue/MinValue millis: java.sql.Timestamp
    * math (getTime ± nanos adjustments, µs conversions ×1000) overflows
    * at the extremes, so both back off by 2^12 — year ≈ ±73,000, far
    * outside any measurable data, with ~4,000× headroom under every
    * ×1000 unit conversion in the codebase. Use THESE, never re-derive
    * the shift inline (MaxValue vs MinValue is an easy sign typo). */
  val TIME_MAX_MS: Long = Long.MaxValue >> 12
  val TIME_MIN_MS: Long = Long.MinValue >> 12

  /** Fresh instance per call, NOT shared singletons: java.sql.Timestamp
    * is mutable (setTime/setNanos), so a shared `val` handed to any
    * caller — e.g. inside a received QueryTimePoint — could be mutated
    * and silently corrupt every later use process-wide. */
  def TIME_MAX: java.sql.Timestamp = new java.sql.Timestamp(TIME_MAX_MS)
  def TIME_MIN: java.sql.Timestamp = new java.sql.Timestamp(TIME_MIN_MS)
}

/** Flag-match semantics [U: libdariadb/meas.h — Meas::inFlag]:
  * query flag 0 matches everything; otherwise a measurement matches iff
  * it shares at least one bit with the query flag. Our flags are one-hot
  * event-type encodings, so "any shared bit" == "type in requested set".
  */
object Flags {
  val CLICK = 1L; val ERROR = 2L; val PURCHASE = 4L; val SIGNUP = 8L; val VIEW = 16L

  /** The single definition of the flag-match predicate — batch queries,
    * the engine facade, and streaming subscriptions all share it. */
  def matches(flagCol: org.apache.spark.sql.Column, queryFlag: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.lit
    if (queryFlag == 0L) lit(true)
    else (flagCol.bitwiseAND(lit(queryFlag)) =!= lit(0L))
  }
}

/** One registered query: a Spark plan builder plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables. The
  * driver hash-compares the two at sf0.01 — column NAMES must match
  * exactly on both sides, every query must end in a total ORDER BY, and
  * float aggregates must be rounded identically on both sides.
  *
  * Cache contract: a build may `persist()` an intermediate its plan
  * references more than once (shingle tables, SRP bands) — always
  * no-arg, so the level is Spark's `spark.sql.defaultCacheStorageLevel`
  * (default MEMORY_AND_DISK; CacheHygieneSpec pins it). Those entries
  * CANNOT be unpersisted inside the build (the returned plan is lazy and
  * still needs them), so they are session-scoped memos: Spark's
  * CacheManager dedups by canonicalized plan, re-building the same query
  * REUSES its entries instead of adding new ones (CacheHygieneSpec pins
  * this), and the harnesses (Bench/Verify/PlanAudit) clear the cache
  * between queries. A long-lived session holds at most one entry per
  * persist site; `spark.sharedState.cacheManager.clearCache()` releases
  * them all.
  */
case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "")
