package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode, StreamingQuery}

import graft.core.Meas

/** Custom streaming state via `mapGroupsWithState` — the live analog of
  * the reference's in-memory current-values map
  * [U: engines/engine.cpp — currentValue; memstorage], maintained
  * incrementally as measurements stream in.
  *
  * State is per-series (keyed by id) and constant-size — latest
  * measurement + monotonic count — so the state store stays
  * O(#series) regardless of throughput; freshness ordering is
  * (time, seq), identical to the batch merge-on-read contract.
  */
object StatefulStreams {

  case class SeriesState(time: java.sql.Timestamp, value: Double, flag: Long, seq: Long, count: Long)
  case class CurrentUpdate(id: Long, time: java.sql.Timestamp, value: Double, flag: Long, count: Long)

  private def newer(aTime: java.sql.Timestamp, aSeq: Long, bTime: java.sql.Timestamp, bSeq: Long): Boolean =
    aTime.after(bTime) || (aTime.equals(bTime) && aSeq > bSeq)

  /** Streaming current-value view over a Meas stream: emits one update
    * row per (series, microbatch) carrying the freshest measurement and
    * the running count. */
  def currentValues(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.readStream.schema(Meas.schema).parquet(dir).as[Meas]
      .groupByKey(_.id)
      .mapGroupsWithState[SeriesState, CurrentUpdate](GroupStateTimeout.NoTimeout) {
        (id: Long, batch: Iterator[Meas], state: GroupState[SeriesState]) =>
          var st = state.getOption.getOrElse(
            SeriesState(Meas.TIME_MIN, 0.0, 0L, Long.MinValue, 0L))
          batch.foreach { m =>
            val fresher = st.count == 0L || newer(m.time, m.seq, st.time, st.seq)
            st = SeriesState(
              if (fresher) m.time else st.time,
              if (fresher) m.value else st.value,
              if (fresher) m.flag else st.flag,
              if (fresher) m.seq else st.seq,
              st.count + 1)
          }
          state.update(st)
          CurrentUpdate(id, st.time, st.value, st.flag, st.count)
      }
      .toDF()
  }

  /** Run the stateful stream into a queryable in-memory sink. */
  def start(spark: SparkSession, dir: String, queryName: String, checkpoint: String): StreamingQuery =
    MemorySink.start(currentValues(spark, dir), queryName, checkpoint, OutputMode.Update())

  // ---- streaming sessionization (flatMapGroupsWithState) -------------

  case class SessionState(start: java.sql.Timestamp, end: java.sql.Timestamp, n: Long)
  case class SessionOut(id: Long, session_start: java.sql.Timestamp,
                        session_end: java.sql.Timestamp, n_meas: Long)

  /** Streaming gap-sessionizer — the live analog of the batch
    * `sessionize` query: per-series sessions close when the next
    * measurement arrives more than `gapMinutes` after the session's
    * end, and ONLY closed sessions are emitted (append mode). State is
    * one open session per series — constant-size, like currentValues
    * above. flatMapGroupsWithState rather than mapGroupsWithState
    * because one microbatch can close many sessions for one key
    * (0..n output rows per group per batch).
    *
    * 100 TB shape: state store is O(#series); each microbatch shuffles
    * only its own rows on id. The batch query remains the backfill
    * path — this is the incremental tail. */
  def sessions(spark: SparkSession, dir: String, gapMinutes: Long): DataFrame = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    spark.readStream.schema(Meas.schema).parquet(dir).as[Meas]
      .groupByKey(_.id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, batch: Iterator[Meas], state: GroupState[SessionState]) =>
          // microbatch group is unordered; sessionization needs time order
          val sorted = batch.toSeq.sortBy(m => (m.time.getTime, m.seq))
          val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
          var open = state.getOption
          sorted.foreach { m =>
            open match {
              case Some(s) if m.time.before(s.start) =>
                // older than the open session's start = closed-session
                // territory: an already-emitted session cannot be
                // amended (append mode), and folding the row into the
                // CURRENT session would count an event from before its
                // start. Dropped here; the batch `sessionize` query is
                // the backfill path for such stragglers (same contract
                // as asofEnrich below).
                ()
              case Some(s) if m.time.getTime - s.end.getTime <= gapMs =>
                // in-span late rows (start ≤ time ≤ end) fold in
                // without moving the end
                val end = if (m.time.after(s.end)) m.time else s.end
                open = Some(SessionState(s.start, end, s.n + 1))
              case Some(s) =>
                closed += SessionOut(id, s.start, s.end, s.n)
                open = Some(SessionState(m.time, m.time, 1L))
              case None =>
                open = Some(SessionState(m.time, m.time, 1L))
            }
          }
          open.foreach(state.update)
          closed.iterator
      }
      .toDF()
  }

  // ---- streaming as-of enrichment (flatMapGroupsWithState) -----------

  case class TaggedRow(k: Long, t: java.sql.Timestamp, seq: Long, v: Double, is_probe: Boolean)
  case class RefState(t: java.sql.Timestamp, seq: Long, v: Double)
  case class AsofOut(k: Long, t: java.sql.Timestamp, seq: Long, v: Double,
                     ref_t: Option[java.sql.Timestamp], ref_v: Option[Double])

  /** Streaming analog of the batch as-of join
    * (extensions/TemporalQueries.asofCore): probe rows are enriched
    * with the freshest reference row seen so far for their key; state
    * is ONE reference per key — constant-size, like currentValues.
    *
    * Semantics note (deliberate, documented difference from batch):
    * this is latest-reference-AT-ENRICH-TIME — processing-order
    * semantics, the same contract as the reference engine's subscribe
    * push [U: network/libserver — SUBSCRIBE]. Within a microbatch rows
    * are time-ordered (references before the probes they serve, seq
    * tie-break = store freshness rule), so the batch-local answer
    * matches the event-time operator; across batches a reference that
    * arrives late cannot retro-enrich an already-emitted probe — the
    * batch asof_join is the backfill path, this is the incremental
    * tail. */
  def asofEnrich(tagged: org.apache.spark.sql.Dataset[TaggedRow]): DataFrame = {
    import tagged.sparkSession.implicits._
    tagged
      .groupByKey(_.k)
      .flatMapGroupsWithState[RefState, AsofOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (k: Long, batch: Iterator[TaggedRow], state: GroupState[RefState]) =>
          val sorted = batch.toSeq.sortBy(r => (r.t.getTime, r.is_probe, r.seq))
          val out = scala.collection.mutable.ArrayBuffer[AsofOut]()
          var st = state.getOption
          sorted.foreach { r =>
            if (!r.is_probe) {
              if (st.forall(s => newer(r.t, r.seq, s.t, s.seq)))
                st = Some(RefState(r.t, r.seq, r.v))
            } else
              out += AsofOut(r.k, r.t, r.seq, r.v, st.map(_.t), st.map(_.v))
          }
          st.foreach(state.update)
          out.iterator
      }
      .toDF()
  }

  /** Run the session stream into a queryable in-memory sink. */
  def startSessions(spark: SparkSession, dir: String, gapMinutes: Long,
                    queryName: String, checkpoint: String): StreamingQuery =
    MemorySink.start(sessions(spark, dir, gapMinutes), queryName, checkpoint)

  // ---- streaming funnel (flatMapGroupsWithState) ----------------------

  case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp, event_type: String, event_id: Long)
  case class FunnelState(firstClick: java.sql.Timestamp, done: Boolean)
  case class FunnelOut(user_id: Long, first_click: java.sql.Timestamp,
                       first_purchase: java.sql.Timestamp, delay_us: Long)

  /** Streaming analog of the batch `events_funnel`: per user, the FIRST
    * qualifying purchase within `horizonUs` of their first click emits
    * exactly one conversion row, the moment it arrives — the actionable
    * live event. State is (first click, converted?) per user —
    * constant-size, like every operator here.
    *
    * Contract vs batch (documented, deliberate): the batch query is the
    * REPORT (one row per clicking user, converted or not — "never
    * converted" needs a bounded corpus); the stream emits conversions
    * only, incrementally. For in-order streams the emitted conversions
    * are exactly the batch query's converted=1 rows
    * (StatefulStreamSpec); within a micro-batch rows are event-time
    * ordered, across batches a click arriving after the user's first
    * click was fixed cannot retroactively move the window
    * (processing-order semantics, the asofEnrich contract). */
  def funnel(events: org.apache.spark.sql.Dataset[FunnelEvent], horizonUs: Long): DataFrame = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          // clicks sort BEFORE other events at an equal timestamp: the
          // batch query counts a purchase with ts == first_click (its
          // predicate is ts >= first_click), so a same-instant purchase
          // must see the click's state already set — ordering purely by
          // event_id would drop it whenever the purchase's id is lower
          val sorted = batch.toSeq.sortBy(e =>
            (e.ts.getTime, e.event_type != "click", e.event_id))
          val out = scala.collection.mutable.ArrayBuffer[FunnelOut]()
          var st = state.getOption
          sorted.foreach { e =>
            e.event_type match {
              case "click" if st.isEmpty =>
                st = Some(FunnelState(e.ts, done = false))
              case "purchase" => st match {
                case Some(s) if !s.done && !e.ts.before(s.firstClick) &&
                    (e.ts.getTime - s.firstClick.getTime) * 1000L <= horizonUs =>
                  out += FunnelOut(uid, s.firstClick, e.ts,
                    (e.ts.getTime - s.firstClick.getTime) * 1000L)
                  st = Some(s.copy(done = true))
                case _ => ()
              }
              case _ => ()
            }
          }
          st.foreach(state.update)
          out.iterator
      }
      .toDF()
  }

  // ---- streaming anomaly detection (flatMapGroupsWithState) ----------

  case class ZScoreState(win: List[Double], lastTime: Long, lastSeq: Long)
  case class ZScoreOut(id: Long, time: java.sql.Timestamp, seq: Long,
                       m6: Double, sd6: Double, z_milli: Long, anomaly: Long)

  /** Spark's `round(x, s)` arithmetic, replicated so the streaming path
    * is bit-identical to the batch window expressions: BigDecimal from
    * the double's decimal string, HALF_UP. */
  private def roundHalfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Streaming analog of the batch `series_zscore` operator
    * (CoreQueries.zscoreBatch): each in-order sample is scored against
    * the `w` samples STRICTLY BEFORE it (scoring a sample inside its
    * own window bounds |z| at √(w−1) — a 3σ gate would never fire);
    * only full preceding windows emit. State is the window itself — w
    * doubles per series, constant-size like the other stateful
    * operators here.
    *
    * Exactness contract (StatefulStreamSpec): for in-order streams the
    * output is BIT-IDENTICAL to the batch operator — the window mean is
    * computed as Spark's Average does (ordered sum, then one divide),
    * the deviation as Spark's CentralMomentAgg does (Welford updates in
    * frame order), and the roundings are Spark's `round` (BigDecimal
    * HALF_UP). A row older than the series' last processed (time, seq)
    * is dropped — an already-emitted score cannot be amended in append
    * mode; the batch query is the backfill path (same contract as
    * `sessions`/`asofEnrich` above). */
  def zscores(spark: SparkSession, dir: String, w: Int = 8,
              dayPartitioned: Boolean = false): DataFrame = {
    import spark.implicits._
    val src =
      if (dayPartitioned)
        spark.readStream.schema(Meas.schema)
          .option("basePath", dir).parquet(s"$dir/day=*").drop("day")
      else spark.readStream.schema(Meas.schema).parquet(dir)
    src.as[Meas]
      .groupByKey(_.id)
      .flatMapGroupsWithState[ZScoreState, ZScoreOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (id: Long, batch: Iterator[Meas], state: GroupState[ZScoreState]) =>
          val sorted = batch.toSeq.sortBy(m => (m.time.getTime, m.seq))
          var st = state.getOption.getOrElse(ZScoreState(Nil, Long.MinValue, Long.MinValue))
          val out = scala.collection.mutable.ArrayBuffer[ZScoreOut]()
          sorted.foreach { m =>
            val t = m.time.getTime
            if (t > st.lastTime || (t == st.lastTime && m.seq > st.lastSeq)) {
              if (st.win.size == w) { // score against the PRECEDING window
                var sum = 0.0
                st.win.foreach(sum += _) // Average: ordered sum, one divide
                val mean = sum / w
                var n = 0.0; var avg = 0.0; var m2 = 0.0
                st.win.foreach { x => // CentralMomentAgg: Welford in frame order
                  n += 1; val d = x - avg; avg += d / n; m2 += d * (x - avg)
                }
                val m6 = roundHalfUp(mean, 6)
                val sd6 = roundHalfUp(math.sqrt(m2 / n), 6)
                val z = if (sd6 == 0.0) 0L
                        else roundHalfUp((m.value - m6) / sd6 * 1000.0, 0).toLong
                out += ZScoreOut(id, m.time, m.seq, m6, sd6, z,
                  if (math.abs(z) > 3000L) 1L else 0L)
              }
              st = ZScoreState((st.win :+ m.value).takeRight(w), t, m.seq)
            }
          }
          state.update(st)
          out.iterator
      }
      .toDF()
  }

  /** Run the anomaly stream into a queryable in-memory sink. */
  def startZscores(spark: SparkSession, dir: String, queryName: String,
                   checkpoint: String, w: Int = 8,
                   dayPartitioned: Boolean = false): StreamingQuery =
    MemorySink.start(zscores(spark, dir, w, dayPartitioned), queryName, checkpoint)
}
