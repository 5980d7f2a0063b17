package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.core.Meas
import graft.engine.GraftEngine

/** In-memory model of every value the generator wrote: per series, the
  * freshest (highest `seq`) row for each timestamp. Results read back
  * from the program are compared against it exactly. */
final class Model {
  import Model.Row
  private val series = mutable.HashMap[Long, java.util.TreeMap[Long, Row]]()

  def put(ms: Seq[Meas]): Unit = synchronized {
    ms.foreach { m =>
      val t = series.getOrElseUpdate(m.id, new java.util.TreeMap[Long, Row]())
      val prev = t.get(m.time.getTime)
      if (prev == null || prev.seq < m.seq) t.put(m.time.getTime, Row(m.value, m.flag, m.seq))
    }
  }

  def size: Long = synchronized { series.values.map(_.size.toLong).sum }

  /** (id, timeMs, value, flag, seq) rows of the ids inside [from, to],
    * ordered by id then time — readInterval's answer for flag 0. */
  def interval(ids: Seq[Long], from: Long, to: Long): Seq[(Long, Long, Double, Long, Long)] =
    synchronized {
      ids.distinct.sorted.flatMap { id =>
        series.get(id).toSeq.flatMap { t =>
          val it = t.subMap(from, true, to, true).entrySet().iterator()
          val b = mutable.ArrayBuffer[(Long, Long, Double, Long, Long)]()
          while (it.hasNext) {
            val e = it.next(); val r = e.getValue
            b += ((id, e.getKey, r.value, r.flag, r.seq))
          }
          b
        }
      }
    }

  /** readTimePoint's answer: the last row at or before `at` per id,
    * or (id, None, None, NO_DATA). */
  def point(ids: Seq[Long], at: Long): Seq[(Long, Option[Long], Option[Double], Long)] =
    synchronized {
      ids.distinct.sorted.map { id =>
        Option(series.get(id).map(_.floorEntry(at)).orNull) match {
          case Some(e) => (id, Some(e.getKey), Some(e.getValue.value), e.getValue.flag)
          case None => (id, None, None, Meas.NO_DATA)
        }
      }
    }

  /** The newest row at or before `at` for one series, if any. */
  def floor(id: Long, at: Long): Option[(Long, Row)] = synchronized {
    series.get(id).flatMap(t => Option(t.floorEntry(at))).map(e => (e.getKey, e.getValue))
  }

  def all: Seq[(Long, Long, Double, Long, Long)] =
    interval(synchronized(series.keys.toSeq), Long.MinValue, Long.MaxValue)
}

object Model {
  final case class Row(value: Double, flag: Long, seq: Long)
}

/** Seeded measurement generator. Values are multiples of 1/4 below
  * 1000, so any sum of them is exact in binary floating point. */
final class MeasGen(seed: Long) {
  private val rnd = new Random(seed)
  private var nextSeq = 1L

  private def seq(): Long = { val s = nextSeq; nextSeq += 1; s }
  def value(): Double = rnd.nextInt(4000) / 4.0
  def flag(): Long = 1L << rnd.nextInt(5)
  def meas(id: Long, timeMs: Long): Meas = Meas(id, new Timestamp(timeMs), value(), flag(), seq())

  /** `perSeries` rows per series spread over [fromMs, fromMs + spanMs),
    * one per equal-width slot at a random offset, so timestamps within
    * a series are distinct. */
  def spread(ids: Seq[Long], perSeries: Int, fromMs: Long, spanMs: Long): Seq[Meas] = {
    val slot = spanMs / perSeries
    for (id <- ids; k <- 0 until perSeries)
      yield meas(id, fromMs + k * slot + (rnd.nextDouble() * slot).toLong)
  }

  /** Rewrites of `fraction` of `rows`: same (id, time) key, a new value
    * and a higher `seq`, so the freshest-seq merge decides the answer. */
  def rewrites(rows: Seq[Meas], fraction: Double): Seq[Meas] =
    rows.filter(_ => rnd.nextDouble() < fraction).map(m => meas(m.id, m.time.getTime))
}

object MeasGen {
  val Day: Long = 86400000L
  /** 2024-01-01T00:00:00Z */
  val Epoch: Long = 1704067200000L
  def seriesIds(n: Int): Seq[Long] = (0 until n).map(i => GraftEngine.seriesId(s"series-$i"))
  def seriesNames(n: Int): Seq[String] = (0 until n).map(i => s"series-$i")

  def frame(spark: SparkSession, ms: Seq[Meas]) = spark.createDataFrame(ms)
}
