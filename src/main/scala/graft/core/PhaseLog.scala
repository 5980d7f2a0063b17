package graft.core

import org.slf4j.Logger

/** Per-phase wall-clock timing for multi-job builds (the index ingest
  * paths): every phase is timed and logged at INFO on the caller's
  * logger. Silent at Spark's usual WARN; raise the `graft` logger to
  * INFO to see the breakdown. The phases run as independent Spark
  * jobs, so the breakdown is exact. */
object PhaseLog {
  def timed[T](log: Logger, phase: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    log.info(f"build phase $phase: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Raise the `graft` logger to INFO (what `graft.Smoke` does to
    * attribute its entries' ingest cost). */
  def enable(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel("graft", org.apache.logging.log4j.Level.INFO)
}
