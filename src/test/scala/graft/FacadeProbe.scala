package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.core.Meas

/** What a facade call ran, and what it should have answered. */
object FacadeProbe {

  /** Run `body` and return its result with every query execution it
    * ran, in order — the collected index lookup as well as the data
    * query it returns (when `body` collects it). */
  def executions[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = seen.add(qe)
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out = try {
      val r = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (out, seen.asScala.toSeq)
  }

  /** Run `body` and return its result with the number of Spark jobs
    * started while it ran — map-stage jobs that AQE submits, listing
    * jobs and sampling jobs included. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (r, started.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Every node of the final physical plan, through AQE's stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Whether the execution scans a parquet dir named `dir` (`_stats` is
    * the stats index, `data` the durable store). */
  def reads(qe: QueryExecution, dir: String): Boolean = readsIn(qe.analyzed, dir)

  /** Whether the plan scans the parquet dir named `dir`, given as its
    * root or as some of its `day=` directories. */
  def readsIn(plan: LogicalPlan, dir: String): Boolean = plan.exists {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.exists(p =>
        p.getName == dir || (p.getName.startsWith("day=") && p.getParent.getName == dir))
      case _ => false
    }
    case _ => false
  }

  /** The whole-store merge-on-read view, collected. */
  def merged(engine: graft.engine.GraftEngine): Seq[Meas] = {
    import engine.spark.implicits._
    engine.merged.as[Meas].collect().toSeq
  }
}
