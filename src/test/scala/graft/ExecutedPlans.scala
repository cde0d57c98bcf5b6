package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, ExchangeQueryStageExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** Test probes over the Spark jobs and SQL executions a call runs, and
  * their executed physical plans (AQE stages included).
  */
object ExecutedPlans {

  /** The number of Spark jobs `body` starts, after it has run. The
    * listener bus is FIFO: once a marker job started after `body` has
    * been delivered, so has every job `body` started.
    */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Int) = {
    val Marker = "graft.test.marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(Option(e.properties.getProperty(Marker)).getOrElse("")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      spark.sparkContext.setLocalProperty(Marker, "end")
      try spark.range(1).collect() finally spark.sparkContext.setLocalProperty(Marker, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains("end"), "the listener bus never delivered the marker")
      (out, jobs.size - 1)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Every SQL execution `body` runs, after it has run. The listener bus is
    * FIFO: once a marker execution started after `body` has been
    * delivered, so has every execution `body` started.
    */
  def executionsOf[A](spark: SparkSession)(body: => A): (A, Seq[QueryExecution]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { seen.add(qe); () }
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      val marker = s"marker_${System.nanoTime()}"
      spark.range(1).select(lit(1).as(marker)).collect()
      def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == marker)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(isMarker), "the listener bus never delivered the marker")
      (out, seen.asScala.toSeq.filterNot(isMarker))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Children of a physical node, including the stages AQE hides behind
    * leaf nodes.
    */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  /** The nodes from `p` down to the first descendant matching `target`. */
  def pathTo(p: SparkPlan)(target: SparkPlan => Boolean): Option[List[SparkPlan]] =
    if (target(p)) Some(List(p))
    else kids(p).iterator.flatMap(pathTo(_)(target)).nextOption().map(p :: _)

  /** A stage boundary below the result stage (AQE also wraps the result
    * stage itself in a `QueryStageExec`, which is no boundary).
    */
  def isExchange(p: SparkPlan): Boolean =
    p.isInstanceOf[Exchange] || p.isInstanceOf[ExchangeQueryStageExec]
}
