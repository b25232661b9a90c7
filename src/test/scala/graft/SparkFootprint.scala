package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of driver code makes the shared test session do, for specs
  * that pin it: the Spark jobs it starts and the plans of the queries it
  * runs. Listener events arrive asynchronously, so each count drains the
  * listener bus around the block.
  *
  * Its `collect`/`collectWithSubqueries` descend into adaptive plans and
  * their query stages.
  */
object SparkFootprint extends AdaptiveSparkPlanHelper {
  private def spark = TestSpark.spark

  private lazy val jobsStarted = {
    val n = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })
    n
  }

  /** Spark jobs started by `body`, and its result. */
  def jobsOf[A](body: => A): (Int, A) = {
    TestListenerBus.drain(spark.sparkContext)
    val before = jobsStarted.get()
    val out = body
    TestListenerBus.drain(spark.sparkContext)
    (jobsStarted.get() - before, out)
  }

  /** Spark jobs started by `body`. */
  def jobCount(body: => Unit): Int = jobsOf(body)._1

  /** `body`'s result and the plans of the queries it ran, each as executed
    * (an adaptive plan with its final plan and query stages).
    */
  def plansOf[A](body: => A): (A, Seq[SparkPlan]) = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      TestListenerBus.drain(spark.sparkContext)
      (out, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
