package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark action counts for budget specs. */
object SparkActions {
  /** (jobs, SQL executions) started while `body` runs: every job, and
    * the distinct `spark.sql.execution.id`s its jobs belong to, counted
    * by a listener after the bus has delivered every event. */
  def during(spark: SparkSession)(body: => Unit): (Int, Int) = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
          .foreach(executions.add)
      }
    }
    sc.addSparkListener(l)
    try { body; ListenerDrain(sc); (jobs.get(), executions.size) }
    finally sc.removeSparkListener(l)
  }
}
