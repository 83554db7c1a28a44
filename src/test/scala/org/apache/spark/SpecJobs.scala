package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block launches. Specs share one session, so
  * only jobs tagged with a job group set on the calling thread for this
  * one call are counted (Spark SQL carries the group to the threads it
  * starts jobs from). Lives in this package because the listener-bus
  * drain that makes the count final is package-private.
  */
object SpecJobs {
  /** The SQL execution id of each job `f` launched, in start order;
    * null for a job run outside any SQL execution (a schema-inference
    * job, for one).
    */
  def executions(sc: SparkContext)(f: => Any): Seq[String] = {
    val group = s"spec-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new ConcurrentLinkedQueue[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.add(Option(e.properties.getProperty("spark.sql.execution.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spec job count")
    try f
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.asScala.map(_.orNull).toSeq
  }

  def count(sc: SparkContext)(f: => Any): Int = executions(sc)(f).size
}
