package org.apache.spark.scheduler

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** Lives in Spark's package for the scheduler's package-private task map. */
object ZombieTasks {

  /** Wait (up to a minute) until no task of a failed or cancelled stage
    * still runs. Spark fails a job as soon as a stage it depends on fails
    * — another job's build of a persisted frame both read — and stops the
    * job's running tasks later, so a task of a failed write can still
    * create files in its output dir after the write threw. */
  def await(sc: SparkContext): Unit = sc.taskScheduler match {
    case ts: TaskSchedulerImpl =>
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (ts.taskIdToTaskSetManager.values.asScala.exists(_.isZombie) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    case _ => ()
  }
}
