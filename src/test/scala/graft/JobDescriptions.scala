package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** Which steps of a test start Spark jobs. */
object JobDescriptions {

  /** Runs each step under its own job description, in order, and
    * returns the descriptions of the jobs they started, in start order.
    * The last step must start a job: the listener bus delivers events in
    * order, so once its job has arrived, any job of an earlier step has
    * arrived too. Jobs that other threads start carry none of the
    * descriptions and are left out. */
  def of(spark: SparkSession)(steps: (String, () => Any)*): List[String] = {
    val names = steps.map(_._1).toSet
    val jobs = mutable.Buffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += e.properties.getProperty("spark.job.description", "")
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      steps.foreach { case (name, step) =>
        sc.setJobDescription(name)
        step()
      }
      eventually(timeout(Span(30, Seconds))) {
        assert(jobs.synchronized(jobs.contains(steps.last._1)))
      }
      jobs.synchronized(jobs.filter(names).toList)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }
}
