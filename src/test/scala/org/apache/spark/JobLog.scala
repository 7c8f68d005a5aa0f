package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs a block starts, as their job descriptions ("" when
  * unset), in start order. The listener bus is asynchronous, so the log is
  * read only after every posted event was delivered; `waitUntilEmpty` is
  * Spark-private, hence this object lives in Spark's package. */
object JobLog {
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    sc.listenerBus.waitUntilEmpty()
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION)))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
