package graft

import org.apache.spark.sql.SparkSession

/** Listener- and log-based probes the specs use to pin job accounting. */
object JobProbes {

  /** Run `body` and count the Spark jobs it started. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftListenerBridge.flushListeners(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.flushListeners(sc)
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Run `body` and count the task metric updates the DAGScheduler dropped
    * ("Failed to update accumulator"): a task reported into an SQL metric
    * the driver no longer holds. A daemon thread requests a GC every
    * `gcEveryMs` while `body` runs, so a metric that becomes unreachable
    * mid-action is collected before its late tasks report. The session,
    * and with it Spark's log4j setup, must exist before the appender
    * attaches.
    */
  def lostAccumulatorUpdates[T](gcEveryMs: Long)(body: => T): (T, Int) = {
    val lost = new java.util.concurrent.atomic.AtomicInteger
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "lost-accumulators", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Failed to update accumulator"))
          lost.incrementAndGet()
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    logger.addAppender(appender)
    val done = new java.util.concurrent.atomic.AtomicBoolean
    val gc = new Thread(() =>
      while (!done.get) { System.gc(); Thread.sleep(gcEveryMs) }, "gc-pressure")
    gc.setDaemon(true)
    gc.start()
    try { val out = body; done.set(true); gc.join(); (out, lost.get) }
    finally { done.set(true); logger.removeAppender(appender) }
  }
}
