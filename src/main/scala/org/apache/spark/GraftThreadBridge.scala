package org.apache.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.Utils

/** Bridge to the spark-package-private local-property accessors, for
  * [[graft.core.Par]]'s pool: the same capture Spark's own
  * `SQLExecution.withThreadLocalCaptured` makes for its broadcast and
  * subquery pools.
  */
object GraftThreadBridge {

  /** `r`, run with a copy of the CALLING thread's SparkContext local
    * properties and active session; the running thread gets its own back
    * afterwards, so nothing `r` sets there outlives it.
    */
  def withCallerContext(r: Runnable): Runnable = SparkContext.getActive match {
    case None => r
    case Some(sc) =>
      val props = Utils.cloneProperties(sc.getLocalProperties)
      val session = SparkSession.getActiveSession
      () => {
        val ownProps = sc.getLocalProperties
        val ownSession = SparkSession.getActiveSession
        sc.setLocalProperties(props)
        session.foreach(SparkSession.setActiveSession)
        try r.run()
        finally {
          sc.setLocalProperties(ownProps)
          ownSession match {
            case Some(s) => SparkSession.setActiveSession(s)
            case None => SparkSession.clearActiveSession()
          }
        }
      }
  }
}
