package org.apache.spark.sql.graftshim

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.util.Utils

/** Driver work handed to a pooled thread, run as if on the calling thread.
  * A pooled thread keeps the Spark local properties it inherited when it
  * was created — job group, job tags, description, scheduler pool and any
  * caller key — not those of the code that hands it work, so its jobs
  * escape `cancelJobGroup`/`cancelJobsWithTag` and every listener that
  * attributes jobs by property. SparkContext's whole property map is
  * private[spark], hence this one-file residence inside o.a.s. */
object JobProperties {

  /** `body` on `ec` under a copy of the caller's local properties, minus
    * the SQL execution id: the queries `body` runs are executions of their
    * own, not part of one the caller may be inside. */
  def future[T](sc: SparkContext, ec: ExecutionContext)(body: => T): Future[T] = {
    val props = Utils.cloneProperties(sc.getLocalProperties)
    props.remove(SQLExecution.EXECUTION_ID_KEY)
    Future {
      val prev = sc.getLocalProperties
      sc.setLocalProperties(props)
      try body finally sc.setLocalProperties(prev)
    }(ec)
  }
}
