package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Bridge into the classic session's `private[sql]` `cloneSession()`: a
  * session with a private COPY of the caller's conf, temp views and
  * query-execution listeners. Unlike `newSession()`, which starts from the
  * builder's conf and no listeners, a write run on the clone honors the
  * caller's runtime settings and is seen by the caller's listeners, while a
  * setting made on the clone never reaches the caller.
  */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
