package org.apache.spark.sql

/** A session's UUID, for memo keys that must not keep the session
  * itself reachable. It lives in Spark's package because
  * `sessionUUID` is `private[sql]` on the classic session.
  */
object GraftSessionId {
  def apply(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID
}
