package org.apache.spark.sql

/** A session's `private[sql]` identity, readable from graft code: memos
  * key on it so that they never hold the session itself. */
object GraftSessionId {
  def of(s: SparkSession): String =
    s.asInstanceOf[classic.SparkSession].sessionUUID
}
