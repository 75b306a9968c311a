package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.classic.SparkSession

/** `SessionState` is private[sql]; this shim reads the session's resolved
  * SQL settings, so callers get Spark's typed value (defaults and AQE's
  * initial partition number applied) instead of parsing the raw string. */
object ConfBridge {
  /** The shuffle partition count Spark itself plans exchanges with. */
  def numShufflePartitions(spark: org.apache.spark.sql.SparkSession): Int =
    spark.asInstanceOf[SparkSession].sessionState.conf.numShufflePartitions
}
