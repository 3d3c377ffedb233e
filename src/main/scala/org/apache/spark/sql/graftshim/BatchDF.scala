package org.apache.spark.sql.graftshim

import org.apache.spark.sql.classic.{DataFrame, Dataset}

/** The one `private[sql]` doorway the streaming sink needs: the
  * micro-batch frame Structured Streaming hands a V1 `Sink` is flagged
  * `isStreaming`, on which batch writes are (correctly) forbidden —
  * the established sink idiom (what Delta's `DeltaSink` and Spark's
  * own `FileStreamSink` do) is to re-wrap the SAME physical plan as a
  * non-streaming frame via `internalCreateDataFrame`. This shim lives
  * under `org.apache.spark.sql` purely to reach that method; no other
  * internals are touched. */
object BatchDF {
  def from(data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : DataFrame = {
    val ds = data.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd, ds.schema, isStreaming = false)
  }

  /** Catalyst rows as a frame of `schema`, keeping the RDD's
    * partitions: a write of it writes one file per partition. */
  def fromRows(spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Column over a raw catalyst expression (the DELETE path builds its
    * predicate once and uses it for both pruning and row filtering). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** A full clone of the session — SHARED state and cache, COPIED
    * session conf — so a planner can pin one scan-shaping conf (file
    * open cost, for single-file partitions) without mutating the
    * user's session or losing its other settings. `cloneSession` is
    * `private[sql]` in Spark 4; this shim is the doorway. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.classic.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()
}
