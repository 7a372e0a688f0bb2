package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.{DataFrame, SparkSession}

/** The streaming-connector `private[sql]` reach-in (the same shim
  * every Spark streaming connector ships — Delta's DeltaSource does the
  * identical call): a V1 streaming `Source.getBatch` must return a
  * frame flagged `isStreaming=true` or MicroBatchExecution rejects it,
  * and the only constructor for that flag is
  * `SparkSession.internalCreateDataFrame`. The engine's only other
  * reach-in is the sibling [[Bridge]] (`Dataset.ofRows` for the custom
  * LogicalPlan builders). */
object SqlShims {
  /** Re-root `df`'s physical rows as a streaming-flagged DataFrame with
    * the same schema (lazy — nothing executes until the micro-batch
    * runs). */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The sink-side counterpart: a V1 `Sink.addBatch` receives a frame
    * still flagged as streaming, on which batch writers (and the
    * manifest commit path) refuse to run. Re-root its rows as a plain
    * batch frame — distributed (no driver collect); rows are copied
    * because the scan reuses `InternalRow` buffers. */
  def asBatchFrame(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()), df.schema, isStreaming = false)
  }

  /** Spark's OWN bucket-file naming contract
    * (`BucketingUtils`, `private[sql]`): the manifest layer writes and
    * recognizes bucket-id-suffixed data files through these two calls,
    * so the naming can never drift from what `FileSourceScanExec`
    * parses when a bucketed relation plans its scan. */
  def bucketIdOf(fileName: String): Option[Int] =
    org.apache.spark.sql.execution.datasources.BucketingUtils.getBucketId(fileName)

  /** `_00003`-style suffix for bucket id 3 — inserted before the file
    * extension chain. */
  def bucketIdSuffix(id: Int): String =
    org.apache.spark.sql.execution.datasources.BucketingUtils.bucketIdToString(id)

  /** `schema` with every field, element and value nullable — what a
    * file relation reports for any parquet data schema, inferred or
    * given (`private[spark]`). The manifest layer records this form so
    * a recorded schema equals the one footer inference would return. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable
}
