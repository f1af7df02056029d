package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) `private[sql]`, so
  * libraries defining native Catalyst expressions need one file inside the
  * `org.apache.spark.sql` namespace to lift them into public API — the same
  * pattern every Spark extension library uses. Nothing else may live here. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a hand-built logical plan (runs the full analyzer).
    * `Dataset.ofRows` went `private[sql]` with the Spark 4 classic split,
    * exactly like the converters above; libraries contributing custom
    * logical operators (graft.plans.AsofJoinNode) need this one lift. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A batch relation re-tagged `isStreaming = true` — what a v1
    * streaming `Source.getBatch` must return (MicroBatchExecution
    * asserts the flag). `internalCreateDataFrame` went `private[sql]`
    * like the lifts above; this is the same call Delta's DeltaSource
    * makes from inside the `org.apache.spark.sql` namespace. */
  def streamingDataFrame(spark: org.apache.spark.sql.SparkSession,
                         df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Write `df` as parquet files into `dir` with the session's commit
    * protocol, and hand every written row to `trackers` inside the
    * writing tasks. This is what
    * `df.write.parquet(dir)` runs, minus the command wrapper that has
    * no way to take extra trackers; `sessionState` is `private[sql]`,
    * so the call lives here — the same `FileFormatWriter.write` call
    * Delta's TransactionalWrite makes. */
  def writeParquet(df: org.apache.spark.sql.DataFrame, dir: String,
                   trackers: Seq[org.apache.spark.sql.execution.datasources
                     .WriteJobStatsTracker]): Unit = {
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.FileFormatWriter
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    // the command path's own check: parquet must not get duplicate names
    org.apache.spark.sql.util.SchemaUtils.checkColumnNameDuplication(
      df.schema.fieldNames.toSeq, spark.sessionState.conf.caseSensitiveAnalysis)
    val committer = org.apache.spark.internal.io.FileCommitProtocol
      .instantiate(spark.sessionState.conf.fileCommitProtocolClass,
        java.util.UUID.randomUUID().toString, dir)
    SQLExecution.withNewExecutionId(qe, Some(s"write parquet $dir")) {
      FileFormatWriter.write(spark, qe.executedPlan,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat,
        committer, FileFormatWriter.OutputSpec(dir, Map.empty,
          qe.analyzed.output),
        spark.sessionState.newHadoopConf(), Nil, None, trackers, Map.empty)
    }
  }
}

/** Public re-export of the `private[sql]` `V2TableWithV1Fallback` —
  * the analyzer hook that makes `spark.readStream.table("cat.db.t")`
  * route onto a catalog table's v1 streaming source (the shape Delta's
  * DeltaTableV2 implements; Delta can extend the trait directly only
  * because it compiles inside the `org.apache.spark.sql` namespace —
  * this one-line lift is the library equivalent, same pattern as the
  * converters above). */
trait V1FallbackTable
    extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback
