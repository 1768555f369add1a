package org.apache.spark.sql.execution.datasources.orc

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.hive.ql.io.sarg.SearchArgument
import org.apache.orc.TypeDescription
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitioningUtils}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Access to the `private[sql]` ORC helpers the graft-orc DSv2 connector
  * reuses (filter -> SearchArgument compilation, column-id mapping and
  * footer schema inference) — the same seam Spark's own v2 ORC source uses.
  */
object GraftOrcShims {

  /** Compile data-source filters to an ORC SearchArgument; None when no
    * filter is convertible (the reference's A8 contract: unsupported
    * pieces degrade gracefully to no-pushdown).
    */
  def createFilter(schema: StructType, filters: Seq[Filter]): Option[SearchArgument] =
    OrcFilters.createFilter(schema, filters)

  /** Map the requested read columns to ORC column ids for one file.
    * Returns (colIds with -1 for missing, canPruneColumns).
    */
  def requestedColumnIds(
      isCaseSensitive: Boolean,
      dataSchema: StructType,
      readDataSchema: StructType,
      orcSchema: TypeDescription,
      conf: Configuration): Option[(Array[Int], Boolean)] =
    OrcUtils.requestedColumnIds(
      isCaseSensitive, dataSchema, readDataSchema, orcSchema, conf)
      .map { case (ids, canPrune) => (ids, canPrune) }

  /** Aggregate-pushdown eligibility + result schema (MIN/MAX/COUNT over
    * footer statistics): delegates to the shared
    * `AggregatePushDownUtils.getSchemaForPushedAggregation`, which rejects
    * unsupported aggregate functions and un-stats-able column types.
    */
  def aggSchemaForPushdown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      dataSchema: StructType,
      partitionNames: Set[String]): Option[StructType] =
    org.apache.spark.sql.execution.datasources.AggregatePushDownUtils
      .getSchemaForPushedAggregation(agg, dataSchema, partitionNames, Nil)

  /** One partial-aggregate row for one file, computed purely from the ORC
    * footer statistics (no stripe I/O) — Spark's own per-file agg kernel.
    */
  def aggRowFromFooter(
      reader: org.apache.orc.Reader,
      filePath: String,
      dataSchema: StructType,
      partitionSchema: StructType,
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      aggSchema: StructType,
      partitionValues: org.apache.spark.sql.catalyst.InternalRow)
      : org.apache.spark.sql.catalyst.InternalRow =
    OrcUtils.createAggInternalRowFromFooter(
      reader, filePath, dataSchema, partitionSchema, agg, aggSchema,
      partitionValues)

  /** Spark's own ordering of the internal values of `dt` (the ordering
    * its MIN/MAX aggregates compare with).
    */
  def ordering(dt: org.apache.spark.sql.types.DataType): Ordering[Any] =
    org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(dt)

  /** Driver-side write preparation for the graft-orc DSv2 sink: delegate
    * to Spark's `OrcFileFormat.prepareWrite` (compression mapping, the
    * `orc.mapred.output.schema` conf key the row writer reads) and return
    * BOTH the serializable per-task writer factory and the prepared Hadoop
    * configuration — the factory's `newInstance` reads its settings from
    * the TaskAttemptContext conf, so the prepared conf must travel to the
    * executors with it.
    */
  def orcWriteSupport(spark: SparkSession, options: Map[String, String],
                      dataSchema: StructType): (OutputWriterFactory, Configuration) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    // `orc.*` writer options (bloom filters, stride, ...) reach the ORC
    // writer through the Hadoop conf — the same propagation the v1 path
    // gets from newHadoopConfWithOptions; prepareWrite itself only
    // consumes the compression option
    options.foreach { case (k, v) =>
      if (k.toLowerCase(java.util.Locale.ROOT).startsWith("orc."))
        job.getConfiguration.set(k, v)
    }
    val factory = new OrcFileFormat().prepareWrite(spark, job, options, dataSchema)
    (factory, job.getConfiguration)
  }

  /** Session Hadoop configuration (`spark.hadoop.*` and session confs
    * applied), the conf Spark's own schema inference reads footers with.
    */
  def hadoopConf(spark: SparkSession): Configuration =
    spark.sessionState.newHadoopConf()

  def caseSensitiveAnalysis(spark: SparkSession): Boolean =
    spark.sessionState.conf.caseSensitiveAnalysis

  /** One file's data schema from its footer, converted exactly as the
    * built-in ORC source converts it. None for a footer with no fields,
    * and for an unreadable footer under `ignoreCorrupt` (otherwise that
    * fails naming the file).
    */
  def footerSchema(file: Path, conf: Configuration,
                   ignoreCorrupt: Boolean): Option[StructType] =
    OrcUtils.readSchema(file, conf, ignoreCorrupt).map(OrcUtils.toCatalystSchema)

  /** Merge per-file schemas left to right, wrapping a conflict as
    * `SchemaMergeUtils.mergeSchemasInParallel` does (the error names both
    * schemas). None when there is nothing to merge.
    */
  def mergeSchemas(schemas: Seq[StructType],
                   caseSensitive: Boolean): Option[StructType] =
    schemas.reduceLeftOption { (merged, next) =>
      try merged.merge(next, caseSensitive)
      catch {
        case cause: SparkException =>
          throw QueryExecutionErrors.failedMergingSchemaError(merged, next, cause)
      }
    }

  /** Partition columns of a hive `k=v` layout, typed as Spark's own file
    * index types them (session type inference, case sensitivity,
    * validation, time zone and invalid-path settings): `leafDirs` are the
    * directories holding data files, `basePaths` stop the walk up each
    * one. Pure path parsing — no listing and no Spark job.
    */
  def partitionSchema(spark: SparkSession, leafDirs: Seq[Path],
                      basePaths: Set[Path]): StructType = {
    val conf = spark.sessionState.conf
    PartitioningUtils.parsePartitions(leafDirs,
      conf.partitionColumnTypeInferenceEnabled, basePaths, None,
      conf.caseSensitiveAnalysis, conf.validatePartitionColumns,
      conf.sessionLocalTimeZone, conf.ignoreInvalidPartitionPaths)
      .partitionColumns
  }

  /** Place partition columns after the data columns; a partition column
    * the data files also carry keeps its data position and takes the
    * partition type (the built-in file source's relation schema).
    */
  def mergeDataAndPartitionSchema(data: StructType, partitions: StructType,
                                  caseSensitive: Boolean): StructType =
    PartitioningUtils.mergeDataAndPartitionSchema(data, partitions, caseSensitive)._1

  /** The error the built-in ORC source raises when no file yields a schema. */
  def unableToInferSchema: Throwable =
    QueryCompilationErrors.dataSchemaNotSpecifiedError("ORC")

  /** Result schema string for the ORC reader conf (also sets the conf key). */
  def orcResultSchemaString(
      canPruneCols: Boolean,
      dataSchema: StructType,
      resultSchema: StructType,
      partitionSchema: StructType,
      conf: Configuration): String =
    OrcUtils.orcResultSchemaString(
      canPruneCols, dataSchema, resultSchema, partitionSchema, conf)
}
