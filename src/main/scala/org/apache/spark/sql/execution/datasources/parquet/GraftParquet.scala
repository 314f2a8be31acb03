package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's private[parquet] footer-to-schema code, for
  * [[graft.util.parquet]]. */
object GraftParquet {
  /** The data schema `spark.read.parquet(path)` infers without
    * `mergeSchema`, read on the driver. Spark's inference
    * (`ParquetUtils.inferSchema`) lists `path`, picks one file — the first
    * `_common_metadata`, else the first `_metadata`, else the first data
    * file in path order — and converts that file's footer inside a Spark
    * job (`SchemaMergeUtils.mergeSchemasInParallel`). This picks the same
    * file from the same listing and converts its footer with the same
    * code and settings in this thread: the Spark row schema a Spark writer
    * stored in the footer when there is one, else the Parquet schema
    * converted under the session's conf (`nanosAsLong` included). Fails
    * as Spark does: a missing path with PATH_NOT_FOUND, a path with no
    * data file with UNABLE_TO_INFER_SCHEMA. */
  def schema(spark: SparkSession, path: String): StructType = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val conf = session.sessionState.conf
    val hadoop = session.sessionState.newHadoopConf()
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoop,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val files = new InMemoryFileIndex(session, roots, Map.empty, None).allFiles()
      .sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val summary = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    val pick = named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summary(f.getPath.getName)))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetFileFormat.readParquetFootersInParallel(hadoop, pick.toSeq, conf.ignoreCorruptFiles)
      .headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
  }
}
