package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.datasources.{DataSource, InMemoryFileIndex}
import org.apache.spark.sql.types.StructType

/** The schema Spark infers for a parquet read given no schema, read on
  * the driver without a Spark job. Spark's own inference (`mergeSchema`
  * off) reads ONE footer, but through
  * `SchemaMergeUtils.mergeSchemasInParallel`, which starts a one-task
  * job per read. This object repeats the same steps in-process: the
  * same path check and listing, the same file choice as
  * `ParquetUtils.inferSchema`, the same footer conversion as
  * `ParquetFileFormat.mergeSchemasInParallel`, plus the listing's
  * inferred partition columns. It lives in Spark's package because the
  * pieces it calls are package-private.
  */
object FooterSchema {

  def infer(spark: SparkSession, path: String): StructType = {
    val state = spark.sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConf()
    // a missing path fails here with Spark's own PATH_NOT_FOUND error
    val roots = DataSource.checkAndGlobPathIfNecessary(Seq(path), hadoopConf,
      checkEmptyGlobPath = true, checkFilesExist = true, enableGlobbing = true)
    val index = new InMemoryFileIndex(spark, roots, Map.empty, None)
    // ParquetUtils.inferSchema's pick: _common_metadata, then _metadata,
    // then the first data file, all in path order
    val files = index.allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val footerFile = summaries.view.flatMap(n => files.find(_.getPath.getName == n))
      .headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
    // the flags mergeSchemasInParallel passes; the rest keep their
    // defaults there too, so this is not the SQLConf constructor
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val data = ParquetFileFormat
      .readParquetFootersInParallel(hadoopConf, footerFile.toSeq, conf.ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .headOption
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    // as DataSource.resolveRelation shapes the relation's schema
    StructType(data.asNullable ++ index.partitionSchema)
  }
}
