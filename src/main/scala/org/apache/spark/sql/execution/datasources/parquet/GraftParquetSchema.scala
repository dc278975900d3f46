package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.errors.{QueryCompilationErrors, QueryExecutionErrors}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitioningUtils}
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(dir).schema` resolves, read from the
  * parquet footers on the driver. Spark's own inference reads the same
  * footers inside a Spark job (`ParquetFileFormat.mergeSchemasInParallel`),
  * which for a one-file choice is a whole job per table resolution; the
  * warehouse catalog resolves every table of a query this way during
  * analysis. The footer helpers are `private[parquet]`, hence this shim
  * living in Spark's package.
  *
  * Every step is Spark's, in the order the v1 parquet read takes them:
  * `InMemoryFileIndex` lists the directory (skipping `_`/`.` files) and
  * discovers partition columns; the files touched are the ones
  * `ParquetUtils.inferSchema` picks (a summary file or the first data
  * file, every data file under `spark.sql.parquet.mergeSchema`); footers
  * come from `readParquetFootersInParallel` (honouring
  * `ignoreCorruptFiles`) and each file's schema from `readSchema` (the
  * row-metadata key and the session's converter confs); the schemas merge
  * in file order with the session's case sensitivity, as
  * `SchemaMergeUtils` does; data columns turn nullable and partition
  * columns merge in, as `HadoopFsRelation` does. A directory with no
  * readable data file raises the `UNABLE_TO_INFER_SCHEMA` error the read
  * raises. Paths are taken literally (no glob expansion), and a
  * streaming sink's `_spark_metadata` log is not consulted.
  */
object GraftParquetSchema {
  def infer(spark: SparkSession, dir: String): StructType = {
    val conf  = spark.sessionState.conf
    val index = new InMemoryFileIndex(spark, Seq(new Path(dir)), Map.empty, None)
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(name: String): Seq[FileStatus] = files.filter(_.getPath.getName == name)
    val data = files.filterNot { f =>
      val n = f.getPath.getName
      n == PARQUET_METADATA_FILE || n == PARQUET_COMMON_METADATA_FILE
    }
    val toTouch =
      if (conf.isParquetSchemaMergingEnabled)
        (if (conf.isParquetSchemaRespectSummaries) Nil else data) ++
          named(PARQUET_METADATA_FILE) ++ named(PARQUET_COMMON_METADATA_FILE)
      else
        named(PARQUET_COMMON_METADATA_FILE).headOption
          .orElse(named(PARQUET_METADATA_FILE).headOption)
          .orElse(data.headOption)
          .toSeq
    val footers = ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), toTouch,
      new FileSourceOptions(Map.empty[String, String]).ignoreCorruptFiles)
    val caseSensitive = conf.caseSensitiveAnalysis
    val dataSchema = footers
      .flatMap(f => ParquetFileFormat.readSchema(Seq(f), spark))
      .reduceOption { (merged, next) =>
        try merged.merge(next, caseSensitive)
        catch {
          case e: SparkException => throw QueryExecutionErrors.failedMergingSchemaError(merged, next, e)
        }
      }
      .getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet"))
    PartitioningUtils.mergeDataAndPartitionSchema(
      dataSchema.asNullable, index.partitionSchema, caseSensitive)._1
  }
}
