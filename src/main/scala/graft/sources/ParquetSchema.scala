package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Parquet schemas resolved as METADATA, on the driver.
  *
  * `spark.read.parquet(dir)` with no schema runs a one-task Spark job to
  * read a single footer — on a 4-core VM about 30 ms of job plus its
  * driver round trip, paid by every table read, tombstone read, pipeline
  * batch and sidecar pass. These helpers read that same footer
  * in-process, with Spark's own file choice and footer conversion
  * ([[FooterSchema]]), and hand the result to `spark.read.schema(…)`:
  * the frame is identical — partition columns are still discovered from
  * the directory names, with the same inferred types — and building it
  * launches no job.
  *
  * Spark's inference still runs, unchanged, when there is no data file
  * (the read then fails exactly as before) and when schema merging is
  * requested.
  */
object ParquetSchema {

  /** The data schema (partition columns excluded) Spark's non-merging
    * inference returns for `path`; None = let Spark infer.
    */
  def of(spark: SparkSession, path: String): Option[StructType] =
    FooterSchema.ofPath(spark, path)

  /** The data schema of one data file the caller already located. */
  def ofFile(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus): Option[StructType] =
    FooterSchema.ofFile(spark, file)

  /** The data files a read of `path` scans, in path order, listed on
    * the driver with Spark's own hidden-file rule. Paths are qualified.
    */
  def dataFiles(spark: SparkSession, path: String)
      : Seq[org.apache.hadoop.fs.FileStatus] =
    FooterSchema.dataFiles(spark, path)

  /** The row count `file`'s footer records, read on the driver. */
  def rowCount(spark: SparkSession,
      file: org.apache.hadoop.fs.FileStatus): Long =
    FooterSchema.rowCount(spark, file)

  /** `spark.read.parquet(path)`, with the schema read on the driver. */
  def read(spark: SparkSession, path: String): DataFrame =
    of(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }
}
