package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.types.StructType

/** Small parquet files read into rows on the DRIVER, with the reader a
  * scan task runs.
  *
  * A broadcast of a small table collects its rows on the driver anyway,
  * through a Spark job. When the files are known and small, this bridge
  * reads them in-process instead: `ParquetFileFormat
  * .buildReaderWithPartitionValues`, the function a file scan hands its
  * tasks, with the session's options, and the rows land in a local
  * relation — which [[org.apache.spark.sql.execution.DriverLocalBroadcast]]
  * broadcasts with no job. The package is [[FooterSchema]]'s, for the
  * same `private[sql]` reasons. Used by [[graft.sources.GenCommit
  * .foldTombs]].
  */
object DriverParquet {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A reader of `columns` from parquet files written like `sample`: the
    * columns' schema (from `sample`'s footer, read on the driver) and a
    * function from a file to its rows — each row valid until the next
    * one is read, and the file closed once the rows are exhausted. None
    * when the footer cannot be read on the driver ([[FooterSchema
    * .ofFile]]'s cases) or lacks one of the columns.
    */
  def reader(spark: SparkSession, sample: FileStatus, columns: Seq[String])
      : Option[(StructType, FileStatus => Iterator[InternalRow])] =
    FooterSchema.ofFile(spark, sample)
      .filter(s => columns.forall(s.fieldNames.contains))
      .map { dataSchema =>
        val required = StructType(columns.map(dataSchema(_)))
        val read = new ParquetFileFormat().buildReaderWithPartitionValues(
          classic(spark), dataSchema, new StructType(), required,
          Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
          classic(spark).sessionState.newHadoopConf())
        (required, (file: FileStatus) => read(PartitionedFile(
          InternalRow.empty, SparkPath.fromFileStatus(file), 0L,
          file.getLen, Array.empty[String], file.getModificationTime,
          file.getLen)))
      }

  /** `rows` (of `schema`) as a frame over a local relation. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark),
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
