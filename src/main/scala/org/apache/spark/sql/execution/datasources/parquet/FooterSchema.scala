package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{
  PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own non-merging parquet schema inference, run on the DRIVER.
  *
  * `spark.read.parquet(dir)` without a schema infers one by reading a
  * single footer — but it does so inside a one-task Spark job
  * (`ParquetFileFormat.mergeSchemasInParallel`). This bridge makes the
  * same file choice and the same footer-to-schema conversion in-process:
  * Spark's leaf listing and hidden-file rule (`HadoopFSUtils`), the
  * summary-file precedence of `ParquetUtils.inferSchema`, and
  * `readSchemaFromFooter` with a `ParquetToSparkSchemaConverter` built
  * from the session conf exactly as the inference job builds it. Every
  * helper here is `private[sql]`/`private[spark]`, hence the package —
  * the same technique as [[org.apache.spark.sql.graftshim]].
  *
  * Every answer is `Option`: None means "let Spark infer" — schema
  * merging requested, no data file, a streaming-sink directory (read
  * through its metadata log), a path filter or glob, or a footer the
  * driver could not read. Callers then run the unchanged
  * `spark.read.parquet`, which fails (or succeeds) exactly as before.
  * Used only by [[graft.sources.ParquetSchema]].
  */
object FooterSchema {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** The data schema (partition columns excluded) Spark would infer for
    * `path`, a file or a directory tree.
    */
  def ofPath(spark: SparkSession, path: String): Option[StructType] = {
    val state = classic(spark).sessionState
    val conf = state.conf
    val hadoopConf = state.newHadoopConf()
    if (mergeRequested(spark) ||
        hadoopConf.get("mapreduce.input.pathFilter.class") != null ||
        SparkHadoopUtil.get.isGlobPath(new Path(path)) ||
        FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf))
      return None
    val leaves = HadoopFSUtils.parallelListLeafFiles(spark.sparkContext,
      Seq(new Path(path)), hadoopConf, filter = null,
      ignoreMissingFiles = conf.ignoreMissingFiles, ignoreLocality = true,
      parallelismThreshold = Int.MaxValue, parallelismMax = 1)
      .flatMap(_._2).sortBy(_.getPath.toString)
    // ParquetUtils.inferSchema's non-merging choice: a summary file
    // first, else the first data file in path order
    val summaries = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    def named(n: String) = leaves.find(_.getPath.getName == n)
    named(PARQUET_COMMON_METADATA_FILE)
      .orElse(named(PARQUET_METADATA_FILE))
      .orElse(leaves.find(f => !summaries(f.getPath.getName)))
      .flatMap(readFooter(spark, hadoopConf, _))
  }

  /** The data schema of one known data file — the choice `ofPath` makes,
    * for a caller that already holds the file.
    */
  def ofFile(spark: SparkSession, file: FileStatus): Option[StructType] =
    if (mergeRequested(spark)) None
    else readFooter(spark, classic(spark).sessionState.newHadoopConf(), file)

  private def mergeRequested(spark: SparkSession): Boolean =
    new ParquetOptions(Map.empty[String, String],
      classic(spark).sessionState.conf).mergeSchema

  private def readFooter(spark: SparkSession,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      file: FileStatus): Option[StructType] = {
    val conf = classic(spark).sessionState.conf
    // the converter ParquetFileFormat.mergeSchemasInParallel builds
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation =
        conf.parquetReaderRespectUnknownTypeAnnotation)
    scala.util.Try {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, meta), converter)
    }.toOption.map(_.asNullable) // HadoopFsRelation's dataSchema.asNullable
  }
}
