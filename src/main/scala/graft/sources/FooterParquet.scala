package graft.sources

import scala.util.control.NonFatal
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetOptions, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Spark's parquet source with schema inference on the driver.
  *
  * Without `mergeSchema`, Spark's own inference reads exactly one
  * footer, but it reads it inside a `parallelize(...).collect()` job
  * (`SchemaMergeUtils.mergeSchemasInParallel`): one scheduled job per
  * `spark.read.parquet`. This format reads that same footer in the
  * calling thread instead. It picks the file `ParquetUtils.inferSchema`
  * would touch (`_common_metadata`, else `_metadata`, else the first
  * data file by path string), reads its footer with Spark's footer
  * reader (row groups skipped) and converts it with
  * `ParquetFileFormat.readSchemaFromFooter` and a converter built from
  * the same session settings Spark's job uses.
  *
  * Spark's route is kept where it is the right one:
  *  - `mergeSchema` (option or session conf) must read every footer,
  *    which the parallel job does at scale;
  *  - an empty file list, or a footer that fails to read, gets Spark's
  *    own error (or its `ignoreCorruptFiles` behaviour) unchanged.
  *
  * Scan, pushdown and write are inherited. `equals`/`hashCode` equal
  * `ParquetFileFormat`'s, so a plan over this format and one over
  * `spark.read.parquet` canonicalize alike (`sameResult`, exchange
  * reuse). Not registered as a service: its inherited short name is
  * `parquet`, so it is named by class ([[Readers.parquet]]).
  */
class FooterParquet extends ParquetFileFormat {

  override def inferSchema(
      spark: SparkSession,
      options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val conf = getSqlConf(spark)
    val footerSchema =
      if (new ParquetOptions(options, conf).mergeSchema) None
      else FooterParquet.schemaFile(files).flatMap { file =>
        try {
          val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(file, getHadoopConf(spark, options)), SKIP_ROW_GROUPS))
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
          Some(ParquetFileFormat.readSchemaFromFooter(footer, converter))
        } catch { case NonFatal(_) => None }
      }
    footerSchema.orElse(super.inferSchema(spark, options, files))
  }

  override def hashCode(): Int = classOf[ParquetFileFormat].hashCode()
}

object FooterParquet {

  /** The one file Spark's non-merge inference reads the schema from. */
  private[sources] def schemaFile(files: Seq[FileStatus]): Option[FileStatus] = {
    val byPath = files.sortBy(_.getPath.toString)
    def named(n: String) = byPath.find(_.getPath.getName == n)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(byPath.find { f =>
        val n = f.getPath.getName
        n != ParquetFileWriter.PARQUET_COMMON_METADATA_FILE &&
          n != ParquetFileWriter.PARQUET_METADATA_FILE
      })
  }
}
