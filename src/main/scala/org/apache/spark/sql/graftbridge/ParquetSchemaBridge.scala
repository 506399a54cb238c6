package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Schema inference for a single parquet file without a Spark job.
  * `spark.read.parquet(path)` with no schema runs
  * `mergeSchemasInParallel`, a one-task job that reads one footer —
  * a fixed cost paid by every table scan a verification pass makes.
  * Here the driver reads that footer itself and converts it with
  * Spark's own `readSchemaFromFooter` and a session-conf converter
  * (nanosAsLong, NTZ inference, binary-as-string and the Spark
  * row-metadata key all honoured), so the frame is the one the
  * inferring read would build. Lives under org.apache.spark for
  * package-private access, same as [[CacheBridge]].
  */
object ParquetSchemaBridge {

  /** `spark.read.parquet(path)`, reading a single file's schema from
    * its footer on the driver. Falls back to the inferring read for a
    * directory (Spark picks an arbitrary part file there), a glob, a
    * missing or hidden path, or when `spark.sql.parquet.mergeSchema`
    * is on — those keep Spark's own behaviour and errors.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema the inferring read reports for `path`, taken from the
    * footer, when `path` is a plain single file that read would resolve
    * from that file alone. A file whose footer cannot be read fails
    * here, loudly.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val p = new Path(path)
    if (conf.isParquetSchemaMergingEnabled || SparkHadoopUtil.get.isGlobPath(p) ||
        HadoopFSUtils.shouldFilterOutPathName(p.getName)) None
    else {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val status =
        try Some(p.getFileSystem(hadoopConf).getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      status.filter(_.isFile).map { st =>
        val meta = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(st, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
        // nullable as the relation reports it (a required column still
        // reads as nullable, however it was inferred)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(st.getPath, meta), new ParquetToSparkSchemaConverter(conf)).asNullable
      }
    }
  }
}
