package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The engine's one read path for parquet tables.
  *
  * `spark.read.parquet(path)` infers the schema with a one-task Spark job
  * on every call, so each query that reads a table paid a job before its
  * own action started. [[read]] reads one footer in the calling thread
  * instead and hands the schema to `spark.read.schema(s).parquet(path)`:
  * the same DataFrame, no job. The footer is picked by Spark's
  * `mergeSchema=false` rule: the first data file in path order,
  * `_`/`.`-prefixed names skipped; the Spark row-metadata key in its
  * footer wins over the converted parquet schema, which follows the
  * session conf.
  */
object ParquetTable {

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(dataSchema(spark, Seq(path))).parquet(path)

  /** The schema `spark.read.parquet(path)` infers (all fields nullable,
    * as Spark makes them), without the inference job.
    */
  def schema(spark: SparkSession, path: String): StructType = read(spark, path).schema

  /** The schema stored in the footer Spark's rule picks among the data
    * files under `paths`. It holds no partition column: a partitioned
    * write keeps those in directory names, so a reader given this schema
    * still infers them from the paths, as `spark.read.parquet` does. Paths
    * with no parquet file fall through to Spark, for Spark's error.
    */
  def dataSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    paths.flatMap(dataFiles(conf, _)).minByOption(_.getPath.toString)
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        val footer = try reader.getFooter finally reader.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
      .getOrElse(spark.read.parquet(paths: _*).schema)
  }

  /** Rows stored under `path`: the sum of its data files' footer record
    * counts, read on the driver.
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** The files under `path` Spark's file index reads. `_metadata`
    * summaries are skipped too (Spark would prefer them for the schema,
    * but it writes none by default).
    */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    leaves(fs.getFileStatus(root))
  }
}
