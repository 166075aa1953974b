package graft.util

import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one parquet read of the engine. `spark.read.parquet` without a
  * schema starts a one-task Spark job to read a footer before the read
  * is even planned; at the table sizes of a query or a lineage read that
  * job costs more than the read. The reader here takes the schema from
  * the footer of one data file, read on the driver, and hands Spark a
  * reader with that schema set, so no job runs until the frame is used.
  *
  * The schema is the Spark schema that Spark's own writer stores in the
  * footer under [[SparkSchemaKey]]. Spark's inference (with
  * `mergeSchema` off) reads the same key from one footer, so the frame's
  * schema is the same. Partition columns are not in the footer: Spark
  * still derives them from the directory names. A footer without the key
  * (a file from another writer) and a path without a data file go to
  * Spark's own inference, with its result or its error.
  */
object Parquet {

  /** The footer key under which Spark's writer stores the row schema. */
  val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** `spark.read` with the schema of the parquet data under `path` set
    * (a file or a directory tree); a plain `spark.read` when the schema
    * cannot be read from a footer on the driver. Callers add their
    * options (`basePath`) and call `.parquet(...)`. */
  def reader(spark: SparkSession, path: String): DataFrameReader =
    footerSchema(spark, path).fold(spark.read)(s => spark.read.schema(s))

  /** The parquet data under `path`. */
  def read(spark: SparkSession, path: String): DataFrame =
    reader(spark, path).parquet(path)

  /** Hidden names, which Spark's file index skips: committer droppings
    * (`_SUCCESS`, `_temporary`), checksums and hidden temp files. */
  def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The Spark schema in the footer of the first data file under `path`. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Try {
      val p = new Path(path)
      firstDataFile(p.getFileSystem(conf), p).flatMap { f =>
        val in = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
          HadoopReadOptions.builder(conf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        try Option(in.getFooter.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
        finally in.close()
      }.map(DataType.fromJson(_).asInstanceOf[StructType])
    }.toOption.flatten
  }

  /** `p` if it is a file, else the first visible file of the visible
    * tree under it, in name order. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val st = fs.getFileStatus(p)
    if (st.isFile) Some(st)
    else {
      val (dirs, files) = fs.listStatus(p).filterNot(s => hidden(s.getPath.getName))
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstDataFile(fs, d.getPath)).nextOption())
    }
  }
}
