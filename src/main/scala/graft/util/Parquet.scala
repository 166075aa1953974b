package graft.util

import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one parquet read of the engine. `spark.read.parquet` without a
  * schema starts a one-task Spark job to read a footer before the read
  * is even planned; at the table sizes of a query or a lineage read that
  * job costs more than the read. The reader here takes the schema from
  * the footer of one data file, read on the driver, and hands Spark a
  * reader with that schema set, so no job runs until the frame is used.
  *
  * The schema comes from the footer as Spark's inference (with
  * `mergeSchema` off) takes it from one footer, through the same Spark
  * call: the Spark schema that Spark's own writer stores under
  * [[SparkSchemaKey]], or for another writer's file (pyarrow's sf
  * tables) the parquet schema converted under the session's conf. So the
  * frame's schema is the same. Partition columns are not in the footer:
  * Spark still derives them from the directory names. A path without a
  * data file, and a footer the converter refuses, go to Spark's own
  * inference, with its result or its error.
  *
  * [[read]] also sizes its scan to the input. A read of more files than
  * `defaultParallelism` whose bytes total at most `defaultParallelism ×
  * spark.sql.files.maxPartitionBytes` comes back as
  * `coalesce(defaultParallelism)`: one partition per core. Spark's split
  * packing charges each file `spark.sql.files.openCostInBytes` (4 MB by
  * default), so with `maxPartitionBytes` at or below it (the 4 MB that
  * extraction's sessions set for byte-balanced splits) every small file
  * fills a split by itself, and a 16-file, 264 KB table would scan in 16
  * tasks and feed 16 map outputs to each shuffle. The coalesce is narrow:
  * it starts no job, lists nothing again (the file count and size come
  * from the relation's own file index), and keeps filter pushdown and
  * column pruning. Large tables and single-file tables keep Spark's
  * splits, and so do the callers of [[reader]] that call
  * `.parquet(paths: _*)` themselves (GraftTable's snapshot and staged
  * reads; a table wave coalesces to its own `tasksPerWave`).
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

  /** The parquet data under `path`, one partition per core when it is
    * more files than cores but no more bytes than one split per core. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val df = reader(spark, path).parquet(path)
    val cores = spark.sparkContext.defaultParallelism
    val budget = cores.toLong * spark.sessionState.conf.filesMaxPartitionBytes
    val small = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.exists(ix => ix.inputFiles.length > cores && ix.sizeInBytes <= budget)
    if (small) df.coalesce(cores) else df
  }

  /** Hidden names, which Spark's file index skips: committer droppings
    * (`_SUCCESS`, `_temporary`), checksums and hidden temp files. */
  def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  /** The Spark schema of the footer of the first data file under `path`. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Try {
      val p = new Path(path)
      firstDataFile(p.getFileSystem(conf), p).map { f =>
        val in = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
          HadoopReadOptions.builder(conf)
            .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
        val footer = try in.getFooter finally in.close()
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
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
