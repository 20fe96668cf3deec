package graft.core

import java.io.{FileNotFoundException, IOException}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.ParquetBridge
import org.apache.spark.sql.types.StructType

/** The engine's one way to open a Parquet table. `spark.read.parquet`
  * without a schema runs a whole Spark job only to read one footer, a
  * fixed cost per table; here the schema is read on the driver instead
  * and handed to the reader, so opening a table submits no job.
  *
  * The schema is the one Spark's inference would produce: the first data
  * file's footer converted by Spark's own `readSchemaFromFooter` under
  * the session's conf. Like that inference, it assumes every data file
  * shares the first one's schema (no schema merging). Partition
  * directories (`k=v/`) are discovered by the reader as before. */
object ParquetTable {

  /** `spark.read.parquet(path)` without the schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.schema(schemaOf(spark, path)).parquet(path)
    // The reader lists `path` again. Files deleted since the footer read
    // (a concurrent snapshot sweep) would otherwise open as an empty
    // table; fail the way a missing file does. Ask the relation, not
    // `df.inputFiles`: that reads the optimized plan, where a cached
    // copy of the same table hides the files.
    val files = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation => r.location.inputFiles.toSeq
        case _ => Nil
      }
    }.flatten
    if (files.isEmpty)
      throw new FileNotFoundException(s"no Parquet data file under $path")
    df
  }

  /** The schema `spark.read.parquet(path).schema` reports, read from one
    * footer on the driver. Fails naming the path when it does not
    * exist, holds no data file, or its first data file is not Parquet. */
  def schemaOf(spark: SparkSession, path: String): StructType = {
    val conf = ParquetBridge.newHadoopConf(spark)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val file = firstDataFile(fs, fs.getFileStatus(root)).getOrElse(
      throw new FileNotFoundException(s"no Parquet data file under $path"))
    ParquetBridge.footerSchema(spark, file.getPath, footer(file, conf))
  }

  /** Spark's file index skips these (`InMemoryFileIndex`): `_`/`.`
    * prefixed names other than `_k=v` partition dirs, and in-flight
    * copies. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** First visible file by name, depth-first through partition dirs. */
  private def firstDataFile(fs: FileSystem,
                            st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else {
      val (dirs, files) = fs.listStatus(st.getPath)
        .filterNot(s => hidden(s.getPath.getName))
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.orElse(
        dirs.iterator.flatMap(firstDataFile(fs, _)).nextOption())
    }

  /** The footer without row-group metadata; the stream is closed on
    * every path. */
  private def footer(file: FileStatus, conf: Configuration): ParquetMetadata = {
    val in = HadoopInputFile.fromStatus(file, conf)
    val options = HadoopReadOptions.builder(conf, file.getPath)
      .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build()
    try {
      val stream = in.newStream()
      try ParquetFileReader.readFooter(in, options, stream)
      finally stream.close()
    } catch {
      case NonFatal(e) =>
        throw new IOException(
          s"cannot read the Parquet footer of ${file.getPath}: ${e.getMessage}", e)
    }
  }
}
