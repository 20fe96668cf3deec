package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Session accessors behind [[graft.core.ParquetTable]]: the session's
  * Hadoop configuration and SQL conf are `private[sql]` in Spark 4, and
  * `StructType.asNullable` is `private[spark]`. */
object ParquetBridge {
  private def session(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  /** The Hadoop configuration Spark's own file sources read with. */
  def newHadoopConf(spark: SparkSession): Configuration =
    session(spark).newHadoopConf()

  /** The schema Spark's Parquet inference derives from one footer, as a
    * DataFrame over the file reports it: the same converter settings
    * (`nanosAsLong`, binary-as-string, NTZ inference, …) taken from the
    * session's conf, Spark's row metadata preferred when present, every
    * field nullable as file sources make them. */
  def footerSchema(spark: SparkSession, file: Path,
                   footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(session(spark).conf)).asNullable
}
