package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs; temp paths via [[TempFiles]]. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll with TempFiles {
  lazy val spark: SparkSession = SparkSpec.session

  /** Rows as a multiset of sequences for order-insensitive comparison. */
  def rowBag(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map {
      case (k, v) => k -> v.size
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // mem:// object-store double (graft.store.MemObjectStoreFileSystem)
      // for the parquet data plane of object-store snapshot-root specs
      .config("spark.hadoop.fs.mem.impl",
        "graft.store.MemObjectStoreFileSystem")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
