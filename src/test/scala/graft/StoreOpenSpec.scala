package graft

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}
import org.apache.spark.graftspec.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core.Ast.TemporalSnapshot
import graft.core.{FixedSize, MockClock, ParquetTable}
import graft.store.GraphStore
import graft.tpch.TpchGraph

/** Local file system under the `countfs` scheme that counts the input
  * streams it opens and the ones closed again. */
class CountingLocalFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("countfs:///")
  override def getScheme: String = "countfs"
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    CountingLocalFs.opened.incrementAndGet()
    new FSDataInputStream(in) {
      override def close(): Unit = {
        CountingLocalFs.closed.incrementAndGet()
        super.close()
      }
    }
  }
}

object CountingLocalFs {
  val opened = new AtomicInteger()
  val closed = new AtomicInteger()
}

/** Opening, committing and restoring a store reads each Parquet table's
  * schema on the driver ([[ParquetTable]]), so none of them submits a
  * Spark job to infer one. */
class StoreOpenSpec extends SparkSpec {

  /** The sf0.001 fixture set (TESTDATA.md). */
  private val Fixture = "/root/testdata/sf0.001"

  /** Runs `body`; returns its result and, for every Spark job it
    * submitted, the SQL execution id the job ran under (None for a job
    * outside any SQL execution, such as Spark's schema inference). */
  private def jobsDuring[T](body: => T): (T, List[Option[String]]) = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val seen = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      ListenerBus.drain(sc)
      (r, seen.asScala.toList)
    } finally sc.removeSparkListener(listener)
  }

  test("schema equals Spark's inference for every fixture table, under " +
      "either nanosAsLong setting") {
    val tables = new java.io.File(Fixture).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10)
    val prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    try Seq("true", "false").foreach { nanosAsLong =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong)
      tables.foreach { t =>
        val p = s"$Fixture/$t"
        val ours = Try(ParquetTable.schemaOf(spark, p))
        val spark0 = Try(spark.read.parquet(p).schema)
        assert(ours.isSuccess === spark0.isSuccess,
          s"$t nanosAsLong=$nanosAsLong: $ours vs $spark0")
        if (ours.isSuccess) assert(ours.get === spark0.get, s"$t")
      }
    } finally spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
  }

  test("schema equals Spark's inference for a Spark-written table with " +
      "map, array, timestamp and fixed-size columns, and a partitioned " +
      "one") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("props", MapType(StringType, StringType)),
      FixedSize.array("vec", DoubleType, 3),
      FixedSize.string("code", 8),
      StructField("ts", TimestampType),
      StructField("ts_ntz", TimestampNTZType),
      StructField("price", DecimalType(12, 2)),
      StructField("tags", ArrayType(StringType)),
      StructField("part", IntegerType)))
    val rows = (0 until 6).map { i =>
      Row(i.toLong, Map("k" -> s"v$i"), Seq(1.0 * i, 2.0, 3.0), s"c$i",
        java.sql.Timestamp.valueOf(s"2024-01-0${i + 1} 10:00:00"),
        java.time.LocalDateTime.of(2024, 1, i + 1, 10, 0),
        new java.math.BigDecimal(s"$i.25"), Seq("a", s"t$i"), i % 2)
    }
    val df = spark.createDataFrame(rows.asJava, schema)
    val flat = s"${tmpDir("graft-pq-flat")}/t"
    df.write.parquet(flat)
    val ours = ParquetTable.schemaOf(spark, flat)
    assert(ours === spark.read.parquet(flat).schema)
    assert(FixedSize.fixedSizeOf(ours("vec")) === Some(3))
    assert(FixedSize.maxLengthOf(ours("code")) === Some(8))
    assert(rowBag(ParquetTable.read(spark, flat)) === rowBag(df))

    // partition dirs (`part=0/`): the schema comes from a file below
    // them and the reader still discovers the partition column
    val parted = s"${tmpDir("graft-pq-parted")}/t"
    df.write.partitionBy("part").parquet(parted)
    val read = ParquetTable.read(spark, parted)
    assert(read.schema === spark.read.parquet(parted).schema)
    assert(rowBag(read) === rowBag(spark.read.parquet(parted)))
  }

  test("opening the TPC-H store with caching submits no Spark job") {
    try {
      val (store, jobs) = jobsDuring(TpchGraph.store(spark, Fixture,
        cache = true))
      assert(jobs === Nil, s"store open ran ${jobs.size} job(s)")
      assert(store.nodes("region").count() === 5)
    } finally spark.catalog.clearCache()
  }

  /** A versioned store over attached tables, mutated on both axes. */
  private def versionedStore(): (GraphStore, MockClock) = {
    import spark.implicits._
    val clock = new MockClock(0L)
    val s = new GraphStore(spark, versioningEnabled = true, clock = clock)
    s.attachNodes("User", Seq((10L, "ann", 30), (11L, "bob", 40),
      (12L, "cy", 50)).toDF("uid", "name", "age"), "uid")
    s.attachNodes("Company", Seq((1L, "acme"), (2L, "globex"))
      .toDF("id", "name"), "id")
    s.attachEdges("WORKS_AT", "User", "Company",
      Seq((10L, 1L, 2019L), (11L, 2L, 2020L)).toDF("src", "dst", "since"))
    clock.set(1000L)
    assert(s.updateNode("User", 10L, Map("age" -> 31)))
    clock.set(2000L)
    val d = s.createNode("User", Map("name" -> "dee", "age" -> 22))
    s.connect("User", d, "WORKS_AT", "Company", 1L, Map("since" -> 2024L))
    s.deleteNode("User", 12L)
    (s, clock)
  }

  test("COMMIT submits no job outside its writes; restore submits none; " +
      "the round trip keeps the current view, an AS OF view and edges") {
    val dir = tmpDir("graft-open-commit")
    val (s, _) = versionedStore()
    val past = Some(TemporalSnapshot(validTime = 500L))
    def views(g: GraphStore) = Seq(
      rowBag(g.nodes("User")), rowBag(g.nodes("User", past)),
      rowBag(g.nodes("Company")),
      rowBag(g.edges("WORKS_AT", "User", "Company")),
      rowBag(g.edges("WORKS_AT", "User", "Company", past)))
    val before = views(s)
    assert(before(0).size === 3 && before(1).size === 3)

    // the probe the assertion below relies on: Spark's own inference
    // runs a job outside any SQL execution
    val (_, inferJobs) = jobsDuring(spark.read.parquet(s"$Fixture/region.parquet"))
    assert(inferJobs.contains(None))

    val (_, commitJobs) = jobsDuring(s.commit(dir))
    assert(commitJobs.nonEmpty) // the table writes
    assert(!commitJobs.contains(None),
      s"commit ran a job outside its writes: $commitJobs")
    assert(views(s) === before) // re-pointed at the committed files

    val (r, restoreJobs) = jobsDuring(GraphStore.restore(spark, dir))
    assert(restoreJobs === Nil, s"restore ran ${restoreJobs.size} job(s)")
    assert(views(r) === before)
    r.close(); s.close()
  }

  test("a missing path, a non-Parquet file and an empty directory fail " +
      "naming the path, and every footer stream is closed") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.countfs.impl", classOf[CountingLocalFs].getName)
    hc.setBoolean("fs.countfs.impl.disable.cache", true)
    def counted[T](body: => T): (Try[T], Int, Int) = {
      CountingLocalFs.opened.set(0); CountingLocalFs.closed.set(0)
      val r = Try(body)
      (r, CountingLocalFs.opened.get, CountingLocalFs.closed.get)
    }
    def failsNaming(p: String, r: Try[_]): Throwable = {
      assert(r.isFailure, s"$p: expected a failure, got $r")
      val e = r.failed.get
      assert(Option(e.getMessage).exists(_.contains(p.stripPrefix("countfs:"))),
        s"error does not name $p: $e")
      e
    }
    val root = tmpDir("graft-pq-bad")

    // a readable table: one stream opened, and closed
    spark.range(3).write.parquet(s"$root/good")
    val (good, gOpen, gClosed) =
      counted(ParquetTable.schemaOf(spark, s"countfs:$root/good"))
    assert(good.get === spark.read.parquet(s"$root/good").schema)
    assert(gOpen === 1 && gClosed === 1)

    val missing = s"countfs:$root/nope.parquet"
    val (m, mOpen, mClosed) = counted(ParquetTable.schemaOf(spark, missing))
    assert(failsNaming(missing, m).isInstanceOf[FileNotFoundException])
    assert(mOpen === mClosed)

    Files.createDirectories(Paths.get(s"$root/junk"))
    Files.writeString(Paths.get(s"$root/junk/part-0.parquet"),
      "not a parquet file at all")
    val junk = s"countfs:$root/junk"
    val (j, jOpen, jClosed) = counted(ParquetTable.schemaOf(spark, junk))
    assert(failsNaming(s"$root/junk/part-0.parquet", j)
      .isInstanceOf[IOException])
    assert(jOpen === 1 && jClosed === 1)

    // empty, or holding only files Spark's file index skips
    Files.createDirectories(Paths.get(s"$root/empty"))
    Files.createDirectories(Paths.get(s"$root/hidden"))
    Files.writeString(Paths.get(s"$root/hidden/_SUCCESS"), "")
    Files.writeString(Paths.get(s"$root/hidden/.part-0.crc"), "")
    Seq(s"$root/empty", s"$root/hidden").foreach { d =>
      val (e, eOpen, _) = counted(ParquetTable.schemaOf(spark, s"countfs:$d"))
      assert(failsNaming(d, e).isInstanceOf[FileNotFoundException])
      assert(eOpen === 0)
      assert(failsNaming(d, Try(ParquetTable.read(spark, d)))
        .isInstanceOf[FileNotFoundException])
    }
  }

  test("a table whose same read is already cached opens again") {
    val p = s"$Fixture/customer.parquet"
    val cached = ParquetTable.read(spark, p).cache()
    try {
      assert(ParquetTable.read(spark, p).count() === cached.count())
    } finally cached.unpersist(blocking = true)
  }

  test("an attach that cannot project its frame leaves no label behind") {
    import spark.implicits._
    for (versioned <- Seq(false, true)) {
      val s = new GraphStore(spark, versioningEnabled = versioned)
      val labels = s.catalog.labels
      val frame = Seq((3L, "x")).toDF("doc_id", "text")
      assert(Try(s.attachNodes("docs", frame, "id")).isFailure)
      assert(s.catalog.labels === labels)
      s.attachNodes("docs", frame, "doc_id")
      assert(s.nodes("docs").select("id", "text").collect().toSeq ===
        Seq(Row(3L, "x")))
    }
  }
}
