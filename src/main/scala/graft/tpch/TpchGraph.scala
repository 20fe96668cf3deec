package graft.tpch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ParquetTable
import graft.store.GraphStore

/** Graph view over the driver testdata (TESTDATA.md / FIXTURES.md §B):
  * node labels = TPC-H-ish tables with their key column renamed `id`
  * (per-label id namespaces, like the reference's per-schema ids), edge
  * sets = deterministic FK projections so the engine and the DuckDB oracle
  * agree exactly.
  *
  * Everything here is lazy DataFrames over the parquet files — scans keep
  * Parquet column pruning + filter pushdown, no data is copied. Opening
  * the store runs no Spark job: each table's schema is read from its
  * footer on the driver ([[graft.core.ParquetTable]]).
  */
object TpchGraph {

  /** lineitem has no unique natural key in the synthetic data (duplicate
    * (orderkey, linenumber) pairs exist); node id = a 60-bit hash of the
    * unique tuple (orderkey, linenumber, partkey, suppkey, shipdate_ns) —
    * a pure projection (scales with no shuffle). `LineitemIdSql` is the
    * same formula in DuckDB dialect so engine and oracle agree. */
  val LineitemIdSql: String =
    "CAST(concat('0x', substring(md5(concat_ws('|', l_orderkey, " +
      "l_linenumber, l_partkey, l_suppkey, epoch_ns(l_shipdate))),1,15)) " +
      "AS BIGINT)"

  def store(spark: SparkSession, dir: String): GraphStore =
    store(spark, dir, cache = false)

  /** `cache = true` marks every attached table for in-memory caching —
    * used by the bench harness to exclude load time like the reference
    * does (bench/tundra_runner.cpp:168 "Load data once (not timed)"). */
  def store(spark: SparkSession, dir: String, cache: Boolean): GraphStore = {
    // testdata timestamps are TIMESTAMP(NANOS), which Spark's reader
    // rejects; read them as epoch-nano longs instead
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val s = new GraphStore(spark)
    // Normalize every timestamp column to epoch-nano longs at the scan, so
    // downstream logic (and the lineitem id hash) is deterministic no
    // matter whether the reader produced TimestampType or (with the
    // legacy nanosAsLong conf) LongType.
    def readRaw(t: String): DataFrame = {
      val raw = ParquetTable.read(spark, s"$dir/$t.parquet")
      raw.select(raw.schema.fields.toIndexedSeq.map { f =>
        // covers TimestampType and TimestampNTZType (TIMESTAMP(NANOS,false)
        // arrives as NTZ); session TZ is UTC so the cast is value-preserving
        if (f.dataType.typeName.startsWith("timestamp"))
          (unix_micros(col(f.name).cast("timestamp")) * 1000L).as(f.name)
        else col(f.name)
      }: _*)
    }
    // Truncate an epoch-nano long to microsecond precision, exactly (no
    // float division — these exceed a double's exact integer range). The
    // nanosAsLong conf is session-order-dependent: TIMESTAMP(NANOS)
    // columns arrive either as NTZ (normalized to micros*1000 above) or
    // as raw-nano longs that SKIP that branch. The oracle's DuckDB reader
    // always truncates to micros, so every engine-side timestamp long
    // must land on micros*1000 too — otherwise sub-microsecond residue
    // flips rows at as-of/interval boundaries.
    def usTrunc(c: org.apache.spark.sql.Column) = c - pmod(c, lit(1000L))
    def read(t: String): DataFrame = {
      val normed = readRaw(t)
      if (cache) normed.cache() else normed
    }

    val region = read("region")
    val nation = read("nation")
    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    // cache lineitem WITH the derived id — the md5 id feeds both the node
    // table and three edge sets, and recomputing it per query would
    // otherwise dominate every lineitem join
    val lineitem0 = readRaw("lineitem")
      .withColumn("l_shipdate", usTrunc(col("l_shipdate")))
      .withColumn("lid",
        conv(substring(md5(concat_ws("|", col("l_orderkey"),
          col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_shipdate"))), 1, 15), 16, 10).cast("long"))
    val lineitem = if (cache) lineitem0.cache() else lineitem0
    val events = read("events")

    s.attachNodes("region",
      region.select(col("r_regionkey").as("id"), col("r_name").as("name")),
      "id")
    s.attachNodes("nation",
      nation.select(col("n_nationkey").as("id"), col("n_name").as("name"),
        col("n_regionkey").as("regionkey")), "id")
    s.attachNodes("customer",
      customer.select(col("c_custkey").as("id"), col("c_name").as("name"),
        col("c_nationkey").as("nationkey"), col("c_acctbal").as("acctbal"),
        col("c_mktsegment").as("mktsegment")), "id")
    s.attachNodes("supplier",
      supplier.select(col("s_suppkey").as("id"), col("s_name").as("name"),
        col("s_nationkey").as("nationkey"),
        col("s_acctbal").as("acctbal")), "id")
    s.attachNodes("part",
      part.select(col("p_partkey").as("id"), col("p_name").as("name"),
        col("p_brand").as("brand"), col("p_type").as("ptype"),
        col("p_size").as("psize"),
        col("p_retailprice").as("retailprice")), "id")
    s.attachNodes("orders",
      orders.select(col("o_orderkey").as("id"),
        col("o_custkey").as("custkey"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("totalprice"),
        usTrunc(col("o_orderdate")).as("orderdate"),
        col("o_orderpriority").as("priority")), "id")
    s.attachNodes("lineitem",
      lineitem.select(col("lid").as("id"),
        col("l_orderkey").as("orderkey"), col("l_partkey").as("partkey"),
        col("l_suppkey").as("suppkey"),
        col("l_linenumber").as("linenumber"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("extendedprice"),
        col("l_discount").as("discount"), col("l_tax").as("tax"),
        col("l_returnflag").as("returnflag"),
        col("l_linestatus").as("linestatus"),
        col("l_shipdate").as("shipdate")), "id")
    // events: MAP fixture for nested-property queries (FIXTURES.md §B) —
    // props derived identically in engine and oracle:
    //   props = map('type', event_type, 'k', json props.k)
    s.attachNodes("events",
      events.select(col("event_id").as("id"), usTrunc(col("ts")).as("ts"),
        col("user_id").as("userid"), col("event_type").as("etype"),
        col("value"),
        map(lit("type"), col("event_type"),
          lit("k"), get_json_object(col("props"), "$.k")).as("props")),
      "id")

    s.attachNodes("documents",
      read("documents").select(col("doc_id").as("id"), col("text"),
        col("lang"), col("source"), col("n_chars")), "id")
    s.attachNodes("embeddings",
      read("embeddings").select(col("vec_id").as("id"), col("embedding"),
        col("label")), "id")

    s.attachEdges("placed", "customer", "orders",
      orders.select(col("o_custkey").as("src"),
        col("o_orderkey").as("dst")))
    s.attachEdges("contains", "orders", "lineitem",
      lineitem.select(col("l_orderkey").as("src"), col("lid").as("dst")))
    s.attachEdges("in_nation", "customer", "nation",
      customer.select(col("c_custkey").as("src"),
        col("c_nationkey").as("dst")))
    s.attachEdges("in_nation", "supplier", "nation",
      supplier.select(col("s_suppkey").as("src"),
        col("s_nationkey").as("dst")))
    s.attachEdges("in_region", "nation", "region",
      nation.select(col("n_nationkey").as("src"),
        col("n_regionkey").as("dst")))
    // supplied_by carries a typed edge property (quantity) to exercise the
    // reference's edge-alias surface (J9, FIXTURES.md §A5)
    s.attachEdges("supplied_by", "lineitem", "supplier",
      lineitem.select(col("lid").as("src"), col("l_suppkey").as("dst"),
        col("l_quantity").as("quantity")))
    s.attachEdges("of_part", "lineitem", "part",
      lineitem.select(col("lid").as("src"), col("l_partkey").as("dst")))
    // per-customer order chains (window-derived) for variable-length
    // path queries: each order points at the customer's next order
    val ow = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("o_orderkey")
    s.attachEdges("next_order", "orders", "orders",
      orders.select(col("o_orderkey").as("src"),
        lead("o_orderkey", 1).over(ow).as("dst"))
        .filter(col("dst").isNotNull))

    // self-edges for the J5 RIGHT-self-join tests: supplier pairs in the
    // same nation, single orientation a.id < b.id
    val sa = supplier.select(col("s_suppkey").as("src"),
      col("s_nationkey").as("nk"))
    val sb = supplier.select(col("s_suppkey").as("dst"),
      col("s_nationkey").as("nk2"))
    s.attachEdges("same_nation", "supplier", "supplier",
      sa.join(sb, col("nk") === col("nk2") && col("src") < col("dst"))
        .select("src", "dst"))
    s
  }
}
