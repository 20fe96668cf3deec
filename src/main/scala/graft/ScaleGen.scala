package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ParquetTable

/** Seeded local scale-up generator (VERDICT r5 "Next round" #3): writes a
  * `copies`× scaled replica of an existing testdata dir by unioning
  * FK-consistently key-shifted copies — copy `i` offsets every join key
  * by `i * Stride`, so referential integrity, join fan-out per key, and
  * group cardinality ratios all survive the scale-up (the properties that
  * make bench numbers at the larger scale comparable to sf0.1).
  *
  * Deliberately NOT statistically novel data: the point is stressing
  * partition counts, shuffle sizes, and driver memory at ~10× sf0.1, not
  * inventing a new distribution. Copy 0 is byte-identical to the source.
  * Perturbations are deterministic (pure column expressions of
  * (key, copy) — no RNG, rerunning regenerates identical files):
  *
  *  - documents: odd doc_ids get a per-copy suffix (near-duplicates for
  *    the LSH paths), even doc_ids stay verbatim (exact duplicates for
  *    the hash-dedup paths — a realistic 10-way duplicated corpus);
  *  - embeddings: element 0 shifts by copy/1000 (keeps cluster structure
  *    for IVF while breaking exact vector equality);
  *  - everything else replicates with shifted keys only.
  *
  * FIXED FAMILY WIDTH (4th arg, round 9): with the default scheme every
  * copy joins the SAME duplicate family, so family width — and therefore
  * the verified near-dup PAIR volume, which is quadratic in width — grows
  * with the scale factor. That made the committed sf10 dup_clusters /
  * simhash numbers measure the generator's artifact, not the operators'
  * linear-in-corpus design shape (VERDICT r8 "What's missing" #3): in a
  * real corpus, family width is a corpus property independent of size.
  * Passing `familyWidth` W > 0 partitions the copies into groups of W;
  * duplicate families form WITHIN a group only, so scaling copies grows
  * the number of families, never their width:
  *
  *  - documents: groups beyond the first get every whitespace token
  *    prefixed `g<group>_` — a deterministic re-tokenization that zeroes
  *    cross-group shingle/token overlap (exact, MinHash, SimHash and
  *    Jaccard all see unrelated text) while keeping within-group
  *    structure ISOMORPHIC to the legacy scheme (same family width and
  *    pair volume; not byte-identical — in groups > 0 every member
  *    carries a ` v<copy>` suffix, where the legacy scheme leaves one
  *    unsuffixed base member per family); the
  *    `source` column is salted per group the same way (`src3_g5`),
  *    because blocked operators (Jaccard pair generation, dup-cluster
  *    exact keys) are quadratic WITHIN a block — a real corpus grows by
  *    adding sources, not by inflating each source without bound, so
  *    fixed-width mode holds block size constant and grows the block
  *    COUNT linearly (group 0 keeps the original sources, so copy 0
  *    stays byte-identical);
  *  - embeddings: groups beyond the first apply a cyclic coordinate
  *    rotation by the group index — an orthogonal transform, so
  *    within-group pairwise cosines (and per-group cluster structure for
  *    IVF) are preserved EXACTLY while cross-group copies of the same
  *    base vector decorrelate to generic-vector cosine (~0 for the
  *    unit-norm corpus). Groups wrap at the vector dimensionality (64);
  *    keep group count below that.
  *
  * `familyWidth` 0 (default) or >= copies reproduces the legacy
  * single-group behavior; copy 0 stays byte-identical either way.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [destDir] [copies] [familyWidth]
  * Defaults: /root/testdata/sf0.1 → target/scale/sf1 × 10, width=copies.
  * Dims (region, nation) are copied as-is — scaling them would change
  * every group-by-nation result shape instead of its volume.
  */
object ScaleGen {
  /** Key offset between copies; far above any key at plausible sf. */
  val Stride = 1000000000L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dest = if (args.length > 1) args(1) else "target/scale/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val familyWidth = if (args.length > 3) args(3).toInt else 0
    // W <= 0 or >= copies = legacy single-group behavior
    val w = if (familyWidth <= 0) copies else familyWidth
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Replicate `t` `copies`× through `f(df, copy)`; 32 output files so
      * the scaled tables read back with real parallelism (a single
      * ~100 MB file would collapse the biggest table to one partition
      * under the default maxPartitionBytes — the opposite of a scale
      * stress). */
    def scale(t: String)(f: (DataFrame, Column) => DataFrame): Unit = {
      val raw = ParquetTable.read(spark, s"$src/$t.parquet")
      val k = broadcast(spark.range(copies).toDF("__copy"))
      val out = f(raw.crossJoin(k), col("__copy")).drop("__copy")
      out.repartition(32).write.mode("overwrite")
        .parquet(s"$dest/$t.parquet")
      System.err.println(s"[scalegen] $t done")
    }
    def shift(c: String, cp: Column): Column = col(c) + cp * Stride

    Seq("region", "nation").foreach { t =>
      ParquetTable.read(spark, s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    }
    scale("customer")((d, cp) => d.withColumn("c_custkey", shift("c_custkey", cp)))
    scale("supplier")((d, cp) => d.withColumn("s_suppkey", shift("s_suppkey", cp)))
    scale("part")((d, cp) => d.withColumn("p_partkey", shift("p_partkey", cp)))
    scale("orders")((d, cp) => d
      .withColumn("o_orderkey", shift("o_orderkey", cp))
      .withColumn("o_custkey", shift("o_custkey", cp)))
    scale("lineitem")((d, cp) => d
      .withColumn("l_orderkey", shift("l_orderkey", cp))
      .withColumn("l_partkey", shift("l_partkey", cp))
      .withColumn("l_suppkey", shift("l_suppkey", cp)))
    scale("events")((d, cp) => d
      .withColumn("event_id", shift("event_id", cp))
      .withColumn("user_id", shift("user_id", cp)))
    scale("documents")((d, cp) => {
      val grp = (cp / w).cast("int")
      // group salt first (identical for every member of a group, so
      // within-group exact/near structure is untouched), THEN the
      // per-copy near-dup suffix
      d.withColumn("doc_id", shift("doc_id", cp))
        .withColumn("source",
          when(grp > 0,
            concat(col("source"), lit("_g"), grp.cast("string")))
            .otherwise(col("source")))
        .withColumn("text",
          when(grp > 0,
            regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("g"), grp.cast("string"), lit("_$1"))))
            .otherwise(col("text")))
        .withColumn("text",
          when(cp > 0 && col("doc_id") % 2 === 1,
            concat(col("text"), lit(" v"), cp.cast("string")))
            .otherwise(col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    })
    scale("embeddings")((d, cp) => {
      val grp = (cp / w).cast("int")
      d.withColumn("vec_id", shift("vec_id", cp))
        // cyclic rotation by group (orthogonal: within-group cosines and
        // IVF cluster shape exact-preserved; cross-group decorrelated),
        // then the legacy element-0 nudge to break exact equality
        .withColumn("embedding",
          when(grp > 0,
            transform(sequence(lit(0), size(col("embedding")) - 1), i =>
              element_at(col("embedding"),
                pmod(i + grp, size(col("embedding"))) + 1)))
            .otherwise(col("embedding")))
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(i === 0, x + cp.cast("float") / lit(1000.0f))
              .otherwise(x)))
    })
    spark.stop()
  }
}
