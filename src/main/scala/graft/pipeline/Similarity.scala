package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.ParquetTable
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * - [[bruteForceTopK]] — exact baseline: broadcast the (small) query set
  *   against the vector table, one shuffle for the per-query top-k.
  * - [[ivfAssign]] / [[ivfTopK]] — IVF-style scale path: vectors are
  *   partitioned by nearest centroid once (pure projection vs a broadcast
  *   centroid table); queries probe only `nProbe` nearest centroid
  *   partitions, cutting the scanned fraction to ~nProbe/nCentroids.
  */
object Similarity {

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (it is broadcast). Ties break on vec_id ascending for determinism. */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val v = vectors.select(col(idCol).as("nn_id"), col(vecCol).as("v"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val scored = v.join(broadcast(q), col("q_id") =!= col("nn_id"))
      .select(col("q_id"), col("nn_id"),
        cosine(col("qv"), col("v")).as("cosine"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("nn_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Assign every vector to its nearest centroid (L2). `centroids` is
    * broadcast; assignment is a single pass, no shuffle. Deterministic
    * given deterministic centroids (e.g. the first nCentroids vectors —
    * a stand-in for a k-means fit, which would need sampled init).
    *
    * Shape (r16 optimization): the centroids collapse into ONE
    * cid-sorted array row (a k-row aggregate), cross-join-broadcast to
    * every vector, and the winner comes from the fused
    * [[graft.functions.ArgMinL2]] projection — zero exchanges over the
    * corpus. The previous formulation joined vectors × centroids (a
    * corpus×k row blow-up) and ranked with a `Window(partitionBy id,
    * orderBy dist, cid)`, i.e. a full shuffle + sort of the blown-up
    * table PER Lloyd round; winner semantics (sequential-f64 L2², ties
    * and NULLS FIRST ordering, empty-centroids row drop) are replicated
    * exactly — see the ArgMinL2 scaladoc — and re-gated by p37/p89. */
  def ivfAssign(vectors: DataFrame, centroids: DataFrame,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    // ArgMinL2's candidate cid field is bigint; integral centroid ids
    // are cast in (losslessly — the long order IS the integral order,
    // so sort_array ranks ties identically) and the winner cast back,
    // restoring the pre-r16 any-integral-id behavior. Non-integral ids
    // still fail analysis loudly (the former join+window accepted any
    // orderable type; that generality was never exercised and a silent
    // string→long cast would reorder ties).
    val (cidIn, restore) = cidCasts(centroids, idCol)
    val cands = centroids.agg(
      sort_array(collect_list(struct(cidIn.as("cid"),
        col(vecCol).as("cv")))).as("__cands"))
    vectors.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cands))
      .select(col(idCol), col(vecCol),
        restore(argMinL2(col(vecCol), col("__cands"))).as("cluster"))
      .filter(col("cluster").isNotNull)
  }

  /** (candidate-cid input column, winner restore fn) for an argmin
    * assignment over `rel(idCol)`: integral ids are cast to long going
    * in and the winner cast back; anything else passes through raw so
    * ArgMinL2's type check still rejects it at plan time. */
  private def cidCasts(rel: DataFrame, idCol: String)
      : (org.apache.spark.sql.Column,
         org.apache.spark.sql.Column => org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.types._
    rel.schema(idCol).dataType match {
      case LongType => (col(idCol), identity)
      case t @ (ByteType | ShortType | IntegerType) =>
        (col(idCol).cast(LongType), (c: org.apache.spark.sql.Column) =>
          c.cast(t))
      case _ => (col(idCol), identity)
    }
  }

  /** Deterministic Lloyd refinement for IVF centroids: init = the k
    * lowest-id vectors (a seedless stand-in for random init), then `iters`
    * rounds of assign + per-dimension mean. Each round is one broadcast
    * assignment pass plus a tiny (k×dims) aggregation — scales linearly
    * in the vector count. Under AQE the per-round checkpoint
    * materializes at call time, so `ivfTrain` runs its rounds eagerly —
    * index TRAINING is an offline job, where that is the expected
    * behavior (the serving path, [[ivfTopK]], stays lazy). */
  def ivfTrain(vectors: DataFrame, k: Int, iters: Int,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    var centroids = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol), col(vecCol))
    (0 until iters).foreach { _ =>
      val assigned = ivfAssign(vectors, centroids, idCol, vecCol)
      val dims = assigned.select(col("cluster"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      // Materialize each round's centroids (k×dims — tiny): without the
      // barrier, round i's assignment plan nests every earlier round's
      // full aggregation unevaluated, so plan size and re-derived work
      // compound per iteration (the VarLength.pairs lesson).
      centroids = dims.groupBy(col("cluster"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("m")))), s => s.getField("m").cast("float")).as(vecCol))
        .select(col("cluster").as(idCol), col(vecCol))
        .transform(graft.core.Materialize(_))
    }
    centroids
  }

  /** IVF top-k: probe the `nProbe` nearest clusters per query, then exact
    * cosine within the probed partitions. Approximate: recall depends on
    * nProbe/nCentroids. */
  def ivfTopK(assigned: DataFrame, centroids: DataFrame,
              queries: DataFrame, k: Int, nProbe: Int,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val c = centroids.select(col(idCol).as("c_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"))
    val wq = Window.partitionBy("q_id")
      .orderBy(col("qdist").asc, col("c_id").asc)
    val probed = q.join(broadcast(c))
      .select(col("q_id"), col("qv"), col("c_id"),
        l2sq(col("qv"), col("cv")).as("qdist"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("qv"), col("c_id").as("cluster"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("cosine").desc, col("nn_id").asc)
    assigned
      .select(col(idCol).as("nn_id"), col(vecCol).as("v"), col("cluster"))
      .join(broadcast(probed), Seq("cluster"))
      .filter(col("q_id") =!= col("nn_id"))
      .select(col("q_id"), col("nn_id"),
        cosine(col("qv"), col("v")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist an IVF index: centroids (tiny) plus the assigned vector
    * table written `partitionBy("cluster")` — probing `nProbe` clusters
    * after [[loadIndex]] then reads ONLY those cluster directories
    * (parquet partition pruning), which is the point of an IVF layout on
    * disk: query cost scales with nProbe/nCentroids of the stored bytes,
    * not the corpus. */
  def saveIndex(path: String, centroids: DataFrame,
                assigned: DataFrame): Unit = {
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    assigned.write.mode("overwrite").partitionBy("cluster")
      .parquet(s"$path/vectors")
  }

  /** Load a persisted IVF index → (centroids, assigned). */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
                path: String): (DataFrame, DataFrame) =
    (ParquetTable.read(spark, s"$path/centroids"),
      ParquetTable.read(spark, s"$path/vectors"))

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× memory cut before an ANN index is built or embeddings are shipped
    * to a vector store. Per vector: `scale = max|x| / 127`,
    * `q_i = floor(x_i/scale + 0.5)` (explicit floor-plus-half instead of
    * a round() builtin so the engine and the DuckDB oracle run the exact
    * same IEEE ops — round() half-rule conventions differ). A zero vector
    * quantizes to zeros with scale 0. Pure projection: the 100 TB cost is
    * the scan; no shuffle, no state. Output: id, `scale` (double),
    * `qvec` (comma-joined ints — a string so the verify harness can sort
    * and hash it; reconstruct with `split` + `cast` + `x * scale`).
    *
    * Backed by the native [[graft.functions.QuantScale]] /
    * [[graft.functions.QuantVec]] expressions — one fused codegen'd
    * loop per row. The earlier HOF formulation (`array_max(transform)`
    * in one projection, referenced from a `transform` lambda in the
    * next) hit a CollapseProject trap: the scale subtree was inlined
    * into the per-element lambda and re-evaluated interpreted per
    * ELEMENT — O(d²) per row, 18.3 s for 2,000×64 floats. QuantVec
    * takes only the raw vector, so no cross-projection reference
    * exists for the optimizer to inline. */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol),
      quantScale(col(vecCol)).as("scale"),
      quantVec(col(vecCol)).as("qvec"))

  /** (id, subspace, sub-vector) rows: each embedding split into `m`
    * contiguous equal slices — the PQ working grain. Pure projection. */
  private def subVectors(vectors: DataFrame, m: Int, idCol: String,
      vecCol: String): DataFrame = {
    val d = (size(col(vecCol)) / m).cast("int")
    vectors
      .select(col(idCol).as("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("s"), col(vecCol))
      .select(col("vec_id"), col("s"),
        slice(col(vecCol), col("s") * d + 1, d).as("sv"))
  }

  /** Product-quantization codebook training (Jégou et al. 2011): each
    * embedding splits into `m` contiguous sub-vectors; per subspace,
    * `k` centroids are Lloyd-refined for `iters` rounds with the
    * [[ivfTrain]] determinism contract (init = the k lowest-id
    * vectors' slices, argmin-L2² assignment with lowest-centroid-id
    * ties, per-dimension double mean cast to FLOAT so the float cast
    * absorbs cross-engine summation-order noise). All `m` subspaces
    * train TOGETHER in one generalized pass — every Lloyd round is a
    * single broadcast-join assignment over the (id, subspace) grain
    * plus one tiny (m·k·dims/m) aggregation, so the round count, not
    * the subspace count, bounds the job count. Output:
    * `(s, cid, cv)` — the codebook, m·k rows.
    *
    * 100 TB shape: the codebook is broadcast-sized by construction;
    * training scans the corpus `iters + 1` times (offline, like
    * ivfTrain); nothing corpus-sized shuffles (the assignment is a
    * broadcast join + per-row window at (id, s) grain). */
  def pqTrain(vectors: DataFrame, m: Int = 4, k: Int = 16,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(m >= 1 && k >= 1 && iters >= 0, "bad PQ parameters")
    val sub = subVectors(vectors, m, idCol, vecCol)
      .transform(graft.core.Materialize(_))
    val initIds = vectors.orderBy(col(idCol)).limit(k)
      .select(col(idCol).as("vec_id"))
    var cents = sub.join(broadcast(initIds), "vec_id")
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("cv"))
    (0 until iters).foreach { _ =>
      val assigned = pqAssign(sub, cents)
      cents = assigned.join(sub, Seq("vec_id", "s"))
        .select(col("s"), col("code").as("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mu"))
        .groupBy(col("s"), col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"),
          col("mu")))), e => e.getField("mu").cast("float")).as("cv"))
        .transform(graft.core.Materialize(_))
    }
    cents
  }

  /** Nearest-codebook-entry assignment at (id, subspace) grain: the
    * codebook collapses to one cid-sorted candidate array per subspace
    * (m rows — broadcast), and the winner is the fused
    * [[graft.functions.ArgMinL2]] projection. Output
    * `(vec_id, s, code)`. Same winner as the former join + argmin-L2²
    * window (lowest-`cid` ties, NULLS FIRST — the ivfAssign rewrite,
    * re-gated by p146/p148), without the (id, s)×k row blow-up and its
    * per-round Exchange + sort. */
  private def pqAssign(sub: DataFrame, codebook: DataFrame): DataFrame = {
    val (cidIn, restore) = cidCasts(codebook, "cid")
    val cands = codebook.groupBy("s").agg(
      sort_array(collect_list(struct(cidIn.as("cid"), col("cv"))))
        .as("__cands"))
    sub.join(broadcast(cands), Seq("s"))
      .select(col("vec_id"), col("s"),
        restore(argMinL2(col("sv"), col("__cands"))).as("code"))
      .filter(col("code").isNotNull)
  }

  /** PQ encoding: every vector reduced to `m` small codes — the
    * memory representation that makes billion-vector ANN feasible
    * (m·log2(k) bits per vector instead of d·32). Output
    * `(vec_id, s, code)` — exploded so the result is scalar-sortable;
    * `groupBy(vec_id).agg(sort_array(collect_list(struct(s, code))))`
    * re-packs. One broadcast join + one (id, s)-grain window. */
  def pqEncode(vectors: DataFrame, codebook: DataFrame, m: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    pqAssign(subVectors(vectors, m, idCol, vecCol)
      .transform(graft.core.Materialize(_)), codebook)

  /** PQ asymmetric-distance top-k (the ADC serving path of IVF-PQ,
    * Jégou 2011 §III): per query, a (subspace, code) → partial-L2²
    * lookup table is built against the codebook (q·m·k rows — tiny,
    * broadcast); each encoded vector's approximate distance is the
    * SUM of its m table entries, folded in subspace order via a
    * sorted-array `aggregate` so the double addition sequence is
    * identical in any engine (the l2sq fold discipline — a plain
    * `sum()` would be partial-aggregation-order nondeterministic and
    * could not hash-gate). Output: `(q_id, nn_id, rank, adist)`,
    * ties on distance break to `nn_id` ascending.
    *
    * 100 TB shape: the corpus side carries only (id, s, code) — the
    * m·log2(k)-bit representation — through one broadcast join and
    * one (q, id)-grain aggregate; no raw vectors are read at query
    * time. Recall is the PQ approximation's; re-rank the top
    * candidates against raw vectors for exactness. */
  def pqTopK(codes: DataFrame, codebook: DataFrame,
      queries: DataFrame, k: Int, m: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val qsub = subVectors(queries, m, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("s"),
        col("sv").as("qsv"))
    val lut = qsub.join(codebook, Seq("s"))
      .select(col("q_id"), col("s"), col("cid").as("code"),
        l2sq(col("qsv"), col("cv")).as("pd"))
    val w = Window.partitionBy("q_id")
      .orderBy(col("adist").asc, col("nn_id").asc)
    codes.select(col("vec_id").as("nn_id"), col("s"), col("code"))
      .join(broadcast(lut), Seq("s", "code"))
      .filter(col("q_id") =!= col("nn_id"))
      .groupBy("q_id", "nn_id")
      .agg(aggregate(
        array_sort(collect_list(struct(col("s"), col("pd")))),
        lit(0.0), (acc, e) => acc + e.getField("pd")).as("adist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
