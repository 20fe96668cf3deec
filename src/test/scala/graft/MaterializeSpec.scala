package graft

import org.apache.spark.sql.functions._

/** [[graft.core.Materialize]]: the one-knob fault-tolerance switch for
  * every iterative materialization point. Default = lazy localCheckpoint
  * (fast, not executor-loss-recomputable); with a reliable checkpoint
  * dir configured, all sites switch to storage-backed checkpoints.
  */
class MaterializeSpec extends SparkSpec {

  test("reliable-checkpoint opt-in: same results, files land in the " +
      "checkpoint dir") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L))
      .toDF("src", "dst")
    val baseline = rowBag(graft.planner.VarLength.pairs(edges, 1, 3))

    val sc = spark.sparkContext
    val dir = tmpDir("graft-reliable-ckpt")
    sc.setCheckpointDir(dir)
    try {
      val reliable = rowBag(graft.planner.VarLength.pairs(edges, 1, 3))
      assert(reliable === baseline)
      // evidence the reliable path actually ran: RDD checkpoint data
      // was written under the configured dir
      def anyFile(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).getOrElse(Array()).exists(anyFile)
      assert(anyFile(new java.io.File(dir)),
        "no checkpoint files written — Materialize did not switch modes")
      // a dedup path through the same helper stays correct too
      val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y z w q"))
        .toDF("id", "text")
      val dups = graft.pipeline.Dedup
        .minhashLsh(docs, "id", "text", shingleK = 2, numHashes = 16,
          bands = 8, threshold = 0.9)
      assert(rowBag(dups).nonEmpty)
    } finally {
      // the shared SparkContext outlives this test: reset the checkpoint
      // dir to None (private[spark] var — reflection) so later suites
      // keep the default local-checkpoint fast path
      val f = sc.getClass.getDeclaredMethod("checkpointDir_$eq",
        classOf[Option[String]])
      f.invoke(sc, None)
      assert(sc.getCheckpointDir.isEmpty)
    }
  }
}
