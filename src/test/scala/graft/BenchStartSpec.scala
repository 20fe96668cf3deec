package graft

/** graft.Bench's start-up and every timed entry, at sf0.001: the shared
  * `cache = true` context with its preload and fixtures (what
  * `Bench.main` does before timing), then each `SparkEntry.timed` entry
  * written once to a `noop` sink. Nothing else builds these entries, so
  * without this spec a crash in start-up or in a timed-only entry shows
  * only in a full bench run. */
class BenchStartSpec extends SparkSpec {

  private val Dir = "/root/testdata/sf0.001"

  /** The bench's JSON keys, in its output order. */
  private val Keys = Seq("full_scan", "filtered_query", "simple_join",
    "complex_join", "friend_join", "agg_pricing", "window_agg",
    "dedup_exact", "text_quality", "minhash_lsh", "node_insert",
    "ann_topk", "asof_join", "range_join", "decontaminate",
    "pack_sequences", "quantize_int8", "simhash_pairs", "cosine_lsh",
    "tfidf", "dup_clusters", "varlength_paths", "ann_ivf_probe",
    "pagerank", "temporal_asof", "mp4_frames", "substring_spans",
    "shuffle_shards", "remove_spans", "spans_against", "mjpeg_frames",
    "boilerplate", "semdedup", "flac_decode", "bigram_lm", "exr_decode",
    "bpe_tokenize", "bpe_train200", "jsonl_ingest", "warc_ingest",
    "http_split", "dsir_select", "fix_encoding", "strip_html",
    "chunk_documents", "canonical_url", "temperature_mix",
    "gopher_quality", "wet_ingest", "c4_clean", "nfc_normalize",
    "dedup_lines", "gopher_rep", "pq_encode", "neardup_keepfirst",
    "langid_train", "langid_ngram", "robots_eval", "sentence_spans",
    "url_filter")

  test("the 60 timed keys, once each, in the bench's order") {
    val names = SparkEntry.timed.map(_._1)
    assert(Keys.size == 60 && Keys.distinct == Keys)
    assert(names == Keys)
  }

  test("start-up, fixtures and every timed entry run on the shared store") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ctx = Bench.prepare(spark, Dir, _ => true)
    try {
      def shape: Seq[(String, Long)] =
        ctx.store.catalog.labels.map(l => l -> ctx.store.nodes(l).count()) ++
          ctx.store.catalog.allEdgeTypes.map { e =>
            s"${e.name}:${e.srcLabel}->${e.dstLabel}" ->
              ctx.store.edges(e.name, e.srcLabel, e.dstLabel).count()
          }
      val start = shape
      assert(start.nonEmpty)
      val failed = SparkEntry.timed.flatMap { case (name, q) =>
        try {
          q(ctx).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(s"$name: $e") }
      }
      assert(failed.isEmpty, failed.mkString("\n"))
      assert(shape == start, "timed entries changed the shared store")
    } finally {
      // The context cached every table: left in the shared session, those
      // cached plans would replace the parquet scans of later specs that
      // read the same files (PlanAuditSpec asserts on pushed filters).
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!before.contains(id)) rdd.unpersist(blocking = true)
      }
    }
  }
}
