package graft

import graft.core.Ast._
import graft.planner.Planner
import graft.tpch.TpchGraph

/** Physical-plan audits over the sf0.001 testdata: the scale properties
  * that make these operators survive 100 TB — filter pushdown into the
  * parquet scan, column pruning, broadcast joins for small dims, partial
  * (map-side) aggregation, fused sort+limit — asserted as tests so a
  * regression fails CI instead of only showing up in a benchmark.
  */
class PlanAuditSpec extends SparkSpec {

  private lazy val planner =
    new Planner(TpchGraph.store(spark, "/root/testdata/sf0.001"))

  private def physical(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // let AQE finalize the plan
    df.queryExecution.executedPlan.toString
  }

  test("single-alias predicates push into the parquet scan (F6)") {
    val df = planner.plan(Q.from("c:customer")
      .where(ref("c.mktsegment") === "BUILDING")
      .traverse("c", "placed", "o:orders")
      .where(ref("o.totalprice") > 50000.0)
      .select("c.id", "o.id").build)
    val plan = physical(df)
    assert(plan.contains("PushedFilters"), "no pushed filters at all")
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"customer filter not pushed:\n$plan")
    assert(plan.contains("GreaterThan(o_totalprice,50000.0)"),
      s"orders filter not pushed:\n$plan")
  }

  test("projection prunes the parquet ReadSchema (P1)") {
    val df = planner.plan(
      Q.from("l:lineitem").select("l.id", "l.quantity").build)
    val plan = physical(df)
    // the scan must not read the wide lineitem row — quantity plus the
    // id-hash inputs only
    assert(plan.contains("ReadSchema"), plan)
    assert(!plan.contains("l_comment") && !plan.contains("l_returnflag"),
      s"unpruned lineitem scan:\n$plan")
  }

  test("small-dimension joins broadcast (no shuffle of the big side)") {
    val df = planner.plan(Q.from("c:customer")
      .traverse("c", "in_nation", "n:nation")
      .select("c.id", "n.name").build)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"nation join did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"unexpected sort-merge join for a dim join:\n$plan")
  }

  test("aggregation is partial (map-side combine) + fused sort-limit") {
    val df = planner.plan(Q.from("c:customer")
      .traverse("c", "in_nation", "n:nation")
      .selectAs("n.name", "nation").count("cnt")
      .orderBy("cnt" -> false, "nation" -> true).limit(5).build)
    val plan = physical(df)
    // partial + final HashAggregate pair around one exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no partial aggregation:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"ORDER BY+LIMIT not fused (global sort instead):\n$plan")
  }

  test("no cartesian products in multi-hop traversals") {
    val df = planner.plan(Q.from("c:customer")
      .traverse("c", "placed", "o:orders")
      .traverse("o", "contains", "l:lineitem")
      .select("c.id", "o.id", "l.linenumber").build)
    val plan = physical(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"non-equi join appeared in a hop chain:\n$plan")
  }

  test("semi/anti hops compile to native (Broadcast)HashJoin semi/anti") {
    val semi = planner.plan(Q.from("c:customer")
      .traverse("c", "placed", "o:orders", JoinKind.Semi)
      .where(ref("o.totalprice") > 400000.0)
      .select("c.id").build)
    val sp = physical(semi)
    assert(sp.contains("LeftSemi"), s"no semi join:\n$sp")
    assert(!sp.contains("CartesianProduct") &&
      !sp.contains("BroadcastNestedLoopJoin"), sp)
    val anti = planner.plan(Q.from("c:customer")
      .traverse("c", "placed", "o:orders", JoinKind.Anti)
      .select("c.id").build)
    val ap = physical(anti)
    assert(ap.contains("LeftAnti"), s"no anti join:\n$ap")
  }

  test("friend_join headline shape is pure broadcast — zero shuffles") {
    // The cross-engine baseline query (BASELINE.md Q2: filter → edge
    // join → filter). Its measured ~1.4×-of-reference latency rests on
    // this plan shape: both join inputs broadcast (filtered customer
    // ids, filtered orders), so the only per-rep work is two broadcast
    // builds plus one embarrassingly-parallel probe stage. A shuffle
    // appearing here would silently double the headline latency long
    // before the bench runs.
    val df = planner.plan(Q.from("c:customer")
      .where(ref("c.acctbal") > 1000.0 &&
        ref("c.mktsegment") === "BUILDING")
      .traverse("c", "placed", "o:orders")
      .where(ref("o.totalprice") > 50000.0)
      .select("c.id", "o.id").build)
    val plan = physical(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"friend_join shape lost its broadcast join:\n$plan")
    assert(!finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("Exchange hashpartitioning"),
      s"shuffle crept into the friend_join shape:\n$plan")
  }

  test("CC small-graph fast path: broadcast remap, zero vertex-side " +
      "shuffle") {
    // The sparse-pair regime's 100 TB shape (Curation.scala fast path):
    // billions of documents, driver-sized pair set — labels must come
    // from a BroadcastHashJoin against the union-find remap, with the
    // vertex side never exchanged. A shuffle here means the corpus is
    // being moved to answer a broadcast-sized question.
    import spark.implicits._
    val vs = (0L until 1000L).toDF("u")
    val es = (0L until 500L).map(i => (i, i + 1)).toDF("u", "v")
    val df = graft.pipeline.Curation.connectedComponents(vs, es)
    val plan = physical(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("BroadcastHashJoin"),
      s"CC fast path lost its broadcast remap join:\n$plan")
    assert(!finalPlan.contains("SortMergeJoin") &&
      !finalPlan.contains("Exchange hashpartitioning"),
      s"shuffle crept into the CC fast path:\n$plan")
  }

  test("as-of join is ONE shuffle+sort, no nested loop") {
    import org.apache.spark.sql.functions._
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val ev = store.nodes("events")
    val purchases = ev.filter(col("etype") === "purchase")
      .select(col("id").as("pid"), col("userid"), col("ts"))
    val clicks = ev.filter(col("etype") === "click")
      .select(col("id").as("cid"), col("userid"), col("ts").as("cts"))
    val df = graft.operators.AsOfJoin.backward(purchases, clicks,
      Seq("userid"), "ts", "cts")
    val plan = physical(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"as-of join fell back to a nested loop:\n$plan")
    // the union shuffles once on the key for the window; no join at all
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("BroadcastHashJoin"),
      s"as-of join should be windowed, not joined:\n$plan")
    // the AQE string repeats the plan under "== Initial Plan ==" — count
    // shuffles in the final section only
    val finalPlan = plan.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(finalPlan).size === 1,
      s"more than one shuffle in as-of join:\n$plan")
  }

  test("RIGHT-self extras reuse the matched subtree's exchange") {
    // The J5 formula computes `matched ∪ (all_targets anti covered)`;
    // covered derives from the same matched join subtree, and Spark's
    // ReuseExchange must dedupe it — otherwise every outer self-hop
    // scans and joins the edge table twice (the round-1 review flagged
    // exactly this as the at-scale cost).
    val df = planner.plan(Q.from("s:supplier")
      .traverse("s", "same_nation", "t:supplier", JoinKind.Right)
      .select("s.id", "t.id").build)
    val plan = physical(df)
    val finalPlan = plan.split("== Initial Plan ==").head
    assert(finalPlan.contains("ReusedExchange"),
      s"matched subtree not shared in RIGHT-self plan:\n$plan")
  }

  test("decontaminate broadcasts the benchmark gram set") {
    import org.apache.spark.sql.functions._
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val docs = store.nodes("documents")
    val df = graft.pipeline.Curation.decontaminate(docs,
      docs.filter(col("id") % 97 === 0), "id", "text", k = 3)
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark gram set not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join against the benchmark set:\n$plan")
    // the per-doc aggregate must partial-combine on the exploded grams
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"no map-side combine on the overlap count:\n$plan")
  }

  test("packSequences windows per range chunk, never one global partition") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val df = graft.pipeline.Curation.packSequences(
      store.nodes("documents"), "id", "text", budgetTokens = 512,
      chunks = 8)
    val plan = physical(df)
    // the running sum partitions by the derived chunk column — a global
    // (empty partition spec) window would serialize the corpus
    assert(plan.contains("Window"), plan)
    assert(plan.contains("windowspecdefinition(__c"),
      s"window not partitioned by chunk:\n$plan")
  }

  test("topTerms aggregates map-side before the term shuffle") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val df = graft.pipeline.TextAnalysis.topTerms(
      store.nodes("documents"), "text", 50)
    val plan = physical(df)
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"term counting lacks partial aggregation:\n$plan")
  }

  test("range join is an equi-join on (key, bin), no nested loop") {
    import org.apache.spark.sql.functions._
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val ev = store.nodes("events")
    val signups = ev.filter(col("etype") === "signup")
      .select(col("id").as("aid"), col("userid"), col("ts"))
    val acts = ev.select(col("id").as("bid"), col("userid"),
      col("ts").as("bts"))
    val df = graft.operators.RangeJoin.byKeyAndWindow(signups, acts,
      Seq("userid"), "ts", "bts", 0L, 3600L * 1000000000L)
    val plan = physical(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"range join is not an equi-join:\n$plan")
  }

  test("IVF probe dynamically prunes the cluster-partitioned index scan") {
    import org.apache.spark.sql.functions._
    val vecs = TpchGraph.store(spark, "/root/testdata/sf0.001")
      .nodes("embeddings").withColumnRenamed("id", "vec_id")
    val dir = tmpDir("ivf_audit")
    val cent = graft.pipeline.Similarity.ivfTrain(vecs, k = 4, iters = 1)
    graft.pipeline.Similarity.saveIndex(dir, cent,
      graft.pipeline.Similarity.ivfAssign(vecs, cent))
    val (c, assigned) = graft.pipeline.Similarity.loadIndex(spark, dir)
    val df = graft.pipeline.Similarity.ivfTopK(assigned, c,
      vecs.filter(col("vec_id") < 3), k = 5, nProbe = 2)
    val plan = physical(df)
    // SCALE.md "ANN index persistence" claims the probe reads ONLY the
    // probed cluster directories. That is Spark's dynamic partition
    // pruning firing on the cluster-partitioned index join — pin it, so
    // a refactor that breaks the partition-column equi-join (and
    // silently reverts to full index scans) fails here.
    assert(plan.contains("dynamicpruning"),
      s"IVF index scan is not dynamically partition-pruned:\n$plan")
  }

  test("as-of visibility interval pushes into the version parquet scan (T2)") {
    import org.apache.spark.sql.functions._
    import graft.core.Ast.{INF, TemporalSnapshot}
    // The 100 TB-relevant shape: version history COMMITTED to parquet
    // (restore → base = a plain parquet scan with _vf/_vt/_tf/_tt as
    // real columns), then an as-of read. The reference short-circuits
    // its version-chain walk on the visibility interval
    // (include/query/temporal_context.hpp:113-144); the Spark analog is
    // the `_vf <= vt < _vt` comparisons reaching PushedFilters so
    // parquet row groups outside the interval are min/max-skipped —
    // version history only ever grows, so a full-history scan per as-of
    // read would be the dominant cost at scale.
    val dir = tmpDir("graft_asof_push")
    val clock = new graft.core.MockClock(0L)
    val s = new graft.store.GraphStore(spark,
      versioningEnabled = true, clock = clock)
    s.attachNodes("customer",
      spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
        .select(col("c_custkey").as("id"), col("c_name").as("name"),
          col("c_acctbal").as("acctbal")), "id")
    clock.set(2000L)
    s.updateWhere("customer", col("id") % 3 === 0,
      Map("acctbal" -> (col("acctbal") + 100)), validFrom = Some(500L))
    s.commit(dir)
    val r = graft.store.GraphStore.restore(spark, dir)
    try {
      // explicit valid-time as-of: both interval bounds pushed
      val asOf = physical(
        r.nodes("customer", Some(TemporalSnapshot(validTime = 1000L))))
      assert(asOf.contains("LessThanOrEqual(_vf,1000)"),
        s"_vf lower bound not pushed into the version scan:\n$asOf")
      assert(asOf.contains("GreaterThan(_vt,1000)"),
        s"_vt upper bound not pushed into the version scan:\n$asOf")
      // current-head read: the head predicate pushed as an equality
      val head = physical(r.nodes("customer"))
      assert(head.contains(s"EqualTo(_vt,$INF)"),
        s"head-version predicate not pushed into the version scan:\n$head")
    } finally r.close()
  }

  test("duplicated-substring spans shuffle hashes, merge without windows") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val df = graft.pipeline.Dedup.duplicatedSpans(
      store.nodes("documents"), "id", "text", k = 8)
    val plan = physical(df)
    // the gram-multiplicity count must combine map-side (partial +
    // final HashAggregate), and the interval merge is an aggregate
    // fold, not a window — a global window would serialize the corpus
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"gram count lacks partial aggregation:\n$plan")
    assert(!plan.contains("Window"),
      s"interval merge regressed to a window:\n$plan")
  }

  test("span removal joins the span table, merges without windows") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val df = graft.pipeline.Dedup.removeSpans(
      store.nodes("documents"), "id", "text", k = 8)
    val plan = physical(df)
    // the surgery inherits p60's discipline: no window anywhere (the
    // interval merge is an aggregate fold, the surviving tokens an
    // O(tokens + spans) gap-slice rebuild over the sorted span array —
    // r12 advice retired the per-token exists scan), and the span side
    // joins back by hash — never a nested loop over spans
    assert(!plan.contains("Window"),
      s"span removal regressed to a window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span join fell back to a nested loop:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"gram count lacks partial aggregation:\n$plan")
  }

  test("boilerplate removal: hash-grain count, gap-slice rebuild, " +
      "no window, no nested loop") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val df = graft.pipeline.Curation.removeBoilerplate(
      store.nodes("documents"), "id", "text", minDocs = 6)
    val plan = physical(df)
    // the distinct-doc count must combine map-side, the hit positions
    // join back by hash (never a nested loop over lines), and the
    // surviving-line rebuild is the O(lines + hits) gap-slice pass —
    // no window anywhere
    assert(!plan.contains("Window"),
      s"boilerplate removal regressed to a window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"boilerplate join fell back to a nested loop:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"line count lacks partial aggregation:\n$plan")
  }

  test("bigram LM: hash-grain counts combine map-side, vocab rides a " +
      "broadcast, no window") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val df = graft.pipeline.TextAnalysis.bigramLm(
      store.nodes("documents"), "id", "text")
    val plan = physical(df)
    assert(!plan.contains("Window"),
      s"bigram LM regressed to a window:\n$plan")
    // two count shuffles + the doc aggregate all partial-aggregate
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"bigram counts lack partial aggregation:\n$plan")
    // the 1-row vocabulary must broadcast, never shuffle the pair table
    // against it
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"vocab join is not broadcast:\n$plan")
  }

  test("incremental spans-against: corpus gram table never shuffled, " +
      "merge without windows") {
    import org.apache.spark.sql.functions.col
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val docs = store.nodes("documents")
    val df = graft.pipeline.Dedup.spansAgainst(
      docs.filter(col("id") % 3 === 0),
      graft.pipeline.Dedup.spanGramCounts(
        docs.filter(col("id") % 3 =!= 0), "id", "text", 8),
      "id", "text", k = 8)
    val plan = physical(df)
    assert(!plan.contains("Window"),
      s"interval merge regressed to a window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"gram probe fell back to a nested loop:\n$plan")
    // the corpus-count probe is the design's load-bearing join: it
    // must stay an INNER broadcast hash join (review r13 — the test
    // originally asserted none of this). A left-outer here would force
    // the corpus table to build/shuffle (the shape the operator's
    // comment forbids); which side is broadcast is a size decision the
    // toy corpus can't pin, but at scale AQE broadcasts the smaller
    // (batch) side of the inner join — inner-ness is what makes that
    // legal at all.
    assert(!plan.contains("LeftOuter"),
      s"corpus probe regressed to a left-outer join:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"corpus probe is not a broadcast hash join:\n$plan")
    // gram counts (batch + corpus) must combine map-side
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"gram count lacks partial aggregation:\n$plan")
  }

  test("shuffle shards: sub-bucketed prefix-sum index, no per-shard " +
      "funnel") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    // pinned at a realistic training-shard count (r11 verdict #4): the
    // dense index must come from the (shard, __b) sub-bucket window +
    // broadcast offsets, NEVER a shard-only window — at small nShards a
    // shard-only partition spec funnels ~corpus/nShards rows through
    // one task (~6 TB per task at 16 shards on 100 TB)
    val df = graft.pipeline.Curation.shuffleShards(
      store.nodes("documents"), "id", nShards = 1024)
    val plan = physical(df)
    assert(plan.contains("windowspecdefinition(shard"),
      s"row_number not partitioned by shard:\n$plan")
    assert("windowspecdefinition\\(shard[^)]*__b".r
        .findFirstIn(plan).isDefined,
      s"row_number window lost its sub-bucket column (per-shard " +
        s"funnel):\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"prefix-sum offsets not broadcast:\n$plan")
    // strings must be rejected at plan time, not hashed through an
    // ANSI cast at runtime (r11 advice)
    import org.apache.spark.sql.functions.col
    val err = intercept[IllegalArgumentException] {
      graft.pipeline.Curation.shuffleShards(
        store.nodes("documents")
          .withColumn("sid", col("id").cast("string")), "sid", 16)
    }
    assert(err.getMessage.contains("integral id column"))
  }

  test("chunkDocuments is shuffle-free; temperatureMix is a pure " +
      "filter projection after its one source-grain aggregate") {
    import org.apache.spark.sql.functions.col
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val docs = store.nodes("documents")
    val chunkPlan = physical(graft.pipeline.Curation.chunkDocuments(
      docs, "id", "text", budget = 16, overlap = 4))
    // projection + explode only — a shuffle here would be a regression
    // (the materialize barrier is a localCheckpoint scan, not an
    // exchange)
    assert(!chunkPlan.contains("Exchange"),
      s"chunking gained a shuffle:\n$chunkPlan")
    assert(chunkPlan.contains("Generate"),
      s"chunking lost its explode:\n$chunkPlan")
    val mixPlan = physical(graft.pipeline.Curation.temperatureMix(
      docs.select(col("id"), col("source")), "id", "source",
      budgetDocs = 100L))
    // selection itself: Filter over the scan, no join, no shuffle
    assert(!mixPlan.contains("Exchange") && !mixPlan.contains("Join"),
      s"temperatureMix selection is not a pure filter:\n$mixPlan")
    assert(mixPlan.contains("Filter"),
      s"temperatureMix lost its bucket filter:\n$mixPlan")
  }

  test("DSIR: count tables partial-aggregate, totals ride broadcasts, " +
      "resample top-k is TakeOrdered — never a full sort shuffle") {
    import org.apache.spark.sql.functions.col
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val docs = store.nodes("documents")
    val w = graft.pipeline.Dsir.weights(docs,
      docs.filter(col("id") % 3 === 0), docs, "id", "text",
      buckets = 10000)
    val planW = physical(w)
    // feature-count groupBys + the per-doc aggregate all combine
    // map-side (partial HashAggregate pairs)
    assert("HashAggregate".r.findAllIn(planW).size >= 6,
      s"DSIR counts lack partial aggregation:\n$planW")
    // the two 1-row totals must broadcast into the per-doc frame
    assert("BroadcastNestedLoopJoin|BroadcastExchange".r
        .findAllIn(planW).size >= 2,
      s"DSIR totals are not broadcast:\n$planW")
    assert(!planW.contains("CartesianProduct"),
      s"DSIR totals regressed to a cartesian:\n$planW")
    val planK = physical(graft.pipeline.Dsir.resample(
      graft.core.Materialize(w), "id", k = 50, seed = 7L))
    assert(planK.contains("TakeOrderedAndProject"),
      s"resample top-k is not TakeOrdered:\n$planK")
    assert(!planK.contains("Sort ") || planK.contains("TakeOrdered"),
      s"resample pays a full sort:\n$planK")
  }

  test("r15 scan-shaped ops (c4Clean, gopherSignals, nfc normalize) " +
      "are zero-exchange projections") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val docs = store.nodes("documents")
    Seq(
      "c4Clean" -> graft.pipeline.TextAnalysis.c4Clean(
        docs, "id", "text"),
      "gopherSignals" -> graft.pipeline.TextAnalysis.gopherSignals(
        docs, "id", "text"),
      "normalizeUnicode" -> docs.select(
        graft.pipeline.TextAnalysis.normalizeUnicode(
          org.apache.spark.sql.functions.col("text"))),
      "robotsAllowed" -> docs.select(
        graft.pipeline.TextAnalysis.robotsAllowed(
          org.apache.spark.sql.functions.lit(
            "User-agent: *\nDisallow: /private/\n"),
          org.apache.spark.sql.functions.col("text"), "graftbot")),
      "langIdNgram" -> docs.select(
        graft.pipeline.TextAnalysis.langIdNgram(
          org.apache.spark.sql.functions.col("text")))
    ).foreach { case (name, df) =>
      val plan = physical(df)
      assert(!plan.contains("Exchange"),
        s"$name should be a pure projection but shuffles:\n$plan")
      assert(!plan.contains("Window"),
        s"$name regressed to a window:\n$plan")
    }
  }

  test("dedupLines / dedupSentenceSpans: hash-grain winner table, " +
      "position-only shuffles, gap-slice rebuild — no window, no " +
      "nested loop") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val docs = store.nodes("documents")
    Seq(
      "dedupLines" -> graft.pipeline.Curation.dedupLines(
        docs, "id", "text"),
      "dedupSentenceSpans" -> graft.pipeline.Curation
        .dedupSentenceSpans(docs, "id", "text")
    ).foreach { case (name, df) =>
      val plan = physical(df)
      assert(!plan.contains("Window"),
        s"$name regressed to a window:\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to a nested loop:\n$plan")
      // winner min-aggregate must combine map-side
      assert("HashAggregate".r.findAllIn(plan).size >= 2,
        s"$name winner table lacks partial aggregation:\n$plan")
    }
  }

  test("gopherRepetition is a ZERO-exchange projection — the fused " +
      "GramTopStats pass replaced the (doc, n, gram-hash) count " +
      "shuffle") {
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val plan = physical(graft.pipeline.TextAnalysis.gopherRepetition(
      store.nodes("documents"), "id", "text"))
    assert(!plan.contains("Exchange"),
      s"gopherRepetition shuffles — the within-doc top-gram went " +
        s"back on the wire:\n$plan")
    assert(!plan.contains("Window"),
      s"top-n-gram winner regressed to a window:\n$plan")
  }

  test("filterBlockedHosts: blocklist rides a BROADCAST hash semi " +
      "join — never a literal CASE chain, never a nested loop") {
    import org.apache.spark.sql.functions._
    val store = TpchGraph.store(spark, "/root/testdata/sf0.001")
    val df = graft.pipeline.Curation.filterBlockedHosts(
      store.nodes("documents").select(col("id"),
        concat(lit("http://h"), pmod(col("id"), lit(50)),
          lit(".example.com/"), col("id")).as("url")),
      "id", "url", (0 until 25).map(i => s"h$i.example.com"))
    val plan = physical(df)
    assert(plan.contains("BroadcastExchange"),
      s"blocklist is not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"suffix match fell back to a nested loop:\n$plan")
    assert(plan.contains("LeftSemi") || plan.contains("LeftAnti"),
      s"blocked-id membership is not a semi/anti join:\n$plan")
  }
}
