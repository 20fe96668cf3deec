package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Ast.TemporalSnapshot
import graft.core.MockClock
import graft.pipeline.{Bpe, Curation, Dedup, TextAnalysis}
import graft.ql.{Shell, TundraQL}
import graft.store.GraphStore
import graft.tpch.TpchGraph

/** The closed loop shared by the workloads: one client thread runs
  * `op(i)` for i = 0, 1, … until `seconds` have passed, plus the set-up
  * and timing helpers. */
object Loop {
  val SetupReps = 3

  /** Runs until `seconds` have passed and then on to the end of the
    * current cycle (`atCycleEnd(i)`: true once the first i operations
    * end one), and for at least `ctx.minCycles` cycles, so a run holds
    * whole cycles of the workload's mix, its latency figures see the mix
    * in fixed proportions, and its tail percentile has enough samples.
    *
    * A traced run alternates untraced and traced cycles (phase 0 and 1)
    * in the order 0 1 1 0 0 1 1 0 …, ending after whole blocks of four,
    * so a drift over the run (warm-up, host speed) weighs on both alike
    * and the listeners are detached at the end. The layer collector's
    * listeners are attached in traced cycles only, so the difference
    * between the two is the whole tracing overhead. Spans, listener counts and wall
    * time of the traced cycles make the per-layer figures. */
  def run(ctx: Ctx, report: Report, seconds: Double,
          atCycleEnd: Int => Boolean)(
      op: Int => OpRec): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var phase = 0
    var cycleStart = t0
    var cycles = 0
    ctx.tracer.enabled = false

    def endCycle(): Unit = {
      report.cycleS(phase) += (System.nanoTime() - cycleStart) / 1e9
      cycles += 1
      ctx.counters.foreach { c =>
        val next = (cycles + 1) / 2 % 2
        if (next != phase) {
          if (next == 1) c.attach() else c.detach()
          phase = next
          ctx.tracer.enabled = phase == 1
        }
      }
      cycleStart = System.nanoTime()
    }
    var i = 0
    while (System.nanoTime() < deadline || !atCycleEnd(i) ||
        cycles < ctx.minCycles || (ctx.trace && cycles % 4 != 0)) {
      report.ops += op(i).copy(phase = phase)
      i += 1
      if (atCycleEnd(i)) endCycle()
    }
    ctx.tracer.enabled = ctx.trace
  }

  /** Repeats the set-up `SetupReps` times (dropping every cache between
    * them) and keeps the last store; set-up spans are traced when the
    * run is. */
  def setups[S](ctx: Ctx, report: Report)(open: => S): S = {
    ctx.tracer.enabled = ctx.trace
    var s: Option[S] = None
    (1 to SetupReps).foreach { _ =>
      ctx.dropAll()
      val t0 = System.nanoTime()
      s = Some(open)
      report.setupS += (System.nanoTime() - t0) / 1e9
    }
    report.cacheMb = ctx.cachedMb
    s.get
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def errText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  def readLines(path: String): IndexedSeq[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toIndexedSeq
    finally src.close()
  }
}

/** The engine calls the workloads share, each wrapped in its layer's
  * span. */
object Engine {
  /** The TPC-H graph store, opened and with the given labels' caches
    * filled: what a user waits for before the first query. */
  def open(ctx: Ctx, labels: Seq[String]): GraphStore = {
    val s = ctx.tracer.span("tpch.open")(
      TpchGraph.store(ctx.spark, ctx.dataDir, cache = true))
    ctx.tracer.span("tpch.cache_fill")(labels.foreach(l => s.nodes(l).count()))
    s
  }

  /** A MATCH through the shell, split at the layer boundaries: planning
    * (`Shell.executeStmt` returns the lazy frame), Catalyst's physical
    * plan, and execution. */
  def query(t: Tracer, shell: Shell, st: TundraQL.Statement): Array[Row] = {
    val df = t.span("planner.plan")(shell.executeStmt(st)).get
    t.span("catalyst.prepare")(df.queryExecution.executedPlan)
    t.span("spark.exec")(df.collect())
  }
}

/** Read-only TundraQL client: a seeded mix of MATCH statements over the
  * cached TPC-H graph. Each result is collected and hashed; `run.py`
  * checks it against DuckDB over the raw Parquet. */
object GraphRead {
  /** Statements per cycle of the mix (`statements.READ_TEMPLATES`). */
  val Cycle = 6

  def run(ctx: Ctx, report: Report, input: String, seconds: Double): Unit = {
    val stmts = Loop.readLines(input)
    val store = Loop.setups(ctx, report)(
      Engine.open(ctx, Seq("customer", "orders", "lineitem")))
    val shell = new Shell(store)
    var resultRows = 0L

    def query(text: String): Array[Row] = {
      val t = ctx.tracer
      t.span("op")(Engine.query(t, shell,
        t.span("ql.parse")(TundraQL.parseScript(text)).head))
    }
    def op(i: Int): OpRec = {
      val Array(tmpl, text) = stmts(i % stmts.length)
      ctx.tracer.op = i
      val before = ctx.persistedIds
      val rec =
        try {
          val (rows, ms) = Loop.timed(query(text))
          if (ctx.tracer.enabled) resultRows += rows.length
          OpRec(tmpl, i % stmts.length, ms, ok = true, rows.length.toLong,
            Main.rowsHash(rows))
        } catch {
          case e: Exception =>
            OpRec(tmpl, i % stmts.length, 0.0, ok = false, err = Loop.errText(e))
        }
      ctx.dropSince(before)
      rec
    }
    // warm-up: one statement per template from the end of the list, so
    // the timed loop never sees a statement twice in a row
    stmts.takeRight(Cycle).foreach { case Array(_, text) =>
      val before = ctx.persistedIds
      ctx.tracer.enabled = false
      query(text)
      ctx.dropSince(before)
    }
    Loop.run(ctx, report, seconds, _ % Cycle == 0)(op)
    report.values("result_rows") = resultRows.toDouble
  }
}

/** Bitemporal writer: a seeded script of rounds (UPDATE MATCH, CREATE
  * NODE ×20, DELETE, an AS OF VALID read) with a COMMIT to a local
  * snapshot every `statements.COMMIT_EVERY` rounds, on a versioned store
  * over the TPC-H customers and orders. The store's clock is set from the script,
  * so `run.py` knows the state every read must see. At the end the last
  * snapshot is restored and compared with the live store. */
object GraphWrite {
  val WarmRounds = 2

  def run(ctx: Ctx, report: Report, input: String, seconds: Double): Unit = {
    val lines = Loop.readLines(input)
    val Array(_, baseS, stepS) = lines.head
    val (clockBase, clockStep) = (baseS.toLong, stepS.toLong)
    val script = lines.tail
    val snapDir = ctx.workDir + "/snapshot"
    val clock = new MockClock(clockBase)

    val store = Loop.setups(ctx, report) {
      val tp = Engine.open(ctx, Seq("customer", "orders"))
      val s = new GraphStore(ctx.spark, versioningEnabled = true,
        clock = clock)
      s.attachNodes("customer", tp.nodes("customer"), "id")
      s.attachNodes("orders", tp.nodes("orders"), "id")
      s.attachEdges("placed", "customer", "orders",
        tp.edges("placed", "customer", "orders").select("src", "dst"))
      s
    }
    deleteDir(new java.io.File(snapDir))
    val shell = new Shell(store, Some(snapDir))
    val depth = ArrayBuffer.empty[Double]
    val commitMb = ArrayBuffer.empty[Double]

    def exec(kind: String, text: String): Array[Row] = {
      val t = ctx.tracer
      t.span("op") {
        val sts = t.span("ql.parse")(TundraQL.parseScript(text))
        if (isRead(kind)) Engine.query(t, shell, sts.head)
        else {
          t.span(s"store.$kind")(sts.foreach(shell.executeStmt))
          Array.empty[Row]
        }
      }
    }
    def op(i: Int): OpRec =
      if (i >= script.length)
        throw new IllegalStateException(
          s"the write script ran out after $i operations")
      else {
        val Array(kind, text) = script(i)
        ctx.tracer.op = i
        clock.set(clockBase + (i + 1) * clockStep)
        val before = ctx.persistedIds
        val snapBefore = if (kind == "commit" && ctx.tracer.enabled)
          dirBytes(new java.io.File(snapDir)) else 0L
        val rec =
          try {
            val (rows, ms) = Loop.timed(exec(kind, text))
            if (ctx.tracer.enabled) {
              if (kind == "commit")
                commitMb += (dirBytes(new java.io.File(snapDir)) -
                  snapBefore) / 1048576.0
              else if (!isRead(kind))
                depth += store.nodes("customer").queryExecution.logical
                  .collect { case p => p }.size.toDouble
            }
            if (isRead(kind))
              OpRec(kind, i, ms, ok = true, rows.length.toLong,
                Main.rowsHash(rows))
            else OpRec(kind, i, ms, ok = true)
          } catch {
            case e: Exception =>
              OpRec(kind, i, 0.0, ok = false, err = Loop.errText(e))
          }
        // reads own what they persisted; mutations' blocks are the
        // store's lineage checkpoints and stay
        if (isRead(kind)) ctx.dropSince(before)
        rec
      }

    // warm-up: the script's first rounds, untimed (phase -1) but checked
    // like the others
    val warm = script.indices.filter(script(_)(0) == "commit")(
      WarmRounds - 1) + 1
    (0 until warm).foreach(i => report.ops += op(i).copy(phase = -1))
    // a cycle is the rounds up to and including a commit, which
    // re-bases the store's tables on the committed files
    Loop.run(ctx, report, seconds,
      i => script(warm + i - 1)(0) == "commit")(i => op(warm + i))
    ctx.tracer.op = -1
    val done = report.ops.size

    // Commit the final state, restore it, and compare the restored store
    // with the live one: current view, an AS OF view, the edge set, and a
    // TundraQL query through a shell over each.
    clock.set(clockBase + (done + 1) * clockStep)
    store.commit(snapDir)
    val restored = ctx.tracer.span("store.restore")(
      GraphStore.restore(ctx.spark, snapDir, clock))
    val tMid = clockBase + (done / 2) * clockStep + clockStep / 2
    val asOf = Some(TemporalSnapshot(validTime = tMid))
    def same(name: String, a: DataFrame, b: DataFrame): Unit = {
      val (ha, hb) = (Main.frameHash(a), Main.frameHash(b))
      report.checks += CheckRec(s"restore.$name", ha == hb, s"$ha vs $hb")
    }
    same("customer_current", store.nodes("customer"), restored.nodes("customer"))
    same("customer_asof", store.nodes("customer", asOf),
      restored.nodes("customer", asOf))
    same("placed_current",
      store.edges("placed", "customer", "orders").select("src", "dst"),
      restored.edges("placed", "customer", "orders").select("src", "dst"))
    val q = "MATCH (c:customer)-[:placed]->(o:orders) WHERE c.nationkey < 5 " +
      "SELECT c.mktsegment, COUNT(*) AS n;"
    val ql = (new Shell(store).execute(q).get.collect(),
      new Shell(restored).execute(q).get.collect())
    report.checks += CheckRec("restore.query", ql._1.length > 0 &&
      Main.rowsHash(ql._1) == Main.rowsHash(ql._2),
      s"${ql._1.length} vs ${ql._2.length} rows")
    report.values("snapshot_mb") = dirBytes(new java.io.File(snapDir)) / 1048576.0
    if (ctx.trace) {
      // Lineage probe: an UPDATE MATCH over a traversal derives its ids
      // from the store's own tables, and a DELETE derives the edges'
      // new base from the nodes', so each such round feeds the previous
      // plans back into the next. The ratio of an AS OF read after three
      // rounds to one before shows how that compounds.
      def asOfMs(): Double = {
        val t = clock.advance(clockStep)
        Loop.timed(shell.execute(s"MATCH (c:customer) AS OF VALID $t " +
          "WHERE c.nationkey = 1 SELECT c.mktsegment, COUNT(*) AS n;")
          .get.collect())._2
      }
      val first = asOfMs()
      (0 until 3).foreach { k =>
        clock.advance(clockStep)
        shell.execute("UPDATE MATCH (c:customer)-[:placed]->(o:orders) " +
          s"""SET c.mktsegment = "P$k" WHERE c.nationkey = $k AND """ +
          "o.priority = \"1-URGENT\";")
        clock.advance(clockStep)
        shell.execute(s"DELETE (c:customer) WHERE c.id = $k;")
      }
      report.values("store.traversal_update_growth") = asOfMs() / first
      report.values("store.plan_depth") = if (depth.isEmpty) 0 else depth.max
      report.values("store.commit_mb") = Main.median(commitMb.toSeq)
      // live user data: the current views written once as Parquet
      val live = ctx.workDir + "/live"
      deleteDir(new java.io.File(live))
      store.nodes("customer").write.parquet(live + "/customer")
      store.nodes("orders").write.parquet(live + "/orders")
      store.edges("placed", "customer", "orders").select("src", "dst")
        .write.parquet(live + "/placed")
      val liveMb = dirBytes(new java.io.File(live)) / 1048576.0
      report.values("store.write_amp") =
        if (liveMb > 0) Main.median(commitMb.toSeq) / liveMb else 0.0
    }
  }

  def isRead(kind: String): Boolean = kind == "asof"

  def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def deleteDir(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }
}

/** A data engineer's curation batch over the documents corpus, one fixed
  * batch per iteration. Each operator's output is consumed by hashing
  * every row; the hash must not change across iterations, and the first
  * iteration also checks each operator's invariants. */
object CurationBatch {
  val Budget = 2048L
  val Merges = 20

  /** The batch, in order. BPE training runs on the driver and returns the
    * merge list (as a frame of "left right" rows); tokenizing applies
    * the merges the same batch trained. */
  def ops(docs: DataFrame): Seq[(String, () => DataFrame)] = {
    var merges: Seq[(String, String)] = Nil
    val spark = docs.sparkSession
    Seq(
      "dedup_exact" -> (() => Dedup.exact(docs, "id", Seq("text"))),
      "neardup_keepfirst" -> (() =>
        Dedup.nearDupKeepFirst(docs, "id", "id", "text")),
      "gopher_signals" -> (() => TextAnalysis.gopherSignals(docs, "id", "text")),
      "c4_clean" -> (() => TextAnalysis.c4Clean(docs, "id", "text")),
      "dedup_lines" -> (() => Curation.dedupLines(docs, "id", "text")),
      "bpe_train" -> { () =>
        merges = Bpe.train(docs, "text", numMerges = Merges)
        spark.createDataset(merges.map { case (l, r) => l + " " + r })(
          org.apache.spark.sql.Encoders.STRING).toDF("merge")
      },
      "bpe_tokenize" -> (() => Bpe.tokenize(docs, "id", "text", merges)),
      "pack_sequences" -> (() =>
        Curation.packSequences(docs, "id", "text", budgetTokens = Budget)),
      "shuffle_shards" -> (() => Curation.shuffleShards(docs, "id", nShards = 16)))
  }

  def run(ctx: Ctx, report: Report, seconds: Double): Unit = {
    val store = Loop.setups(ctx, report)(Engine.open(ctx, Seq("documents")))
    val docs = store.nodes("documents")
    val nDocs = docs.count()
    val distinctTexts = docs.select("text").distinct().count()
    val firstHash = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val batchOps = ops(docs)
    val checked = scala.collection.mutable.Set.empty[String]

    def invariants(name: String, out: DataFrame, n: Long): (Boolean, String) =
      name match {
        case "dedup_exact" =>
          val texts = out.select("text").distinct().count()
          (n == distinctTexts && texts == n,
            s"$n rows, $texts distinct texts, $distinctTexts expected")
        case "neardup_keepfirst" =>
          val dups = out.filter(col("is_dup") === 1).count()
          (n == nDocs && dups > 0 && dups < nDocs, s"$n rows, $dups dups")
        case "pack_sequences" =>
          // a bin holds at most `Budget` tokens plus the one document
          // that straddles its end
          val over = out.groupBy("bin").agg(sum("n_tokens").as("t"),
              max("n_tokens").as("m"))
            .filter(col("t") > lit(Budget) + col("m")).count()
          (n == nDocs && over == 0, s"$n rows, $over bins over budget")
        case "gopher_signals" | "bpe_tokenize" | "shuffle_shards" =>
          (n == nDocs, s"$n rows of $nDocs")
        case "bpe_train" => (n == Merges, s"$n merges of $Merges")
        case _ =>
          (n > 0 && n <= nDocs, s"$n rows of $nDocs")
      }

    var batch = 0
    def op(i: Int): OpRec = {
      val (name, f) = batchOps(i % batchOps.length)
      val t = ctx.tracer
      t.op = i
      val before = ctx.persistedIds
      val rec =
        try {
          val ((out, h), ms) = Loop.timed(t.span("op") {
            val out = t.span(s"pipeline.$name.build")(f())
            (out, t.span(s"pipeline.$name.exec")(Main.frameHash(out)))
          })
          val stable = firstHash.getOrElseUpdate(name, h) == h
          if (checked.add(name)) {
            val (ok, detail) = invariants(name, out, h._1)
            report.checks += CheckRec(s"$name.invariants", ok, detail)
          }
          OpRec(name, batch, ms, ok = stable, h._1,
            java.lang.Long.toUnsignedString(h._2),
            err = if (stable) "" else s"hash ${h} != ${firstHash(name)}")
        } catch {
          case e: Exception =>
            OpRec(name, batch, 0.0, ok = false, err = Loop.errText(e))
        }
      ctx.dropSince(before)
      if (i % batchOps.length == batchOps.length - 1) batch += 1
      rec
    }
    // warm-up: one untimed batch, which also records the first hashes
    // and checks the invariants
    ctx.tracer.enabled = false
    batchOps.indices.foreach(op)
    batch = 0
    Loop.run(ctx, report, seconds, _ % batchOps.length == 0)(op)
    report.values("docs") = nDocs.toDouble
  }
}
