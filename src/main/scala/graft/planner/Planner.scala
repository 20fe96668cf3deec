package graft.planner

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Ast._
import graft.store.GraphStore

/** Compiles a [[graft.core.Ast.GraphQuery]] into a Spark DataFrame plan.
  *
  * This is the semantic-translation layer (reference: Database::query,
  * src/main/database.cpp:202-216 + src/query/execution.cpp): alias
  * registration/validation, clause-order join chaining, the reference's
  * join-type algebra (src/query/join.cpp — INNER/LEFT/RIGHT/FULL with the
  * RIGHT-self `all_targets − matched_sources` dedup), strict comparison
  * typing, `alias.field` output naming, and bitemporal as-of scan
  * parameterization. Execution machinery (pushdown, join placement, column
  * pruning, parallelism) is Catalyst's job — single-alias predicates are
  * attached to scans (reference F6 inline semantics) and cross-alias
  * predicates run on the denormalized result (reference F7), which is
  * exactly where the reference's own tests demand they be.
  *
  * Internal column naming: `alias__field`; the final projection renames to
  * the reference's denormalized `alias.field` convention
  * (src/query/execution.cpp:483-549) unless a SELECT item carries an
  * explicit output name.
  */
final class Planner(store: GraphStore) {

  private val SEP = "__"

  def plan(q: GraphQuery): DataFrame = {
    // ---- Phase 1-2: alias registration (reference prepare_query,
    // src/query/execution.cpp:730-787)
    val nodeAliases = mutable.LinkedHashMap[String, String]() // alias->label
    val edgeAliases = mutable.LinkedHashMap[String, String]() // alias->type
    val aliasOrder = mutable.ArrayBuffer[String]()
    // Semi/Anti hops bind no output columns: their (fresh) target alias
    // and edge alias exist only for single-alias WHERE pre-filters that
    // scope the existence test. Referencing one anywhere else is an error.
    val ghosts = mutable.Set[String]()
    nodeAliases(q.fromAlias) = q.fromLabel
    aliasOrder += q.fromAlias
    q.clauses.foreach {
      case t: TraverseClause =>
        val TraverseClause(src, et, ea, dst, dstLabel, kind, srcLabel, _, _) = t
        val existence = kind == JoinKind.Semi || kind == JoinKind.Anti
        srcLabel.foreach { l =>
          if (!nodeAliases.contains(src)) { nodeAliases(src) = l; aliasOrder += src }
          else require(nodeAliases(src) == l,
            s"alias $src rebound to different label")
        }
        require(!ghosts(src),
          s"semi/anti alias $src binds no columns; cannot traverse from it")
        if (!nodeAliases.contains(dst)) {
          nodeAliases(dst) = dstLabel; aliasOrder += dst
          if (existence) ghosts += dst
        } else {
          require(nodeAliases(dst) == dstLabel,
            s"alias $dst rebound to different label")
          // a later binding hop materializes a previously ghost alias
          if (!existence) ghosts -= dst
        }
        ea.foreach { a =>
          require(!nodeAliases.contains(a) && !edgeAliases.contains(a),
            s"edge alias $a already bound")
          edgeAliases(a) = et; aliasOrder += a
          if (existence) ghosts += a
        }
        require(nodeAliases.contains(src),
          s"unknown traverse source alias: $src")
      case _ =>
    }

    // ---- Phase 3: WHERE resolution — split into per-alias pre-filters
    // (reference F6) and cross-alias deferred filters (reference F7).
    val preFilters = mutable.Map[String, List[WhereExpr]]().withDefaultValue(Nil)
    val postFilters = mutable.ArrayBuffer[WhereExpr]()
    def conjuncts(e: WhereExpr): List[WhereExpr] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other     => List(other)
    }
    q.clauses.collect { case WhereClause(e) => e }
      .flatMap(conjuncts).foreach { c =>
        c.aliases.toList match {
          case a :: Nil => preFilters(a) = preFilters(a) :+ c
          case _        => postFilters += c
        }
      }
    (preFilters.keys ++ postFilters.flatMap(_.aliases)).foreach { a =>
      require(nodeAliases.contains(a) || edgeAliases.contains(a),
        s"WHERE references unknown alias: $a")
    }
    postFilters.flatMap(_.aliases).foreach { a =>
      require(!ghosts(a), s"cross-alias WHERE references semi/anti alias " +
        s"$a, which binds no columns (single-alias predicates on it scope " +
        "the existence test instead)")
    }

    // ---- Scans with pre-filters attached
    // every column renamed `<alias><SEP><name>` in one projection
    def prefixed(raw: DataFrame, alias: String): DataFrame =
      raw.select(raw.columns.toIndexedSeq.map(c =>
        col(s"`${c.replace("`", "``")}`").as(s"$alias$SEP$c")): _*)
    def scanNode(alias: String): DataFrame = {
      val label = nodeAliases(alias)
      val renamed = prefixed(store.nodes(label, q.asOf), alias)
      preFilters(alias).foldLeft(renamed)((d, e) =>
        d.filter(compile(e, scope(d))))
    }
    def scanEdge(t: TraverseClause, alias: String,
                 srcLabel: String): DataFrame = {
      val dstLabel = nodeAliases(t.dstAlias)
      val raw0 = store.edges(t.edgeType, srcLabel, dstLabel, q.asOf)
      // undirected hop: the edge matches in either orientation — union the
      // swapped projection (a narrow, shuffle-free doubling of the scan).
      // Self-label sets only: a reversed cross-label edge would belong to
      // an unregistered (dstLabel -> srcLabel) edge table.
      val raw = if (!t.undirected) raw0 else {
        require(srcLabel == dstLabel,
          s"undirected hop needs a self-label edge set: " +
            s"${t.edgeType} is $srcLabel->$dstLabel")
        raw0.unionByName(raw0.select(raw0.columns.toIndexedSeq.map {
          case "src" => col("dst").as("src")
          case "dst" => col("src").as("dst")
          case c     => col(c)
        }: _*))
      }
      val renamed = prefixed(raw, alias)
      preFilters(alias).foldLeft(renamed)((d, e) =>
        d.filter(compile(e, scope(d))))
    }

    // ---- Clause-order execution (reference: src/main/database.cpp:221-244)
    var df = scanNode(q.fromAlias)
    val bound = mutable.Set(q.fromAlias)
    var anonCounter = 0

    q.clauses.foreach {
      case WhereClause(_) => // handled via pre/post filter split
      case t: TraverseClause =>
        val eAlias = t.edgeAlias.getOrElse { anonCounter += 1; s"__e$anonCounter" }
        val srcBound = bound(t.srcAlias)
        val dstBound = bound(t.dstAlias)
        val srcLabel = nodeAliases(t.srcAlias)
        val selfJoin = srcLabel == nodeAliases(t.dstAlias)
        lazy val eDf = scanEdge(t, eAlias, srcLabel)
        val eSrc = col(s"$eAlias${SEP}src")
        val eDst = col(s"$eAlias${SEP}dst")
        val srcId = col(s"${t.srcAlias}${SEP}id")
        val dstId = col(s"${t.dstAlias}${SEP}id")

        // extras = target-label nodes minus nodes already emitted *under
        // the target alias* (the reference's global_visited is keyed by
        // alias: utils.hpp:58 + SchemaRef::value) — i.e. all −
        // matched_sources (J5, self only) − matched_targets (BFS-visited).
        // `covered` is derived from the already-built joined frame (edge
        // non-NULL ⇔ matched) instead of a second join of the same inputs,
        // so the plan carries ONE join subtree per hop (AQE exchange reuse
        // can then share the shuffle; two distinct subtrees never could).
        // "Visited" is THIS hop's edge-matched nodes — a NULL-extended
        // row does not mark its nodes visited (mirrors the FULL-self
        // both-sides emission the reference pins in
        // tests/join_test.cpp:1127: an unmatched source matt is kept as
        // (matt,NULL) AND re-emitted as the extra (NULL,matt)). For
        // cyclic hops this deliberately means a target bound by an
        // earlier hop can re-appear as an extra when this hop's edge
        // missed it — pinned by the cyclic FULL JoinSemanticsSpec case
        // and the q46 oracle.
        def withExtras(joined: DataFrame, tgt: DataFrame): DataFrame = {
          val matched = joined.filter(eSrc.isNotNull)
          val covered =
            if (selfJoin)
              matched.select(srcId.as("__cov"))
                .union(matched.select(dstId.as("__cov"))).distinct()
            else matched.select(dstId.as("__cov")).distinct()
          val extras = tgt.join(covered, dstId === col("__cov"),
            "left_anti")
          joined.unionByName(extras, allowMissingColumns = true)
        }

        df = if (t.range.isDefined) {
          // variable-length hop: shortest-path pair set via frontier BFS
          // (VarLength.pairs — work per round is frontier-sized); the hop
          // then behaves like an INNER traverse over the (src,dst) pairs,
          // with `hops` exposed under the edge alias.
          val (lo, hi) = t.range.get
          require(t.kind == JoinKind.Inner,
            "variable-length hops support INNER only")
          require(!t.undirected,
            "variable-length hops are directed (BFS over the edge set)")
          require(srcBound && !dstBound,
            "variable-length hop needs a bound source and a fresh target")
          val raw = store.edges(t.edgeType, srcLabel,
            nodeAliases(t.dstAlias), q.asOf)
          val pairsDf0 = VarLength.pairs(raw, lo, hi)
            .select(col("src").as(s"$eAlias${SEP}src"),
              col("dst").as(s"$eAlias${SEP}dst"),
              col("hops").as(s"$eAlias${SEP}hops"))
          // single-alias predicates on the edge alias (e.g. e.hops >= 2)
          // attach to the pair set, not an edge scan
          val pairsDf = preFilters(eAlias).foldLeft(pairsDf0)((d, e) =>
            d.filter(compile(e, scope(d))))
          val tgt = scanNode(t.dstAlias)
          df.join(pairsDf, srcId === eSrc).join(tgt, eDst === dstId)
        } else (srcBound, dstBound) match {
          case (true, false) =>
            val tgt = scanNode(t.dstAlias)
            t.kind match {
              case JoinKind.Semi =>
                // existence test: keep source rows with >= 1 (filtered)
                // edge+target; binds nothing (left_semi keeps df's columns)
                df.join(eDf.join(tgt, eDst === dstId), srcId === eSrc,
                  "left_semi")
              case JoinKind.Anti =>
                // absence test: keep source rows with NO (filtered)
                // edge+target
                df.join(eDf.join(tgt, eDst === dstId), srcId === eSrc,
                  "left_anti")
              case JoinKind.Inner =>
                df.join(eDf, srcId === eSrc)
                  .join(tgt, eDst === dstId)
              case JoinKind.Left =>
                // match requires edge AND target present in target schema
                df.join(eDf.join(tgt, eDst === dstId), srcId === eSrc,
                  "left_outer")
              case JoinKind.Right if !selfJoin && t.srcAlias == q.fromAlias =>
                // all targets kept; unmatched FROM roots are dropped —
                // the FROM alias row pass uses INNER gating unless FROM
                // sources a LEFT/FULL hop (reference:
                // RightJoinCrossSchemaStrategy join.cpp:243 + FROM gating
                // src/query/result_builder.cpp:263-278)
                df.join(eDf, srcId === eSrc)
                  .join(tgt, eDst === dstId, "right_outer")
              case JoinKind.Right if selfJoin && t.srcAlias == q.fromAlias =>
                // self-join: target_ids = all_targets − matched_sources
                // (reference: RightJoinSelfStrategy, join.cpp:184-198);
                // unmatched FROM roots dropped (INNER gating), so the
                // joined frame is the inner match — extras appended on top
                withExtras(df.join(eDf, srcId === eSrc)
                  .join(tgt, eDst === dstId), tgt)
              case JoinKind.Right | JoinKind.Full =>
                // FULL, and RIGHT from an *intermediate* alias: sources
                // already reached by earlier hops are never pruned — an
                // unmatched one NULL-extends (reference: BFS row
                // population emits the chain with NULL target columns,
                // result_builder.cpp:196-221 — pinned by the
                // CombinedJoinTypes expectation alex->jeff->NULL under a
                // RIGHT hop, tests/join_test.cpp:742). Unreached targets
                // appear as NULL-source rows per the right-side strategy.
                withExtras(df.join(eDf.join(tgt, eDst === dstId),
                  srcId === eSrc, "left_outer"), tgt)
            }
          case (true, true) =>
            // both ends bound (cyclic pattern): edge-existence join; LEFT
            // keeps rows without the edge (edge cols NULL). RIGHT/FULL
            // follow the same strategies as unbound hops — the reference's
            // strategy dispatch is hop-position-independent
            // (src/query/join.cpp:243-331): RIGHT gates rows on the edge
            // (INNER on the pair, like FROM-root gating), FULL NULL-extends
            // them, and both append `extras` = target-label nodes never
            // visited under the target alias (NULL-extended rows).
            lazy val tgt = scanNode(t.dstAlias)
            t.kind match {
              case JoinKind.Inner =>
                df.join(eDf, srcId === eSrc && eDst === dstId)
              case JoinKind.Left =>
                df.join(eDf, srcId === eSrc && eDst === dstId, "left_outer")
              case JoinKind.Right =>
                withExtras(
                  df.join(eDf, srcId === eSrc && eDst === dstId), tgt)
              case JoinKind.Full =>
                withExtras(
                  df.join(eDf, srcId === eSrc && eDst === dstId,
                    "left_outer"), tgt)
              case JoinKind.Semi =>
                // edge-existence gate on the bound pair
                df.join(eDf, srcId === eSrc && eDst === dstId, "left_semi")
              case JoinKind.Anti =>
                df.join(eDf, srcId === eSrc && eDst === dstId, "left_anti")
            }
          case (false, true) =>
            // multi-pattern second chain into a shared target alias
            // (reference J8: apps/tundra_shell.cpp:584-640). INNER =
            // intersection of target-id sets (join.cpp:51-76); LEFT =
            // UNION (join.cpp:119-137): existing rows survive even when
            // the new pattern misses their target, every new-pattern
            // source survives (LEFT never prunes sources), and targets
            // only the new pattern reaches appear as rows with NULL
            // earlier-pattern columns. Row-wise that is a full-outer join
            // on the shared target id, with the target's columns coalesced
            // from whichever side reached it. (The reference's row
            // population for extra-pattern source aliases is unpinned by
            // its tests; the id-set algebra above is the documented
            // contract we implement.)
            val srcDf = scanNode(t.srcAlias)
            t.kind match {
              case JoinKind.Inner =>
                val side = srcDf.join(eDf, srcId === eSrc)
                df.join(side, eDst === dstId)
              case JoinKind.Left =>
                val t2 = s"__t2$SEP"
                val tgtScan = scanNode(t.dstAlias)
                val tgt2 = tgtScan.columns.foldLeft(tgtScan)((d, c) =>
                  d.withColumnRenamed(
                    c, t2 + c.stripPrefix(s"${t.dstAlias}$SEP")))
                val side = srcDf.join(
                  eDf.join(tgt2, eDst === col(s"${t2}id")),
                  srcId === eSrc, "left_outer")
                val joined = df.join(side, dstId === col(s"${t2}id"),
                  "full_outer")
                val merged = joined.columns.filter(_.startsWith(t2))
                  .foldLeft(joined) { (d, c) =>
                    val main = s"${t.dstAlias}$SEP${c.stripPrefix(t2)}"
                    d.withColumn(main, coalesce(col(main), col(c)))
                  }
                merged.drop(merged.columns.filter(_.startsWith(t2))
                  .toIndexedSeq: _*)
              case other => throw new UnsupportedOperationException(
                s"$other shared-target multi-pattern: the reference pins " +
                  "INNER (intersection) and LEFT (union) only")
            }
          case (false, false) =>
            throw new IllegalArgumentException(
              s"disconnected pattern at ${t.srcAlias}->${t.dstAlias}")
        }
        bound += t.srcAlias
        // a semi/anti hop binds no target columns — dst joins `bound` only
        // when a binding hop reaches it (it may already be bound: cyclic)
        if (t.kind != JoinKind.Semi && t.kind != JoinKind.Anti)
          bound += t.dstAlias
        if (t.edgeAlias.isEmpty)
          df = df.drop(df.columns
            .filter(_.startsWith(s"$eAlias$SEP")).toIndexedSeq: _*)
    }

    // ---- Deferred cross-alias WHERE (reference F7:
    // src/query/filter_executor.cpp:10-47)
    postFilters.foreach(e => df = df.filter(compile(e, scope(df))))

    // ---- SELECT projection + alias.field output naming (reference P1/R1)
    def plainCols(items: List[SelectItem]): Seq[Column] = items.flatMap {
      case SelectAlias(a) =>
        require(nodeAliases.contains(a) || edgeAliases.contains(a),
          s"SELECT references unknown alias: $a")
        require(!ghosts(a),
          s"SELECT references semi/anti alias $a, which binds no columns")
        df.columns.filter(_.startsWith(s"$a$SEP")).toIndexedSeq
          .map(c => col(c).as(c.replaceFirst(SEP, ".")))
      case SelectField(r, as) =>
        require(nodeAliases.contains(r.alias) ||
          edgeAliases.contains(r.alias),
          s"SELECT references unknown alias: ${r.alias}")
        require(!ghosts(r.alias),
          s"SELECT references semi/anti alias ${r.alias}, " +
            "which binds no columns")
        val c = refColumn(r, scope(df), castTo = None)
        Seq(c.as(as.getOrElse(r.toString)))
      case SelectExpr(expr, as) =>
        expr.aliases.foreach { a =>
          require(nodeAliases.contains(a) || edgeAliases.contains(a),
            s"SELECT expression references unknown alias: $a")
          require(!ghosts(a),
            s"SELECT expression references semi/anti alias $a, " +
              "which binds no columns")
        }
        Seq(compileScalar(expr, scope(df)).as(as))
      case _: SelectAgg => Nil
    }
    val aggItems = q.select.collect { case a: SelectAgg => a }
    val projected =
      if (aggItems.isEmpty) {
        if (q.select.isEmpty)
          df.select(df.columns.filterNot(_.startsWith("__e")).toIndexedSeq
            .map(c => col(c).as(c.replaceFirst(SEP, "."))): _*)
        else df.select(plainCols(q.select): _*)
      } else {
        // Aggregation (beyond-reference, SURVEY §2 preamble): non-agg
        // SELECT items are the implicit GROUP BY keys; aggregates run on
        // the denormalized frame. Partial (map-side) aggregation and the
        // final shuffle layout are Catalyst's.
        val aggCols = aggItems.map { a =>
          def c = refColumn(a.ref.getOrElse(throw new IllegalArgumentException(
            s"${a.fn} requires a field")), scope(df), castTo = None)
          val agged = a.fn match {
            case AggFn.Count => a.ref.map(_ => count(c)).getOrElse(count(lit(1)))
            case AggFn.CountDistinct => countDistinct(c)
            case AggFn.Sum => sum(c)
            case AggFn.Avg => avg(c)
            case AggFn.Min => min(c)
            case AggFn.Max => max(c)
          }
          agged.as(a.as)
        }
        val keys = plainCols(q.select)
        if (keys.isEmpty) df.agg(aggCols.head, aggCols.tail: _*)
        else df.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)
      }
    // ---- HAVING / DISTINCT / ORDER BY / LIMIT over output columns
    // (beyond-reference; SQL order: HAVING -> DISTINCT -> ORDER -> LIMIT)
    def outCol(n: String): Column =
      if (n.contains(".")) col(s"`$n`") else col(n)
    val havinged = q.having.foldLeft(projected) { (d, h) =>
      require(d.columns.contains(h.outName),
        s"HAVING references unknown output column: ${h.outName} " +
          s"(have: ${d.columns.mkString(", ")})")
      d.filter(applyOp(outCol(h.outName), h.op, lit(h.value)))
    }
    val distincted = if (q.distinct) havinged.distinct() else havinged
    val ordered =
      if (q.orderBy.isEmpty) distincted
      else distincted.orderBy(q.orderBy.map(k =>
        if (k.asc) outCol(k.key).asc else outCol(k.key).desc): _*)
    val offsetted = q.offset.fold(ordered) { n =>
      require(n >= 0 && n <= Int.MaxValue,
        s"OFFSET must be in [0, ${Int.MaxValue}], got $n")
      ordered.offset(n.toInt)
    }
    q.limit.fold(offsetted) { n =>
      require(n >= 0 && n <= Int.MaxValue,
        s"LIMIT must be in [0, ${Int.MaxValue}], got $n")
      offsetted.limit(n.toInt)
    }
  }

  // ------------------------------------------------------------------
  // WHERE compilation with strict typing (reference F3:
  // compare_values, src/query/query.cpp:81-163 — no implicit coercion)
  // ------------------------------------------------------------------

  /** Where field references resolve: the column a reference names and
    * the schema its type is read from (read only by a comparison). */
  private final class Scope(val name: FieldRef => String,
                            schema0: => StructType) {
    lazy val schema: StructType = schema0
  }

  /** A planned frame's scope: `alias__field` columns, the frame's types. */
  private def scope(df: DataFrame): Scope =
    new Scope(r => s"${r.alias}$SEP${r.field}", df.schema)

  /** A single-node mutation's WHERE (`UPDATE MATCH (a:L) … WHERE`,
    * `DELETE (a:L) WHERE`) as a Column over label `label`'s raw columns.
    * The MATCH compiler with its F3 typing, field-vs-field comparisons
    * and scalar expressions; types come from the catalog, so compiling
    * analyzes no plan. */
  def compileWhere(e: WhereExpr, alias: String, label: String): Column =
    compile(e, new Scope(r => {
      require(r.alias == alias, s"alias ${r.alias} not in scope")
      r.field
    }, store.catalog.schemaOf(label)))

  private def compile(e: WhereExpr, s: Scope): Column = e match {
    case And(l, r) => compile(l, s) && compile(r, s)
    case Or(l, r)  => compile(l, s) || compile(r, s)
    case ExprComparison(l, op, r) =>
      applyOp(compileScalar(l, s), op, compileScalar(r, s))
    case Comparison(f, op, rhs) =>
      val lhsType = refType(f, s)
      validateTypes(f, lhsType, op, rhs, s)
      val lhs = refColumn(f, s, castTo = litTypeFor(rhs, lhsType))
      rhs match {
        case r: FieldRef =>
          applyOp(lhs, op, refColumn(r, s, castTo = None))
        case null => op match {
          case CmpOp.Eq    => lhs.isNull
          case CmpOp.NotEq => lhs.isNotNull
          case _ => throw new IllegalArgumentException(
            s"NULL only supports = / != (reference F3): $f $op")
        }
        case v => applyOp(lhs, op, lit(v))
      }
  }

  /** Compile a scalar expression (beyond-reference, SURVEY §2.6): a fixed
    * function whitelist over codegen'd `sql.functions`, plus arithmetic.
    * Everything stays inside whole-stage codegen — no UDFs. */
  private def compileScalar(e: ScalarExpr, s: Scope): Column = e match {
    case SRef(r) => refColumn(r, s, castTo = None)
    case SLit(v) => lit(v)
    case SArith(op, l, r) =>
      val (a, b) = (compileScalar(l, s), compileScalar(r, s))
      op match {
        case '+' => a + b
        case '-' => a - b
        case '*' => a * b
        case '/' => a / b
        case '%' => a % b
        case other => throw new IllegalArgumentException(
          s"unknown arithmetic operator $other")
      }
    case SFunc(name, args) =>
      def c(i: Int) = compileScalar(args(i), s)
      def intLit(i: Int): Int = args(i) match {
        case SLit(v: Int)  => v
        case SLit(v: Long) => v.toInt
        case other => throw new IllegalArgumentException(
          s"$name argument ${i + 1} must be an integer literal, got $other")
      }
      def arity(n: Int): Unit = require(args.length == n,
        s"$name takes $n argument(s), got ${args.length}")
      name.toLowerCase match {
        case "length" => arity(1); length(c(0))
        case "lower"  => arity(1); lower(c(0))
        case "upper"  => arity(1); upper(c(0))
        case "trim"   => arity(1); trim(c(0))
        case "abs"    => arity(1); abs(c(0))
        case "round" =>
          require(args.length == 1 || args.length == 2,
            s"round takes 1 or 2 arguments, got ${args.length}")
          if (args.length == 1) round(c(0)) else round(c(0), intLit(1))
        case "substr" =>
          arity(3); substring(c(0), intLit(1), intLit(2))
        case "concat" =>
          require(args.nonEmpty, "concat needs arguments")
          concat(args.indices.map(c): _*)
        case "coalesce" =>
          require(args.nonEmpty, "coalesce needs arguments")
          coalesce(args.indices.map(c): _*)
        case other => throw new IllegalArgumentException(
          s"unknown function $other (supported: length, lower, upper, " +
            "trim, abs, round, substr, concat, coalesce)")
      }
  }

  private def applyOp(l: Column, op: CmpOp, r: Column): Column = op match {
    case CmpOp.Eq         => l === r
    case CmpOp.NotEq      => l =!= r
    case CmpOp.Gt         => l > r
    case CmpOp.Lt         => l < r
    case CmpOp.Gte        => l >= r
    case CmpOp.Lte        => l <= r
    case CmpOp.Contains   => l.contains(r)
    case CmpOp.StartsWith => l.startsWith(r)
    case CmpOp.EndsWith   => l.endsWith(r)
  }

  /** Resolve `alias.field` (or nested map path) to a Column in scope. */
  private def refColumn(r: FieldRef, s: Scope,
                        castTo: Option[DataType]): Column = {
    val base = col(s.name(r))
    val c =
      if (r.mapPath.isEmpty) base
      // nested MAP key access (reference P2/F5:
      // src/query/execution.cpp:32-164 — native element_at in Spark)
      else r.mapPath.foldLeft(base)((acc, k) => element_at(acc, k))
    castTo match {
      case Some(dt) if r.mapPath.nonEmpty => c.cast(dt)
      case _                              => c
    }
  }

  private def refType(r: FieldRef, s: Scope): DataType = {
    val name = s.name(r)
    val f = s.schema.fields.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown field: $r"))
    if (r.mapPath.isEmpty) f.dataType
    else f.dataType match {
      case MapType(_, vt, _) => vt
      case other => throw new IllegalArgumentException(
        s"$r: nested path on non-MAP type $other")
    }
  }

  /** For map-valued (string-stored) fields compared against typed literals,
    * cast the extracted value to the literal's type — the analog of the
    * reference's dominant-type inference (execution.cpp:74-79). */
  private def litTypeFor(rhs: Any, lhsType: DataType): Option[DataType] =
    rhs match {
      case _: Int | _: Long      => Some(LongType)
      case _: Double | _: Float  => Some(DoubleType)
      case _: Boolean            => Some(BooleanType)
      case _                     => None
    }

  private def validateTypes(f: FieldRef, lhsType: DataType, op: CmpOp,
                            rhs: Any, s: Scope): Unit = {
    val stringOps: Set[CmpOp] =
      Set(CmpOp.Contains, CmpOp.StartsWith, CmpOp.EndsWith)
    val eqOps: Set[CmpOp] = Set(CmpOp.Eq, CmpOp.NotEq)
    def numeric(dt: DataType): Boolean = dt match {
      case _: IntegerType | _: LongType | _: FloatType | _: DoubleType |
           _: ShortType | _: ByteType | _: DecimalType => true
      case _ => false
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"type error on $f $op: $msg")
    val mapValued = f.mapPath.nonEmpty
    rhs match {
      case null => if (!eqOps(op)) fail("NULL only supports = / !=")
      case r: FieldRef =>
        val rt = refType(r, s)
        if (!mapValued && !(numeric(lhsType) && numeric(rt)) &&
          lhsType != rt) fail(s"incompatible types $lhsType vs $rt")
      case _: Boolean =>
        if (!eqOps(op)) fail("BOOL only supports = / != (reference F3)")
        if (!mapValued && lhsType != BooleanType)
          fail(s"BOOL literal vs $lhsType")
      case _: String =>
        if (!mapValued && lhsType != StringType &&
          !lhsType.isInstanceOf[TimestampType])
          fail(s"STRING literal vs $lhsType (no implicit coercion)")
      case _: Int | _: Long | _: Double | _: Float =>
        if (stringOps(op)) fail("string op needs string operands")
        if (!mapValued && !numeric(lhsType))
          fail(s"numeric literal vs $lhsType")
      case other => fail(s"unsupported literal ${other.getClass}")
    }
    if (stringOps(op) && !mapValued && lhsType != StringType)
      fail("string op on non-string field")
    if (lhsType == BooleanType && !eqOps(op))
      fail("BOOL only supports = / !=")
  }
}
