package graft.ql

import scala.collection.mutable

import graft.core.Ast._

/** Hand-rolled lexer + recursive-descent parser for TundraQL
  * (reference grammar: /root/reference/antlr/TundraQL.g4; the reference
  * generates an ANTLR visitor — apps/tundra_shell.cpp:463-581 — but the
  * language is small enough that a direct parser is simpler and
  * dependency-free).
  */
object TundraQL {

  // ---------------- statement AST ----------------
  sealed trait Statement
  final case class CreateSchemaStmt(label: String,
      fields: Seq[(String, String)]) extends Statement
  final case class CreateEdgeSchemaStmt(name: String,
      fields: Seq[(String, String)]) extends Statement
  final case class CreateNodeStmt(label: String, props: Map[String, Any],
      returnId: Boolean) extends Statement
  sealed trait Selector
  final case class ById(label: String, id: Long) extends Selector
  final case class ByProps(label: String, props: Map[String, Any])
      extends Selector
  final case class CreateEdgeStmt(unique: Boolean, edgeType: String,
      from: Selector, to: Selector, props: Map[String, Any])
      extends Statement
  final case class NodePat(alias: String, label: Option[String])
  /** `range` = variable-length hop `*min..max` (beyond-reference — the
    * reference grammar has no `*` paths, SURVEY §2.3 [ABSENT] row). */
  final case class EdgePat(alias: Option[String], edgeType: String,
      kind: JoinKind, reversed: Boolean,
      range: Option[(Int, Int)] = None,
      /** `-[..]-` (no arrowhead): match the edge in either orientation. */
      undirected: Boolean = false)
  final case class PathPattern(nodes: List[NodePat], edges: List[EdgePat])
  final case class MatchStmt(patterns: List[PathPattern],
      where: Option[WhereExpr], select: List[SelectItem],
      asOf: Option[TemporalSnapshot] = None,
      orderBy: List[OrderKey] = Nil,
      limit: Option[Long] = None,
      distinct: Boolean = false,
      having: List[HavingCond] = Nil,
      offset: Option[Long] = None) extends Statement
  final case class DeleteNodeByIdStmt(label: String, id: Long)
      extends Statement
  final case class DeletePatternStmt(pattern: PathPattern,
      where: Option[WhereExpr]) extends Statement
  final case class DeleteEdgeStmt(edgeType: String, from: Option[Selector],
      to: Option[Selector]) extends Statement
  final case class UpdateByIdStmt(label: String, id: Long,
      sets: Map[String, Any]) extends Statement
  final case class UpdateMatchStmt(patterns: List[PathPattern],
      sets: Map[String, Any], where: Option[WhereExpr]) extends Statement
  case object CommitStmt extends Statement
  final case class ShowEdgesStmt(edgeType: String) extends Statement
  case object ShowEdgeTypesStmt extends Statement
  /** `EXPLAIN MATCH ...` — beyond-reference; returns the optimized +
    * physical Spark plan as a one-column frame. */
  final case class ExplainStmt(m: MatchStmt) extends Statement
  /** `PIPELINE <FAMILY> [<VARIANT>] ON <label> [AGAINST <label>]
    * [QUERY IDS (…)] [WITH (opt = value, …)] [INTO <label>]` —
    * beyond-reference QL surface exposing the training-data pipeline
    * operators (SURVEY §2.10 north star) from the shell, so the whole
    * curation family is reachable like every other operator instead of
    * Scala-API-only. The statements, their option keys and their output
    * grains are the table [[graft.ql.Shell.pipelines]]; an unknown or
    * misspelled key is an error naming the accepted set, never a silent
    * default. QUERY IDS is the bounded literal query set for the ANN
    * and PQ TOPK probes; AGAINST names a second label (DECONTAMINATE's
    * benchmark, DSIR's target). `INTO` attaches the result as a node
    * label so curation stages CHAIN from the shell
    * (spans→remove→dedup→pack); document-grain statements only — the
    * others have no unique node id and are refused before they run. */
  final case class PipelineStmt(family: String, variant: Option[String],
      label: String, options: Map[String, Any],
      queryIds: Seq[Long] = Nil,
      against: Option[String] = None,
      into: Option[String] = None) extends Statement
  /** `MATCH … UNION [ALL] | INTERSECT | EXCEPT MATCH …` — user-level set
    * operations between MATCH results (beyond-reference: the reference has
    * id-set algebra only inside join strategies, SURVEY §2.3). Chains are
    * left-associative; each side's SELECT must produce the same output
    * columns. ORDER BY/LIMIT bind to their own MATCH. */
  final case class SetOpStmt(op: String, all: Boolean, left: Statement,
      right: MatchStmt) extends Statement

  // ---------------- lexer ----------------
  private sealed trait Tok
  private case class Id(s: String) extends Tok
  private case class StrLit(s: String) extends Tok
  private case class IntLit(v: Long) extends Tok
  private case class FloatLit(v: Double) extends Tok
  private case class Sym(s: String) extends Tok

  private def lex(input: String): Vector[Tok] = {
    val toks = Vector.newBuilder[Tok]
    var i = 0
    val n = input.length
    while (i < n) {
      val c = input(i)
      if (c.isWhitespace) i += 1
      else if (c == '/' && i + 1 < n && input(i + 1) == '/') {
        while (i < n && input(i) != '\n') i += 1
      } else if (c == '-' && i + 1 < n && input(i + 1) == '-') {
        // `--` line comment (reference script files use these,
        // SCRIPT_EXECUTION_FEATURE.md); never ambiguous with edge arrows:
        // patterns only ever use single dashes
        while (i < n && input(i) != '\n') i += 1
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < n && (input(i).isLetterOrDigit || input(i) == '_')) i += 1
        toks += Id(input.substring(start, i))
      } else if (c.isDigit) {
        val start = i
        while (i < n && input(i).isDigit) i += 1
        if (i + 1 < n && input(i) == '.' && input(i + 1).isDigit) {
          i += 1
          while (i < n && input(i).isDigit) i += 1
          toks += FloatLit(input.substring(start, i).toDouble)
        } else toks += IntLit(input.substring(start, i).toLong)
      } else if (c == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && input(i) != '"') {
          if (input(i) == '\\' && i + 1 < n) { sb += input(i + 1); i += 2 }
          else { sb += input(i); i += 1 }
        }
        require(i < n, "unterminated string literal")
        i += 1
        toks += StrLit(sb.toString)
      } else {
        val two = if (i + 1 < n) input.substring(i, i + 2) else ""
        if (Set("!=", ">=", "<=", "<-", "->").contains(two)) {
          toks += Sym(two); i += 2
        } else {
          toks += Sym(c.toString); i += 1
        }
      }
    }
    toks.result()
  }

  /** Parse a script (one or more `;`-terminated statements). */
  def parseScript(input: String): List[Statement] = {
    val p = new Parser(lex(input))
    val out = mutable.ListBuffer[Statement]()
    while (!p.atEnd) out += p.statement()
    out.toList
  }

  def parse(input: String): Statement = parseScript(input) match {
    case s :: Nil => s
    case other =>
      throw new IllegalArgumentException(
        s"expected one statement, got ${other.length}")
  }

  // ---------------- parser ----------------
  private final class Parser(toks: Vector[Tok]) {
    private var pos = 0
    def atEnd: Boolean = pos >= toks.length
    private def peek: Tok = toks(pos)
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def expectSym(s: String): Unit = next() match {
      case Sym(`s`) =>
      case other => fail(s"expected '$s', got $other")
    }
    private def expectKw(kw: String): Unit = next() match {
      case Id(`kw`) =>
      case other => fail(s"expected $kw, got $other")
    }
    private def ident(): String = next() match {
      case Id(s) => s
      case other => fail(s"expected identifier, got $other")
    }
    private def isKw(kw: String): Boolean = peek match {
      case Id(`kw`) => true
      case _        => false
    }
    private def eatKw(kw: String): Boolean =
      if (isKw(kw)) { pos += 1; true } else false
    private def eatSym(s: String): Boolean = peek match {
      case Sym(`s`) => pos += 1; true
      case _        => false
    }
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"parse error at token $pos: $msg")

    def statement(): Statement = {
      val st = peek match {
        case Id("CREATE")  => createStatement()
        case Id("MATCH")   => matchStatement()
        case Id("EXPLAIN") =>
          next()
          matchStatement() match {
            case m: MatchStmt => ExplainStmt(m)
            case other => fail(s"EXPLAIN expects MATCH, got $other")
          }
        case Id("DELETE")  => deleteStatement()
        case Id("UPDATE")  => updateStatement()
        case Id("COMMIT")  => next(); CommitStmt
        case Id("SHOW")    => showStatement()
        case Id("PIPELINE") => pipelineStatement()
        case other         => fail(s"unexpected $other")
      }
      // set-operation chain between MATCH statements, left-associative
      var combined = st
      var more = combined.isInstanceOf[MatchStmt]
      while (more) {
        val op =
          if (eatKw("UNION")) Some("union")
          else if (eatKw("INTERSECT")) Some("intersect")
          else if (eatKw("EXCEPT")) Some("except")
          else None
        op match {
          case None => more = false
          case Some(o) =>
            val all = o == "union" && eatKw("ALL")
            matchStatement() match {
              case m: MatchStmt => combined = SetOpStmt(o, all, combined, m)
              case other => fail(s"expected MATCH after $o, got $other")
            }
        }
      }
      expectSym(";")
      combined
    }

    private def createStatement(): Statement = {
      expectKw("CREATE")
      if (eatKw("SCHEMA")) {
        val label = ident()
        expectSym("(")
        val fields = schemaFields()
        expectSym(")")
        CreateSchemaStmt(label, fields)
      } else if (eatKw("UNIQUE")) {
        expectKw("EDGE")
        createEdgeRest(unique = true)
      } else if (eatKw("EDGE")) {
        if (eatKw("SCHEMA")) {
          val name = ident()
          expectSym("(")
          val fields = schemaFields()
          expectSym(")")
          CreateEdgeSchemaStmt(name, fields)
        } else createEdgeRest(unique = false)
      } else if (eatKw("NODE")) {
        val label = ident()
        expectSym("(")
        val props = propertyList()
        expectSym(")")
        val ret = eatKw("RETURN") && { expectKw("id"); true }
        CreateNodeStmt(label, props, ret)
      } else fail("expected SCHEMA/EDGE/NODE/UNIQUE after CREATE")
    }

    private def createEdgeRest(unique: Boolean): Statement = {
      val etype = ident()
      expectKw("FROM")
      val from = nodeSelector()
      expectKw("TO")
      val to = nodeSelector()
      val props =
        if (eatKw("WITH")) {
          expectSym("(")
          val p = propertyList()
          expectSym(")")
          p
        } else Map.empty[String, Any]
      CreateEdgeStmt(unique, etype, from, to, props)
    }

    private def nodeSelector(): Selector =
      if (eatSym("(")) { // (Label{props})
        val label = ident()
        expectSym("{")
        val props = propertyList()
        expectSym("}")
        expectSym(")")
        ByProps(label, props)
      } else {
        val label = ident()
        expectSym("(")
        val id = next() match {
          case IntLit(v) => v
          case other     => fail(s"expected id literal, got $other")
        }
        expectSym(")")
        ById(label, id)
      }

    private def schemaFields(): Seq[(String, String)] = {
      val out = mutable.ListBuffer[(String, String)]()
      do {
        val name = ident()
        expectSym(":")
        out += name -> ident()
      } while (eatSym(","))
      out.toSeq
    }

    private def propertyList(): Map[String, Any] = {
      val out = mutable.LinkedHashMap[String, Any]()
      do {
        val name = ident()
        if (!eatSym("=")) expectSym(":")
        out(name) = value()
      } while (eatSym(","))
      out.toMap
    }

    private def value(): Any = next() match {
      case StrLit(s)   => s
      case IntLit(v)   => v
      case FloatLit(v) => v
      case Sym("{") => // map literal
        val m =
          if (eatSym("}")) Map.empty[String, Any]
          else { val p = propertyList(); expectSym("}"); p }
        m.map { case (k, v) => k -> (if (v == null) null else v.toString) }
      case Sym("-") => next() match { // negative numbers
        case IntLit(v)   => -v
        case FloatLit(v) => -v
        case other       => fail(s"expected number after -, got $other")
      }
      case other => fail(s"expected value, got $other")
    }

    private def matchStatement(): Statement = {
      expectKw("MATCH")
      val pats = patternList()
      // AS OF VALID <ts> [TX <ts>] | AS OF TX <ts> — beyond-reference QL
      // surface for the builder's asOf (the reference grammar has no
      // temporal tokens; SURVEY §2.5 [ABSENT] note says to expose it)
      val asOf =
        if (eatKw("AS")) {
          expectKw("OF")
          var snap = TemporalSnapshot()
          if (eatKw("VALID")) snap = snap.copy(validTime = longLit())
          if (eatKw("TX")) snap = snap.copy(txTime = longLit())
          require(snap != TemporalSnapshot(),
            "AS OF needs VALID <ts> and/or TX <ts>")
          Some(snap)
        } else None
      val where = if (eatKw("WHERE")) Some(expression()) else None
      var distinct = false
      val select =
        if (eatKw("SELECT")) {
          distinct = eatKw("DISTINCT")
          selectClause()
        } else List.empty[SelectItem]
      // HAVING over output names (agg AS names / group keys) —
      // beyond-reference (SURVEY §2 preamble)
      val having =
        if (eatKw("HAVING")) {
          val conds = mutable.ListBuffer[HavingCond]()
          do {
            val name = ident()
            val op = next() match {
              case Sym("=")  => CmpOp.Eq
              case Sym("!=") => CmpOp.NotEq
              case Sym(">")  => CmpOp.Gt
              case Sym(">=") => CmpOp.Gte
              case Sym("<")  => CmpOp.Lt
              case Sym("<=") => CmpOp.Lte
              case other     => fail(s"expected comparison op, got $other")
            }
            conds += HavingCond(name, op, value())
          } while (eatKw("AND"))
          conds.toList
        } else Nil
      // ORDER BY / LIMIT — beyond-reference (SURVEY §2 preamble)
      val orderBy =
        if (eatKw("ORDER")) {
          expectKw("BY")
          val keys = mutable.ListBuffer[OrderKey]()
          do {
            val parts = mutable.ListBuffer(ident())
            while (eatSym(".")) parts += ident()
            val asc = if (eatKw("DESC")) false else { eatKw("ASC"); true }
            keys += OrderKey(parts.mkString("."), asc)
          } while (eatSym(","))
          keys.toList
        } else Nil
      val limit = if (eatKw("LIMIT")) Some(longLit()) else None
      val offset = if (eatKw("OFFSET")) Some(longLit()) else None
      MatchStmt(pats, where, select, asOf, orderBy, limit, distinct,
        having, offset)
    }

    private def longLit(): Long = next() match {
      case IntLit(v) => v
      case other     => fail(s"expected integer literal, got $other")
    }

    private def patternList(): List[PathPattern] = {
      val pats = mutable.ListBuffer(pathPattern())
      while (eatSym(",")) pats += pathPattern()
      pats.toList
    }

    private def pathPattern(): PathPattern = {
      val nodes = mutable.ListBuffer(nodePattern())
      val edges = mutable.ListBuffer[EdgePat]()
      while (peek == Sym("-") || peek == Sym("<-")) {
        edges += edgePattern()
        nodes += nodePattern()
      }
      PathPattern(nodes.toList, edges.toList)
    }

    private def nodePattern(): NodePat = {
      expectSym("(")
      val alias = ident()
      val label = if (eatSym(":")) Some(ident()) else None
      expectSym(")")
      NodePat(alias, label)
    }

    private def edgePattern(): EdgePat = {
      val reversed = peek == Sym("<-")
      if (reversed) { expectSym("<-"); expectSym("[") }
      else { expectSym("-"); expectSym("[") }
      val (alias, etype) =
        if (eatSym(":")) (None, ident())
        else {
          val a = ident()
          expectSym(":")
          (Some(a), ident())
        }
      // var-length range `*min..max` / `*n` (beyond-reference)
      val range =
        if (eatSym("*")) {
          val lo = longLit().toInt
          if (eatSym(".")) { expectSym("."); Some((lo, longLit().toInt)) }
          else Some((lo, lo))
        } else None
      val kind =
        if (eatKw("INNER")) JoinKind.Inner
        else if (eatKw("LEFT")) JoinKind.Left
        else if (eatKw("RIGHT")) JoinKind.Right
        else if (eatKw("FULL")) JoinKind.Full
        else if (eatKw("SEMI")) JoinKind.Semi
        else if (eatKw("ANTI")) JoinKind.Anti
        else JoinKind.Inner
      expectSym("]")
      val undirected =
        if (reversed) { expectSym("-"); false }
        else if (eatSym("->")) false // lexed as one token
        else { expectSym("-"); true } // `-[..]-` = undirected
      EdgePat(alias, etype, kind, reversed, range, undirected)
    }

    private def deleteStatement(): Statement = {
      expectKw("DELETE")
      if (eatKw("EDGE")) {
        val etype = ident()
        val from = if (eatKw("FROM")) Some(nodeSelector()) else None
        val to = if (eatKw("TO")) Some(nodeSelector()) else None
        DeleteEdgeStmt(etype, from, to)
      } else peek match {
        case Sym("(") =>
          val pat = pathPattern()
          val where = if (eatKw("WHERE")) Some(expression()) else None
          DeletePatternStmt(pat, where)
        case Id(_) =>
          val label = ident()
          expectSym("(")
          val id = next() match {
            case IntLit(v) => v
            case other     => fail(s"expected id, got $other")
          }
          expectSym(")")
          DeleteNodeByIdStmt(label, id)
        case other => fail(s"unexpected $other after DELETE")
      }
    }

    private def updateStatement(): Statement = {
      expectKw("UPDATE")
      if (eatKw("MATCH")) {
        val pats = patternList()
        expectKw("SET")
        val sets = setClause()
        val where = if (eatKw("WHERE")) Some(expression()) else None
        UpdateMatchStmt(pats, sets, where)
      } else peek match {
        case Sym("(") =>
          val pat = pathPattern()
          expectKw("SET")
          val sets = setClause()
          val where = if (eatKw("WHERE")) Some(expression()) else None
          UpdateMatchStmt(List(pat), sets, where)
        case Id(_) =>
          val label = ident()
          expectSym("(")
          val id = next() match {
            case IntLit(v) => v
            case other     => fail(s"expected id, got $other")
          }
          expectSym(")")
          expectKw("SET")
          val sets = setClause()
          if (isKw("WHERE")) fail("WHERE not allowed on UPDATE by id")
          UpdateByIdStmt(label, id, sets)
        case other => fail(s"unexpected $other after UPDATE")
      }
    }

    /** `a.b.c = v, x = v2` — keys keep their dotted paths. */
    private def setClause(): Map[String, Any] = {
      val out = mutable.LinkedHashMap[String, Any]()
      do {
        val path = mutable.ListBuffer(ident())
        while (eatSym(".")) path += ident()
        expectSym("=")
        out(path.mkString(".")) = value()
      } while (eatSym(","))
      out.toMap
    }

    /** `PIPELINE FAMILY [VARIANT] ON label [QUERY IDS (…)] [WITH (…)]`.
      * Family/variant are uppercase keywords (QL convention); options
      * reuse the property-list syntax. */
    private def pipelineStatement(): Statement = {
      expectKw("PIPELINE")
      val family = ident()
      val variant = peek match {
        case Id(v) if v != "ON" => next(); Some(v)
        case _                  => None
      }
      expectKw("ON")
      val label = ident()
      val against = if (eatKw("AGAINST")) Some(ident()) else None
      val qids =
        if (eatKw("QUERY")) {
          expectKw("IDS")
          expectSym("(")
          val ids = mutable.ListBuffer(longLit())
          while (eatSym(",")) ids += longLit()
          expectSym(")")
          ids.toSeq
        } else Nil
      val opts =
        if (eatKw("WITH")) {
          expectSym("(")
          val p = propertyList()
          expectSym(")")
          p
        } else Map.empty[String, Any]
      val into = if (eatKw("INTO")) Some(ident()) else None
      PipelineStmt(family, variant, label, opts, qids, against, into)
    }

    private def showStatement(): Statement = {
      expectKw("SHOW")
      if (eatKw("EDGES")) ShowEdgesStmt(ident())
      else if (eatKw("EDGE")) { expectKw("TYPES"); ShowEdgeTypesStmt }
      else fail("expected EDGES or EDGE TYPES after SHOW")
    }

    // WHERE expression, precedence OR < AND < comparison
    // (grammar TundraQL.g4:87-99)
    private def expression(): WhereExpr = {
      var left = andExpression()
      while (eatKw("OR")) left = Or(left, andExpression())
      left
    }
    private def andExpression(): WhereExpr = {
      var left = primaryExpression()
      while (eatKw("AND")) left = And(left, primaryExpression())
      left
    }
    private def primaryExpression(): WhereExpr =
      if (eatSym("(")) {
        val e = expression()
        expectSym(")")
        e
      } else term()

    private def term(): WhereExpr = {
      val lhs = scalarExpr()
      // IN list — beyond-reference sugar, desugared to an OR chain of
      // equality comparisons so strict typing (F3) applies per value
      if (eatKw("IN")) {
        expectSym("(")
        val vals = mutable.ListBuffer[Any](value())
        while (eatSym(",")) vals += value()
        expectSym(")")
        return vals.map[WhereExpr] { v =>
          lhs match {
            case SRef(f) => Comparison(f, CmpOp.Eq, v)
            case e       => ExprComparison(e, CmpOp.Eq, SLit(v))
          }
        }.reduce(Or(_, _))
      }
      // string predicates (F2 — the reference exposes these only through
      // its C++ builder enum, include/query/query.hpp:74-84; its grammar
      // has no tokens for them, so this is beyond-reference QL surface).
      // Strict typing (F3): field vs string literal only.
      val strOp =
        if (eatKw("CONTAINS")) Some(CmpOp.Contains)
        else if (eatKw("STARTS_WITH")) Some(CmpOp.StartsWith)
        else if (eatKw("ENDS_WITH")) Some(CmpOp.EndsWith)
        else None
      strOp.foreach { op =>
        val rhs = value()
        return lhs match {
          case SRef(f) => Comparison(f, op, rhs)
          case _ => fail(s"$op expects a field reference on the left")
        }
      }
      val op = next() match {
        case Sym("=")  => CmpOp.Eq
        case Sym("!=") => CmpOp.NotEq
        case Sym(">")  => CmpOp.Gt
        case Sym(">=") => CmpOp.Gte
        case Sym("<")  => CmpOp.Lt
        case Sym("<=") => CmpOp.Lte
        case other     => fail(s"expected comparison op, got $other")
      }
      val rhs = scalarExpr()
      // plain field-vs-literal / field-vs-field comparisons stay the
      // classic Comparison node so the reference's strict typing (F3)
      // applies unchanged; anything computed is an ExprComparison
      (lhs, rhs) match {
        case (SRef(f), SLit(v)) => Comparison(f, op, v)
        case (SRef(f), SRef(r)) => Comparison(f, op, r)
        case _                  => ExprComparison(lhs, op, rhs)
      }
    }

    private def factorRef(): FieldRef = {
      val parts = mutable.ListBuffer(ident())
      while (eatSym(".")) parts += ident()
      require(parts.length >= 2, s"expected alias.field, got $parts")
      FieldRef(parts.head, parts.tail.toList)
    }

    // ---- scalar expressions (beyond-reference, SURVEY §2.6): function
    // calls + arithmetic with * / % over + - precedence
    private def scalarFactor(): ScalarExpr = peek match {
      case Id("NULL") => next(); SLit(null)
      case Sym("(") =>
        next()
        val e = scalarExpr()
        expectSym(")")
        e
      case Id(_) =>
        val name = ident()
        if (eatSym("(")) {
          val args = mutable.ListBuffer[ScalarExpr]()
          if (!eatSym(")")) {
            args += scalarExpr()
            while (eatSym(",")) args += scalarExpr()
            expectSym(")")
          }
          SFunc(name, args.toList)
        } else {
          val parts = mutable.ListBuffer(name)
          while (eatSym(".")) parts += ident()
          require(parts.length >= 2, s"expected alias.field, got $parts")
          SRef(FieldRef(parts.head, parts.tail.toList))
        }
      case _ => SLit(value())
    }
    private def scalarTerm(): ScalarExpr = {
      var e = scalarFactor()
      while (!atEnd && (peek == Sym("*") || peek == Sym("/") ||
          peek == Sym("%"))) {
        val Sym(op) = next(): @unchecked
        e = SArith(op.head, e, scalarFactor())
      }
      e
    }
    private def scalarExpr(): ScalarExpr = {
      var e = scalarTerm()
      while (!atEnd && (peek == Sym("+") || peek == Sym("-"))) {
        val Sym(op) = next(): @unchecked
        e = SArith(op.head, e, scalarTerm())
      }
      e
    }

    private def selectClause(): List[SelectItem] = {
      val out = mutable.ListBuffer[SelectItem]()
      val aggNamesU = Set("COUNT", "SUM", "AVG", "MIN", "MAX")
      def nextIsSym(s: String) =
        pos + 1 < toks.length && toks(pos + 1) == Sym(s)
      do {
        peek match {
          case Id(name) if aggNamesU(name.toUpperCase) && nextIsSym("(") =>
            // aggregate item (beyond-reference, SURVEY §2 preamble):
            // COUNT(*) | COUNT([DISTINCT] a.f) | SUM/AVG/MIN/MAX(a.f)
            val first = ident(); expectSym("(")
            val distinct = eatKw("DISTINCT")
            val fn = first.toUpperCase match {
              case "COUNT" =>
                if (distinct) AggFn.CountDistinct else AggFn.Count
              case "SUM" => AggFn.Sum
              case "AVG" => AggFn.Avg
              case "MIN" => AggFn.Min
              case "MAX" => AggFn.Max
              case other => fail(s"unknown aggregate function: $other")
            }
            require(!distinct || first.equalsIgnoreCase("COUNT"),
              "DISTINCT only supported in COUNT")
            val ref =
              if (eatSym("*")) {
                require(fn == AggFn.Count, "* only allowed in COUNT(*)")
                None
              } else Some(factorRef())
            expectSym(")")
            val as =
              if (eatKw("AS")) ident()
              else first.toLowerCase +
                ref.map("_" + _.path.mkString("_")).getOrElse("")
            out += SelectAgg(fn, ref, as)
          case Id(name) if !nextIsSym("(") && !nextIsSym(".") =>
            next() // bare alias: expands to all its columns
            out += SelectAlias(name)
          case _ =>
            // field ref, scalar function call, or arithmetic (SURVEY §2.6)
            scalarExpr() match {
              case SRef(r) =>
                val as = if (eatKw("AS")) Some(ident()) else None
                out += SelectField(r, as)
              case computed =>
                expectKw("AS") // computed items need an output name
                out += SelectExpr(computed, ident())
            }
        }
      } while (eatSym(","))
      // Default aggregate names ignore the alias (SUM(a.x) and SUM(b.x)
      // both default to sum_x; two COUNT(*) both to count) — a duplicate
      // output name would surface later as an ambiguous-reference failure
      // in ORDER BY. Reject at parse time with the fix spelled out.
      val aggNames = out.collect { case SelectAgg(_, _, as) => as }
      val dups = aggNames.diff(aggNames.distinct).distinct
      require(dups.isEmpty,
        s"duplicate aggregate output name(s): ${dups.mkString(", ")} — " +
          "use AS to disambiguate (e.g. SUM(a.x) AS sum_a_x)")
      out.toList
    }
  }
}
