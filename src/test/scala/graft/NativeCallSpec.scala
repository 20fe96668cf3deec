package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.functions._

/** The 17 single-call native functions share one template
  * ([[NativeCall]]); one table drives the same four checks over all
  * of them:
  *  (a) a wrong-typed input fails at analysis, naming the function;
  *  (b) whole-stage-codegen results equal interpreted `eval` on fixed
  *      rows (null, empty, non-BMP text);
  *  (c) calls built separately from equal inputs and constants are
  *      `semanticEquals`;
  *  (d) the projection runs inside WholeStageCodegen, as one direct
  *      `<Owner>.compute(` call.
  */
class NativeCallSpec extends SparkSpec {

  private case class Case(
      name: String,
      inputs: Seq[DataType],
      rows: Seq[Seq[Any]],
      build: Seq[Expression] => Expression)

  private val texts: Seq[Seq[Any]] = Seq(
    null, "", "   ", "the quick brown fox the quick brown fox",
    "𝄞 astral 𝔘𝔫𝔦 the\n- bullet...\n\nsame line\nsame line…",
    "Ünïcødé é &amp;lt; &#x1F600; &#65; tab\tand\r\nCRLF #",
    "3\r\nabc\r\n0\r\n\r\n").map(Seq(_))

  private def text(name: String)(f: Expression => Expression) =
    Case(name, Seq(StringType), texts, in => f(in.head))

  private val floats: Seq[Seq[Any]] = Seq(null, Seq(),
    Seq(1.5f, null, -2.5f), Seq(0f, 0f), Seq(127f, -0.4f)).map(Seq(_))

  private val cases: Seq[Case] = Seq(
    text("PolyHash")(PolyHash(_)),
    text("TextStats")(TextStats(_, Seq("the", "fox", "𝄞"))),
    text("UnicodeNormalize")(UnicodeNormalize(_, "NFC")),
    text("GramTopStats")(GramTopStats(_, Seq(2, 3))),
    text("GopherStats")(GopherStats(_, Seq("the", "fox", "the"))),
    text("LineRepStats")(LineRepStats(_)),
    text("HtmlEntityDecode")(HtmlEntityDecode(_)),
    text("DupGramCoverage")(DupGramCoverage(_, Seq(2, 4))),
    Case("MinHashSig", Seq(ArrayType(LongType)),
      Seq(null, Seq(), Seq(3L, -9L, 42L), Seq(Long.MinValue)).map(Seq(_)),
      in => MinHashSig(in.head, 8)),
    text("SimHash64")(SimHash64(_)),
    Case("QuantScale", Seq(ArrayType(FloatType)), floats,
      in => QuantScale(in.head)),
    Case("QuantVec", Seq(ArrayType(DoubleType)), Seq(null, Seq(),
      Seq(1.5, null, -2.5), Seq(0.0, 0.0), Seq(127.0, -0.4)).map(Seq(_)),
      in => QuantVec(in.head)),
    Case("RobotsAllowed", Seq(StringType, StringType), Seq(
      Seq(null, "/x"), Seq("", ""),
      Seq("User-agent: *\nDisallow: /private", "/private/a"),
      Seq("User-agent: GraftBot\nAllow: /𝄞\nDisallow: /", "/𝄞x")),
      in => RobotsAllowed(in(0), in(1), "GraftBot")),
    text("LangIdNgram")(LangIdNgram(_,
      Seq("en" -> Seq("the", "he ", " qu"), "xx" -> Seq("𝄞 a", "fox")))),
    text("CharNgrams")(CharNgrams(_, 3)),
    text("HttpDechunk")(HttpDechunk(_)),
    Case("CharsetDecode", Seq(BinaryType, StringType), Seq(
      Seq(null, "utf-8"), Seq("日本".getBytes("euc-jp"), "EUC-JP"),
      Seq(Array.emptyByteArray, "utf-8"), Seq("abc".getBytes, "nope-cs"),
      Seq(Array(0x80.toByte), "shift_jis"), Seq("abc".getBytes, null),
      Seq("𝄞".getBytes("UTF-8"), "utf8")),
      in => CharsetDecode(in(0), in(1))))

  private def frame(c: Case) = spark.createDataFrame(
    spark.sparkContext.parallelize(c.rows.zipWithIndex.map {
      case (r, i) => Row.fromSeq(i +: r) }, 1),
    StructType(StructField("id", IntegerType) +: c.inputs.zipWithIndex.map {
      case (t, i) => StructField(s"c$i", t) }))

  private def call(c: Case) =
    ColumnBridge.column(c.build(c.inputs.indices.map(i =>
      ColumnBridge.expression(col(s"c$i"))))).as("r")

  test("the table covers all 17 single-call functions") {
    assert(cases.map(_.name).distinct.size === 17)
  }

  cases.foreach { c =>
    test(s"${c.name}: a wrong-typed input fails at analysis") {
      val ints = spark.range(1).selectExpr(
        c.inputs.indices.map(i => s"cast(id as int) as c$i"): _*)
      val e = intercept[AnalysisException](ints.select(call(c)))
      assert(e.getMessage.contains(s"${c.name} expects"), e.getMessage)
    }

    test(s"${c.name}: codegen equals interpreted eval, inside " +
        "WholeStageCodegen as one direct compute call") {
      val df = frame(c).select(col("id"), call(c))
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case p: ProjectExec => p } }.flatten.nonEmpty,
        plan.treeString)
      assert(codegenString(plan).contains(s"graft.functions.${c.name}.compute("))
      val got = df.collect().map(r => r.getInt(0) -> r.get(1)).toMap
      c.rows.zipWithIndex.foreach { case (r, i) =>
        val e = c.build(r.zip(c.inputs).map { case (v, t) => Literal.create(v, t) })
        val want = CatalystTypeConverters.convertToScala(e.eval(null), e.dataType)
        assert(got(i) === want, s"row $i: $r")
      }
    }

    test(s"${c.name}: separately built equal calls are semanticEquals") {
      val attrs = c.inputs.zipWithIndex.map { case (t, i) =>
        AttributeReference(s"c$i", t)() }
      val (a, b) = (c.build(attrs), c.build(attrs))
      assert(a ne b)
      assert(a.semanticEquals(b) && a.semanticHash() === b.semanticHash())
    }
  }

  test("different constants make different calls") {
    val x = AttributeReference("x", ArrayType(LongType))()
    assert(!MinHashSig(x, 4).semanticEquals(MinHashSig(x, 5)))
    val t = AttributeReference("t", StringType)()
    assert(!GopherStats(t, Seq("a", "a")).semanticEquals(GopherStats(t, Seq("a"))))
  }

  test("CharsetDecode's name lookup never grows with unknown names and " +
      "agrees with Charset.forName on every name it holds") {
    val size = CharsetDecode.byName.size
    (0 until 10000).foreach { i =>
      assert(CharsetDecode.decodeOrNull("abc".getBytes, s"x-bogus-$i") === null)
    }
    assert(CharsetDecode.byName.size === size)
    CharsetDecode.byName.forEach { (name, cs) =>
      assert(java.nio.charset.Charset.forName(name) === cs, name)
    }
    // case-insensitive like forName; a non-ASCII look-alike is no name
    assert(CharsetDecode.decodeOrNull("é".getBytes("ISO-8859-1"), "Latin1")
      .toString === "é")
    assert(CharsetDecode.decodeOrNull("abc".getBytes, "\u212Aoi8-r") === null)
  }
}
