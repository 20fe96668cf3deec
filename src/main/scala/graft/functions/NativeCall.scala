package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** The one template behind every native function that is a single
  * static call per row: `owner.compute(children…, constants…)`, where
  * `owner` is the function's Scala object (e.g. [[PolyHash]], whose
  * `apply` builds this node and whose `compute` does the work).
  *
  *  - Analysis: each child must have one of its exact accepted
  *    `inputTypes` (an array's `containsNull` is not compared), else
  *    the call fails with `<Name> expects …, got …`. Nothing is ever
  *    cast implicitly — Spark's bare `StaticInvoke` would only fail at
  *    execution, unable to find `compute` for the argument classes.
  *  - Evaluation and codegen both go through Spark's `StaticInvoke`
  *    with `propagateNull`: a null input yields null without calling
  *    `compute`, and generated code calls `compute` directly, once per
  *    row, inside whole-stage codegen. `returnNullable` is set only
  *    where `compute` itself may return null.
  *  - `constants` are literals appended to the call. A Java object
  *    travels as an `ObjectType` literal ([[NativeCall.obj]]) and must
  *    compare by value (a `java.util` collection, a `String`, an
  *    enum), so calls built separately from equal arguments stay
  *    `semanticEquals` — never a raw `Array`, which compares by
  *    reference.
  *  - A child that accepts several types is followed, after the
  *    constants, by an int literal: the position in its list of the
  *    type it has (the quantizers' `array<float>` = 0,
  *    `array<double>` = 1).
  *  - An `array<bigint>` result is returned by `compute` as a `long[]`
  *    and converted with `UnsafeArrayData.fromPrimitiveArray`, as
  *    Spark's encoders do.
  */
case class NativeCall(
    owner: Class[_],
    dataType: DataType,
    inputTypes: Seq[Seq[DataType]],
    children: Seq[Expression],
    constants: Seq[Literal] = Nil,
    returnNullable: Boolean = false)
    extends Expression {
  require(inputTypes.length == children.length,
    s"${owner.getName}: ${inputTypes.length} input types for " +
      s"${children.length} inputs")

  def name: String = owner.getSimpleName.stripSuffix("$")
  override def prettyName: String = name.toLowerCase(java.util.Locale.ROOT)
  override def nullable: Boolean = returnNullable || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  private def accepts(want: DataType, got: DataType): Boolean =
    (want, got) match {
      case (ArrayType(w, _), ArrayType(g, _)) => w == g
      case _ => want == got
    }

  override def checkInputDataTypes(): TypeCheckResult = {
    def show(ts: Seq[String]) =
      if (ts.length == 1) ts.head else ts.mkString("(", ", ", ")")
    if (children.zip(inputTypes).forall { case (c, ts) =>
        ts.exists(accepts(_, c.dataType)) }) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects " +
        show(inputTypes.map(_.map(_.catalogString).mkString("|"))) +
        s", got ${show(children.map(_.dataType.catalogString))}")
  }

  @transient private lazy val invoke: Expression = {
    val typeIndexes = children.zip(inputTypes).collect {
      case (c, ts) if ts.length > 1 =>
        Literal(ts.indexWhere(accepts(_, c.dataType)))
    }
    def call(t: DataType) = StaticInvoke(owner, t, "compute",
      children ++ constants ++ typeIndexes, returnNullable = returnNullable)
    dataType match {
      case ArrayType(LongType, false) =>
        StaticInvoke(classOf[UnsafeArrayData], dataType,
          "fromPrimitiveArray", Seq(call(ObjectType(classOf[Array[Long]]))),
          returnNullable = false)
      case _ => call(dataType)
    }
  }

  override def eval(input: InternalRow): Any = invoke.eval(input)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = invoke.genCode(ctx)

  override def toString: String =
    prettyName + (children ++ constants).mkString("(", ", ", ")")

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object NativeCall {
  /** A Java object constant, typed by its own class. */
  def obj(value: AnyRef): Literal = Literal(value, ObjectType(value.getClass))
}
