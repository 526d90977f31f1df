package graft.functions

import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.commons.text.StringEscapeUtils
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

/** A graft scalar kernel declared as data: the public static helper
  * `target.method(args…, consts…)` over data arguments of fixed types,
  * with a fixed result type. [[NativeCall]] is its one Catalyst
  * expression; a kernel needs a helper and one of these, no class.
  *
  * @param propagateNull true: a null argument gives a null result and
  *        the helper is not called. false: the null is passed on to the
  *        helper (object-typed arguments only), which decides the result.
  * @param returnNullable the helper may return null (a primitive result
  *        type then comes back boxed).
  */
final case class NativeKernel(
    name: String, target: String, method: String,
    argTypes: Seq[DataType], dataType: DataType,
    propagateNull: Boolean = true, returnNullable: Boolean = false) {

  def apply(args: Expression*): NativeCall = NativeCall(this, args, Nil)

  /** A call with trailing constants (Int, Long, Double, Boolean, String
    * or [[NativeCall.ConfFlag]]), passed after the data arguments. */
  def withConsts(consts: Any*)(args: Expression*): NativeCall = {
    consts.foreach(NativeCall.constClass) // an unsupported constant fails here, on the driver
    NativeCall(this, args, consts)
  }

  /** Session-free Column builders: the Columns resolve in any session,
    * like built-in `functions._`. */
  def col(args: Column*): Column = ColumnBridge.column(apply(args.map(ColumnBridge.expression): _*))
  def colWith(consts: Any*)(args: Column*): Column =
    ColumnBridge.column(withConsts(consts: _*)(args.map(ColumnBridge.expression): _*))
}

/** One static call of a [[NativeKernel]] over `children`, with its
  * constants. Both evaluation paths call the same helper: codegen
  * emits `target.method(args…, consts…)` (the shape of Spark's
  * `StaticInvoke`, with doubles inlined bit-exact), interpreted eval
  * invokes it through one reflected `Method`. Keyed by data only, so
  * two calls of one kernel on the same child are `semanticEquals` and
  * share one subexpression. `sql` is `name(children)` and `toString`
  * `name(children, consts)`, like a hand-written expression.
  *
  * Input types are checked strictly (nullability aside): there is no
  * implicit cast.
  */
case class NativeCall(kernel: NativeKernel, children: Seq[Expression], consts: Seq[Any])
    extends Expression {

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean =
    kernel.returnNullable || (kernel.propagateNull && children.exists(_.nullable))
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override def toString: String =
    (children ++ consts.filterNot(_.isInstanceOf[NativeCall.ConfFlag]))
      .mkString(s"$prettyName(", ", ", ")")

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length == kernel.argTypes.length &&
        children.zip(kernel.argTypes).forall { case (c, t) =>
          DataType.equalsStructurally(c.dataType, t, ignoreNullability = true) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${kernel.argTypes.map(_.sql).mkString("(", ", ", ")")}, " +
        s"got ${children.map(_.dataType.sql).mkString("(", ", ", ")")}")

  /** The constants as passed: a [[NativeCall.ConfFlag]] is read from the
    * session conf on first use (during planning) and kept from then on. */
  private lazy val args: Seq[Any] = consts.map {
    case NativeCall.ConfFlag(key) => SQLConf.get.getConfString(key).toBoolean
    case c => c
  }

  @transient private lazy val helper: Method =
    Class.forName(kernel.target).getMethod(kernel.method,
      kernel.argTypes.map(CodeGenerator.javaClass) ++ args.map(NativeCall.constClass): _*)

  override def eval(input: InternalRow): Any = {
    val values = new Array[AnyRef](children.length + args.length)
    val it = children.iterator
    var i = 0
    while (it.hasNext) {
      val v = it.next().eval(input)
      if (v == null && kernel.propagateNull) return null
      values(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    args.foreach { a => values(i) = a.asInstanceOf[AnyRef]; i += 1 }
    try helper.invoke(null, values: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val argCode = gens.map(_.code).foldLeft(EmptyBlock: Block)(_ + _)
    val passed = gens.zip(children).map { case (g, c) =>
      if (!kernel.propagateNull && c.nullable) s"${g.isNull} ? null : ${g.value}"
      else g.value.toString
    }
    val call = s"${kernel.target}.${kernel.method}(" +
      (passed ++ args.map(NativeCall.literal)).mkString(", ") + ")"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable)
      ev.copy(code = code"""
        $argCode
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    else {
      // nullable here through returnNullable alone when no child is
      // nullable: the null check is then a constant `false`
      val nullTerms =
        if (!kernel.propagateNull) Nil
        else gens.zip(children).collect { case (g, c) if c.nullable => g.isNull.toString }
      val anyNull = if (nullTerms.isEmpty) "false" else nullTerms.mkString(" || ")
      val assign =
        if (!kernel.returnNullable) s"${ev.value} = $call;"
        else if (CodeGenerator.isPrimitiveType(dataType)) {
          val boxed = ctx.freshName("boxed")
          s"""${CodeGenerator.boxedType(dataType)} $boxed = $call;
             |${ev.isNull} = $boxed == null;
             |if (!${ev.isNull}) ${ev.value} = $boxed.${javaType}Value();""".stripMargin
        } else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
      ev.copy(code = code"""
        $argCode
        boolean ${ev.isNull} = $anyNull;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        if (!${ev.isNull}) {
          $assign
        }""")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall = copy(children = newChildren)
}

object NativeCall {
  /** A boolean constant read from the session's SQL conf `key` when the
    * call is first used, not when it is built. */
  final case class ConfFlag(key: String)

  private[functions] def constClass(c: Any): Class[_] = c match {
    case _: Int => java.lang.Integer.TYPE
    case _: Long => java.lang.Long.TYPE
    case _: Double => java.lang.Double.TYPE
    case _: Boolean | _: ConfFlag => java.lang.Boolean.TYPE
    case _: String => classOf[String]
    case other => throw new IllegalArgumentException(
      s"unsupported kernel constant $other (${other.getClass.getName})")
  }

  private def literal(c: Any): String = c match {
    case i: Int => i.toString
    case l: Long => s"${l}L"
    case d: Double =>
      s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(d)}L)"
    case b: Boolean => b.toString
    case s: String => "\"" + StringEscapeUtils.escapeJava(s) + "\""
  }
}
