package graft.functions

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.lang.reflect.{InvocationTargetException, Method}

import scala.reflect.ClassTag

import org.apache.commons.text.StringEscapeUtils
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{Block, CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType}
import org.apache.spark.unsafe.Platform

/** A graft scalar kernel declared as data: the public static helper
  * `target.method(args…, consts…)` over data arguments of declared
  * types, with a fixed result type. [[NativeCall]] is its one Catalyst
  * expression; a kernel needs a helper and one of these, no class.
  *
  * @param argTypes per data argument, the types it accepts. They are
  *        matched structurally, nullability aside, and a declared
  *        decimal matches any precision and scale; there is no
  *        implicit cast. The types of one argument share a Java class.
  * @param propagateNull true: a null argument gives a null result and
  *        the helper is not called. false: the null is passed on to the
  *        helper (object-typed arguments only), which decides the result.
  * @param returnNullable the helper may return null (a primitive result
  *        type then comes back boxed).
  */
final case class NativeKernel(
    name: String, target: String, method: String,
    argTypes: Seq[Seq[DataType]], dataType: DataType,
    propagateNull: Boolean = true, returnNullable: Boolean = false) {

  def apply(args: Expression*): NativeCall = NativeCall(this, args, Nil)

  /** A call with trailing constants (Int, Long, Double, Boolean, String,
    * [[NativeCall.ConfFlag]], [[NativeCall.ElementType]] or
    * [[NativeCall.Model]]), passed after the data arguments. */
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

object NativeKernel {
  /** The seven numeric array kinds a vector kernel accepts. */
  val NumericArrays: Seq[DataType] = Seq(DoubleType, FloatType, LongType, IntegerType,
    ShortType, ByteType, DecimalType.SYSTEM_DEFAULT).map(ArrayType(_))
}

/** One static call of a [[NativeKernel]] over `children`, with its
  * constants. Both evaluation paths call the same helper: codegen
  * emits `target.method(args…, consts…)` (the shape of Spark's
  * `StaticInvoke`, with doubles inlined bit-exact and models passed as
  * reference objects), interpreted eval invokes it through one
  * reflected `Method`. Keyed by data only, so two calls of one kernel
  * on the same child with equal constants are `semanticEquals` and
  * share one subexpression. `sql` is `name(children)` and `toString`
  * `name(children, consts)`, like a hand-written expression.
  */
case class NativeCall(kernel: NativeKernel, children: Seq[Expression], consts: Seq[Any])
    extends Expression {

  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean =
    kernel.returnNullable || (kernel.propagateNull && children.exists(_.nullable))
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = kernel.name
  override def toString: String =
    (children ++ consts.filter {
      case _: NativeCall.ConfFlag | _: NativeCall.ElementType => false
      case _ => true
    }).mkString(s"$prettyName(", ", ", ")")

  override def checkInputDataTypes(): TypeCheckResult = {
    def anyDecimal(t: DataType): DataType = t match {
      case _: DecimalType => DecimalType.SYSTEM_DEFAULT
      case ArrayType(e, n) => ArrayType(anyDecimal(e), n)
      case other => other
    }
    if (children.length == kernel.argTypes.length &&
        children.zip(kernel.argTypes).forall { case (c, ts) =>
          ts.exists(t => DataType.equalsStructurally(
            anyDecimal(c.dataType), anyDecimal(t), ignoreNullability = true)) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${kernel.argTypes.map(_.map(_.sql).mkString(" | "))
        .mkString("(", ", ", ")")}, got ${children.map(_.dataType.sql).mkString("(", ", ", ")")}")
  }

  /** The constants as passed: a [[NativeCall.ConfFlag]] is read from the
    * session conf and an [[NativeCall.ElementType]] from its child's
    * type on first use (during planning) and kept from then on; a
    * [[NativeCall.Model]] passes its value. */
  private lazy val args: Seq[Any] = consts.map {
    case NativeCall.ConfFlag(key) => SQLConf.get.getConfString(key).toBoolean
    case NativeCall.ElementType(i) => children(i).dataType.asInstanceOf[ArrayType].elementType
    case m: NativeCall.Model => m.value
    case c => c
  }

  @transient private lazy val helper: Method =
    Class.forName(kernel.target).getMethod(kernel.method,
      kernel.argTypes.map(ts => CodeGenerator.javaClass(ts.head)) ++
        consts.map(NativeCall.constClass): _*)

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
    val constants = consts.zip(args).map {
      case (m: NativeCall.Model, v) =>
        ctx.addReferenceObj("model", v, CodeGenerator.typeName(m.javaClass))
      case (_: NativeCall.ElementType, t) =>
        ctx.addReferenceObj("elementType", t, classOf[DataType].getName)
      case (_, v) => NativeCall.literal(v)
    }
    val call = s"${kernel.target}.${kernel.method}(" + (passed ++ constants).mkString(", ") + ")"
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

  /** The element type of array child `child`, read once the call is
    * analysed and passed as a `DataType`: one declaration serves every
    * element type its argument accepts. */
  final case class ElementType(child: Int)

  /** A model constant: an immutable, serializable `value` of Java type
    * `javaClass` (null allowed), passed to the helper as one object on
    * both paths, so the generated code never depends on its values.
    * Two models are equal when their content is: `fingerprint` (computed
    * once, on the driver, from the serialized value) keys the hash, and
    * `equals` also compares the content, so a fingerprint collision
    * never merges two different models. The value must not be changed
    * once it is wrapped. */
  final class Model private (val value: AnyRef, val javaClass: Class[_], val fingerprint: Long)
      extends Serializable {
    override def hashCode: Int = java.lang.Long.hashCode(fingerprint)
    override def equals(o: Any): Boolean = o match {
      case m: Model => (m eq this) || (m.fingerprint == fingerprint &&
        m.javaClass == javaClass && Model.sameContent(m.value, value))
      case _ => false
    }
    override def toString: String = f"model:${fingerprint >>> 32}%08x"
  }

  object Model {
    def apply[T <: AnyRef](value: T)(implicit tag: ClassTag[T]): Model = {
      val out = new ByteArrayOutputStream
      val os = new ObjectOutputStream(out)
      os.writeObject(value)
      os.close()
      val bytes = out.toByteArray
      new Model(value, tag.runtimeClass,
        XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L))
    }

    /** Deep equality: arrays element by element, case classes field by
      * field, anything else by its own `equals`. */
    private def sameContent(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Array[_], y: Array[_]) => java.util.Objects.deepEquals(x, y)
      case (x: Product, y: Product) => x.getClass == y.getClass &&
        x.productIterator.zip(y.productIterator).forall { case (p, q) => sameContent(p, q) }
      case _ => a == b
    }
  }

  private[functions] def constClass(c: Any): Class[_] = c match {
    case _: Int => java.lang.Integer.TYPE
    case _: Long => java.lang.Long.TYPE
    case _: Double => java.lang.Double.TYPE
    case _: Boolean | _: ConfFlag => java.lang.Boolean.TYPE
    case _: String => classOf[String]
    case _: ElementType => classOf[DataType]
    case m: Model => m.javaClass
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
