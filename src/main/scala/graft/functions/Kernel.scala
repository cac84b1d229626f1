package graft.functions

import java.lang.reflect.{InvocationTargetException, Method, Modifier}

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** One Catalyst node for every hand-written kernel that is a static call:
  * `target.method(args..., params...)`. Interpreted `eval` invokes the
  * static method reflectively; generated code calls it directly
  * (`graft.functions.FusedParse.parseRow(c)`), so a kernel stays inside
  * whole-stage codegen with no reflection in the generated Java.
  *
  * The plan shows `name(args..., params...)` and `sql` shows
  * `name(args...)`, the form the earlier one-class-per-kernel nodes
  * printed, so plan text and auto-generated column names keep the
  * kernel's name. Every field is value-equal (no closures), so equal
  * calls are semantically equal and subexpression elimination shares
  * them.
  *
  * @param target the static-forwarder class of the Scala object
  *               holding `method` (`graft.functions.FusedParse`)
  * @param params constant trailing arguments: `Int` and `Boolean` are
  *               inlined as Java literals, anything else (a broadcast)
  *               is passed as a reference object
  *
  * Kernels whose behaviour depends on an argument's resolved type
  * ([[JsonDocExpr]], [[graft.ann.VecDotExpr]], [[graft.ann.VecCosExpr]])
  * keep their own nodes: a Column builder cannot see that type. */
case class Kernel(
    name: String,
    target: String,
    method: String,
    dataType: DataType,
    children: Seq[Expression],
    params: Seq[Any] = Nil,
    nulls: Kernel.Nulls = Kernel.Nullable) extends Expression {

  override def prettyName: String = name
  override protected def flatArguments: Iterator[Any] = children.iterator ++ params.iterator
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullable: Boolean = nulls match {
    case Kernel.Nullable => true
    case Kernel.ArgNullable => children.exists(_.nullable)
    case Kernel.NotNull => false
  }

  /** The static method whose parameters take the arguments' Java classes
    * followed by the params' classes. */
  @transient private lazy val fn: Method = {
    val want = children.map(c => CodeGenerator.javaClass(c.dataType)) ++ params.map {
      case _: Int => classOf[Int]
      case _: Boolean => classOf[Boolean]
      case p => p.getClass
    }
    Class.forName(target).getMethods.filter(m =>
      m.getName == method && Modifier.isStatic(m.getModifiers) &&
        m.getParameterTypes.toSeq.corresponds(want)(_.isAssignableFrom(_))) match {
      case Array(m) => m
      case ms => throw new IllegalStateException(s"$name: ${ms.length} static methods " +
        s"$target.$method(${want.map(_.getName).mkString(", ")}), expected one")
    }
  }

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length + params.length)
    var i = 0
    while (i < children.length) {
      val v = children(i).eval(input)
      if (v == null && nulls != Kernel.NotNull) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    params.foreach { p => args(i) = p.asInstanceOf[AnyRef]; i += 1 }
    // throw what the kernel threw, as the generated call does
    try fn.invoke(null, args: _*) catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val argCodes = children.map(_.genCode(ctx))
    val types = fn.getParameterTypes
    val argVals =
      if (nulls == Kernel.NotNull) argCodes.map(a => s"${a.isNull} ? null : ${a.value}")
      else argCodes.map(_.value.toString)
    val paramVals = params.zipWithIndex.map {
      case (p @ (_: Int | _: Boolean), _) => p.toString
      case (p, i) => ctx.addReferenceObj(s"${name}Param", p, types(children.length + i).getName)
    }
    val call = s"$target.$method(${(argVals ++ paramVals).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (!nullable) {
      ev.copy(code = code"""
        ${argCodes.map(_.code).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
    } else {
      // a boxed result of a primitive type unboxes; any null result is null
      val assign =
        if (fn.getReturnType.isPrimitive) s"${ev.value} = $call;"
        else if (CodeGenerator.isPrimitiveType(dataType)) {
          val boxed = ctx.freshName("boxed")
          s"""${fn.getReturnType.getName} $boxed = $call;
             |if ($boxed == null) { ${ev.isNull} = true; }
             |else { ${ev.value} = $boxed.${javaType}Value(); }""".stripMargin
        } else s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"
      // evaluate the arguments in order, stopping at the first null
      val body = argCodes.foldRight(s"${ev.isNull} = false;\n$assign") { (a, inner) =>
        s"${a.code}\nif (!${a.isNull}) {\n$inner\n}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Kernel = copy(children = newChildren)
}

object Kernel {
  /** How a kernel treats nulls. */
  sealed trait Nulls extends Serializable
  /** A null argument gives null without a call; a call may return null. */
  case object Nullable extends Nulls
  /** As [[Nullable]], but a call never returns null: the kernel is
    * nullable only when an argument is. */
  case object ArgNullable extends Nulls
  /** Every argument, null or not, goes to the method, which returns a
    * primitive: the kernel is never null. */
  case object NotNull extends Nulls

  /** The Column of `target.method(args..., params...)`, where `target` is
    * a Scala object. */
  def call(name: String, target: AnyRef, method: String, dataType: DataType,
           args: Seq[Column], params: Seq[Any] = Nil, nulls: Nulls = Nullable): Column =
    GraftBridge.column(Kernel(name, target.getClass.getName.stripSuffix("$"), method,
      dataType, args.map(GraftBridge.expression), params, nulls))
}
