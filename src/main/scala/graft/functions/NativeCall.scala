package graft.functions

import java.lang.invoke.MethodType
import java.lang.reflect.{InvocationTargetException, Method}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType

/** The one Catalyst binding of every native kernel: `name(children)`
  * evaluates `kernel.method(child values...)`.
  *
  *  - `kernel` is a Scala `object` (called through its static
  *    forwarder, `graft.functions.PngRgb.decode(c)`) or a kernel
  *    instance (the trie, a merge ranker, the shingle bloom, the PCA
  *    projector) that rides the generated class's reference array.
  *    Either way it must be serializable, since it travels with the
  *    plan, and an instance must compare by the inputs it was built
  *    from, so equal frames stay `sameSemantics` for cache and
  *    exchange reuse.
  *  - `inputTypes` are strict: a wrong-typed child is a
  *    DATATYPE_MISMATCH at analysis, never an implicit cast or a
  *    ClassCastException at execution. Column helpers cast where a
  *    kernel accepts any integral input (`ZOrderExprs`, `RgbExprs`).
  *  - Any NULL child gives NULL without calling the kernel; an object
  *    result that comes back null is SQL NULL.
  *
  * The generated code is one direct call inside the enclosing
  * whole-stage codegen stage; interpreted `eval` invokes the same
  * method. Plans render as `name(children)`: the kernel's inputs (a
  * 50k-piece vocabulary, a component matrix) never reach plan text.
  */
case class NativeCall(
    name: String,
    kernel: AnyRef,
    method: String,
    dataType: DataType,
    inputTypes: Seq[DataType],
    children: Seq[Expression])
    extends Expression with ExpectsInputTypes {

  require(kernel.isInstanceOf[java.io.Serializable],
    s"$name: kernel ${kernel.getClass.getName} must be serializable")
  require(inputTypes.length == children.length,
    s"$name: ${inputTypes.length} input types for ${children.length} children")

  @transient private lazy val target: Method =
    NativeCall.resolve(name, kernel, method, dataType, inputTypes)
  target // resolve on the driver, at plan build

  @transient private lazy val returnsPrimitive = target.getReturnType.isPrimitive

  override def nullable: Boolean = !returnsPrimitive || children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = name
  override def toString: String = s"$name(${children.mkString(", ")})"

  override def eval(input: InternalRow): Any = {
    val args = new Array[AnyRef](children.length)
    var i = 0
    while (i < args.length) {
      val v = children(i).eval(input)
      if (v == null) return null
      args(i) = v.asInstanceOf[AnyRef]
      i += 1
    }
    try target.invoke(kernel, args: _*)
    catch { case e: InvocationTargetException => throw e.getCause }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = children.map(_.genCode(ctx))
    val owner = NativeCall.staticOwner(kernel)
      .getOrElse(ctx.addReferenceObj(name, kernel, kernel.getClass.getName))
    val call = s"$owner.$method(${args.map(_.value).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    val result =
      if (returnsPrimitive) s"${ev.value} = $call;"
      else if (CodeGenerator.isPrimitiveType(dataType)) {
        val boxed = ctx.freshName("boxed")
        s"""${CodeGenerator.boxedType(dataType)} $boxed = $call;
           |if ($boxed == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $boxed.${javaType}Value(); }""".stripMargin
      } else
        s"""${ev.value} = $call;
           |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin
    if (nullable) {
      // each child is evaluated only when every child before it is
      // non-null, as Spark's own null-safe binary expressions do
      val body = children.zip(args).foldRight(s"${ev.isNull} = false;\n$result") {
        case ((c, g), inner) => s"${g.code}\n${ctx.nullSafeExec(c.nullable, g.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $body""")
    } else {
      ev.copy(code = code"""
        ${args.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $result""", isNull = FalseLiteral)
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object NativeCall {

  /** `name(args)` as a Column. */
  def column(name: String, kernel: AnyRef, method: String,
      dataType: DataType, inputTypes: Seq[DataType])(args: Column*): Column =
    Bridge.column(NativeCall(name, kernel, method, dataType, inputTypes,
      args.map(Bridge.expression)))

  /** The class holding a Scala `object` kernel's static forwarders;
    * None for a kernel instance. */
  private def staticOwner(kernel: AnyRef): Option[String] = {
    val c = kernel.getClass
    if (c.getName.endsWith("$") && c.getDeclaredFields.exists(_.getName == "MODULE$"))
      Some(c.getName.dropRight(1))
    else None
  }

  /** The one public method `method` of the kernel whose parameters
    * take the input types' Java classes and whose result fits
    * `dataType` (its boxed form too, for a nullable primitive). */
  private def resolve(name: String, kernel: AnyRef, method: String,
      dataType: DataType, inputTypes: Seq[DataType]): Method = {
    val params = inputTypes.map(CodeGenerator.javaClass)
    val out = CodeGenerator.javaClass(dataType)
    val boxedOut = MethodType.methodType(out).wrap().returnType()
    val found = kernel.getClass.getMethods.filter { m =>
      m.getName == method && m.getParameterCount == params.length &&
        m.getParameterTypes.zip(params).forall { case (p, a) => p.isAssignableFrom(a) } &&
        (out.isAssignableFrom(m.getReturnType) ||
          (out.isPrimitive && boxedOut.isAssignableFrom(m.getReturnType)))
    }
    require(found.length == 1,
      s"$name: ${kernel.getClass.getName}.$method takes " +
        s"(${params.map(_.getSimpleName).mkString(", ")}) returning " +
        s"${out.getSimpleName} in ${found.length} overloads, want exactly 1")
    found.head
  }
}
