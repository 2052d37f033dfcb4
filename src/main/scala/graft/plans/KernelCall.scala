package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, LeafExpression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{DataType, ObjectType}

/** graft's one scalar-function node: a named call of a static kernel.
  *
  * Every scalar function graft adds to Spark (the H3 and WKT surface, the
  * tokenizers, shingles and histograms, the vector math, the in-row
  * models, the Bloom probe) is a plain Scala method on a top-level
  * object, taking and returning Catalyst's internal types (`UTF8String`,
  * `ArrayData`, `InternalRow`, primitives). This node names the call and
  * states its input types; the optimizer's `ReplaceExpressions` swaps it
  * for Spark's own [[StaticInvoke]] of that method, so interpreted `eval`
  * and whole-stage codegen call the same Scala method and no kernel is
  * written twice.
  *
  * What the node keeps, so a call reads like a built-in function:
  *   - the column name and error text: `sql` is `name(children)`, so an
  *     unaliased `cosine_sim(va, vb)` column and a type-mismatch error
  *     both carry the function's name;
  *   - the input types: `ImplicitCastInputTypes` casts castable inputs and
  *     fails a non-castable one at analysis;
  *   - the NULL contract: with `propagateNull` a NULL input gives NULL
  *     without calling the kernel; without it the kernel receives the NULL
  *     (object-typed inputs only). The result is nullable when an input
  *     NULL can propagate or when `returnNullable` (the kernel may return
  *     null).
  *
  * `consts` are trailing kernel arguments fixed at plan time: an `Int` or
  * `Long` becomes a SQL literal, anything else (plane families, word sets,
  * Bloom words, trained models) a [[KernelConst]] that generated code
  * reads from its references array.
  */
case class KernelCall(
    name: String,
    children: Seq[Expression],
    inputTypes: Seq[DataType],
    kernel: Class[_],
    method: String,
    outType: DataType,
    consts: Seq[Expression],
    propagateNull: Boolean,
    returnNullable: Boolean)
    extends RuntimeReplaceable with ImplicitCastInputTypes {

  override def prettyName: String = name

  override lazy val replacement: Expression = StaticInvoke(kernel, outType,
    method, children ++ consts, propagateNull = propagateNull,
    returnNullable = returnNullable)

  override def stringArgs: Iterator[Any] = children.iterator ++ consts.iterator

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KernelCall =
    copy(children = newChildren)
}

object KernelCall {

  /** The column `name(args…)` calling `kernel.method(args…, consts…)`.
    * `kernel` is a top-level Scala object (generated code calls its static
    * forwarder); each arg comes with the type it is cast to. */
  def column(name: String, kernel: AnyRef, method: String, out: DataType,
             args: Seq[(Column, DataType)], consts: Seq[Any] = Nil,
             propagateNull: Boolean = true,
             returnNullable: Boolean = false): Column =
    GraftBridge.column(KernelCall(name,
      args.map { case (c, _) => GraftBridge.expression(c) }, args.map(_._2),
      kernel.getClass, method, out, consts.map(constant), propagateNull,
      returnNullable))

  private def constant(v: Any): Expression = v match {
    case _: Int | _: Long => Literal(v)
    case o: AnyRef => KernelConst(o)
  }
}

/** A kernel's plan-time object argument, handed to the kernel as is. It
  * prints by content, not identity: the class name, and for an array its
  * length and a content hash (`UTF8String[4]{1f2e3d4c}`), so the same plan
  * explains the same way in every JVM. Equality stays by reference, as
  * for an object literal. Not foldable: constant folding would re-wrap
  * the value as a `Literal`, which prints its identity hash. */
case class KernelConst(value: AnyRef) extends LeafExpression {
  override def dataType: DataType = ObjectType(value.getClass)
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kernelConst", value,
      CodeGenerator.javaType(dataType))
    ExprCode.forNonNullValue(JavaCode.global(ref, dataType))
  }

  override def toString: String = value match {
    case a: Array[_] =>
      val elem = a.getClass.getComponentType.getSimpleName
      val hash = java.util.Arrays.deepHashCode(Array[AnyRef](a))
      f"$elem[${a.length}]{$hash%08x}"
    case o => o.getClass.getSimpleName
  }

  override def sql: String = toString
}
