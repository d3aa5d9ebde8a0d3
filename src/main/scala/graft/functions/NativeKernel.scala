package graft.functions

import java.lang.reflect.Method

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** A row kernel as a Catalyst expression: per row, one call of the static
  * JVM method `owner.method(child values..., consts...)` — the same call in
  * generated code and in interpreted eval. Every codegen'd row kernel of
  * the engine (signatures, ANN, sorted intersection, dot products, Bloom
  * membership, text normalization, the flagship's verify cascade) is an
  * instance of this one class; each kernel's single Column constructor
  * names it. (The [[BucketPairs]] generator is not a row kernel and keeps
  * its own class.)
  *
  *  - Display: `name` is the node name, so plans and unaliased column names
  *    read `name.toLowerCase(children...)`, as for a class of that name.
  *  - Types: every child must have EXACTLY its `inputTypes` entry, except
  *    that an array matches on its element type alone and a struct on its
  *    fields' data types alone (parquet marks never-null arrays
  *    containsNull=true and every field it reads back nullable). No cast
  *    is ever inserted: a kernel reads primitive elements straight out of
  *    `ArrayData`, so an array<int> read as longs would be silent garbage,
  *    and a wrong type must fail analysis with the expected types in the
  *    message. That is why this is not Spark's `StaticInvoke`: its
  *    `InvokeLike` mixes in `ImplicitCastInputTypes`, which turns a
  *    wrong-typed call into a cast.
  *  - Nulls: the result is null iff some child is null; the kernel never
  *    sees a null argument. A struct argument built by `struct(...)` is
  *    never null, but its fields may be: such a kernel reads each field
  *    with `isNullAt` and decides what a null field means itself.
  *  - Constants: Int, Long, Boolean and Double constants are inlined as
  *    Java literals; arrays (seeds, models, key sets) travel as codegen
  *    reference objects and compare by reference in expression equality,
  *    so build a model once per plan.
  */
case class NativeKernel(
    name: String,
    owner: String,
    method: String,
    children: Seq[Expression],
    inputTypes: Seq[DataType],
    dataType: DataType,
    consts: Seq[Any]) extends Expression {

  override def nodeName: String = name

  override protected def stringArgs: Iterator[Any] = children.iterator ++ consts.iterator

  override def nullable: Boolean = children.exists(_.nullable)

  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    def matches(got: DataType, want: DataType): Boolean = (got, want) match {
      case (ArrayType(g, _), ArrayType(w, _)) => g == w
      case (StructType(g), StructType(w)) => g.length == w.length &&
        g.zip(w).forall { case (x, y) => matches(x.dataType, y.dataType) }
      case _ => got == want
    }
    if (children.length == inputTypes.length &&
        children.zip(inputTypes).forall { case (c, t) => matches(c.dataType, t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${inputTypes.map(_.simpleString).mkString(", ")}, got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  @transient private lazy val target: Method = {
    val constTypes = consts.map {
      case _: Int => java.lang.Integer.TYPE
      case _: Long => java.lang.Long.TYPE
      case _: Boolean => java.lang.Boolean.TYPE
      case _: Double => java.lang.Double.TYPE
      case a: AnyRef => a.getClass
    }
    Class.forName(owner, true, getClass.getClassLoader)
      .getMethod(method, inputTypes.map(CodeGenerator.javaClass) ++ constTypes: _*)
  }

  override def eval(input: InternalRow): Any = {
    val args = children.map(_.eval(input))
    if (args.contains(null)) null
    else target.invoke(null, (args ++ consts).map(_.asInstanceOf[AnyRef]): _*)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val constArgs = consts.map {
      case a: AnyRef if a.getClass.isArray =>
        ctx.addReferenceObj(s"${method}Const", a, a.getClass.getCanonicalName)
      case v => Literal(v).genCode(ctx).value.toString
    }
    val call = s"$owner.$method(${(evals.map(_.value.toString) ++ constArgs).mkString(", ")})"
    val javaType = CodeGenerator.javaType(dataType)
    if (nullable) {
      val guarded = evals.zip(children).foldRight(s"${ev.isNull} = false;\n${ev.value} = $call;") {
        case ((e, c), inner) => s"${e.code}\n${ctx.nullSafeExec(c.nullable, e.isNull)(inner)}"
      }
      ev.copy(code = code"""
        boolean ${ev.isNull} = true;
        $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
        $guarded""")
    } else ev.copy(code = code"""
        ${evals.map(_.code.toString).mkString("\n")}
        $javaType ${ev.value} = $call;""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}

object NativeKernel {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Array types of kernel inputs and outputs (outputs never hold nulls;
    * inputs match on the element type alone).
    */
  val Ints: DataType = ArrayType(IntegerType, containsNull = false)
  val Longs: DataType = ArrayType(LongType, containsNull = false)
  val Floats: DataType = ArrayType(FloatType, containsNull = false)
  val Doubles: DataType = ArrayType(DoubleType, containsNull = false)
  val Strings: DataType = ArrayType(StringType, containsNull = false)

  /** The Column calling the static `owner.method` (a top-level Scala
    * object's method, reached through its static forwarder) on `args`,
    * each paired with its exact input type, then on `consts`; it returns
    * `out` and is displayed as `name`.
    */
  def call(name: String, owner: AnyRef, method: String, out: DataType,
           args: (Column, DataType)*)(consts: Any*): Column =
    column(NativeKernel(name, owner.getClass.getName.stripSuffix("$"), method,
      args.map(a => expression(a._1)), args.map(_._2), out, consts))
}
