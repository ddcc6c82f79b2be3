package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, ObjectType}

/** One Catalyst node for every native per-row function: `name(args)` is the
  * static call `target.method(children..., params...)`.
  *
  * The composable forms (higher-order lambdas, dozens of parallel aggregate
  * columns) are interpreted per element and build very large plans; a native
  * function instead runs the whole per-row computation as one JVM call
  * inside whole-stage codegen. Evaluation and code generation are Spark's
  * own [[StaticInvoke]] (the way Spark writes built-ins such as
  * `luhn_check`), so graft keeps no reflection and no generated-code strings.
  * What this node adds is what plans, optimizer rules and column naming see:
  *
  *  - it prints as `name(args)`, and its SQL text (hence the generated
  *    column name of an unaliased call) is `name(children)`;
  *  - `params` are the call's constants (a shingle width, an image size):
  *    they follow the children in the call but are not children, so they
  *    stay out of the SQL text;
  *  - a null child gives null without calling the method, and the node is
  *    null-intolerant, so `InferFiltersFromConstraints` infers `isnotnull`
  *    over its children;
  *  - `returnNullable` marks a method that may itself return null (the
  *    `try_` functions); otherwise the node is nullable only through its
  *    children.
  *
  * Helpers take Catalyst's physical types (`UTF8String`, `Array[Byte]`,
  * `ArrayData`, `InternalRow`, primitives); a `String` param reaches the
  * method as a `java.lang.String`.
  */
case class NativeCall(
    name: String,
    target: Class[_],
    method: String,
    dataType: DataType,
    children: Seq[Expression],
    params: Seq[Any] = Nil,
    returnNullable: Boolean = false) extends Expression {

  @transient private lazy val call = StaticInvoke(target, dataType, method,
    children ++ params.map {
      case s: String => Literal.create(s, ObjectType(classOf[String]))
      case v => Literal(v)
    },
    propagateNull = true, returnNullable = returnNullable)

  override def nullable: Boolean = call.nullable
  override def nullIntolerant: Boolean = true
  // folds over literal arguments, as Spark's unary/binary expressions do
  override def foldable: Boolean = children.forall(_.foldable)
  // the delegate reuses one argument buffer per instance
  override def stateful: Boolean = true
  override def prettyName: String = name
  override def toString: String = s"$name(${(children ++ params).mkString(", ")})"

  override def eval(input: InternalRow): Any = call.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    call.doGenCode(ctx, ev)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NativeCall = copy(children = newChildren)
}

/** Column face of [[NativeCall]]: `target` is the helper object whose
  * static forwarder `method` the node calls. */
object Native {
  def call(name: String, target: AnyRef, method: String, dataType: DataType,
      params: Seq[Any] = Nil, returnNullable: Boolean = false)(args: Column*): Column =
    ColumnBridge.column(NativeCall(name, target.getClass, method, dataType,
      args.map(ColumnBridge.expression), params, returnNullable))
}
