package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Cast, ExpectsInputTypes, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.graft.Bridge.{column, expression, AbstractType}
import org.apache.spark.sql.types.{DataType, LongType}

/**
 * One native kernel: a static JVM method over Catalyst values that
 * [[KernelCall]] invokes once per row. Semantics live in the method
 * (graft.text.PortableHash, graft.core.Cell, ...), the single source
 * shared with the DuckDB oracle SQL generators.
 *
 * @param name      pretty/SQL name (plan strings, auto column names)
 * @param method    fully qualified static method, e.g. "graft.core.Cell.encode"
 * @param inputs    Catalyst input types, strict: no implicit casts
 * @param dataType  result type
 * @param consts    (name, JVM class) of the constant arguments that follow
 *                  the inputs: `int` constants are inlined into the
 *                  generated call, every other one rides as a reference object
 * @param jvmInputs JVM parameter classes of the inputs when they differ from
 *                  the Catalyst value classes (cell_encode narrows to `int`)
 * @param check     kernel-shape rule over well-typed constants, run at
 *                  analysis: Some(error) fails the query plan
 */
final case class Kernel(name: String, method: String, inputs: Seq[DataType], dataType: DataType,
    consts: Seq[(String, Class[_])] = Nil, jvmInputs: Seq[Class[_]] = Nil)(
    check: Seq[Any] => Option[String] = _ => None) {
  private val params: Seq[Class[_]] =
    (if (jvmInputs.nonEmpty) jvmInputs else inputs.map(CodeGenerator.javaClass)) ++ consts.map(_._2)

  private[functions] lazy val jvmMethod: java.lang.reflect.Method = {
    val dot = method.lastIndexOf('.')
    Class.forName(method.take(dot)).getMethod(method.drop(dot + 1), params: _*)
  }

  /** The kernel over `args`: its input Columns, then its constants. */
  def apply(args: Any*): Column = {
    val (in, cs) = args.splitAt(inputs.length)
    column(KernelCall(name, in.map {
      case c: Column => expression(c)
      case other => throw new IllegalArgumentException(
        s"$name takes ${inputs.length} Column inputs before its constants, got $other")
    }, cs))
  }

  /** SQL entry: LONG inputs are cast (SQL integer literals arrive as INT);
    * the trailing arguments are the constants, checked at analysis. */
  def fromSql(es: Seq[Expression]): Expression = {
    require(es.length == params.length, s"$name takes ${params.length} arguments, got ${es.length}")
    val (in, cs) = es.splitAt(inputs.length)
    KernelCall(name, in.zip(inputs).map {
      case (e, LongType) => Cast(e, LongType)
      case (e, _) => e
    }, cs.map { case Literal(v, _) => v; case e => e })
  }

  /** Why `cs` cannot parameterize this kernel, if it cannot. */
  private[functions] def constError(cs: Seq[Any]): Option[String] = {
    val typed =
      if (cs.length != consts.length) Some(s"takes ${consts.length} constants, got ${cs.length}")
      else consts.zip(cs).collectFirst {
        case ((n, c), v) if c == classOf[Int] && !v.isInstanceOf[Int] =>
          s"$n must be an integer literal in Int range, got $v"
        case ((n, c), v) if c != classOf[Int] && !c.isInstance(v) =>
          s"$n must be a ${c.getSimpleName}, got $v"
      }
    typed.orElse(check(cs)).map(e => s"$name: $e")
  }

  /** Java text of the call over the inputs' generated values. */
  private[functions] def callCode(ctx: CodegenContext, values: Seq[String], cs: Seq[Any]): String = {
    val in = values.zip(inputs).zip(params).map { case ((v, t), p) =>
      if (p == CodeGenerator.javaClass(t)) v else s"(${p.getName})$v"
    }
    val refs = cs.zip(consts).map {
      case (i: Int, _) => i.toString
      case (v, (n, c)) => ctx.addReferenceObj(n, v, c.getCanonicalName)
    }
    s"$method(${(in ++ refs).mkString(", ")})"
  }

  /** Interpreted call over non-null input values. */
  private[functions] def invoke(values: Seq[Any], cs: Seq[Any]): Any =
    jvmMethod.invoke(null, (values.zip(params).map {
      case (l: java.lang.Long, p) if p == classOf[Int] => Int.box(l.intValue)
      case (v, _) => v.asInstanceOf[AnyRef]
    } ++ cs.map(_.asInstanceOf[AnyRef])): _*)
}

/**
 * A [[Kernel]] (looked up by `name` in [[Kernels]]) applied to
 * `children`, with `consts` its constant arguments: never children,
 * they parameterize the generated call and stay out of auto column
 * names. Whole-stage codegen emits one direct static call per row, e.g.
 * `graft.text.PortableHash.minhashBands(s, 5, 16, 4)`; the interpreted
 * path invokes the same method. Any null input gives a null result.
 * Equality (hence common-subexpression elimination) is keyed on
 * (name, children, constants), array constants by content.
 */
case class KernelCall(name: String, children: Seq[Expression], consts: Seq[Any])
    extends Expression with ExpectsInputTypes {
  @transient private lazy val kernel: Kernel = Kernels.byName(name)

  override def prettyName: String = name
  override def inputTypes: Seq[AbstractType] = kernel.inputs
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes(): TypeCheckResult = {
    val typed = super.checkInputDataTypes()
    if (typed.isFailure) typed
    else kernel.constError(consts).map(TypeCheckResult.TypeCheckFailure)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override def eval(input: InternalRow): Any = {
    val values = children.map(_.eval(input))
    if (values.contains(null)) null else kernel.invoke(values, consts)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val gens = children.map(_.genCode(ctx))
    val assign = s"${ev.value} = ${kernel.callCode(ctx, gens.map(_.value.toString), consts)};"
    val inputs = gens.map(_.code).mkString("\n")
    val declare = s"${CodeGenerator.javaType(dataType)} ${ev.value} = ${CodeGenerator.defaultValue(dataType)};"
    if (nullable) {
      val anyNull = children.zip(gens).collect { case (c, g) if c.nullable => g.isNull }
      ev.copy(code = code"""
        $inputs
        boolean ${ev.isNull} = ${anyNull.mkString(" || ")};
        $declare
        if (!${ev.isNull}) {
          $assign
        }""")
    } else {
      ev.copy(code = code"""
        $inputs
        $declare
        $assign""", isNull = FalseLiteral)
    }
  }

  // plan strings show array constants by shape, not identity hash
  override protected def stringArgs: Iterator[Any] = children.iterator ++ consts.iterator.map {
    case a: Array[_] => a.getClass.getSimpleName.replaceFirst("\\[\\]", s"[${a.length}]")
    case v => v
  }

  private def boxed: Array[AnyRef] = consts.map(_.asInstanceOf[AnyRef]).toArray
  @transient private lazy val hash =
    java.util.Objects.hash(name, children, Int.box(java.util.Arrays.deepHashCode(boxed)))
  override def hashCode(): Int = hash
  override def equals(o: Any): Boolean = o match {
    case k: KernelCall => (this eq k) || name == k.name && children == k.children &&
      java.util.Arrays.deepEquals(boxed, k.boxed)
    case _ => false
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
