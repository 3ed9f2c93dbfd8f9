package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/**
 * Native Catalyst vector expressions for the similarity-search hot path.
 * The zip_with/aggregate HOF formulations evaluate an interpreted lambda per
 * element — at 64 dims × millions of candidate pairs that dominates ANN and
 * near-dup queries. These run the inner loop compiled, accept float or
 * double arrays, and compute in double.
 */
object VectorExpressions {

  private def toDoubles(a: ArrayData, elemType: DataType): Array[Double] =
    elemType match {
      case FloatType => a.toFloatArray().map(_.toDouble)
      case DoubleType => a.toDoubleArray()
      case t => throw new IllegalArgumentException(s"unsupported element type $t")
    }

  private def requireSameLength(a: Array[Double], b: Array[Double], op: String): Unit =
    if (a.length != b.length) throw new IllegalArgumentException(
      s"$op: mismatched vector lengths ${a.length} vs ${b.length}")

  def cosineEval(a: Array[Double], b: Array[Double]): Double = {
    requireSameLength(a, b, "vec_cosine")
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dotEval(a: Array[Double], b: Array[Double]): Double = {
    requireSameLength(a, b, "vec_dot")
    var dot = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    dot
  }

  def hyperplaneEval(v: Array[Double], planes: Array[Array[Double]]): Long = {
    var bits = 0L; var p = 0
    while (p < planes.length) {
      if (dotEval(v, planes(p)) > 0.0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** Element getter for generated code (float arrays widen to double). */
  private def genGet(arr: String, et: DataType, i: String): String = et match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case t => throw new IllegalArgumentException(s"unsupported element type $t")
  }

  case class VecCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_cosine"
    override def nullSafeEval(a: Any, b: Any): Any =
      VectorExpressions.cosineEval(
        toDoubles(a.asInstanceOf[ArrayData], elemType(left)),
        toDoubles(b.asInstanceOf[ArrayData], elemType(right)))
    // generated: fused dot/norm loop straight off ArrayData — no per-row
    // toDoubleArray allocations, stays inside whole-stage codegen
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "vec_cosine: mismatched vector lengths " + $n + " vs " + $b.numElements());
           |}
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  final double $x = ${genGet(a, elemType(left), i)};
           |  final double $y = ${genGet(b, elemType(right), i)};
           |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |}
           |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
           |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecCosine =
      copy(left = l, right = r)
  }

  case class VecSquaredL2(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "vec_squared_l2"
    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = toDoubles(a.asInstanceOf[ArrayData], elemType(left))
      val y = toDoubles(b.asInstanceOf[ArrayData], elemType(right))
      requireSameLength(x, y, "vec_squared_l2")
      var d = 0.0; var i = 0
      while (i < x.length) { val t = x(i) - y(i); d += t * t; i += 1 }
      d
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val d = ctx.freshName("d"); val t = ctx.freshName("t")
        s"""
           |final int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  throw new IllegalArgumentException(
           |    "vec_squared_l2: mismatched vector lengths " + $n + " vs " + $b.numElements());
           |}
           |double $d = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  final double $t = ${genGet(a, elemType(left), i)} - ${genGet(b, elemType(right), i)};
           |  $d += $t * $t;
           |}
           |${ev.value} = $d;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSquaredL2 =
      copy(left = l, right = r)
  }

  case class HyperplaneHash(child: Expression, planes: Array[Array[Double]])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "hyperplane_hash"
    override def nullSafeEval(v: Any): Any =
      VectorExpressions.hyperplaneEval(
        toDoubles(v.asInstanceOf[ArrayData], elemType(child)), planes)
    override protected def withNewChildInternal(c: Expression): HyperplaneHash =
      copy(child = c)
  }

  /** Truncate to `len` and L2-renormalize iff shortened, zero-vector → ones —
    * the index-transformation kernel as a Catalyst expression
    * (exm/IndexTransformation.java:117–120; Kernels.truncateRenorm parity is
    * pinned in FunctionsSqlSpec). */
  case class TruncateRenorm(child: Expression, len: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "truncate_renorm"
    override def nullSafeEval(v: Any): Any = {
      val x = toDoubles(v.asInstanceOf[ArrayData], elemType(child))
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        graft.kernels.Kernels.truncateRenorm(x, len))
    }
    override protected def withNewChildInternal(c: Expression): TruncateRenorm =
      copy(child = c)
  }

  def vec_cosine(a: Column, b: Column): Column =
    GraftBridge.column(VecCosine(GraftBridge.expression(a), GraftBridge.expression(b)))
  def vec_squared_l2(a: Column, b: Column): Column =
    GraftBridge.column(VecSquaredL2(GraftBridge.expression(a), GraftBridge.expression(b)))
  def hyperplane_hash(v: Column, planes: Array[Array[Double]]): Column =
    GraftBridge.column(HyperplaneHash(GraftBridge.expression(v), planes))
  def truncate_renorm(v: Column, len: Int): Column =
    GraftBridge.column(TruncateRenorm(GraftBridge.expression(v), len))

  private def intArg(e: Expression, name: String): Int = {
    require(e.foldable, s"$name: argument must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  /** The vector expressions + bounded_top_k as SQL functions, (name,
    * builder) pairs read by [[registerAll]] and [[GraftExtensions]]. An
    * AggregateFunction returned from a builder is wrapped into an
    * AggregateExpression by the analyzer. */
  private[functions] val sqlFunctions: Seq[(String, FunctionBuilder)] = Seq(
    ("vec_cosine", e => VecCosine(e.head, e(1))),
    ("vec_squared_l2", e => VecSquaredL2(e.head, e(1))),
    ("truncate_renorm", e => TruncateRenorm(e.head, intArg(e(1), "truncate_renorm(len)"))),
    // hyperplane_hash(vec, dim, bits, seed): seeded-deterministic planes
    // minted at resolution time — same construction as Similarity.hyperplaneHash
    ("hyperplane_hash", { e =>
      val dim = intArg(e(1), "hyperplane_hash(dim)")
      val bits = intArg(e(2), "hyperplane_hash(bits)")
      require(e(3).foldable, "hyperplane_hash(seed): argument must be a literal")
      val rnd = new java.util.Random(e(3).eval().asInstanceOf[Number].longValue())
      HyperplaneHash(e.head, Array.fill(bits, dim)(rnd.nextGaussian()))
    }),
    // bounded_top_k(score, id, payload, k, ascending) → array<struct> of the
    // k best (score, id) per group
    ("bounded_top_k", { e =>
      require(e(4).foldable, "bounded_top_k(ascending): argument must be a literal")
      BoundedTopK(e.head, e(1), e(2), intArg(e(3), "bounded_top_k(k)"),
        e(4).eval().asInstanceOf[Boolean])
    }),
    // element-wise vector aggregates
    ("vec_sum", e => VecSumAgg(e.head, mean = false)),
    ("vec_mean", e => VecSumAgg(e.head, mean = true)))

  /** Register [[sqlFunctions]] for SQL use in `spark`. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
