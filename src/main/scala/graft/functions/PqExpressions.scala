package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Native Catalyst expressions for PQ code-table scans (T2/T3/T4/T6,
 * ds/PQ.java:303–317 ADC, :334–374 SDC; ds/IVFPQ.java:464–497 pair distance).
 *
 * The round-1 formulation embedded the LUT as nested array literals and
 * summed with an interpreted `aggregate(sequence(...))` HOF — at the
 * reference config (k_c=8192, m=64, k_s=256, exm/YFCC100MExample.java:86–90)
 * that plan is ~134M literal nodes and never compiles. Here the LUTs live in
 * a Spark broadcast (shipped once per executor, not per task, and never in
 * the plan tree), keyed by the row's `list_id`; the distance is a compiled
 * m-step loop. At query time a reference-scale engine LUTs only the probed
 * lists (w ≈ k_c/10), which is exactly the map this expression carries.
 */
object PqExpressions {

  /** Broadcast map keyed by list_id → direct-index array (null = un-probed).
    * Built ONCE per generated-class instance / per interpreted expression on
    * the executor — the per-row path is plain array indexing. */
  private def byListId[T <: AnyRef: scala.reflect.ClassTag](m: Map[Int, T],
                                                            what: String): Array[T] = {
    require(m.nonEmpty, s"$what: empty LUT map")
    val table = new Array[T](m.keys.max + 1)
    m.foreach { case (li, v) =>
      require(li >= 0, s"$what: negative list_id $li")
      table(li) = v
    }
    table
  }

  def buildLutTable(luts: Broadcast[Map[Int, Array[Array[Double]]]])
      : Array[Array[Array[Double]]] = byListId(luts.value, "adc_distance")

  def lutMissing(listId: Int): Nothing = lutMissing("adc_distance", listId)

  private def lutMissing(what: String, listId: Int): Nothing = throw new IllegalArgumentException(
    s"$what: no LUT for list_id=$listId (un-probed list reached the scan)")

  /** `table(li)`, failing loudly when list `li` has no entry. */
  private def entry[T <: AnyRef](table: Array[T], li: Int, what: String): T =
    if (li >= 0 && li < table.length && table(li) != null) table(li) else lutMissing(what, li)

  /** Σ_j lut[j][code_j], j = 0…m−1 in order (ds/PQ.java:303–317). */
  private def adcSum(code: ArrayData, lut: Array[Array[Double]], what: String): Double = {
    val m = lut.length
    require(code.numElements() == m,
      s"$what: code has ${code.numElements()} sub-codes, LUT has $m")
    var d = 0.0; var j = 0
    while (j < m) { d += lut(j)(code.getInt(j)); j += 1 }
    d
  }

  /**
   * Σ_j LUT[list_id][j][code_j] — ADC distance of the broadcast query LUTs
   * against a stored PQ code. `luts` maps list_id → (m × k_s) table; for
   * non-IVF (single global LUT) or SDC (LUT rows = sdcTable[j][queryCode_j])
   * pass a single-entry map and a literal list id.
   */
  case class AdcDistance(
      left: Expression, // pq_code: array<int>
      right: Expression, // list_id: int
      luts: Broadcast[Map[Int, Array[Array[Double]]]])
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "adc_distance"

    @transient private lazy val lutTable: Array[Array[Array[Double]]] =
      buildLutTable(luts)

    override def nullSafeEval(codeAny: Any, listAny: Any): Any =
      adcSum(codeAny.asInstanceOf[ArrayData],
        entry(lutTable, listAny.asInstanceOf[Int], "adc_distance"), "adc_distance")

    // generated: the broadcast resolves in the class init (once per task,
    // executor-side), the per-row path is two array indexes + an m-step loop —
    // the IVFPQ scan stays inside whole-stage codegen (ds/PQ.java:303-317's
    // tight loop, compiled)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("adcLuts", luts,
        classOf[Broadcast[Map[Int, Array[Array[Double]]]]].getName)
      val table = ctx.addMutableState("double[][][]", "adcLutTable",
        v => s"$v = graft.functions.PqExpressions.buildLutTable($bcRef);")
      nullSafeCodeGen(ctx, ev, (code, li) => {
        val lut = ctx.freshName("lut"); val j = ctx.freshName("j")
        val d = ctx.freshName("d"); val m = ctx.freshName("m")
        s"""
           |if ($li < 0 || $li >= $table.length || $table[$li] == null) {
           |  graft.functions.PqExpressions.lutMissing($li);
           |}
           |final double[][] $lut = $table[$li];
           |final int $m = $lut.length;
           |if ($code.numElements() != $m) {
           |  throw new IllegalArgumentException("adc_distance: code has " +
           |    $code.numElements() + " sub-codes, LUT has " + $m);
           |}
           |double $d = 0.0;
           |for (int $j = 0; $j < $m; $j++) {
           |  $d += $lut[$j][$code.getInt($j)];
           |}
           |${ev.value} = $d;
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcDistance =
      copy(left = l, right = r)
  }

  def adc_distance(code: Column, listId: Column,
                   luts: Broadcast[Map[Int, Array[Array[Double]]]]): Column =
    GraftBridge.column(AdcDistance(
      GraftBridge.expression(code), GraftBridge.expression(listId), luts))

  /** The queries probing one inverted list: their ids and their (m × k_s)
    * ADC tables against that list, index-aligned. */
  final case class ProbeList(queryIds: Array[Long], luts: Array[Array[Array[Double]]])

  /**
   * IVFADC batch scan (ds/IVFPQ.java:408–450 for a query set): a stored row's
   * (pq_code, list_id) → one (query_id, adc_dist) per query that probes the
   * row's list. `probes` maps list_id → [[ProbeList]], so the probe table
   * rides in the same broadcast as the LUTs and the scan needs no join; a
   * row of an un-probed list fails loudly (the caller's IN filter keeps
   * them out). `inline` expands the result into rows.
   */
  case class AdcProbe(
      left: Expression, // pq_code: array<int>
      right: Expression, // list_id: int
      probes: Broadcast[Map[Int, ProbeList]])
      extends BinaryExpression with CodegenFallback {

    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("adc_dist", DoubleType, nullable = false))), containsNull = false)
    override def prettyName: String = "adc_probe"

    @transient private lazy val table: Array[ProbeList] =
      byListId(probes.value, "adc_probe")

    override def nullSafeEval(codeAny: Any, listAny: Any): Any = {
      val code = codeAny.asInstanceOf[ArrayData]
      val p = entry(table, listAny.asInstanceOf[Int], "adc_probe")
      val out = new Array[Any](p.queryIds.length)
      var q = 0
      while (q < out.length) {
        out(q) = new GenericInternalRow(
          Array[Any](p.queryIds(q), adcSum(code, p.luts(q), "adc_probe")))
        q += 1
      }
      new GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): AdcProbe =
      copy(left = l, right = r)
  }

  def adc_probe(code: Column, listId: Column,
                probes: Broadcast[Map[Int, ProbeList]]): Column =
    GraftBridge.column(AdcProbe(
      GraftBridge.expression(code), GraftBridge.expression(listId), probes))

  /** Scalar kernel for [[IvfPqEncode]]: array data → [[graft.model.IvfPq]]
    * encode → struct. Called from interpreted eval AND generated code. */
  def ivfPqEncodeEval(codec: graft.model.IvfPq, vec: ArrayData,
                      isFloat: Boolean): InternalRow = {
    val d = vec.numElements()
    val v = new Array[Double](d)
    if (isFloat) { var i = 0; while (i < d) { v(i) = vec.getFloat(i); i += 1 } }
    else { var i = 0; while (i < d) { v(i) = vec.getDouble(i); i += 1 } }
    val (li, code) = codec.encode(v)
    new GenericInternalRow(Array[Any](li, new GenericArrayData(code)))
  }

  /**
   * IVFADC index-build expression (ds/IVFPQ.java:100–117): vector →
   * struct(list_id, pq_code) in ONE compiled pass — the coarse scan is not
   * repeated for the residual the way separate list-assignment and encode
   * projections could be. The codec (coarse centroids + PQ model + transform)
   * rides in one broadcast (O(1) plan nodes at the reference k_c=8192 /
   * m=64 / k_s=256).
   */
  case class IvfPqEncode(child: Expression, codec: Broadcast[graft.model.IvfPq])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("list_id", IntegerType, nullable = false),
      StructField("pq_code", ArrayType(IntegerType, containsNull = false),
        nullable = false)))
    override def prettyName: String = "ivf_pq_encode"

    @transient private lazy val model: graft.model.IvfPq = codec.value
    @transient private lazy val isFloat: Boolean =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def nullSafeEval(v: Any): Any =
      ivfPqEncodeEval(model, v.asInstanceOf[ArrayData], isFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cRef = ctx.addReferenceObj("ivfPqBc", codec,
        classOf[Broadcast[graft.model.IvfPq]].getName)
      val mdl = ctx.addMutableState("graft.model.IvfPq", "ivfPq",
        v => s"$v = (graft.model.IvfPq) $cRef.value();")
      val fl = child.dataType.asInstanceOf[ArrayType].elementType == FloatType
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = graft.functions.PqExpressions.ivfPqEncodeEval($mdl, $v, $fl);")
    }

    override protected def withNewChildInternal(c: Expression): IvfPqEncode =
      copy(child = c)
  }

  def ivf_pq_encode(vec: Column, codec: Broadcast[graft.model.IvfPq]): Column =
    GraftBridge.column(IvfPqEncode(GraftBridge.expression(vec), codec))
}
