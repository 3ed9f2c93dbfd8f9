package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Broadcast-model NB language identification — the row-local / streaming
 * twin of [[graft.operators.TextOps.nbLangId]] (the [[LmExpressions]] /
 * [[DsirExpressions]] driver-state pattern). A langid model is tiny by
 * construction (|langs| × observed trigrams), so it rides in one broadcast
 * and classifies a document in one compiled pass: char trigrams → per-class
 * smoothed log-likelihood fold → argmax with the lexicographic tie-break.
 * Arithmetic is IDENTICAL to the join path term-by-term; only summation
 * order differs (~1e-12, asserted in TextOpsSpec). Documents shorter than
 * n characters have no features → NULL.
 */
object NbExpressions {

  /** Driver-collected NB model: per class — label, log prior, per-trigram
    * counts, and the smoothed-unseen default denominator term. Built by
    * [[graft.operators.TextOps.collectNb]], which bounds its size. */
  final case class LocalNb(labels: Array[String],
                           logPriors: Array[Double],
                           counts: Array[java.util.HashMap[String, java.lang.Long]],
                           denoms: Array[Double], // n_tris_c + k·V per class
                           k: Double, n: Int) extends Serializable

  /** Predicted label of `text`, or null when it has no char n-grams. */
  def predictEval(m: LocalNb, text: UTF8String): UTF8String = {
    val cps = text.toString.trim.codePoints().toArray
    if (cps.length < m.n) return null
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < m.labels.length) {
      var s = m.logPriors(c)
      var i = 0
      while (i <= cps.length - m.n) {
        val tri = new String(cps, i, m.n)
        val cnt = m.counts(c).get(tri)
        val num = (if (cnt == null) 0L else cnt.longValue()) + m.k
        s += math.log(num / m.denoms(c))
        i += 1
      }
      // ties break to the lexicographically FIRST label: labels are sorted
      // at collect time, so strict > keeps the earlier winner
      if (s > bestScore) { bestScore = s; best = c }
      c += 1
    }
    UTF8String.fromString(m.labels(best))
  }

  private val nbClassName = classOf[LocalNb].getName
  private val bcClassName = classOf[Broadcast[LocalNb]].getName

  case class NbLangPredict(child: Expression, model: Broadcast[LocalNb])
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "nb_lang"

    override def nullSafeEval(v: Any): Any =
      predictEval(model.value, v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("nbBc", model, bcClassName)
      val m = ctx.addMutableState(nbClassName, "nbModel",
        v => s"$v = ($nbClassName) $bcRef.value();")
      val out = ctx.freshName("nbOut")
      nullSafeCodeGen(ctx, ev, v => s"""
        org.apache.spark.unsafe.types.UTF8String $out =
          graft.functions.NbExpressions.predictEval($m, $v);
        if ($out == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $out; }""")
    }

    override protected def withNewChildInternal(c: Expression): NbLangPredict =
      copy(child = c)
  }

  /** Row-local NB language prediction under a broadcast `TextOps.collectNb`
    * model — term-identical to `TextOps.nbLangId`'s argmax up to summation
    * order; NULL for documents shorter than n characters. */
  def nb_lang(text: Column, model: Broadcast[LocalNb]): Column =
    GraftBridge.column(NbLangPredict(GraftBridge.expression(text), model))
}
