package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Broadcast-model bigram-LM scoring — the low-latency / streaming twin of
 * [[graft.operators.TextOps.lmScore]].
 *
 * The join-based `lmScore` is the scale path: the model stays a DataFrame
 * and a 10⁹-row bigram table never leaves the cluster. But a CURATION
 * model is usually pruned far below that (CCNet ships single-digit-GB
 * KenLMs), and a quality filter at stream-ingest time cannot run a
 * per-micro-batch shuffle join + aggregate. This expression carries the
 * whole model in one Spark broadcast (the [[BpeExpressions]] /
 * [[CentroidExpressions]] driver-state pattern) and scores a document
 * ROW-LOCALLY in one compiled pass: tokenize → fold logp over adjacent
 * bigrams → cross-entropy. Stateless, so it runs unchanged on Structured
 * Streaming micro-batches (StreamingSpec twin).
 *
 * Arithmetic is IDENTICAL to `lmScore` term-by-term (same add-k formula,
 * same unseen-prefix fallback); the only permitted difference is
 * floating-point summation ORDER (document order here vs aggregate merge
 * order there), bounded by ~1e-12 relative — asserted in TextOpsSpec.
 * Documents with < 2 tokens have no bigrams → NULL.
 */
object LmExpressions {

  /** Driver-collected bigram model: c12 keyed "w1 w2", c1 keyed w1.
    * Built by [[graft.operators.TextOps.collectLm]], which bounds its size. */
  final case class LocalLm(c12: java.util.HashMap[String, java.lang.Long],
                           c1: java.util.HashMap[String, java.lang.Long],
                           vocabSize: Long, k: Double) extends Serializable

  /** Cross-entropy of `text` under `lm`; null (as java Double) when the
    * document has fewer than two tokens. */
  def scoreEval(lm: LocalLm, text: UTF8String): java.lang.Double = {
    val toks = text.toString.trim match {
      case "" => Array.empty[String]
      case s => s.split("\\s+")
    }
    if (toks.length < 2) return null
    val v = lm.vocabSize.toDouble
    val k = lm.k
    var s = 0.0
    var i = 0
    while (i < toks.length - 1) {
      val w1 = toks(i)
      val c1 = lm.c1.get(w1)
      if (c1 == null) s += math.log(1.0 / v)
      else {
        val c12 = lm.c12.get(w1 + " " + toks(i + 1))
        val n12 = if (c12 == null) 0L else c12.longValue()
        s += math.log((n12 + k) / (c1.longValue() + k * v))
      }
      i += 1
    }
    -s / (toks.length - 1)
  }

  private val lmClassName = classOf[LocalLm].getName
  private val bcClassName = classOf[Broadcast[LocalLm]].getName

  case class LmScore(child: Expression, lm: Broadcast[LocalLm])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "lm_score"

    override def nullSafeEval(v: Any): Any =
      scoreEval(lm.value, v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("lmBc", lm, bcClassName)
      val model = ctx.addMutableState(lmClassName, "lmModel",
        v => s"$v = ($lmClassName) $bcRef.value();")
      val boxed = ctx.freshName("lmBoxed")
      nullSafeCodeGen(ctx, ev, v => s"""
        java.lang.Double $boxed =
          graft.functions.LmExpressions.scoreEval($model, $v);
        if ($boxed == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $boxed.doubleValue(); }""")
    }

    override protected def withNewChildInternal(c: Expression): LmScore =
      copy(child = c)
  }

  /** Row-local cross-entropy under a broadcast `TextOps.collectLm` model —
    * the stream-safe twin of `TextOps.lmScore` (same arithmetic
    * term-by-term; summation order may differ by ~1e-12). NULL for documents
    * with < 2 tokens (the join path omits them). */
  def lm_score(text: Column, lm: Broadcast[LocalLm]): Column =
    GraftBridge.column(LmScore(GraftBridge.expression(text), lm))

  // --- Stupid Backoff twin -----------------------------------------------

  /** Driver-collected Stupid Backoff count tables (trigram/bigram/unigram
    * keyed by space-joined n-grams). Built by
    * [[graft.operators.TextOps.collectSb]], which bounds its size. */
  final case class LocalSb(c3: java.util.HashMap[String, java.lang.Long],
                           c2: java.util.HashMap[String, java.lang.Long],
                           c1: java.util.HashMap[String, java.lang.Long],
                           total: Long, alpha: Double) extends Serializable

  /** Mean −ln S(token | context) of `text` under Stupid Backoff — the same
    * cascade as the join-based `sbScore` term-by-term (trigram → α·bigram →
    * α²·unigram, 1/N floor); null when the document has no tokens. */
  def sbScoreEval(lm: LocalSb, text: UTF8String): java.lang.Double = {
    val toks = text.toString.trim match {
      case "" => Array.empty[String]
      case s => s.split("\\s+")
    }
    if (toks.length == 0) return null
    val n = lm.total.toDouble
    val a = lm.alpha
    var sum = 0.0
    var i = 0
    while (i < toks.length) {
      val c1w = lm.c1.get(toks(i))
      val sUni = if (c1w == null) 1.0 / n else c1w.doubleValue() / n
      val s =
        if (i == 0) sUni
        else {
          val big = toks(i - 1) + " " + toks(i)
          val c2l = lm.c2.get(big)
          val sBig =
            if (c2l != null)
              c2l.doubleValue() / lm.c1.get(toks(i - 1)).doubleValue()
            else a * sUni
          if (i == 1) sBig
          else {
            val c3t = lm.c3.get(toks(i - 2) + " " + big)
            if (c3t != null)
              c3t.doubleValue() /
                lm.c2.get(toks(i - 2) + " " + toks(i - 1)).doubleValue()
            else a * sBig
          }
        }
      sum += -math.log(s)
      i += 1
    }
    sum / toks.length
  }

  private val sbClassName = classOf[LocalSb].getName

  case class SbScore(child: Expression, lm: Broadcast[LocalSb])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def prettyName: String = "sb_score"

    override def nullSafeEval(v: Any): Any =
      sbScoreEval(lm.value, v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bcRef = ctx.addReferenceObj("sbBc", lm, bcClassName)
      val model = ctx.addMutableState(sbClassName, "sbModel",
        v => s"$v = ($sbClassName) $bcRef.value();")
      val boxed = ctx.freshName("sbBoxed")
      nullSafeCodeGen(ctx, ev, v => s"""
        java.lang.Double $boxed =
          graft.functions.LmExpressions.sbScoreEval($model, $v);
        if ($boxed == null) { ${ev.isNull} = true; }
        else { ${ev.value} = $boxed.doubleValue(); }""")
    }

    override protected def withNewChildInternal(c: Expression): SbScore =
      copy(child = c)
  }

  /** Row-local Stupid Backoff score under a broadcast `TextOps.collectSb`
    * model — the stream-safe twin of `TextOps.sbScore` (same cascade
    * term-by-term; summation order may differ by ~1e-12). NULL for
    * token-less documents. */
  def sb_score(text: Column, lm: Broadcast[LocalSb]): Column =
    GraftBridge.column(SbScore(GraftBridge.expression(text), lm))
}
