package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's single `spark.sql.extensions` entry point: native SQL
  * functions, the [[graft.plans.CosineKnnStrategy]] planner strategy, and
  * the [[graft.plans.AnnTopKRewrite]] optimizer rule.
  *
  * {{{
  *   spark.sql("SELECT cosine_distance(embedding, qv) FROM ...")
  *   // brute-force cosine top-k auto-rewrites to the CosineKnnJoin heap plan
  * }}}
  *
  * Install either at session build time
  * (`withExtensions(new GraftExtensions)` on the session builder or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`) or on a
  * live session via [[GraftExtensions.register]] +
  * [[graft.plans.GraftStrategies.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.CosineKnnStrategy)
    e.injectOptimizerRule(_ => graft.plans.AnnTopKRewrite)
    GraftExtensions.Functions.foreach { case (name, cls, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
  }
}

object GraftExtensions {
  /** The engine's SQL functions as (name, expression class, builder): the
    * one list both install paths iterate — [[GraftExtensions.apply]] at
    * session build, [[register]] on a live session. */
  private val Functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_distance", classOf[CosineDistance],
      exprs => CosineDistance(exprs(0), exprs(1))),
    ("dot_product", classOf[DotProduct],
      exprs => DotProduct(exprs(0), exprs(1))),
    ("topk_desc", classOf[TopKDesc],
      exprs => TopKDesc(exprs(0), topkK(exprs(1))).toAggregateExpression()),
    ("unicode_normalize", classOf[UnicodeNormalize],
      exprs => UnicodeNormalize(exprs(0), normForm(exprs))))

  /** Resolve `topk_desc`'s k argument: must be a foldable non-null integer
    * — checked HERE so misuse surfaces as one clear error naming the
    * requirement, instead of an internal Unevaluable (column k),
    * ClassCastException (string k), or NPE (NULL k) from a raw eval. */
  private[functions] def topkK(e: Expression): Int = {
    require(e.foldable,
      s"topk_desc(expr, k): k must be an integer literal, got expression ${e.sql}")
    e.eval() match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"topk_desc(expr, k): k must be an integer literal, got " +
          (if (other == null) "NULL" else s"'$other'"))
    }
  }

  /** Resolve `unicode_normalize`'s optional form argument (2nd, default
    * NFKC): must be a foldable non-null string — same clear-error contract
    * as [[topkK]]. */
  private[functions] def normForm(exprs: Seq[Expression]): String = {
    require(exprs.lengthCompare(2) <= 0,
      s"unicode_normalize(s[, form]) takes 1 or 2 arguments, got ${exprs.length}")
    if (exprs.lengthCompare(2) < 0) "NFKC"
    else {
      val e = exprs(1)
      require(e.foldable,
        s"unicode_normalize(s, form): form must be a string literal, got ${e.sql}")
      e.eval() match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case other => throw new IllegalArgumentException(
          s"unicode_normalize(s, form): form must be a string literal, got " +
            (if (other == null) "NULL" else s"'$other'"))
      }
    }
  }

  /** Register on an already-built session. */
  def register(spark: SparkSession): Unit =
    Functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
