package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.expressions.{AllWordNGrams, DotProduct, Md5Hash56Pair, Md5Hash60, NfcNormalize, SimpleCaseFold, SortedIntersectSize, TopKPairs, WordNGrams, ZOrder2}

/** SparkSessionExtensions registration: makes every custom Catalyst
  * expression callable from SQL (`dot_product`, `sorted_intersect_size`,
  * `md5_hash56_pair`, `md5_hash60`, `word_ngrams`, `top_k_pairs`)
  * so the library's SQL surface matches its DataFrame surface, plus the
  * AQE stage-prep rule [[graft.expressions.SortSmallInOnePartition]].
  * [[Harness.builder]] installs it, so every main and spec session has
  * the functions and runs the rule. A stage-prep rule can only be
  * injected while a session is built, so the install is builder-time
  * only.
  *
  * Usage:
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * or config: spark.sql.extensions=graft.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
    e.injectQueryStagePrepRule(_ => graft.expressions.SortSmallInOnePartition)
  }
}

object GraftExtensions {
  /** SQL-literal int parameter (seed / n / k positions). */
  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v, IntegerType) => v.asInstanceOf[Int]
    case other => throw new IllegalArgumentException(
      s"$fn expects an integer literal, got $other")
  }

  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> (args => DotProduct(args(0), args(1))),
    "sorted_intersect_size" -> (args => SortedIntersectSize(args(0), args(1))),
    "md5_hash56_pair" -> (args => Md5Hash56Pair(args(0))),
    "nfc_normalize" -> (args => NfcNormalize(args(0))),
    "simple_casefold" -> (args => SimpleCaseFold(args(0))),
    "zorder2" -> (args => ZOrder2(args(0), args(1))),
    "md5_hash60" -> (args => Md5Hash60(args(0), intArg(args(1), "md5_hash60"))),
    "word_ngrams" -> (args => WordNGrams(args(0), intArg(args(1), "word_ngrams"))),
    "all_word_ngrams" -> (args =>
      AllWordNGrams(args(0), intArg(args(1), "all_word_ngrams"))),
    // raw aggregate function — the analyzer wraps it into an
    // AggregateExpression at resolution
    "top_k_pairs" -> (args =>
      TopKPairs(args(0), args(1), intArg(args(2), "top_k_pairs"))))
}
