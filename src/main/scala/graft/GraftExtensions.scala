package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ArrayStats, BigramHashes, JaccardSim, PolyHash, ShingleHashes, VecDot}
import graft.plans.JaccardJoinRewrite

/** SparkSessionExtensions entry point: registers this library's native
  * expressions as SQL functions, so `spark.sql("SELECT poly_hash(text)
  * ...")` works alongside the Column API, and injects the optimizer
  * rules ([[JaccardJoinRewrite]]: similarity theta-join →
  * inverted-index equi-join).
  *
  * Usage:
  *   GraftSession.builder().withExtensions(new GraftExtensions) ...
  * or spark.sql.extensions=graft.GraftExtensions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._
  override def apply(e: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, usage, builder) =>
      e.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
    e.injectOptimizerRule(_ => JaccardJoinRewrite)
  }
}

object GraftExtensions {
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[PolyHash].getName, null, name, usage, "")

  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("poly_hash", "poly_hash(str) - rolling polynomial hash mod 1e9+7",
      (args: Seq[Expression]) => PolyHash(args.head)),
    ("vec_dot", "vec_dot(a, b) - sequential dot product of double arrays",
      (args: Seq[Expression]) => VecDot(args(0), args(1))),
    ("array_stats", "array_stats(a) - struct(mean, msq) two-pass fold",
      (args: Seq[Expression]) => ArrayStats(args.head)),
    ("shingle_hashes",
      "shingle_hashes(str, k) - distinct poly_hash of word k-grams (k literal)",
      (args: Seq[Expression]) =>
        ShingleHashes(args.head,
          args(1).eval().asInstanceOf[Number].intValue())),
    ("jaccard_sim",
      "jaccard_sim(a, b) - exact Jaccard of two distinct-element long arrays",
      (args: Seq[Expression]) => JaccardSim(args(0), args(1))),
    ("bigram_hashes",
      "bigram_hashes(str) - packed (poly_hash(w1)*2^31 + poly_hash(bigram)) per word bigram",
      (args: Seq[Expression]) => BigramHashes(args.head)))

  /** Register on an already-built session (temp functions) — for
    * sessions not created via `withExtensions` (e.g. notebooks, tests).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
