package graft.plans

import graft.functions.{BpeMergePair, DotProduct, WordKGrams}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, Sqrt}
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine extensions: registers the custom expressions for SQL users, so
  * `spark.sql("SELECT dot_product(a, b) ...")` works next to the DataFrame
  * API. Install via
  * `Sessions.local(app).withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[DotProduct].getCanonicalName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteDotProduct)
    e.injectFunction((
      FunctionIdentifier("dot_product"),
      info("dot_product", "dot_product(a, b) - left-to-right double dot product of two float/double arrays"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(a) - L2 norm of a float/double array"),
      (args: Seq[Expression]) => Sqrt(DotProduct(args(0), args(0)))))
    e.injectFunction((
      FunctionIdentifier("word_kgrams"),
      info("word_kgrams",
        "word_kgrams(arr, k) - all consecutive k-grams of a string array, space-joined (k a positive integer literal)"),
      (args: Seq[Expression]) => {
        if (args.length != 2) throw new IllegalArgumentException(
          s"word_kgrams requires exactly 2 arguments (arr, k), got ${args.length}")
        args(1) match {
          case Literal(k: Int, IntegerType) => WordKGrams(args(0), k)
          case other => throw new IllegalArgumentException(
            s"word_kgrams: k must be an integer literal, got $other")
        }
      }))
    e.injectFunction((
      FunctionIdentifier("bpe_merge"),
      info("bpe_merge",
        "bpe_merge(syms, l, r) - one BPE merge: every adjacent (l, r) pair in a string array fuses to l||r, greedy left-to-right (l, r string literals)"),
      (args: Seq[Expression]) => {
        if (args.length != 3) throw new IllegalArgumentException(
          s"bpe_merge requires exactly 3 arguments (syms, l, r), got ${args.length}")
        (args(1), args(2)) match {
          case (Literal(l: UTF8String, StringType), Literal(r: UTF8String, StringType)) =>
            BpeMergePair(args(0), l.toString, r.toString)
          case other => throw new IllegalArgumentException(
            s"bpe_merge: l and r must be string literals, got $other")
        }
      }))
  }
}
