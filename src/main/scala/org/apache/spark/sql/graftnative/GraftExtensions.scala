package org.apache.spark.sql.graftnative

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (the brief's idiomatic extension
  * path): registers the engine's native expressions under SQL names so
  * `spark.sql("SELECT vec_dot(a, b) …")` works for SQL-only users.
  *
  * [[graft.GraftSession]] registers it; any other session can pass
  * `withExtensions(new GraftExtensions)` to its builder or set
  *   `--conf spark.sql.extensions=org.apache.spark.sql.graftnative.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // opt-in interval-join de-nesting (spark.graft.rangeJoin.bucket)
    ext.injectOptimizerRule(RangeJoinRewrite)
    register(ext, "vec_dot", "dot product of two float vectors",
      args => FloatVecDot(args(0), args(1)))
    register(ext, "vec_l2sq", "squared L2 distance of two float vectors",
      args => FloatVecL2Sq(args(0), args(1)))
    register(ext, "vec_cosine", "fused one-pass cosine similarity of two float vectors",
      args => FloatVecCosine(args(0), args(1)))
    register(ext, "vec_lsh_sig",
      "seeded hyperplane LSH sign signature: vec_lsh_sig(vec, bits, dim[, seed])",
      args => {
        // knobs must be literals: the plane matrix is built ONCE at
        // resolution (data-independent, seeded) — per-row plane
        // regeneration would defeat the whole design
        def lit(i: Int, name: String): Long = args(i) match {
          case e if e.foldable => e.eval().asInstanceOf[Number].longValue
          case other => throw new IllegalArgumentException(
            s"vec_lsh_sig: $name must be a literal, got $other")
        }
        val bits = lit(1, "bits").toInt
        val dim = lit(2, "dim").toInt
        val seed = if (args.length > 3) lit(3, "seed") else 42L
        FloatVecLshSig(args(0),
          graft.functions.Hashing.hyperplanes(bits, dim, seed))
      })
  }

  private def register(ext: SparkSessionExtensions, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      // full (non-deprecated) form; the 3-arg overload is (className,
      // db, NAME), which would misfile usage text as the function name
      // in DESCRIBE FUNCTION output.
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      builder))
}
