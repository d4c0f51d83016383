package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CosineSimilarity, HilbertIndex, MinhashSig, Mix64, PolyHash}

/** Session extensions for the engine: the one place graft functions and
  * the graft planner strategy are bound. Every GraftSession loads it
  * (`spark.sql.extensions=graft.GraftExtensions`), and so does every
  * [[GraftSession.child]] of one, so `call_function("mix64", ...)`,
  * `expr("cosine_sim(...)")` and SQL text resolve with no per-query
  * registration. Functions bound to fitted data (a plane matrix, a Bloom
  * bitmap) are not names here: they are built as Columns straight from
  * their Expression (HyperplaneSignature.column, BloomMightContain.column).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    GraftExtensions.functions.foreach { case (name, cls, arity, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        args => {
          if (args.length != arity)
            throw GraftExtensions.wrongArity(name, arity, args.length)
          build(args)
        }))
    }
  }
}

object GraftExtensions {
  /** (SQL name, expression class, argument count, builder). */
  private val functions
      : Seq[(String, Class[_], Int, Seq[Expression] => Expression)] =
    Seq(
      ("cosine_sim", classOf[CosineSimilarity], 2,
        a => CosineSimilarity(a(0), a(1))),
      ("poly_hash", classOf[PolyHash], 2, a => PolyHash(a(0), a(1))),
      ("mix64", classOf[Mix64], 1, a => Mix64(a(0))),
      ("hilbert_xy2d", classOf[HilbertIndex], 2,
        a => HilbertIndex(a(0), a(1))),
      ("minhash_sig", classOf[MinhashSig], 1, a => MinhashSig(a(0))))

  /** Spark's own wrong-arity error, as a built-in function raises it. */
  private def wrongArity(name: String, expected: Int,
      actual: Int): AnalysisException =
    new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
      "functionName" -> s"`$name`",
      "expectedNum" -> expected.toString,
      "actualNum" -> actual.toString,
      "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
}
