package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.CosineSimilarity

/** THE SparkSessionExtensions entry point: registers everything graft
  * extends Spark with — SQL functions (cosine_sim), the optimizer rule
  * (JaroWinklerLengthPruning), and the planner strategy (TopKPerGroup).
  *
  * Use either at session build time:
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * }}}
  * or via config (no code changes):
  * `--conf spark.sql.extensions=graft.GraftExtensions`.
  *
  * After registration, `SELECT cosine_sim(embedding, other) FROM t` runs the
  * codegen'd [[CosineSimilarity]] kernel — same plan as the Column API.
  *
  * One class registers ALL of it on purpose (review r9): two half
  * registrations under the same simple name meant following either file's
  * doc silently lost the other half.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.cosineSim)
    ext.injectOptimizerRule(_ => graft.plans.JaroWinklerLengthPruning)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerGroupStrategy)
  }
}

object GraftExtensions {

  val cosineSim: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(
      CosineSimilarity.getClass.getCanonicalName.stripSuffix("$"),
      null,
      "cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float-array embeddings (NaN on dim mismatch / zero vector)",
      ""),
    (children: Seq[Expression]) => {
      require(children.size == 2, "cosine_sim expects exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })
}
