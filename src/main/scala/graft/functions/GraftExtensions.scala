package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers the engine's native
  * functions at session build time, so a deployment enables them
  * fleet-wide with
  * `spark.sql.extensions=graft.functions.GraftExtensions`. A session
  * built without the extension gets them from [[GraftExtensions.install]]
  * (every registry query runs it first).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.EagerAggregation)
    ext.injectColumnar(_ => new graft.plans.ColumnarAxpyRule)
  }
}

object GraftExtensions {
  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** Every native function: SQL name, expression class, builder. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("dot_product", classOf[DotProduct], c => DotProduct(c(0), c(1))),
    ("bitmask_jaccard", classOf[BitmaskJaccard], c => BitmaskJaccard(c(0), c(1))),
    ("bitmask_inter", classOf[BitmaskInter], c => BitmaskInter(c(0), c(1))),
    ("minhash_sig", classOf[MinHashSig], c => MinHashSig(c.head, int(c(1)))),
    ("lsh_bands", classOf[LshBands], c => LshBands(c.head)),
    ("sq_dist_dec", classOf[SqDistDec], c => SqDistDec(c(0), c(1))),
    ("jaro_winkler", classOf[JaroWinkler], c => JaroWinkler(c(0), c(1))),
    ("simhash32", classOf[SimHash32], c => SimHash32(c.head)),
    ("ngram_set_mask", classOf[NgramSetMask],
      c => NgramSetMask(c.head, c(1), int(c(2)), int(c(3)))),
    ("explode_ngrams", classOf[ExplodeNgrams], c => ExplodeNgrams(c.head, int(c(1)))),
    ("explode_ngrams_pos", classOf[ExplodeNgramsPos],
      c => ExplodeNgramsPos(c.head, int(c(1)))),
    ("axpy", classOf[Axpy], c => Axpy.build(c)))

  /** Registers each native function session `s` lacks. Idempotent and
    * never replaces an entry, so a session built with the extension
    * (the harnesses, the specs) is left untouched. */
  def install(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    reg.synchronized {
      functions.foreach { case (name, cls, build) =>
        val id = FunctionIdentifier(name)
        if (!reg.functionExists(id))
          reg.registerFunction(id, new ExpressionInfo(cls.getName, name), build)
      }
    }
  }
}
