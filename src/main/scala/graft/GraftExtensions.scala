package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CharTrigrams, DeflateLen, DotProduct, NfcNormalize, ShingleHashes, SimHash64}

/** Session extensions — the idiomatic public-API injection point for the
  * engine's custom Catalyst expressions (set
  * `spark.sql.extensions=graft.GraftExtensions`; Sessions.tune does).
  * `VectorFunctions.register` / `TextKernels.register` remain as runtime
  * fallbacks for sessions built without the config. (HyperplaneSignature
  * is not injectable by name — it binds a plane matrix at construction —
  * so its registration stays query-local.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimHash64(children(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (children: Seq[Expression]) => NfcNormalize(children(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_char_trigrams"),
      new ExpressionInfo(classOf[CharTrigrams].getName, "graft_char_trigrams"),
      (children: Seq[Expression]) => CharTrigrams(children(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName, "graft_deflate_len"),
      (children: Seq[Expression]) => DeflateLen(children(0))))
    ext.injectFunction((
      new FunctionIdentifier("graft_phash_bands"),
      new ExpressionInfo(classOf[graft.functions.PhashBands].getName, "graft_phash_bands"),
      (children: Seq[Expression]) => graft.functions.PhashBands(children(0))))
    ext.injectFunction((
      new FunctionIdentifier(graft.functions.CdcCuts.name),
      new ExpressionInfo(classOf[graft.functions.CdcCuts].getName,
        graft.functions.CdcCuts.name),
      (children: Seq[Expression]) => graft.functions.CdcCuts(children(0))))
    ext.injectFunction((
      new FunctionIdentifier(graft.functions.PairCombinations.name),
      new ExpressionInfo(classOf[graft.functions.PairCombinations].getName,
        graft.functions.PairCombinations.name),
      (children: Seq[Expression]) => graft.functions.PairCombinations(children(0))))
    // DELETE ... WHERE k IN (SELECT ...) on an equality-delete table →
    // the plan-sourced eq-delete channel (post-hoc: DeleteFromTable is
    // still intact at end of analysis; the optimizer's row-level
    // rewrite would otherwise claim it)
    ext.injectPostHocResolutionRule(s =>
      graft.plans.RewriteEqDeleteSubquery(s))
    ext.injectPlannerStrategy(s => new graft.plans.EqDeleteStrategy(s))
    ext.injectOptimizerRule(_ => graft.plans.CollapseNfc)
    ext.injectOptimizerRule(_ => graft.plans.RewriteRunningDistinct)
    ext.injectOptimizerRule(s => new graft.plans.MvRollupRewrite(s))
    ext.injectOptimizerRule(_ => graft.plans.FkJoinElimination)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.OrderedCollectStrategy)
  }
}
