package graft

import graft.functions.{CosineSimilarity, JaccardSorted}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point — the public, config-driven way
  * to install the engine's native surface into any session:
  *
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * Injects the native kernels — `graft_cosine` (codegen'd array
  * cosine), `graft_jaccard` (merge-scan Jaccard of sorted long
  * arrays), `graft_minhash` (fused k-wide MinHash signature),
  * `graft_shingles` (fused n-gram hashing), `graft_kmv_distinct`
  * (mergeable KMV sketch aggregate), `graft_hll_distinct` (64-byte
  * mergeable HyperLogLog aggregate), `graft_bloom_probe` (codegen'd
  * Bloom-filter membership probe for semi-join pruning),
  * `graft_topk` (grouped top-k aggregate) — plus the
  * [[graft.plans.RangeJoinRewrite]] optimizer rule (naive BETWEEN
  * range joins → bucketized equi-joins). Sessions not built with the
  * extension get late-bound function registration via
  * [[graft.functions.GraftFunctions.ensureRegistered]] (the optimizer
  * rule is extension-only).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.cosineName),
      new ExpressionInfo(classOf[CosineSimilarity].getName,
        graft.functions.GraftFunctions.cosineName),
      (exprs: Seq[Expression]) => CosineSimilarity(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.jaccardName),
      new ExpressionInfo(classOf[JaccardSorted].getName,
        graft.functions.GraftFunctions.jaccardName),
      (exprs: Seq[Expression]) => JaccardSorted(exprs.head, exprs(1))))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.minhashName),
      new ExpressionInfo(classOf[graft.functions.MinHashSignature].getName,
        graft.functions.GraftFunctions.minhashName),
      graft.functions.GraftFunctions.minhashBuilder))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.shinglesName),
      new ExpressionInfo(classOf[graft.functions.ShingleHashes].getName,
        graft.functions.GraftFunctions.shinglesName),
      graft.functions.GraftFunctions.shinglesBuilder))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.kmvName),
      new ExpressionInfo(classOf[graft.functions.KmvDistinct].getName,
        graft.functions.GraftFunctions.kmvName),
      graft.functions.GraftFunctions.kmvBuilder))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.hllName),
      new ExpressionInfo(classOf[graft.functions.HllDistinct].getName,
        graft.functions.GraftFunctions.hllName),
      graft.functions.GraftFunctions.hllBuilder))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.bloomName),
      new ExpressionInfo(classOf[graft.functions.BloomProbe].getName,
        graft.functions.GraftFunctions.bloomName),
      graft.functions.BloomProbe.builder))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.topkName),
      new ExpressionInfo(classOf[graft.functions.GroupedTopK].getName,
        graft.functions.GraftFunctions.topkName),
      graft.functions.GraftFunctions.topkBuilder))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.covName),
      new ExpressionInfo(classOf[graft.functions.EmbedCov].getName,
        graft.functions.GraftFunctions.covName),
      graft.functions.GraftFunctions.covBuilder))
    ext.injectFunction((
      FunctionIdentifier(graft.functions.GraftFunctions.momName),
      new ExpressionInfo(classOf[graft.functions.EmbedCov].getName,
        graft.functions.GraftFunctions.momName),
      graft.functions.GraftFunctions.momBuilder))
    // optimizer: naive BETWEEN range joins -> bucketized equi-join
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite())
    // optimizer: jaccard >= tau filters get a size-ratio prefilter
    ext.injectOptimizerRule(_ => graft.plans.JaccardPrefilter())
    // planner: AsofJoinPlan -> merge-scan AsofJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // planner: SQL UPDATE / MERGE INTO over MorLog tables -> the
    // engine's updateWhere / mergeIntoClausesKeys (strict translation)
    ext.injectPlannerStrategy(_ => graft.plans.MorLogDmlStrategy)
  }
}
