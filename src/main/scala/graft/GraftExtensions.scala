package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Cluster-deploy registration of every graft extension point, the
  * `SparkSessionExtensions` way:
  *
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or programmatically:
  *   GraftSession.builder(cpus, dataDir).withExtensions(new GraftExtensions) ...
  *
  * A session built this way has the native SQL functions (`cosine_fast`,
  * `minhash_sig`, ...), both optimizer rules (RewriteCosine,
  * MergeUnionScans) and the AS-OF join planner strategy WITHOUT any graft
  * code running first — pure-SQL users (thriftserver, notebooks) get the
  * whole engine from one config line. `GraftFunctions.register(spark)`
  * remains the equivalent programmatic path for an already-built session
  * (the registry queries call it defensively); both draw from the same
  * table below, so the two paths cannot drift.
  *
  * Injection-point mapping (SURVEY §4.2's escape-hatch ladder):
  *  - injectFunction      → native codegen'd Expressions as SQL functions
  *  - injectOptimizerRule → logical rewrites; these run inside the
  *    operator-optimization fixed-point batch, where both rules are
  *    idempotent pattern matchers (RewriteCosine leaves no ArrayAggregate
  *    behind to re-match; MergeUnionScans strictly shrinks union arity),
  *    so repeated application within the fixed point converges.
  *  - injectPlannerStrategy → AsOfJoinPlan → AsOfJoinExec physical mapping
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionTable.foreach { case (name, arity, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name,
          s"$name - graft native expression ($arity args)"),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.RewriteCosine)
    ext.injectOptimizerRule(_ => graft.plans.MergeUnionScans)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** The single source of truth for graft's SQL-callable native
    * expressions: (name, arity, builder). Used by both the extensions
    * injector above and GraftFunctions.register. */
  val functionTable: Seq[(String, Int, Seq[Expression] => Expression)] = Seq(
    ("cosine_fast", 2, e => CosineSimilarity(e(0), e(1))),
    ("dot_fast", 2, e => DotProduct(e(0), e(1))),
    ("minhash_sig", 2, e => MinHashSignature(e(0), e(1))),
    ("char_ngrams", 2, e => CharNgrams(e(0), e(1))),
    ("word_shingles", 2, e => WordShingles(e(0), e(1))),
    ("word_bigrams", 1, e => WordBigrams(e(0))),
    ("jaccard_sim", 2, e => ArrayJaccard(e(0), e(1))),
    ("shingle_rows", 2, e => ShingleRows(e(0), e(1))),
    ("hash_embed", 2, e => HashEmbed(e(0), e(1))),
    ("cdc_chunks", 1, e => CdcChunks(e(0))),
    ("band_buckets", 4, e => BandBuckets(e(0), e(1), e(2), e(3))),
    ("nearest_centroid", 3, e => NearestCentroid(e(0), e(1), e(2))),
    ("nearest_centroids", 4, e => NearestCentroids(e(0), e(1), e(2), e(3))),
    ("block_jaccard_edges", 2, e => BlockJaccardEdges(e(0), e(1))),
    ("adc_dot", 3, e => AdcDot(e(0), e(1), e(2))),
    ("pq_encode", 4, e => PqEncode(e(0), e(1), e(2), e(3))))
}
