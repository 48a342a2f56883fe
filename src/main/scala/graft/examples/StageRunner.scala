package graft.examples

import graft.etl.StageCheckpoint.StageCheckpointOps
import graft.functions.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** The stage skeleton of both corpus-prep pipelines ([[TrainingDataPrep]],
  * [[IncrementalPrep]]): a pipeline declares its stage bodies in order and
  * the runner owns everything around them.
  *
  *  - Stage 0 is the input (id first, a `text` column) plus its per-doc
  *    normalized-token count `tok`, computed once and carried through
  *    every stage, since each is a row subset of the one before (r17).
  *  - Each stage's output is a LAZY stage checkpoint. Lineage must be cut,
  *    not just cached: a near-dup stage's plan references its input five
  *    times, so an uncut chain grows the logical plan ~30× per stage and
  *    Catalyst re-analyzes all of it for every downstream action
  *    (measured at sf0.1: 11.26 s of driver analysis on 0.86 s of jobs).
  *    A body that returns its input is a disabled stage: it passes
  *    through with no checkpoint, anti-join or count.
  *  - [[materialize]] runs ONE action over the last stage, which fills
  *    every checkpoint not yet filled, in lineage order (a stage body may
  *    run jobs of its own that fill earlier ones: IncrementalPrep's probe
  *    collect, `TextDedup.minhashPairs`' eager checkpoints); `dropped`,
  *    `attrition` and the caller's `kept` then read the filled
  *    checkpoints. An r6 measurement
  *    (40.8 s against 6 s) had stage branches racing to fill a shared
  *    cache inside one action and kept five sequential per-stage counts
  *    for it. Re-measured on the full `llm_corpus_prep` at sf0.1 (4-vCPU
  *    host, fresh JVM per run, row built and written in full) with block
  *    updates logged (`tools/joblog.py --blocks`): the one action put
  *    each checkpoint block once and no later job put one again; over 13
  *    alternating pairs the row's median wall time was 19.2 s against
  *    the counts' 19.9 s, and its process CPU 60.9 s against 61.4 s.
  *  - `dropped` labels an id with the first stage whose output lacks it,
  *    from one union-aggregate of the stage outputs' ids (the stages
  *    nest, so that is the stage after the last one holding it); every
  *    input id is in exactly one of the last stage and `dropped`.
  *  - `attrition` is one aggregate over the same union: docs and token
  *    sums per stage, each stage's docs_in the previous stage's docs_out
  *    (stage 0's for stage 1). The earlier form built three aggregate
  *    subtrees per stage, crossJoined: 23 s of tiny-exchange scheduling
  *    at sf0.1.
  */
private[examples] final class StageRunner(input: DataFrame) {
  private val id = input.columns.head
  private val outs = ArrayBuffer(input.withColumn("tok",
    size(split(TextOps.normalize(col("text")), " ")).cast("long"))
    .stageCheckpoint(eager = false))
  private val names = ArrayBuffer.empty[(String, String)]

  /** Stage `name` (its attrition row; `label` is its `dropped` stage):
    * `body` over the previous output. */
  def stage(name: String, label: String)(body: DataFrame => DataFrame): DataFrame = {
    val out = body(outs.last)
    outs += (if (out eq outs.last) out else out.stageCheckpoint(eager = false))
    names += (name -> label)
    outs.last
  }

  /** The one materializing action over the last stage: `held`, a
    * collect the caller needs anyway, or else a count. */
  def materialize[A](held: Option[DataFrame => A] = None): Option[A] =
    held.map(_(outs.last)).orElse { outs.last.count(); None }

  private def ordinals(f: DataFrame => DataFrame): DataFrame =
    outs.zipWithIndex.map { case (df, i) => f(df).withColumn("stage_ord", lit(i)) }
      .reduce(_ unionByName _)

  /** (id, stage) of every input id missing from the last stage. */
  def dropped: DataFrame =
    ordinals(_.select(col(id)))
      .groupBy(col(id)).agg(max(col("stage_ord")).as("last"))
      .filter(col("last") < names.size)
      .select(col(id),
        element_at(array(names.map(n => lit(n._2)).toSeq: _*), col("last") + 1).as("stage"))

  /** One row per stage: (stage_ord, stage, docs_in, docs_out, tokens_out);
    * an empty stage reports docs_out 0 and tokens_out null. */
  def attrition: DataFrame = {
    val outAgg = ordinals(_.select(col("tok"))).groupBy(col("stage_ord"))
      .agg(count(lit(1)).as("docs_out"), sum(col("tok")).as("tokens_out"))
    val session = input.sparkSession
    import session.implicits._
    val prevOut = outAgg.select((col("stage_ord") + 1).as("stage_ord"),
      col("docs_out").as("prev_out"))
    names.zipWithIndex.map { case ((name, _), i) => (i + 1, name) }.toSeq
      .toDF("stage_ord", "stage")
      .join(outAgg, Seq("stage_ord"), "left")
      .join(prevOut, Seq("stage_ord"), "left")
      .select(col("stage_ord"), col("stage"),
        coalesce(col("prev_out"), lit(0L)).as("docs_in"),
        coalesce(col("docs_out"), lit(0L)).as("docs_out"),
        col("tokens_out"))
  }
}

private[examples] object StageRunner {

  /** The quality floor both pipelines apply to the raw score. */
  val QualityMin = 0.45

  /** The share of a unit's shingles in the eval set that contaminates it. */
  val ContamMin = 0.5

  /** Exact dedup: one aggregate keeps each raw text's min-id row (the id
    * is the first column). */
  def exactDedup(df: DataFrame): DataFrame = {
    val rest = df.columns.filter(_ != "text")
    df.groupBy(col("text")).agg(min(struct(rest.map(col): _*)).as("f"))
      .select(col("f.*"), col("text"))
  }

  /** The oracled quality formula, map-side; `q` carries the features. */
  def quality(df: DataFrame): DataFrame =
    df.withColumn("q", TextOps.qualityFeatures(col("text")))
      .filter(col("q.quality_raw") >= QualityMin)

  /** Ids (the first column of `units`) that have some unit (the second
    * column) with ≥ [[ContamMin]] of its word `n`-shingles in the eval
    * set `evalNgrams` (column `sh`, benchmark-sized, so broadcast); the
    * caller has registered the native `word_shingles`. Hits
    * are grouped by (id, n_shingles), which pools an id's units of equal
    * shingle count, as the oracles do. The shingle set is computed BELOW
    * the explode: size(f(x)) beside explode(f(x)) would re-run f per
    * exploded row, and explode_outer avoids the inferred size > 0 filter
    * re-running it below the shuffle (223 → 4.7 s on
    * llm_decontaminate_chunks at sf3d). */
  def contaminated(units: DataFrame, evalNgrams: DataFrame, n: Int): DataFrame = {
    val Array(id, unit) = units.columns
    units.select(col(id), expr(s"word_shingles(`$unit`, $n)").as("shs"))
      .select(col(id), size(col("shs")).as("n_sh"), explode_outer(col("shs")).as("sh"))
      .join(broadcast(evalNgrams.select(col("sh")).distinct()), "sh")
      .groupBy(col(id), col("n_sh"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits").cast("double") >= col("n_sh").cast("double") * ContamMin)
      .select(id).distinct()
  }
}
