package graft

import graft.examples.TrainingDataPrep
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Composed corpus prep (examples.TrainingDataPrep): every planted exact
  * copy dies in stage 1, every planted near-dup mutant in stage 3, stage
  * counts reconcile, and kept docs all clear the quality bar. */
class TrainingDataPrepSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** The registry fixture itself (shared with llm_corpus_prep and its
    * oracled _stages twin): (base docs, full planted corpus, eval set). */
  private def corpus = {
    val (docs, planted, evalSh) =
      graft.operators.LlmOps.corpusPrepFixture(spark, sf)
    (docs, docs.unionByName(planted), evalSh)
  }

  private val labels = Seq("exact_dup", "low_quality", "near_dup",
    "chunk_boilerplate", "decontaminated")

  /** Every planted id is in exactly one of `kept` and `dropped`, and each
    * stage label counts exactly the docs that stage lost (its attrition
    * docs_in − docs_out). */
  private def assertPartition(planted: DataFrame, out: TrainingDataPrep.Outputs): Unit = {
    val ids = planted.select("doc_id").collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "fixture ids must be unique")
    val kept = out.kept.select("doc_id").collect().map(_.getLong(0))
    val dropped = out.dropped.collect().map(r => (r.getLong(0), r.getString(1)))
    val all = kept ++ dropped.map(_._1)
    assert(all.length == all.distinct.length,
      "an id is in kept and dropped, or dropped twice")
    assert(all.toSet == ids.toSet)
    out.attrition.orderBy(col("stage_ord")).collect().foreach { r =>
      val label = labels(r.getInt(0) - 1)
      assert(dropped.count(_._2 == label) == r.getLong(2) - r.getLong(3),
        s"$label drops vs attrition ${r.getLong(2)} → ${r.getLong(3)}")
    }
  }

  test("planted copies and mutants die in their intended stages") {
    val (docs, planted, evalSh) = corpus
    val out = TrainingDataPrep.prepare(planted, evalNgrams = Some(evalSh))
    val dropped = out.dropped.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap

    val copyIds = docs.filter(col("doc_id") % 50 === 0)
      .collect().map(_.getLong(0) + 2000000L)
    assert(copyIds.nonEmpty)
    copyIds.foreach { id =>
      assert(dropped.get(id).contains("exact_dup"), s"copy $id: ${dropped.get(id)}")
    }
    // a mutant is a near-dup of its original; whichever survives quality
    // must see the pair caught in stage 3 — the mutant has the LARGER id,
    // so keep-first drops the mutant (unless quality already killed it)
    val mutantIds = docs.filter(col("doc_id") % 25 === 0)
      .collect().map(_.getLong(0) + 1000000L)
    val keptIds = out.kept.collect().map(_.getLong(0)).toSet
    mutantIds.foreach { id =>
      assert(!keptIds.contains(id), s"mutant $id survived")
    }
    val nearDupMutants = mutantIds.count(id => dropped.get(id).contains("near_dup"))
    assert(nearDupMutants * 2 >= mutantIds.length,
      s"only $nearDupMutants/${mutantIds.length} mutants died in near_dup")
    // stitched docs (concat of two originals) have ≈0.5 Jaccard with each
    // source — doc-level near-dup misses them; the chunk stage must not
    val stitchedIds = docs.filter(col("doc_id") % 40 === 0).select("doc_id")
      .collect().map(_.getLong(0) + 4000000L).toSet
    assert(stitchedIds.nonEmpty)
    // A stitch whose second source is much shorter is a GENUINE near-dup
    // of its first source (J = |A|/|A∪B| ≥ 0.8) and may die in stage 3;
    // every other stitch must reach stage 4 and die there — never survive.
    stitchedIds.foreach { id =>
      assert(Seq("chunk_boilerplate", "near_dup").exists(dropped.get(id).contains),
        s"stitched $id: ${dropped.get(id)}")
    }
    val chunkCaught = stitchedIds.count(id => dropped.get(id).contains("chunk_boilerplate"))
    assert(chunkCaught * 2 >= stitchedIds.size,
      s"only $chunkCaught/${stitchedIds.size} stitches died in chunk_boilerplate")
    // ...and the chunk stage must not eat the corpus: on this tiny-vocab
    // synthetic data a rare ordinary doc legitimately exceeds the bar
    // (all its short common chunks first occur elsewhere — that IS
    // boilerplate by the filter's definition), so allow a ≤1% natural
    // catch rather than an exact planted-only set
    val boilerDropped = dropped.collect { case (id, "chunk_boilerplate") => id }.toSet
    val naturals = boilerDropped -- stitchedIds
    assert(naturals.size * 100 <= docs.count(),
      s"chunk_boilerplate ate ${naturals.size} ordinary docs: $naturals")
  }

  test("contaminated plants survive stages 1-4 and die in decontamination") {
    // sf0.01: the ≥80-word host filter leaves real contaminated plants
    val sf01 = "/root/testdata/sf0.01"
    val (docs01, planted01, evalSh01) =
      graft.operators.LlmOps.corpusPrepFixture(spark, sf01)
    val out = TrainingDataPrep.prepare(
      docs01.unionByName(planted01), evalNgrams = Some(evalSh01))
    val dropped = out.dropped.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val contamIds = planted01.filter(col("doc_id") >= 5000000L)
      .select("doc_id").collect().map(_.getLong(0))
    assert(contamIds.nonEmpty, "fixture must produce contaminated plants")
    // reversed-host texts are unique with novel chunks: nothing before the
    // decontamination stage may catch them, and it must catch every one
    contamIds.foreach { id =>
      assert(dropped.get(id).contains("decontaminated"),
        s"contaminated $id: ${dropped.get(id)}")
    }
    // and stage 5 must not eat clean docs: every decontaminated drop is a
    // plant or an eval-SOURCE doc (the snippets derive from corpus docs,
    // so the sources legitimately contain benchmark content)
    val decon = dropped.collect { case (id, "decontaminated") => id }.toSet
    val evalSources = docs01.filter(col("doc_id") % 97 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((decon -- contamIds).subsetOf(evalSources),
      s"stage 5 dropped clean docs: ${decon -- contamIds -- evalSources}")
  }

  test("attrition reconciles: docs_out chains, kept size matches, quality holds") {
    val (_, planted, evalSh) = corpus
    val out = TrainingDataPrep.prepare(planted, evalNgrams = Some(evalSh))
    val rows = out.attrition.orderBy(col("stage_ord")).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq ==
      Seq("exact_dedup", "quality_filter", "neardup_removal", "chunk_boilerplate",
        "decontaminate"))
    // docs_in of stage n+1 == docs_out of stage n; monotone non-increasing
    rows.sliding(2).foreach { case Array((_, _, o1), (s2, i2, _)) =>
      assert(i2 == o1, s"stage $s2 in=$i2 != prev out=$o1")
    }
    assert(rows.head._2 == planted.count())
    assert(rows.last._3 == out.kept.count())
    // every kept doc clears the bar and total drops reconcile
    assert(out.kept.filter(col("quality") < 0.45).count() == 0)
    assert(out.dropped.count() == planted.count() - out.kept.count())
    assertPartition(planted, out)
  }

  test("the _stages settings disable stages 3-5: they pass through with " +
      "in = out and label no drop") {
    val (_, planted, _) = corpus
    val out = TrainingDataPrep.prepare(planted,
      neardupThreshold = 1.01, chunkDupMax = 1.0, evalNgrams = None)
    val rows = out.attrition.orderBy(col("stage_ord")).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == (1 to 5))
    assert(rows(1)._3 < rows(0)._2, "stages 1-2 must drop something")
    rows.drop(2).foreach { case (ord, in, o) =>
      assert(in == o && o == rows(1)._3, s"stage $ord: in $in, out $o")
    }
    val stages = out.dropped.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages.subsetOf(Set("exact_dup", "low_quality")), stages)
    assertPartition(planted, out)
  }
}
