package graft

import graft.examples.IncrementalPrep
import graft.functions.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental corpus prep (examples.IncrementalPrep): each planted batch
  * family dies in its intended stage, the attrition report chains, and
  * `append = true` closes the ingest loop — a second batch's probe sees
  * the first batch's kept docs through the index. */
class IncrementalPrepSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.01"

  private def setup() = {
    val all = spark.read.parquet(graft.Fixtures.neardupCorpus(spark, sf))
    val corpus = all.filter(col("id") % 1000000000L < 1000000L)
    val batch = spark.read.parquet(graft.Fixtures.incPrepBatch(spark, sf))
    (corpus, batch)
  }

  /** Every batch id is in exactly one of `kept` and `dropped`, and each
    * stage label counts exactly the docs that stage lost (its attrition
    * docs_in − docs_out): an id's label is the first stage whose
    * checkpoint lacks it. */
  private def assertPartition(batch: org.apache.spark.sql.DataFrame,
      out: IncrementalPrep.Outputs): Unit = {
    val ids = batch.select(col("id").cast("long")).collect().map(_.getLong(0))
    assert(ids.distinct.length == ids.length, "fixture ids must be unique")
    val kept = out.kept.select("id").collect().map(_.getLong(0))
    val dropped = out.dropped.collect().map(r => (r.getLong(0), r.getString(1)))
    val all = kept ++ dropped.map(_._1)
    assert(all.length == all.distinct.length,
      "an id is in kept and dropped, or dropped twice")
    assert(all.toSet == ids.toSet)
    val labels = Seq("batch_exact_dup", "low_quality", "corpus_near_dup",
      "batch_near_dup", "decontaminated")
    out.attrition.orderBy(col("stage_ord")).collect().foreach { r =>
      val label = labels(r.getInt(0) - 1)
      assert(dropped.count(_._2 == label) == r.getLong(2) - r.getLong(3),
        s"$label drops vs attrition ${r.getLong(2)} → ${r.getLong(3)}")
    }
  }

  test("planted batch families die in their intended stages") {
    val (corpus, batch) = setup()
    val (bandsT, repsT) = graft.layouts.MinHashIndex.ensure(
      spark, sf, corpus, "neardup_repbase", 5, 64, 16, 4, Seq("documents"))
    val words = split(TextOps.normalize(col("text")), " ")
    val evalSh = corpus.filter(col("id") % 1000000000L % 97 === 0)
      .select(explode(TextOps.wordShingles(
        concat_ws(" ", slice(words, 3, 12)), 5)).as("sh"))
      .distinct()
    val out = IncrementalPrep.run(spark, bandsT, repsT, batch,
      evalNgrams = Some(evalSh))
    val dropped = out.dropped.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val kept = out.kept.select("id").collect().map(_.getLong(0)).toSet
    def family(lo: Long, hi: Long): Seq[Long] =
      (dropped.keys ++ kept).filter(id =>
        id % 1000000000L >= lo && id % 1000000000L < hi).toSeq.sorted

    // +3e6 second copies: raw-text twin of their +2e6 sibling → stage 1
    val twins = family(3000000L, 4000000L)
    assert(twins.nonEmpty)
    twins.foreach(id => assert(dropped.get(id).contains("batch_exact_dup"),
      s"copy twin $id: ${dropped.get(id)}"))

    // +7e6 digit junk → stage 2 (digit_ratio caps quality ≈ 0.06)
    val junk = family(7000000L, 8000000L)
    assert(junk.nonEmpty)
    junk.foreach(id => assert(dropped.get(id).contains("low_quality"),
      s"junk $id: ${dropped.get(id)}"))

    // +2e6 exact copies of corpus docs: whatever passes quality is an
    // index hit at J=1 → corpus_near_dup; NONE may survive
    val copies = family(2000000L, 3000000L)
    assert(copies.nonEmpty)
    copies.foreach { id =>
      assert(!kept.contains(id), s"corpus copy $id survived")
      assert(Set("low_quality", "corpus_near_dup").contains(dropped(id)),
        s"copy $id: ${dropped(id)}")
    }
    assert(copies.count(id => dropped(id) == "corpus_near_dup") >= 1)

    // +1e6 one-word mutants: J vs the original ≈ (n−9)/(n+1) ≥ 0.5 needs
    // n ≥ 19 words — every long-enough mutant must die (quality or the
    // index probe); short mutants may legitimately survive
    val mutLen = batch.filter(col("id") % 1000000000L >= 1000000L &&
        col("id") % 1000000000L < 2000000L)
      .select(col("id"), size(split(TextOps.normalize(col("text")), " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(mutLen.nonEmpty)
    mutLen.filter(_._2 >= 19).foreach { case (id, n) =>
      assert(!kept.contains(id), s"mutant $id ($n words) survived")
      assert(Set("low_quality", "corpus_near_dup").contains(dropped(id)),
        s"mutant $id: ${dropped(id)}")
    }
    assert(mutLen.count { case (id, _) => dropped.get(id).contains("corpus_near_dup") } >= 1)

    // +5e6 mutated reversals: the +4e6 sibling (smaller id, same novel
    // text family) pairs them within the batch → batch_near_dup
    val novelMut = family(5000000L, 6000000L)
    assert(novelMut.nonEmpty)
    novelMut.foreach { id =>
      assert(!kept.contains(id), s"novel mutant $id survived")
      assert(Set("low_quality", "batch_near_dup").contains(dropped(id)),
        s"novel mutant $id: ${dropped(id)}")
    }
    assert(novelMut.count(id => dropped(id) == "batch_near_dup") >= 1)

    // +6e6 eval-snippet leaks: concentration 8/14 ≥ 0.5 → decontaminated
    // (a 14-word base makes the leak itself J=0.5 vs the corpus — that
    // edge may die one stage earlier; none may survive)
    val contam = family(6000000L, 7000000L)
    assert(contam.nonEmpty)
    contam.foreach { id =>
      assert(!kept.contains(id), s"contaminated $id survived")
      assert(Set("low_quality", "corpus_near_dup", "decontaminated")
        .contains(dropped(id)), s"contaminated $id: ${dropped(id)}")
    }
    assert(contam.count(id => dropped(id) == "decontaminated") >= 1)

    // +4e6 reversed novels are the keeper family
    val keptNovel = kept.filter(id =>
      id % 1000000000L >= 4000000L && id % 1000000000L < 5000000L)
    assert(keptNovel.nonEmpty, "no reversed novel doc survived")

    // attrition chains: docs_in(k) = docs_out(k−1); final = kept count
    val att = out.attrition.orderBy(col("stage_ord")).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3)))
    att.sliding(2).foreach { case Array((_, _, prevOut), (ord, in, _)) =>
      assert(in == prevOut, s"stage $ord docs_in $in != prev docs_out $prevOut")
    }
    assert(att.last._3 == kept.size)
    assert(att.head._2 == batch.count())
    assertPartition(batch, out)
  }

  test("append closes the ingest loop: a later batch dedups against " +
      "corpus ∪ kept through the index") {
    val (corpus, batch) = setup()
    // unique tag per run: append MUTATES the persisted layout, and a
    // re-registered already-appended layout would change batch1's probe
    val tag = s"incprep_append_${System.nanoTime()}"
    val (bandsT, repsT) = graft.layouts.MinHashIndex.ensure(
      spark, sf, corpus, tag, 5, 64, 16, 4, Seq("documents"))
    val repsBefore = spark.table(repsT).count()
    val batch1 = batch.filter(col("id") % 1000000000L >= 4000000L &&
      col("id") % 1000000000L < 5000000L)
    // compacting right after the run exercises the maintenance wiring
    // end-to-end: the append's extra bucket files are rewritten away
    // before batch2's probe, which must see identical content
    // (Bucketed.compact is placement-only — DedupSpec pins the
    // file-count mechanics)
    val out1 = IncrementalPrep.run(spark, bandsT, repsT, batch1, append = true)
    graft.layouts.MinHashIndex.compact(spark, bandsT, repsT)
    val kept1 = out1.kept.select(col("id"), col("text")).collect()
    assert(kept1.nonEmpty)
    assertPartition(batch1, out1)
    // the index grew by exactly the kept docs' distinct norms
    val keptNorms = out1.kept
      .select(TextOps.normalize(col("text")).as("n")).distinct().count()
    assert(spark.table(repsT).count() == repsBefore + keptNorms)
    // batch2 = exact copies of batch1's keepers at fresh ids: every one
    // must now die against the APPENDED index at J = 1
    val batch2 = out1.kept.select((col("id") + 500000L).as("id"), col("text"))
    val out2 = IncrementalPrep.run(spark, bandsT, repsT, batch2)
    val dropped2 = out2.dropped.collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    kept1.foreach { r =>
      val id2 = r.getLong(0) + 500000L
      assert(dropped2.get(id2).contains("corpus_near_dup"),
        s"appended doc not seen by the next probe: $id2 → ${dropped2.get(id2)}")
    }
    assert(out2.kept.count() == 0)
    assertPartition(batch2, out2)
  }
}
