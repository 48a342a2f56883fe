package graft

import graft.etl.TextDedup
import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md neardup4: A, A-with-one-word-changed (near-dup), B, C.
  * MinHash+LSH must surface exactly the {A, A'} pair; SimHash must place
  * them within small Hamming distance while unrelated pairs stay far. */
class DedupSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val wordsA = (1 to 50).map(i => s"alpha$i")
  private val textA  = wordsA.mkString(" ")
  private val textA2 = wordsA.updated(24, "CHANGED").mkString(" ")
  private val textB  = (1 to 50).map(i => s"beta$i").mkString(" ")
  private val textC  = (1 to 50).map(i => s"gamma$i").mkString(" ")

  private lazy val neardup4 =
    Seq((1L, textA), (2L, textA2), (3L, textB), (4L, textC)).toDF("id", "text")

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("cappedBlocks bounds a hot block's candidate pairs deterministically") {
    import org.apache.spark.sql.functions._
    // one hot block of 500 docs + a small one; cap 100
    val docs = spark.range(500).select(col("id"), lit("hot").as("source"))
      .unionByName(spark.range(1000, 1010).select(col("id"), lit("cold").as("source")))
    val capped = TextDedup.cappedBlocks(docs, "source", "id", cap = 100)
    val bySource = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySource == Map("hot" -> 100L, "cold" -> 10L))
    // deterministic: the cap keeps the smallest ids
    assert(capped.filter(col("source") === "hot").agg(max("id")).head().getLong(0) == 99L)
    // pair bound: a within-block self-join cannot exceed cap*(cap-1)/2
    val pairs = capped.as("a").join(capped.as("b"),
      col("a.source") === col("b.source") && col("a.id") < col("b.id")).count()
    assert(pairs <= 100L * 99 / 2 + 10L * 9 / 2)
  }

  test("neardup4: minhash+LSH finds exactly the planted pair at J >= 0.7") {
    val pairs = TextDedup.minhashPairs(neardup4,
        shingleWords = 5, nHashes = 64, nBands = 16, rowsPerBand = 4, threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // one word changed in 50 -> 5 of 46 shingles differ: J = 41/51
    assert(math.abs(pairs.head._3 - 41.0 / 51.0) < 1e-12)
  }

  test("neardup4: dedup is idempotent (no pairs among survivors)") {
    val survivors = neardup4.filter("id != 2")
    val again = TextDedup.minhashPairs(survivors, 5, 64, 16, 4, 0.7)
    assert(again.count() == 0)
  }

  test("neardup4: simhash Hamming distance separates near-dups from strangers") {
    val sh = TextDedup.simhashes(neardup4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(2L)) <= 12)
    assert(hamming(sh(1L), sh(3L)) >= 20)
    assert(hamming(sh(1L), sh(4L)) >= 20)
  }

  test("connectedComponents: chains, cycles, isolates get min-id labels") {
    import org.apache.spark.sql.functions._
    // chain 1-2-3, isolated 4, pair 5-6, cycle 7-8-9-7
    val nodes = (1L to 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L), (8L, 9L), (9L, 7L))
      .toDF("a", "b")
    val got = TextDedup.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("connectedComponents: a planted diameter-64 chain converges in " +
      "O(log d) rounds via the pointer-jumping shortcut") {
    // plain min-propagation needs d rounds for a diameter-d path (node
    // 65's label walks one hop per round) — past ShortcutAfter the
    // label composition halves chain depth per round, so the planted
    // chain must converge in ~ShortcutAfter + 2·log2(d) rounds, far
    // under the plain-propagation 64 (and under maxIters).
    val nodes = (1L to 65L).toDF("id")
    val edges = (1L to 64L).map(i => (i, i + 1)).toDF("a", "b")
    val got = TextDedup.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (1L to 65L).map(i => i -> 1L).toMap,
      s"chain did not collapse to one component: ${got.toSeq.sortBy(_._1).take(8)}…")
    assert(TextDedup.lastIters <= TextDedup.ShortcutAfter + 12,
      s"diameter-64 chain took ${TextDedup.lastIters} rounds — pointer jumping inert")
    // and the common case still converges under the threshold (the
    // one-join-per-round r7 shape): a depth-2 star
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    TextDedup.connectedComponents((1L to 4L).toDF("id"), star).collect()
    assert(TextDedup.lastIters <= TextDedup.ShortcutAfter,
      s"shallow graph crossed the shortcut threshold: ${TextDedup.lastIters}")
  }

  test("connectedComponents: empty edge set yields all-singleton components") {
    // regression: with zero edges the label frame is empty, so the
    // monotone-mass convergence sum is NULL — this used to NPE.
    val nodes = (1L to 5L).toDF("id")
    val edges = spark.emptyDataset[(Long, Long)].toDF("a", "b")
    val got = TextDedup.connectedComponents(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == (1L to 5L).map(i => i -> i).toMap)
    assert(TextDedup.lastIters == 0)
  }

  test("llm_dedup_clusters: planted chains collapse transitively") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val clusters = SparkEntry.queries("llm_dedup_clusters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val origs = clusters.keys.filter(id => id < 1000000L && clusters.contains(id + 1000000L)).toSeq.sorted
    assert(origs.nonEmpty)
    // every planted A and B lands in its original's cluster
    origs.foreach { o =>
      assert(clusters(o + 1000000L) == clusters(o), s"A of $o split off")
      assert(clusters(o + 2000000L) == clusters(o), s"B of $o split off")
    }
    // and at least one chain is GENUINELY transitive: J(orig, B) < 0.5
    // while both hops are >= 0.5 — the pairwise rule alone cannot join it
    graft.functions.GraftFunctions.register(spark)
    val base = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val words = split(graft.functions.TextOps.normalize(col("text")), " ")
    val eligible = base.filter(col("doc_id") % 50 === 0 && size(words) >= 30)
    val mutB = eligible.select(col("doc_id"),
      concat_ws(" ", transform(words, (w, i) =>
        when(i.between(9, 13), lit("graftmuta"))
          .when(i.between(19, 23), lit("graftmutb")).otherwise(w))).as("text_b"))
    val direct = base.join(mutB, "doc_id")
      .select(col("doc_id"),
        expr("jaccard_sim(word_shingles(trim(regexp_replace(lower(text), '\\s+', ' ')), 3), " +
          "word_shingles(text_b, 3))").as("j"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val transitiveOnly = origs.filter(o => direct(o) < 0.5)
    assert(transitiveOnly.nonEmpty,
      s"no chain needed transitivity (direct J: $direct)")
  }

  test("MinHashIndex lifecycle: ensure → probe → append → next batch finds " +
      "the appended reps; exact dups of indexed reps are NOT re-indexed") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val P = (5, 64, 16, 4) // shingleWords, nHashes, nBands, rowsPerBand
    // own tag + tiny synthetic corpus: must not touch the registry row's
    // layout (separate spec name ⇒ separate cached tables). Layouts are
    // now durable ACROSS JVMs (appends survive), so this lifecycle
    // fixture must explicitly invalidate its own layout first or a
    // previous run's appended reps leak into batch-1 assertions.
    graft.layouts.Bucketed.invalidate(spark, "mhidx_appendspec_")
    val corpus = Seq((1L, textA), (3L, textB), (4L, textC)).toDF("id", "text")
    val (bandsT, repsT) = graft.layouts.MinHashIndex.ensure(
      spark, "/root/testdata/sf0.001", corpus, "appendspec",
      P._1, P._2, P._3, P._4, Seq("region"))
    // batch 1: A' (near-dup of indexed A), an exact copy of B, and a fresh doc
    val textD = (1 to 50).map(i => s"delta$i").mkString(" ")
    val batch1 = Seq((10L, textA2), (11L, textB), (12L, textD)).toDF("id", "text")
    val (pairs1, reps1) = graft.layouts.MinHashIndex.probe(
      spark, bandsT, repsT, batch1, P._1, P._2, P._3, P._4, threshold = 0.5)
    val got1 = pairs1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got1.map(t => (t._1, t._2)).toSet == Set((10L, 1L), (11L, 3L)),
      s"batch1 pairs: ${got1.toSeq}")
    assert(got1.find(_._1 == 11L).get._3 == 1.0) // the exact copy
    // fold batch 1 in: A' and D append; the exact copy of B must NOT
    graft.layouts.MinHashIndex.append(
      spark, bandsT, repsT, pairs1, reps1, P._1, P._2, P._3, P._4)
    val indexed = spark.table(repsT).select("rep").as[Long].collect().toSet
    assert(indexed == Set(1L, 3L, 4L, 10L, 12L), s"indexed reps: $indexed")
    // batch 2: a near-dup of D — findable ONLY via the appended rows
    val textD2 = (1 to 50).map(i => s"delta$i").updated(30, "CHANGED").mkString(" ")
    val batch2 = Seq((20L, textD2)).toDF("id", "text")
    val (pairs2, _) = graft.layouts.MinHashIndex.probe(
      spark, bandsT, repsT, batch2, P._1, P._2, P._3, P._4, threshold = 0.5)
    val got2 = pairs2.select("brep", "crep").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.toSet == Set((20L, 12L)), s"batch2 pairs: ${got2.toSeq}")

    // CROSS-JVM DURABILITY (r7 ADVICE): a fresh JVM's in-memory catalog
    // has forgotten the tables, but the files + _GRAFT_COMPLETE markers
    // persist — ensure() must RE-REGISTER the intact layout (keeping the
    // appended batch) instead of wiping and rebuilding from the base
    // corpus. The layout tables are EXTERNAL, so DROP TABLE keeps the
    // files: dropping both tables simulates exactly the fresh-JVM state.
    spark.sql(s"DROP TABLE $bandsT")
    spark.sql(s"DROP TABLE $repsT")
    val (bandsT2, repsT2) = graft.layouts.MinHashIndex.ensure(
      spark, "/root/testdata/sf0.001", corpus, "appendspec",
      P._1, P._2, P._3, P._4, Seq("region"))
    assert((bandsT2, repsT2) == (bandsT, repsT))
    val indexedAfter = spark.table(repsT2).select("rep").as[Long].collect().toSet
    assert(indexedAfter == Set(1L, 3L, 4L, 10L, 12L),
      s"re-registered index lost appended reps: $indexedAfter")
    // and the re-registered bucketed table still serves the probe
    val (pairs3, _) = graft.layouts.MinHashIndex.probe(
      spark, bandsT2, repsT2, batch2, P._1, P._2, P._3, P._4, threshold = 0.5)
    val got3 = pairs3.select("brep", "crep").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got3.toSet == Set((20L, 12L)), s"post-reregister pairs: ${got3.toSeq}")
  }

  test("within-batch pairs from the probe's band rows match " +
      "TextDedup.minhashPairs on the same batch (norm twins, short texts)") {
    import org.apache.spark.sql.functions._
    import graft.layouts.MinHashIndex
    graft.functions.GraftFunctions.register(spark)
    val P = (5, 64, 16, 4)
    graft.layouts.Bucketed.invalidate(spark, "mhidx_batchpairspec_")
    val corpus = Seq((1L, textC)).toDF("id", "text")
    val (bandsT, repsT) = MinHashIndex.ensure(
      spark, SparkTestBase.dataDir, corpus, "batchpairspec",
      P._1, P._2, P._3, P._4, Seq("region"))
    val batch = Seq(
      (10L, textA), (11L, textA2),
      (12L, textA.toUpperCase), // exact-norm twin of 10: one group
      (13L, "  " + textA2.replace(" ", "  ")), // norm twin of 11
      (14L, textB), (15L, textB), // raw-text twins
      (16L, "tiny doc"), (17L, "Tiny  DOC"), // shorter than 5 words, twins
      (18L, "one two three four"), (19L, "one two three five"),
      (20L, textC)).toDF("id", "text")
    // ensure's default count is the fact layouts' size rule (its floor here)
    assert(MinHashIndex.bucketsOf(spark, bandsT) ==
      graft.layouts.Bucketed.defaultBuckets(SparkTestBase.dataDir, Seq("region")))
    assert(MinHashIndex.bucketsOf(spark, bandsT) == 8)
    val probed = MinHashIndex.probeBatch(spark, bandsT, repsT, batch,
      P._1, P._2, P._3, P._4, threshold = 0.5)
    val repPairs = MinHashIndex.batchRepPairs(probed.bBands, probed.bReps,
      P._1, threshold = 0.5)
    val want = TextDedup.minhashPairs(batch, P._1, P._2, P._3, P._4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // not vacuous: the reference holds cross pairs of two two-member
    // groups at the reps' Jaccard and the twins at 1.0
    val byPair = want.map(t => (t._1, t._2) -> t._3).toMap
    val crossA = Seq((10L, 11L), (10L, 13L), (11L, 12L), (12L, 13L))
    crossA.foreach(p => assert(byPair.get(p).exists(j => j >= 0.5 && j < 1.0), s"$p: $want"))
    Seq((10L, 12L), (11L, 13L), (14L, 15L), (16L, 17L))
      .foreach(p => assert(byPair.get(p).contains(1.0), s"$p: $want"))
    assert(want.size == crossA.size + 4, s"unexpected pairs: $want")
    // the rep-to-rep pairs are the reference's pairs between group reps
    val reps = probed.bReps.select("rep").as[Long].collect().toSet
    assert(repPairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sorted == want.filter(t => reps(t._1) && reps(t._2)).sorted)
    // keep-first keeps exactly the docs that are never a pair's larger id
    val members = batch
      .withColumn("norm", graft.functions.TextOps.normalize(col("text")))
      .join(probed.bReps.withColumnRenamed("rep", "brep"), "norm")
      .select(col("id"), col("brep"))
    val kept = MinHashIndex.keepFirst(members, repPairs).select("id").as[Long]
      .collect().toSet
    assert(kept == (10L to 20L).toSet -- want.map(_._2))
  }

  test("MinHash probes on a quiescent index share ONE bucket-file listing " +
      "(the marker-validated bucketFiles cache) — repeat probes pay a " +
      "metadata stat, not a directory walk, and answer identically") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val P = (5, 64, 16, 4)
    graft.layouts.Bucketed.invalidate(spark, "mhidx_servespec_")
    val corpus = Seq((1L, textA), (3L, textB), (4L, textC)).toDF("id", "text")
    val (bandsT, repsT) = graft.layouts.MinHashIndex.ensure(
      spark, "/root/testdata/sf0.001", corpus, "servespec",
      P._1, P._2, P._3, P._4, Seq("region"))
    // quiesce: the cache distrusts markers younger than its 2 s
    // mtime-granularity slack — backdate them the way wall-clock would
    Seq(bandsT, repsT).foreach { t =>
      val d = new java.io.File(new java.net.URI(
        spark.sql(s"DESC FORMATTED $t").filter(col("col_name") === "Location")
          .head().getString(1)))
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(d.getPath, "_GRAFT_COMPLETE"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000))
    }
    val batch = Seq((10L, textA2)).toDF("id", "text")
    def probeOnce(): Set[(Long, Long)] = graft.layouts.MinHashIndex.probe(
      spark, bandsT, repsT, batch, P._1, P._2, P._3, P._4, threshold = 0.5)
      ._1.select("brep", "crep").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val first = probeOnce() // warms the listing cache for both tables
    assert(first == Set((10L, 1L)), s"probe pairs: $first")
    val n0 = graft.layouts.Bucketed.bucketListings
    val second = probeOnce()
    assert(second == first)
    assert(graft.layouts.Bucketed.bucketListings == n0,
      "second probe of a quiescent index re-walked the table directories")
  }

  test("MinHashIndex append with a batchTag is EXACTLY-ONCE: a retried batch " +
      "is a no-op, and the stamp survives compaction") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val P = (5, 64, 16, 4)
    graft.layouts.Bucketed.invalidate(spark, "mhidx_tagspec_")
    val corpus = Seq((1L, textA), (3L, textB)).toDF("id", "text")
    val (bandsT, repsT) = graft.layouts.MinHashIndex.ensure(
      spark, "/root/testdata/sf0.001", corpus, "tagspec",
      P._1, P._2, P._3, P._4, Seq("region"))
    val textD = (1 to 50).map(i => s"tagd$i").mkString(" ")
    val batch = Seq((12L, textD)).toDF("id", "text")
    val (pairs, reps) = graft.layouts.MinHashIndex.probe(
      spark, bandsT, repsT, batch, P._1, P._2, P._3, P._4, threshold = 0.5)
    assert(graft.layouts.MinHashIndex.append(
      spark, bandsT, repsT, pairs, reps, P._1, P._2, P._3, P._4,
      batchTag = Some("night-001")))
    val afterFirst = spark.table(repsT).count()
    // the retried nightly run: same tag → no-op, content unchanged
    assert(!graft.layouts.MinHashIndex.append(
      spark, bandsT, repsT, pairs, reps, P._1, P._2, P._3, P._4,
      batchTag = Some("night-001")))
    assert(spark.table(repsT).count() == afterFirst)
    // compaction rewrites placement but carries the stamp — the retry
    // stays a no-op (a lost stamp would double-append the batch)
    graft.layouts.MinHashIndex.compact(spark, bandsT, repsT)
    assert(!graft.layouts.MinHashIndex.append(
      spark, bandsT, repsT, pairs, reps, P._1, P._2, P._3, P._4,
      batchTag = Some("night-001")))
    assert(spark.table(repsT).count() == afterFirst)
    // a NEW tag still appends (the no-op is per-batch, not a lock)
    val batch2 = Seq((13L, (1 to 50).map(i => s"tage$i").mkString(" "))).toDF("id", "text")
    val (pairs2, reps2) = graft.layouts.MinHashIndex.probe(
      spark, bandsT, repsT, batch2, P._1, P._2, P._3, P._4, threshold = 0.5)
    assert(graft.layouts.MinHashIndex.append(
      spark, bandsT, repsT, pairs2, reps2, P._1, P._2, P._3, P._4,
      batchTag = Some("night-002")))
    assert(spark.table(repsT).count() == afterFirst + 1)
  }

  test("MinHashIndex compaction: appends accumulate files per bucket; compact() " +
      "restores one file per bucket and leaves probe results invariant") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val P = (5, 64, 16, 4)
    graft.layouts.Bucketed.invalidate(spark, "mhidx_compactspec_")
    val corpus = Seq((1L, textA), (3L, textB), (4L, textC)).toDF("id", "text")
    val (bandsT, repsT) = graft.layouts.MinHashIndex.ensure(
      spark, "/root/testdata/sf0.001", corpus, "compactspec",
      P._1, P._2, P._3, P._4, Seq("region"))
    val ensuredBuckets = graft.layouts.MinHashIndex.bucketsOf(spark, bandsT)
    // two append rounds so files-per-bucket provably exceeds one
    val textD = (1 to 50).map(i => s"zeta$i").mkString(" ")
    val textE = (1 to 50).map(i => s"eta$i").mkString(" ")
    for ((id, t) <- Seq((10L, textD), (11L, textE))) {
      val batch = Seq((id, t)).toDF("id", "text")
      val (pairs, reps) = graft.layouts.MinHashIndex.probe(
        spark, bandsT, repsT, batch, P._1, P._2, P._3, P._4, threshold = 0.5)
      graft.layouts.MinHashIndex.append(
        spark, bandsT, repsT, pairs, reps, P._1, P._2, P._3, P._4)
    }
    // files per bucket, parsed from the bucketed file names (_NNNNN)
    def filesPerBucket(qname: String): Map[Int, Int] = {
      val loc = spark.sql(s"DESC FORMATTED $qname")
        .filter(col("col_name") === "Location").head().getString(1)
      Option(new java.io.File(new java.net.URI(loc)).listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
        .flatMap(f => "_(\\d{5})\\.".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
        .groupBy(identity).map { case (b, fs) => b -> fs.length }
    }
    assert(filesPerBucket(bandsT).values.max > 1,
      "appends should have produced a multi-file bucket")
    // probe result BEFORE compaction (a near-dup of the appended D)
    val textD2 = (1 to 50).map(i => s"zeta$i").updated(30, "CHANGED").mkString(" ")
    val batch2 = Seq((20L, textD2)).toDF("id", "text")
    def probePairs(): Set[(Long, Long)] = {
      val (pairs, _) = graft.layouts.MinHashIndex.probe(
        spark, bandsT, repsT, batch2, P._1, P._2, P._3, P._4, threshold = 0.5)
      pairs.select("brep", "crep").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val before = probePairs()
    assert(before == Set((20L, 10L)), s"pre-compact pairs: $before")
    // the fragmentation observable the maintenance cadence keys on
    val frag = graft.layouts.MinHashIndex.maxFilesPerBucket(spark, bandsT, repsT)
    assert(frag >= 2, s"maxFilesPerBucket should see the appended files: $frag")
    // below the threshold: no compaction runs, files stay fragmented
    assert(!graft.layouts.MinHashIndex.compactIfFragmented(
      spark, bandsT, repsT, maxFiles = frag + 1))
    assert(filesPerBucket(bandsT).values.max > 1,
      "compactIfFragmented below threshold must not rewrite")
    // at the threshold: the self-driving rule compacts
    assert(graft.layouts.MinHashIndex.compactIfFragmented(
      spark, bandsT, repsT, maxFiles = frag))
    for (q <- Seq(bandsT, repsT)) {
      val fpb = filesPerBucket(q)
      assert(fpb.nonEmpty && fpb.values.max == 1,
        s"$q not compacted to one file per bucket: $fpb")
      // still a registered bucketed table with its marker re-certified
      assert(spark.catalog.tableExists(q), s"$q lost from catalog")
      val loc = spark.sql(s"DESC FORMATTED $q")
        .filter(col("col_name") === "Location").head().getString(1)
      assert(new java.io.File(new java.io.File(new java.net.URI(loc)), "_GRAFT_COMPLETE").exists(),
        s"$q marker missing after compact")
    }
    // bucket spec preserved: still the count the index was ensured with
    // (append after compact must still match)
    assert(graft.layouts.MinHashIndex.bucketsOf(spark, bandsT) == ensuredBuckets)
    // probe results are invariant under compaction
    assert(probePairs() == before, "compaction changed probe results")
    // and the content row counts are unchanged (placement-only rewrite)
    assert(spark.table(repsT).count() == 5) // 3 base + D + E
  }

  test("MinHashIndex append is crash-safe: a torn append is ROLLED BACK to the " +
      "pre-append state — no half batch served, no applied batches lost") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val P = (5, 64, 16, 4)
    graft.layouts.Bucketed.invalidate(spark, "mhidx_tornspec_")
    val corpus = Seq((1L, textA), (3L, textB)).toDF("id", "text")
    def build() = graft.layouts.MinHashIndex.ensure(
      spark, "/root/testdata/sf0.001", corpus, "tornspec",
      P._1, P._2, P._3, P._4, Seq("region"))
    val (bandsT, repsT) = build()
    val bandRowsBefore = sortedRows(spark.table(bandsT))
    // simulate the torn append the r8 marker protocol left undetected:
    // the bands write commits, then the reps write "crashes"
    val textD = (1 to 50).map(i => s"epsilon$i").mkString(" ")
    val batch = Seq((30L, textD)).toDF("id", "text")
    val (bands, _) = graft.layouts.MinHashIndex.bandRows(batch, P._1, P._2, P._3, P._4)
    val boom = intercept[RuntimeException] {
      graft.layouts.Bucketed.appendGuard(spark, Seq(bandsT, repsT)) {
        bands.select(col("bkey64"), col("rep"))
          .write.mode("append")
          .bucketBy(graft.layouts.MinHashIndex.bucketsOf(spark, bandsT), "bkey64")
          .sortBy("bkey64")
          .saveAsTable(bandsT)
        throw new RuntimeException("simulated crash between the append pair")
      }
    }
    assert(boom.getMessage.contains("simulated crash"))
    // RESTORE, not wipe (r10 ADVICE): the family survives the failure
    // with its pre-append content — for real ingest the deltas are not
    // re-derivable from the base spec, so a transient failure must not
    // discard previously applied batches
    assert(spark.catalog.tableExists(bandsT) && spark.catalog.tableExists(repsT),
      "torn-append family should be restored, not dropped")
    assert(sortedRows(spark.table(bandsT)) == bandRowsBefore,
      "restored bands table content diverges from the pre-append state")
    val reps = spark.table(repsT).select("rep").as[Long].collect().toSet
    assert(reps == Set(1L, 3L), s"restored reps: $reps")
    // no orphaned band rows for the half-appended batch
    val orphanBands = spark.table(bandsT).join(
      spark.table(repsT), Seq("rep"), "left_anti").count()
    assert(orphanBands == 0, s"$orphanBands band rows without a rep")
    // the family is CERTIFIED again: a re-ensure serves it (no rebuild)
    val (bandsT2, repsT2) = build()
    assert((bandsT2, repsT2) == (bandsT, repsT))
    // and the failed batch re-drives cleanly (its stamp was never kept)
    val (pairs, batchReps) = graft.layouts.MinHashIndex.probe(
      spark, bandsT, repsT, batch, P._1, P._2, P._3, P._4, threshold = 0.5)
    assert(graft.layouts.MinHashIndex.append(
      spark, bandsT, repsT, pairs, batchReps, P._1, P._2, P._3, P._4,
      batchTag = Some("redrive-001")))
    assert(spark.table(repsT).select("rep").as[Long].collect().toSet ==
      Set(1L, 3L, 30L))
  }
}
