package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The corpus-assembly operators added in round 3 session 4:
  * decontamination, repetition quality signals, PII scrubbing, domain-mix
  * sampling. Each has a DuckDB oracle row; these specs pin the SEMANTIC
  * claims the oracle compare alone can't express (plants rediscovered,
  * JVM-recomputed signals, exact rate edges, determinism).
  */
class CorpusOpsSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("decontaminate: every benchmark source doc and every planted doc is flagged") {
    val flagged = SparkEntry.queries("llm_decontaminate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val evalIds = Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0).select("doc_id")
      .collect().map(_.getLong(0))
    assert(evalIds.nonEmpty)
    // the snippet sources contain their own snippet…
    evalIds.foreach(id => assert(flagged.contains(id), s"eval source $id not flagged"))
    // …and the planted docs (filler + snippet, id + 3e6) are caught too,
    // with every complete 5-gram of the 10-word snippet hitting (6 shingles)
    evalIds.foreach { id =>
      assert(flagged.contains(id + 3000000L), s"planted ${id + 3000000L} not flagged")
      assert(flagged(id + 3000000L) >= 6L,
        s"planted ${id + 3000000L} hit only ${flagged(id + 3000000L)} shingles")
    }
  }

  test("decontaminate_chunks: planted paragraph leaks are chunk-flagged but " +
      "provably diluted below the doc-level threshold") {
    // sf0.01: the ≥80-word host filter leaves real plants (sf0.001 has none)
    val sf01 = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("llm_decontaminate_chunks")(spark, sf01)
      .collect().map(r => r.getLong(0) -> r).toMap
    // re-derive the plant set: eval sources (id % 97 == 0) whose successor
    // host doc has >= 80 normalized words
    val docs = Tables.documents(spark, sf01)
      .select(col("doc_id"), size(split(trim(regexp_replace(lower(col("text")), "\\s+", " ")), " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val plants = docs.keys.filter(id => id % 97 == 0 && docs.get(id + 1).exists(_ >= 80))
      .map(_ + 5000000L).toSeq.sorted
    assert(plants.nonEmpty, "fixture must produce at least one plant")
    plants.foreach { id =>
      val r = rows.getOrElse(id, fail(s"plant $id not in the flagged set"))
      assert(r.getInt(7) == 1, s"plant $id must be chunk-flagged")
      assert(r.getInt(6) == 0,
        s"plant $id doc-flagged (doc_frac=${r.getDouble(3)}) — dilution fixture broken")
      assert(r.getDouble(4) >= 0.5, s"plant $id max_chunk_frac=${r.getDouble(4)}")
    }
    // the doc-level detector alone (threshold form) would have missed every
    // plant — that asymmetry is this operator's reason to exist
    assert(plants.forall(id => rows(id).getDouble(3) < 0.25))
  }

  test("repetition_stats: JVM-recomputed signals for one doc; flag splits the corpus") {
    val rows = SparkEntry.queries("llm_repetition_stats")(spark, sf).collect()
    assert(rows.map(_.getInt(5)).distinct.sorted.toSeq == Seq(0, 1),
      "keep flag must split the corpus, not be constant")
    // independent scalar recomputation of doc 0's signals
    val text0 = Tables.documents(spark, sf).filter(col("doc_id") === 0)
      .select("text").collect().head.getString(0)
    val words = text0.toLowerCase.trim.split("\\s+").toSeq
    val bigrams = words.sliding(2).map(_.mkString(" ")).toSeq
    val expDup = 1.0 - words.distinct.size.toDouble / words.size.toDouble
    val expTop = bigrams.groupBy(identity).values.map(_.size).max
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getInt(1) == words.size)
    assert(math.abs(r0.getDouble(2) - expDup) < 1e-6)
    assert(r0.getInt(3) == expTop)
    val expKeep = if (expDup <= 0.6 && expTop * 2.0 / words.size <= 0.1) 1 else 0
    assert(r0.getInt(5) == expKeep)
  }

  test("pii_scrub: planted PII is counted and redacted; clean docs untouched") {
    val rows = SparkEntry.queries("llm_pii_scrub")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4)))
    rows.foreach { case (id, nEmail, nIp, nPhone, tail) =>
      assert(nEmail == (if (id % 7 == 0) 1 else 0), s"doc $id email count")
      assert(nIp == (if (id % 7 == 0) 1 else 0), s"doc $id ip count")
      assert(nPhone == (if (id % 11 == 0) 1 else 0), s"doc $id phone count")
      assert(!tail.contains("@"), s"doc $id tail still holds an email")
      if (id % 7 == 0) assert(tail.contains("<EMAIL>") && tail.contains("<IP>"))
      if (id % 11 == 0) assert(tail.contains("<PHONE>"))
    }
  }

  test("embed_quantize: codes within int8 range, error bounded by half a quantization step") {
    val rows = SparkEntry.queries("llm_embed_quantize")(spark, sf).collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val (qmin, qmax, err) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      val codes = r.getString(5).split(",").map(_.toInt)
      assert(codes.forall(c => c >= 0 && c <= 255), s"vec ${r.getLong(0)} codes out of range")
      // round-to-nearest: |x - dequant(x)| <= scale/2 (+ rounding slack)
      val halfStep = (qmax - qmin) / 255.0 / 2.0
      assert(err <= halfStep + 1e-6, s"vec ${r.getLong(0)}: err $err > half-step $halfStep")
    }
  }

  test("token_budget_mix: derived rates respect the budget; kept ⊆ corpus") {
    val rows = SparkEntry.queries("llm_token_budget_mix")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, total, rate, keptDocs, keptToks) =>
      assert(rate > 0.0 && rate <= 1.0, s"$src rate $rate")
      assert(keptToks <= total, s"$src kept more tokens than exist")
      // below-budget sources keep everything (rate exactly 1.0)
      if (rate == 1.0) assert(keptToks == total && keptDocs > 0)
      // sampled sources must actually subsample
      if (rate < 0.5) assert(keptToks < total, s"$src rate $rate but nothing dropped")
    }
  }

  test("domain_mix: rate-1.0 sources keep everything; sampling is deterministic") {
    val q = SparkEntry.queries("llm_domain_mix")
    val rows = q(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, total, kept, target, realized) =>
      assert(kept <= total, s"$src kept > total")
      // u ∈ [0,1) so target 1.0 keeps every row — an exact edge, not a bound
      if (target == 1.0) assert(kept == total, s"$src dropped rows at rate 1.0")
      assert(realized >= 0.0 && realized <= 1.0)
    }
    assert(rows.map(_._4).distinct.size > 1, "several distinct target rates expected")
    // arithmetic-hash sampling: bit-identical on re-run (no RNG state)
    val again = q(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.toSeq == again.toSeq)
  }

  // ---- session-5 additions: chunk dedup, bigram LM score, stratified sample

  /** JVM twin of the content-defined chunking in llm_chunk_dedup. */
  private def cdcChunks(norm: String): Seq[String] = {
    val words = norm.split(" ").toIndexedSeq
    val starts = 0 +: (1 until words.size).filter(i => words(i).startsWith("s"))
    starts.zipWithIndex.map { case (st, j) =>
      val end = if (j + 1 < starts.size) starts(j + 1) else words.size
      words.slice(st, end).mkString(" ")
    }
  }

  test("chunk_dedup: full JVM recompute agrees; planted boilerplate chunks dedup") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val boiler = docs.find(_._1 == 0L).get._2.split(" ").take(25).mkString(" ")
    // (doc_id, chunk_idx, chunk_text) for the planted corpus, in JVM Scala
    val all = docs.flatMap { case (id, t) =>
      val planted = if (id % 3 == 0) s"$t $boiler" else t
      cdcChunks(planted).zipWithIndex.map { case (c, i) => (id, i, c) }
    }
    val firstOf = all.groupBy(_._3).map { case (c, rs) => c -> rs.map(r => (r._1, r._2)).min }
    val expected = all.groupBy(_._1).map { case (id, rs) =>
      id -> (rs.size, rs.count(r => firstOf(r._3) != ((r._1, r._2))))
    }
    val got = SparkEntry.queries("llm_chunk_dedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1).toInt, r.getLong(2).toInt)).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) => assert(got(id) == e, s"doc $id: got ${got(id)}, want $e") }
    // the planted passage's interior chunks are duplicates in every host but the first
    val plantedHosts = docs.map(_._1).filter(id => id % 3 == 0 && id != 0L)
    plantedHosts.foreach(id => assert(got(id)._2 >= 1, s"planted host $id has no dup chunks"))
  }

  test("bigram_lm_score: full JVM recompute of the smoothed LM agrees to rounding") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // dedup-first is exact: counts weighted by group size == counts over raw corpus
    val words = docs.map { case (id, t) => (id, t.split(" ").toSeq) }
    val bigramsOf = words.map { case (id, w) =>
      (id, w.sliding(2).filter(_.size == 2).map(_.mkString(" ")).toSeq)
    }.toMap
    val c2 = bigramsOf.values.flatten.groupBy(identity).map { case (b, xs) => b -> xs.size }
    val c1 = words.flatMap(_._2.dropRight(1)).groupBy(identity).map { case (w, xs) => w -> xs.size }
    val v = words.flatMap(_._2).distinct.size.toDouble
    val expected = words.map { case (id, _) =>
      val bgs = bigramsOf(id)
      val s = bgs.map { b => (c2(b) + 1.0) / (c1(b.split(" ").head) + v) }.sum
      id -> (bgs.size.toLong, s / bgs.size)
    }.toMap
    val got = SparkEntry.queries("llm_bigram_lm_score")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (nb, score)) =>
      assert(got(id)._1 == nb, s"doc $id bigram count")
      assert(math.abs(got(id)._2 - score) < 2e-6, s"doc $id score ${got(id)._2} vs $score")
    }
  }

  test("stratified sample: exact per-stratum quota, subset of stratum, deterministic") {
    val q = SparkEntry.queries("sample_stratified_exact")
    val rows = q(spark, sf).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val strata = Tables.documents(spark, sf).groupBy(col("source")).count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val bySrc = rows.groupBy(_._2)
    assert(bySrc.keySet == strata.keySet, "every stratum represented")
    bySrc.foreach { case (src, rs) =>
      assert(rs.length == math.min(40L, strata(src)).toInt, s"$src quota")
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length), s"$src ranks not dense")
    }
    val docSrc = Tables.documents(spark, sf).select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    rows.foreach { case (id, src, _) => assert(docSrc(id) == src, s"doc $id wrong stratum") }
    // hash-order selection: bit-identical on re-run (no RNG state)
    assert(q(spark, sf).collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
      == rows.toSeq)
  }

  test("sampling hash survives replica-offset id ranges (no ANSI long overflow)") {
    // The sf3/sf6 replica corpora offset doc_id by replica·10⁹, past the
    // ⌊2⁶³/2654435761⌋ ≈ 3.4×10⁹ point where a BIGINT Knuth multiply
    // overflows and ANSI mode throws. Det.knuthU computes the hash on
    // 16-bit limbs, so the sampling rows must evaluate cleanly here.
    // collect(), NOT count(): count() lets Catalyst prune the aggregate
    // expressions (only group keys survive), which is exactly how the
    // original overflow hid from the count()-based scaling sweeps.
    val dir = java.nio.file.Files.createTempDirectory("graft_bigid").toString
    import spark.implicits._
    Seq.tabulate(100)(i =>
      (29000000000L + i, "alpha beta gamma delta epsilon zeta", "en", s"src${i % 5}", 35L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq("llm_domain_mix", "llm_token_budget_mix", "sample_stratified_exact").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, dir).collect()
      assert(rows.nonEmpty, s"$q returned no rows on the big-id corpus")
    }
  }

  test("cdc_chunks: native expression is bit-exact vs the declarative twin") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val corpus = Tables.documents(spark, sf)
      .select(graft.functions.TextOps.normalize(col("text")).as("t"))
    val edges = Seq("", "s", "alpha", "sun", "alpha sun set", "s s s",
      "no starters here at all", "start s mid send").toDF("t")
    Seq(corpus, edges).foreach { docs =>
      val rows = docs
        .withColumn("w", split(col("t"), " "))
        .withColumn("starts", graft.functions.TextOps.cdcStarts(col("w")))
        .withColumn("decl", graft.functions.TextOps.cdcSlices(col("w"), col("starts")))
        .withColumn("nat", expr("cdc_chunks(t)"))
        .select(col("decl"), col("nat"))
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"decl=${r.getSeq[String](0)} nat=${r.getSeq[String](1)}")
      }
    }
  }

  test("hash_embed: native expression is bit-exact vs the declarative twin") {
    graft.functions.GraftFunctions.register(spark)
    val D = 64
    val docs = Tables.documents(spark, sf)
      .select(graft.functions.TextOps.normalize(col("text")).as("t")).limit(50)
    // the declarative O(words × D) formulation the native expression replaced
    val pairs = docs
      .withColumn("w", split(col("t"), " "))
      .withColumn("ds", transform(col("w"), w =>
        struct(pmod(xxhash64(w, lit(1)), lit(D)).cast("int").as("d"),
          (pmod(xxhash64(w, lit(2)), lit(2)) * 2 - 1).cast("double").as("s"))))
      .withColumn("raw", aggregate(
        col("ds"),
        array_repeat(lit(0.0), D),
        (acc, p) => transform(acc, (x, i) =>
          when(i === p.getField("d"), x + p.getField("s")).otherwise(x))))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .withColumn("emb", when(col("norm") === 0.0, col("raw"))
        .otherwise(transform(col("raw"), x => x / col("norm"))))
      .withColumn("he", expr(s"hash_embed(t, $D)"))
      .select(col("norm"), col("emb"), col("he.norm").as("nnorm"), col("he.emb").as("nemb"))
      .collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(2), "norms differ")
      assert(r.getSeq[Double](1) == r.getSeq[Double](3), "embeddings differ")
    }
  }

  test("hash_embed: deterministic, unit-norm, and mutants embed closer than strangers") {
    val out = SparkEntry.queries("llm_hash_embed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        (2 until 10).map(r.getDouble).mkString(",")))
    val again = SparkEntry.queries("llm_hash_embed")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        (2 until 10).map(r.getDouble).mkString(",")))
    assert(out.toSeq == again.toSeq)
    assert(out.length == Tables.documents(spark, sf).count())
    // full-vector property check via a JVM recompute of the same hashing
    // pipeline is xxhash64-internal; instead pin the DISCRIMINATIVE
    // property the embedding exists for: a one-word mutant of a doc
    // embeds closer to it than an unrelated doc does, on cosine over the
    // full D dims (recomputed through the same query pieces)
    import spark.implicits._
    val texts = Tables.documents(spark, sf)
      .select(graft.functions.TextOps.normalize(col("text")).as("t"))
      .limit(2).as[String].collect()
    val base = texts(0)
    val mutant = ("graftmutant" +: base.split(" ").drop(1)).mkString(" ")
    val stranger = texts(1)
    val probe = Seq((0L, base), (1L, mutant), (2L, stranger)).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dir = java.nio.file.Files.createTempDirectory("graft_hembed").toString
    probe.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val embs = SparkEntry.queries("llm_hash_embed")(spark, dir)
      .collect().map(r => r.getLong(0) -> (2 until 10).map(r.getDouble).toArray).toMap
    def cos8(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum /
        (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum) + 1e-12)
    assert(cos8(embs(0L), embs(1L)) > cos8(embs(0L), embs(2L)),
      s"mutant no closer than stranger: ${cos8(embs(0L), embs(1L))} vs ${cos8(embs(0L), embs(2L))}")
  }

  test("substring_dedup: planted boilerplate spans recovered per host; " +
      "span arithmetic consistent; doc 0's own leading words flagged") {
    val rows = SparkEntry.queries("llm_substring_dedup")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // every doc_id % 3 host carries the boilerplate plant (doc 0's first
    // ≤25 words — shorter if doc 0 is) → at least one span covering the
    // plant; spans can only grow by merging with natural/junction dups
    val bLen = math.min(25L,
      Tables.documents(spark, sf).filter(col("doc_id") === 0)
        .select(size(split(graft.functions.TextOps.normalize(col("text")), " ")))
        .head.getInt(0).toLong)
    rows.keys.filter(_ % 3 == 0).foreach { id =>
      val (_, nSpans, dupWords, _) = rows(id)
      assert(nSpans >= 1, s"host $id: no span found")
      assert(dupWords >= bLen, s"host $id: span covers only $dupWords < $bLen words")
    }
    // doc 0 is the boilerplate SOURCE: its first bLen words are duplicated
    // into every host, so they must be inside its flagged spans too
    assert(rows(0L)._3 >= bLen)
    // arithmetic: kept + dup == n_words, dup_spans == 0 ⇒ dup_words == 0
    rows.foreach { case (id, (nWords, nSpans, dupWords, keptWords)) =>
      assert(keptWords + dupWords == nWords, s"doc $id books don't balance")
      assert((nSpans == 0) == (dupWords == 0), s"doc $id span/word mismatch")
    }
  }

  test("length_bucket_batch: bucket count is quantile-driven and grows with the corpus") {
    // sf0.001 (50 docs) sits at the floor B=8; sf0.1 (5000 docs) must
    // derive B=⌈5000/64⌉=79 — the r4 fixed-8-partition rank cap removed
    def buckets(dir: String): Seq[Int] =
      SparkEntry.queries("llm_length_bucket_batch")(spark, dir)
        .select(org.apache.spark.sql.functions.col("bucket"))
        .distinct().collect().map(_.getInt(0)).toSeq.sorted
    val small = buckets("/root/testdata/sf0.001")
    assert(small.max < 8, s"sf0.001 bucket ids exceed the B=8 floor: $small")
    val big = buckets("/root/testdata/sf0.1")
    assert(big.length > 8 && big.length <= 79,
      s"sf0.1 derived ${big.length} buckets — expected >8 (growth) and ≤ B=79")
    // equal-frequency property: every bucket id in [0, B)
    assert(big.forall(b => b >= 0 && b < 79), s"bucket id out of range: $big")
  }
}
