package graft

import graft.functions.{GraftFunctions, TextOps, VectorOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native Catalyst expressions must be drop-in replacements for the
  * higher-order-function formulations they out-perform: same values, same
  * order, bit-exact doubles — on real data, not toy rows. */
class NativeExprSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("cosine_fast is bit-identical to the higher-order VectorOps.cosine") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(
        expr("cosine_fast(v, qv)").as("fast"),
        VectorOps.cosine(col("v"), col("qv")).as("slow"))
      .collect()
    assert(both.length == 500)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))  // exact, no epsilon
  }

  test("RewriteCosine rule: declarative cosine optimizes to the native kernel") {
    GraftFunctions.register(spark)  // installs the rule
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 1).select(col("v").as("qv"))
    val df = e.crossJoin(broadcast(q))
      .select(col("vec_id"), VectorOps.cosine(col("v"), col("qv")).as("c"))
    assert(df.queryExecution.optimizedPlan.toString.contains("cosinesimilarity"),
      df.queryExecution.optimizedPlan.toString)
    // rewritten result identical to the explicit native call
    val viaRule = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val native = e.crossJoin(broadcast(q))
      .select(col("vec_id"), expr("cosine_fast(v, qv)").as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaRule == native)
  }

  test("RewriteCosine guards: non-canonical shapes are NOT rewritten") {
    GraftFunctions.register(spark)
    // parquet-backed columns: literal arrays constant-fold away before the
    // rule could (not) fire, leaving nothing to assert on
    val df = Tables.embeddings(spark, sf).select(
      VectorOps.toDouble(col("embedding")).as("a"),
      VectorOps.toDouble(reverse(col("embedding"))).as("b"))
    def plan(c: org.apache.spark.sql.Column): String =
      df.select(c.as("r")).queryExecution.optimizedPlan.toString.toLowerCase

    // canonical shape fires
    assert(plan(VectorOps.cosine(col("a"), col("b"))).contains("cosinesimilarity"))
    // wrong fold zero: aggregate(..., 1.0, +) is a different value — must not fire
    val wrongZero = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(1.0), (acc, x) => acc + x) /
      (VectorOps.norm(col("a")) * VectorOps.norm(col("b")))
    assert(!plan(wrongZero).contains("cosinesimilarity"))
    // zip_with body x*x (not x*y): different value — must not fire
    val wrongBody = aggregate(zip_with(col("a"), col("b"), (x, _) => x * x),
      lit(0.0), (acc, x) => acc + x) /
      (VectorOps.norm(col("a")) * VectorOps.norm(col("b")))
    assert(!plan(wrongBody).contains("cosinesimilarity"))
    // merge lambda acc + 2*x: different value — must not fire
    val wrongMerge = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x * lit(2.0)) /
      (VectorOps.norm(col("a")) * VectorOps.norm(col("b")))
    assert(!plan(wrongMerge).contains("cosinesimilarity"))
  }

  test("cosine_fast matches declarative edges: length mismatch / null element -> null") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0, 3.0), Seq[java.lang.Double](3.0, 4.0)),
      (2L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](3.0, 4.0)),
      (3L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](3.0, 4.0)))
      .toDF("id", "a", "b")
    val out = rows.select(col("id"), expr("cosine_fast(a, b)").as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out(1L) == null)   // length mismatch (zip_with would null-pad -> null)
    assert(out(2L) == null)   // null element poisons the declarative sum -> null
    assert(out(3L) != null && math.abs(out(3L).asInstanceOf[Double] - 0.9838699100999074) < 1e-12)
  }

  test("shingle_rows generator: complete windows, in order, duplicates kept") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),     // 2 complete 3-windows
      (2L, "a b"),         // shorter than n -> nothing
      (3L, "x y x y x"))   // overlapping duplicates preserved
      .toDF("id", "t")
    val got = df.selectExpr("id", "shingle_rows(t, 3) AS s")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq(
      (1L, "a b c"), (1L, "b c d"),
      (3L, "x y x"), (3L, "y x y"), (3L, "x y x")))
    // analysis-time validation mirrors minhash_sig
    intercept[org.apache.spark.sql.AnalysisException](
      df.selectExpr("shingle_rows(t, 0) AS s").queryExecution.analyzed)
    intercept[org.apache.spark.sql.AnalysisException](
      df.selectExpr("shingle_rows(t, id) AS s").queryExecution.analyzed)
  }

  test("minhash_sig rejects invalid signature widths at analysis time") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(Tuple1(Seq("ab", "bc"))).toDF("sh")
    def analyze(widthSql: String): Unit =
      df.selectExpr(s"minhash_sig(sh, $widthSql) AS s").queryExecution.analyzed
    intercept[org.apache.spark.sql.AnalysisException](analyze("-1"))
    intercept[org.apache.spark.sql.AnalysisException](analyze("0"))
    intercept[org.apache.spark.sql.AnalysisException](analyze("100000"))
    intercept[org.apache.spark.sql.AnalysisException](analyze("size(sh)"))  // non-foldable
    analyze("64")  // canonical width still analyzes
  }

  test("word_shingles matches array_distinct(higher-order shingles)") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
      .withColumn("norm", TextOps.normalize(col("text")))
    val both = docs.select(
        expr("word_shingles(norm, 5)").as("fast"),
        array_distinct(TextOps.wordShingles(col("norm"), 5)).as("slow"))
      .collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("char_ngrams matches array_distinct(transform(substr)) trigrams") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, sf)
      .withColumn("norm", TextOps.normalize(col("text")))
    val legacy = expr(
      """array_distinct(transform(sequence(1, greatest(length(norm) - 2, 1)),
           i -> substr(norm, i, 3)))""")
    val both = docs.select(
        expr("char_ngrams(norm, 3)").as("fast"), legacy.as("slow"))
      .collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("word_shingles / char_ngrams byte fast paths: adversarial inputs match " +
      "the declarative forms (fallback-trigger shapes included)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // every byte-path branch + every char_ngrams fallback trigger: empty,
    // whitespace edges (leading/trailing/double space: empty words),
    // non-ASCII (→ char_ngrams fallback), short texts, exact-k windows,
    // heavy repetition (distinct filter), single char; k = 1 and k = 0
    val texts = Seq(
      "", " ", "a", "ab", "a b", "a b c", "a b c d e f",
      " a b c", "a b c ", "a  b c", "a b  c d",
      "x x x x x x x x", "ab ab ab ab", "the cat the cat the cat",
      "café au lait très bon", "über alles über alles",
      "日本語 テスト 日本語",
      "one two three four five six seven eight nine ten")
    val df = texts.toDF("t")
    Seq(3, 1, 0).foreach { k =>
      val shBoth = df.select(
          expr(s"word_shingles(t, $k)").as("fast"),
          array_distinct(TextOps.wordShingles(col("t"), k)).as("slow"))
        .collect()
      shBoth.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"word_shingles k=$k mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    }
    val legacyTri = expr(
      """array_distinct(transform(sequence(1, greatest(length(t) - 2, 1)),
           i -> substr(t, i, 3)))""")
    val triBoth = df.filter(length(col("t")) > 0).select(
        expr("char_ngrams(t, 3)").as("fast"), legacyTri.as("slow"))
      .collect()
    triBoth.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
      s"char_ngrams mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    // n > 8 takes the fallback; pin it against the declarative form too
    val legacy9 = expr(
      """array_distinct(transform(sequence(1, greatest(length(t) - 8, 1)),
           i -> substr(t, i, 9)))""")
    val nineBoth = df.filter(length(col("t")) > 0).select(
        expr("char_ngrams(t, 9)").as("fast"), legacy9.as("slow"))
      .collect()
    nineBoth.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("word_bigrams matches the zip_with(slice, slice, concat) multiset form " +
      "(duplicates kept, order kept) on real docs and adversarial inputs") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val legacy = expr(
      """zip_with(slice(split(t, ' '), 1, size(split(t, ' ')) - 1),
                  slice(split(t, ' '), 2, size(split(t, ' ')) - 1),
                  (a, b) -> concat(a, ' ', b))""")
    val adversarial = Seq(
      "", " ", "a", "a b", "a b c", "a b a b a b",
      " a b", "a b ", "a  b", "a  b  c d",
      "the cat sat the cat sat").toDF("t")
    val corpus = Tables.documents(spark, sf)
      .select(TextOps.normalize(col("text")).as("t"))
    Seq(adversarial, corpus).foreach { df =>
      df.select(expr("word_bigrams(t)").as("fast"), legacy.as("slow"))
        .collect()
        .foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
          s"word_bigrams mismatch: ${r.getSeq[String](0)} vs ${r.getSeq[String](1)}"))
    }
  }

  test("jaccard_sim matches size(intersect)/size(union) on shingle sets") {
    GraftFunctions.register(spark)
    val sh = Tables.documents(spark, sf)
      .withColumn("norm", TextOps.normalize(col("text")))
      .withColumn("sh", expr("word_shingles(norm, 3)"))
      .select("doc_id", "sh")
      .limit(40)
    val a = sh.as("a")
    val b = sh.as("b")
    val both = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(
        expr("jaccard_sim(a.sh, b.sh)").as("fast"),
        TextOps.jaccard(col("a.sh"), col("b.sh")).as("slow"))
      .collect()
    assert(both.length == 40 * 39 / 2)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("band_buckets: bit-identical to the per-bit dot_fast/when/sum composition " +
      "it replaced; null and length-mismatch vectors bucket to 0") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val (nBands, nBits, dims) = (7, 5, 16)
    val planes = graft.etl.VectorLsh.hyperplanes(nBands * nBits, dims)
    val flat = planes.flatten
    val vecs = (0 until 50).map(i =>
      (i.toLong, (0 until dims).map(d => math.sin(i * 1.7 + d * 0.61) - 0.1)))
      .toDF("vec_id", "v")
    // the composed form, exactly as withBandBuckets built it pre-r7
    val composed: Seq[org.apache.spark.sql.Column] = (0 until nBands).map { k =>
      (0 until nBits).map { r =>
        when(call_function("dot_fast", col("v"),
          typedlit(planes(k * nBits + r))) > 0, lit(1 << r)).otherwise(lit(0))
      }.reduce(_ + _)
    }
    val both = vecs
      .withColumn("fast", call_function("band_buckets", col("v"), typedlit(flat),
        lit(nBands), lit(nBits)))
      .withColumn("slow", array(composed: _*))
      .select("fast", "slow").collect()
    both.foreach(r => assert(r.getSeq[Int](0) == r.getSeq[Int](1)))
    // null vector and wrong-length vector: every per-plane dot was null in
    // the composed form, so every bucket was 0 — the native form must agree
    val edge = Seq((1L, null: Seq[Double]), (2L, Seq(1.0, 2.0)))
      .toDF("vec_id", "v")
      .select(call_function("band_buckets", col("v"), typedlit(flat),
        lit(nBands), lit(nBits)).as("b"))
      .collect()
    edge.foreach(r => assert(r.getSeq[Int](0) == Seq.fill(nBands)(0)))
  }

  test("nearest_centroid: bit-identical to the struct/array_max literal-argmax " +
      "composition it replaced, ties to the lowest cent_id") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val dims = 16
    val cents = (0 until 12).map(c =>
      (c.toLong, (0 until dims).map(d => math.cos(c * 1.9 + d * 0.37))))
    val vecs = (0 until 200).map(i =>
      (i.toLong, (0 until dims).map(d => math.sin(i * 0.83 + d * 0.51))))
      .toDF("vec_id", "v")
    // duplicate centroid vectors force rounded-cosine TIES: 10 and 11
    // repeat 0 and 1, so the winner must be the lowest cent_id
    val tied = cents.take(10) ++ Seq((10L, cents(0)._2), (11L, cents(1)._2))
    val composed = tied.map { case (cid, cv) =>
      struct(
        round(call_function("cosine_fast", col("v"), typedlit(cv)), 6).as("c"),
        lit(-cid).as("negid"))
    }
    val both = vecs
      .withColumn("fast", call_function("nearest_centroids", col("v"),
        typedlit(tied.flatMap(_._2)), typedlit(tied.map(_._1)), lit(1)).getItem(0))
      .withColumn("slow", -array_max(array(composed: _*)).getField("negid"))
      .select("fast", "slow").collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("minhash_sig: signature entries are minima of the derived hash family") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("alpha beta gamma delta epsilon zeta").toDF("norm")
      .withColumn("sh", expr("word_shingles(norm, 2)"))
      .withColumn("sig", expr("minhash_sig(sh, 8)"))
    val r = df.select(size(col("sig")), col("sig")).head()
    assert(r.getInt(0) == 8)
    // deterministic: re-run yields identical signature
    val again = df.select(col("sig")).head().getSeq[Long](0)
    assert(r.getSeq[Long](1) == again)
  }

  test("block_jaccard_edges: identical edge SET to the SQL-lambda pair sweep " +
      "it replaced (length-bound filter + jaccard_sim per pair)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // real corpus text, grouped into a few blocks; includes near-dup
    // mutants (documents carries planted ones) and wildly varying lengths
    // so the length bound actually prunes
    val docs = Tables.documents(spark, sf)
      .select((col("doc_id") % 7).as("blk"), col("doc_id").as("rep"),
        expr("word_shingles(lower(text), 3)").as("sh"))
    val g = docs.groupBy(col("blk"))
      .agg(collect_list(struct(col("rep"), col("sh"))).as("g"),
        collect_list(struct(col("rep"), col("sh"), size(col("sh")).as("n"))).as("gn"))
    def edgeSet(c: org.apache.spark.sql.Column): Set[(Long, Long)] =
      g.select(explode(c).as("p")).select(col("p.a"), col("p.b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = edgeSet(expr("block_jaccard_edges(g, 0.35D)"))
    val slow = edgeSet(expr(
      """transform(filter(flatten(transform(sequence(0, size(gn) - 2), i ->
           filter(transform(filter(sequence(i + 1, size(gn) - 1), j ->
               least(gn[i].n, gn[j].n) >= 0.35D * greatest(gn[i].n, gn[j].n)),
             j -> struct(least(gn[i].rep, gn[j].rep) AS a,
                    greatest(gn[i].rep, gn[j].rep) AS b,
                    jaccard_sim(gn[i].sh, gn[j].sh) AS jac)),
             p -> p.jac >= 0.35D))),
           p -> p.jac >= 0.35D), p -> struct(p.a AS a, p.b AS b))"""))
    assert(fast.nonEmpty, "degenerate test: no edges at all")
    assert(fast == slow)
  }

  test("NearestCentroids.round6 fast path ≡ Spark Round(_, 6) — boundaries, " +
      "negatives, NaN/∞, and a dense sweep") {
    import spark.implicits._
    // adversarial values: exact .5 boundaries both signs (HALF_UP away
    // from zero vs floor toward +∞ — must route to the exact path),
    // shortest-string-repr traps, and a dense pseudo-random sweep of
    // cosine-range doubles
    val adversarial = Seq(
      0.1234565, -0.1234565, 0.0000005, -0.0000005, 0.9999995, -0.9999995,
      2.5e-6, -2.5e-6, 1.5e-6, -1.5e-6, 0.5e-6, 1.0, -1.0, 0.0, -0.0,
      0.12345649999999999, 0.12345650000000001, 1e3 + 0.1234565,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val r = new scala.util.Random(7)
    val sweep = Seq.fill(20000)(r.nextDouble() * 2 - 1)
    val vals = adversarial ++ sweep
    val viaSpark = vals.toDF("d").select(round(col("d"), 6)).collect()
      .map(_.getDouble(0))
    val viaKernel = vals.map(graft.functions.NearestCentroids.round6Public)
    vals.indices.foreach { i =>
      assert(java.lang.Double.compare(viaSpark(i), viaKernel(i)) == 0 ||
        (viaSpark(i).isNaN && viaKernel(i).isNaN),
        s"round6 diverges at ${vals(i)}: spark=${viaSpark(i)} kernel=${viaKernel(i)}")
    }
  }

  test("adc_dot: bit-identical to the chained element_at(typedlit) ADC " +
      "composition it replaces, on real PQ codes; null/short/out-of-range " +
      "codes -> null; codes beyond m ignored; interpreted eval agrees") {
    GraftFunctions.register(spark)
    val models = graft.operators.LlmOps.pqModels(spark, sf)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val coded = graft.etl.Pq.encodeWithStats(vecs, models.dims, models.books)
    val q = vecs.filter(col("vec_id") === 3).head.getSeq[Double](1)
    val sub = models.dims / models.books.size
    val tables = models.books.zipWithIndex.map { case (book, j) =>
      graft.etl.Pq.adcTableRow(book, q.slice(j * sub, (j + 1) * sub))
    }
    // the r6–r12 composition, verbatim: m chained element_at over the
    // per-subspace typedlit tables, left-fold sum
    val composition = tables.zipWithIndex.map { case (t, j) =>
      element_at(typedlit(t), element_at(col("codes"), j + 1).cast("int") + 1)
    }.reduce(_ + _)
    val kpq = models.books.head.size
    val native = call_function("adc_dot",
      col("codes"), typedlit(tables.flatten), lit(kpq))
    val both = coded.select(native.as("fast"), composition.as("slow")).collect()
    assert(both.length == 500)
    both.foreach(r =>
      assert(!r.isNullAt(0) && r.getDouble(0) == r.getDouble(1))) // exact

    // null/edge contract (m=2, k=2 flattened table)
    import spark.implicits._
    val flat = typedlit(Seq(1.0, 2.0, 10.0, 20.0))
    def adc(c: org.apache.spark.sql.Column) =
      call_function("adc_dot", c, flat, lit(2))
    val cases = Seq(
      (Seq[java.lang.Long](0L, 1L), Option(21.0)),            // plain
      (Seq[java.lang.Long](1L), None),                        // shorter than m
      (Seq[java.lang.Long](0L, 5L), None),                    // out of range
      (Seq[java.lang.Long](0L, null), None),                  // null element
      (Seq[java.lang.Long](1L, 0L, 7L), Option(12.0)))        // beyond-m ignored
    cases.foreach { case (codes, want) =>
      val got = Seq(Tuple1(codes)).toDF("codes")
        .select(adc(col("codes"))).head
      assert(if (want.isEmpty) got.isNullAt(0)
        else got.getDouble(0) == want.get, s"codes=$codes")
    }
    assert(Seq(Tuple1(null: Seq[java.lang.Long])).toDF("codes")
      .select(adc(col("codes"))).head.isNullAt(0))

    // interpreted eval (the non-codegen path) agrees
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    val direct = graft.functions.AdcDot(
      Literal.create(Seq(0L, 1L), ArrayType(LongType)),
      Literal.create(Seq(1.0, 2.0, 10.0, 20.0), ArrayType(DoubleType)),
      Literal(2))
    assert(direct.eval(null) == 21.0)
  }
}
