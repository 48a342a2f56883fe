package graft

import graft.functions.VectorOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("cosine: identity, orthogonality, known angle") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0)),
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 0.0), Seq(1.0, 1.0)))
      .toDF("a", "b")
      .select(VectorOps.cosine(col("a"), col("b")).as("c"))
    val r = df.collect().map(_.getDouble(0))
    assert(r(0) == 1.0)
    assert(r(1) == 0.0)
    assert(math.abs(r(2) - math.sqrt(0.5)) < 1e-12)
  }

  test("ann_ivf: includes the query itself and stays within brute-force top-50") {
    val ann = SparkEntry.queries("llm_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ann.head == ((0L, 1.0)))  // self-match first
    val brute = SparkEntry.queries("llm_cosine_topk")(spark, sf)
    // recompute a generous brute-force top-50 for containment
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val top50 = e.crossJoin(broadcast(q))
      .select(col("vec_id"), round(VectorOps.cosine(col("v"), col("qv")), 6).as("c"))
      .orderBy(col("c").desc, col("vec_id").asc).limit(50)
      .collect().map(_.getLong(0)).toSet
    assert(ann.map(_._1).forall(top50.contains), s"ANN hits outside brute top-50: ${ann.mkString(",")}")
    // and the exact top-k query agrees with itself deterministically
    assert(brute.collect().map(_.getLong(0)).head == 0L)
  }

  test("ann_lsh: planted near-duplicate of the query is found in probed buckets") {
    val r = SparkEntry.queries("llm_ann_lsh")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(r.head == ((0L, 1.0)))                      // the query itself
    assert(r.map(_._1).contains(9000000L))             // the planted neighbor
    assert(r.find(_._1 == 9000000L).get._2 > 0.9)
  }

  test("ann_lsh_multiprobe: planted neighbor found via the mask equi-join; probe set is pruned") {
    val r = SparkEntry.queries("llm_ann_lsh_multiprobe")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    assert(r.head == ((0L, 1.0)))                      // the query itself
    assert(r.map(_._1).contains(9000000L))             // the planted neighbor
    assert(r.find(_._1 == 9000000L).get._2 > 0.9)
    // the mask set: 1 + C(12,1) + C(12,2) distinct XOR masks, all ≤ 2 bits
    val masks = graft.etl.VectorLsh.hammingMasks(12, 2)
    assert(masks.size == 79 && masks.distinct.size == 79)
    assert(masks.forall(m => Integer.bitCount(m) <= 2))
    // multi-probe candidates are a strict subset of the corpus scan
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val bucketed = graft.etl.VectorLsh.withBucket(base, 12, 64)
    val qRow = bucketed.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("bucket").as("qbucket"))
    val nCand = graft.etl.VectorLsh.multiProbe(bucketed, qRow, 12, 2).count()
    val nAll = base.count()
    assert(nCand < nAll, s"multi-probe did not prune: $nCand of $nAll")
  }

  test("embed_neardup: banded LSH reproduces the exact all-pairs result, no BNLJ") {
    val df = SparkEntry.queries("llm_embed_neardup")(spark, sf)
    // candidate generation is an equi-join on (band, bucket) — the all-pairs
    // BroadcastNestedLoopJoin shape this replaced must not reappear
    assert(!df.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact reference: brute-force all-pairs >= 0.9 over the same planted set
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val planted = base.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("v"), x => x * 0.9 + 0.02).as("v"))
    val all = base.unionByName(planted)
    val exact = all.as("a").join(all.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(VectorOps.cosine(col("a.v"), col("b.v")), 6).as("c"))
      .filter(col("c") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == exact && got.nonEmpty, s"LSH=${got.size} exact=${exact.size}")
  }

  test("cellBandCandidateIds: the routed fallback recovers planted near-dup " +
      "pairs on the mid-similarity profile the banded path cannot serve") {
    import spark.implicits._
    val dims = 64
    def gauss(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(dims)(r.nextGaussian())
    }
    // the spread-corpus profile: shared direction + comparable noise →
    // typical background cosine ~0.5–0.7; planted 0.9x+0.02 mutants of
    // every 10th vector are the only ≥ 0.9 pairs
    val u = gauss(1)
    val base = (0 until 800).map { i =>
      val g = gauss(100 + i)
      (i.toLong, u.zip(g).map { case (a, b) => a + 0.9 * b }.toSeq)
    }
    val planted = base.filter(_._1 % 10 == 0).map { case (id, v) =>
      (id + 1000000L, v.map(_ * 0.9 + 0.02))
    }
    val reps = (base ++ planted).toDF("vec_id", "v")
    val n = base.size + planted.size
    val (bands, bits) = graft.etl.VectorLsh.adaptiveBandParams(n.toLong, simThreshold = 0.9)
    val cand = graft.etl.VectorLsh.cellBandCandidateIds(
      reps, n.toLong, bands, bits, dims)
    val verified = cand
      .join(reps.select(col("vec_id").as("vec_a"), col("v").as("va")), "vec_a")
      .join(reps.select(col("vec_id").as("vec_b"), col("v").as("vb")), "vec_b")
      .filter(round(VectorOps.cosine(col("va"), col("vb")), 6) >= 0.9)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact all-pairs reference over the same fixture
    val exact = reps.as("a").join(reps.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        round(VectorOps.cosine(col("a.v"), col("b.v")), 6).as("c"))
      .filter(col("c") >= 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = base.filter(_._1 % 10 == 0).map(p => (p._1, p._1 + 1000000L)).toSet
    assert(plantedPairs.subsetOf(exact), "fixture broken: planted pairs not ≥ 0.9")
    // candidates are verified by exact cosine, so ⊆ exact always; on this
    // fixture the tight pairs share a cell, so the fallback loses nothing
    assert(verified.subsetOf(exact))
    assert(plantedPairs.subsetOf(verified),
      s"cell fallback missed planted pairs: ${(plantedPairs -- verified).take(5)}")
    assert(verified == exact, s"cell=${verified.size} exact=${exact.size}")
  }

  test("cellBandCandidateIds: ADVERSARIAL boundary pairs — near-dups planted " +
      "to straddle cell boundaries are all recovered (r8 verdict item 2)") {
    import spark.implicits._
    // The cell route's caveat was 'planted pairs share a cell in
    // practice'. This fixture removes the 'in practice': pairs are
    // CONSTRUCTED on the midlines between adjacent centroids, so each
    // pair's two vectors rank the two cells oppositely — the exact case
    // single-assignment split (114/1200 at sf6s). The asymmetric top-5
    // multi-probe must recover every one: a straddling pair's opposite
    // cell is, by construction, its 2nd-ranked — well inside the probe
    // depth — so recall here follows from the probe geometry, not luck.
    val dims = 64
    def gauss(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(dims)(r.nextGaussian())
    }
    val u = gauss(1)
    val n0 = 3000
    val base = (0 until n0).map { i =>
      val g = gauss(5000 + i)
      (i.toLong, u.zip(g).map { case (a, b) => a + 0.9 * b }.toSeq)
    }
    // Phase 1: train the SAME cells the production generator will train
    // (same k/iters/sampleCap formulas) on the base — used only to place
    // the plants; the production run below retrains on base ∪ plants,
    // and the post-hoc straddle assertion confirms the slight shift
    // keeps the plants adversarial.
    val nPlantPairs = 24
    val nFinal = (n0 + 2 * nPlantPairs).toLong
    val k = math.min(4096, math.max(16, math.ceil(math.sqrt(nFinal.toDouble)).toInt))
    val cents0 = graft.etl.Ivf.train(base.toDF("vec_id", "v"), k, iters = 2,
      sampleCap = math.max(64 * k, 1 << 14))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    def unit(a: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(a.map(x => x * x).sum); a.map(_ / nrm)
    }
    // the nPlantPairs closest centroid pairs = the tightest boundaries
    val adjacent = (for {
      i <- cents0.indices; j <- (i + 1) until cents0.length
    } yield (i, j, cos(cents0(i)._2, cents0(j)._2)))
      .sortBy(-_._3).take(nPlantPairs)
    // ε sized so each pair's cosine lands well above the 0.9 threshold
    // (asserted below): with m approximately ⟂ d, cos(a,b) ≈
    // (1 − t²)/(1 + t²) ≈ 0.97 at t = ε|d|/|m| = 0.12
    val plantRows = adjacent.zipWithIndex.flatMap { case ((i, j, _), t) =>
      val ci = unit(cents0(i)._2); val cj = unit(cents0(j)._2)
      val m = ci.zip(cj).map { case (x, y) => (x + y) / 2 }
      val d = ci.zip(cj).map { case (x, y) => x - y }
      val scale = 0.12 * math.sqrt(m.map(x => x * x).sum) /
        math.max(1e-12, math.sqrt(d.map(x => x * x).sum))
      val a = m.zip(d).map { case (x, y) => x + scale * y }
      val b = m.zip(d).map { case (x, y) => x - scale * y }
      Seq((1000000L + 2L * t, a.toSeq), (1000001L + 2L * t, b.toSeq))
    }
    val plantPairs = (0 until nPlantPairs)
      .map(t => (1000000L + 2L * t, 1000001L + 2L * t)).toSet
    // fixture sanity: every planted pair is a genuine ≥ 0.9 near-dup
    plantRows.grouped(2).foreach { case Seq((ia, va), (ib, vb)) =>
      val c = cos(va.toArray, vb.toArray)
      assert(c >= 0.9, s"fixture broken: pair ($ia,$ib) cosine $c < 0.9")
    }
    val reps = (base ++ plantRows).toDF("vec_id", "v")
    val (bands, bits) = graft.etl.VectorLsh.adaptiveBandParams(nFinal, simThreshold = 0.9)
    // post-hoc adversarialness: under the PRODUCTION assignment (cells
    // retrained on base ∪ plants — identical deterministic formulas),
    // a healthy share of planted pairs must truly straddle (different
    // primary cells); otherwise the fixture stopped testing anything
    val centsProd = graft.etl.Ivf.train(reps, k, iters = 2,
      sampleCap = math.max(64 * k, 1 << 14))
    val prim = graft.etl.Ivf.assign(reps, centsProd)
      .select("vec_id", "cent_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val straddling = plantPairs.count { case (a, b) => prim(a) != prim(b) }
    assert(straddling >= nPlantPairs / 3,
      s"fixture degraded: only $straddling/$nPlantPairs pairs straddle a boundary")
    val cand = graft.etl.VectorLsh.cellBandCandidateIds(
      reps, nFinal, bands, bits, dims)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = plantPairs.filterNot(p => cand.contains(p) || cand.contains(p.swap))
    assert(missed.isEmpty,
      s"cell route missed ${missed.size}/$nPlantPairs boundary pairs " +
        s"($straddling straddling): ${missed.take(5)}")
  }

  test("knn_join: every query id present with k results, self-match ranked 1") {
    val r = SparkEntry.queries("llm_knn_join")(spark, sf)
      .collect().map(x => (x.getLong(0), x.getInt(1), x.getLong(2)))
    val byQ = r.groupBy(_._1)
    assert(byQ.keySet == (0L until 20L).toSet)
    assert(byQ.values.forall(_.length == 5))
    assert(byQ.forall { case (q, rows) => rows.find(_._2 == 1).get._3 == q })
  }

  test("semdedup: cluster stats match a JVM recompute of the LSH-pruned drop rule; " +
      "pruning loses nothing vs all-pairs; planted mutants die") {
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      math.round(r * 1e6) / 1e6.toDouble // the cosR rounding
    }
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toIndexedSeq))
    val plants = base.filter(_._1 % 50 == 0)
      .map { case (id, v) => (id + 1000000L, v.map(x => x * 0.9 + 0.02)) }
    val all = base ++ plants
    val groups = all.groupBy(_._2).map { case (v, xs) =>
      (xs.map(_._1).min, v, xs.size)
    }.toSeq
    // cluster assignment through the library's own deterministic k-means
    // (pinned elsewhere in this suite); the NOVEL logic under test is the
    // within-cluster LSH candidate pruning + lower-id-neighbor drop rule.
    import spark.implicits._
    val repsDf = groups.map { case (rep, v, _) => (rep, v) }.toDF("vec_id", "v")
    val cents = graft.etl.Ivf.train(repsDf,
      k = graft.etl.Ivf.adaptiveK(groups.size), iters = 3)
    val centOf = graft.etl.Ivf.assign(repsDf, cents)
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val vecOf = groups.map { case (rep, v, _) => rep -> v }.toMap
    val byCluster = groups.map(_._1).groupBy(centOf)
    // JVM twin of the within-cell LSH pruning: geometry from the
    // library's sizing and planes from the shared pure derivation, but
    // the dot/sign/bucket COMPOSITION is a plain Scala loop (sequential
    // sum — DotProduct's evaluation order), independent of the Catalyst
    // expression path the row executes.
    val (nBands, nBits) =
      graft.etl.VectorLsh.adaptiveBandParams(groups.size, simThreshold = 0.9)
    val planes = graft.etl.VectorLsh.hyperplanes(nBands * nBits, 64)
    def bandBuckets(v: IndexedSeq[Double]): Set[(Int, Int)] =
      (0 until nBands).map { k =>
        var bucket = 0
        for (r <- 0 until nBits) {
          val h = planes(k * nBits + r)
          var dot = 0.0
          var i = 0
          while (i < v.length) { dot += v(i) * h(i); i += 1 }
          if (dot > 0) bucket |= (1 << r)
        }
        (k, bucket)
      }.toSet
    val bucketOf = groups.map { case (rep, v, _) => rep -> bandBuckets(v) }.toMap
    def candidate(a: Long, b: Long): Boolean = (bucketOf(a) & bucketOf(b)).nonEmpty
    val dropped = byCluster.values.flatMap { reps =>
      val sorted = reps.sorted
      sorted.filter(b => sorted.exists(a =>
        a < b && candidate(a, b) && cos(vecOf(a), vecOf(b)) >= 0.9))
    }.toSet
    // planted-margin recall pin (the embed_neardup discipline): a mutant
    // sits at cosine ≥ 0.97 from its source (per-bit sign agreement
    // ≈ 0.92), so the band sizing bounds its all-bands miss below 1e-4 —
    // and the derived hyperplanes make the outcome a FIXED fact: on this
    // corpus the pruned rule must coincide with exact all-pairs. Evidence
    // of recall; the CONTRACT (row + oracle) is the pruned candidate set.
    val droppedAllPairs = byCluster.values.flatMap { reps =>
      val sorted = reps.sorted
      sorted.filter(b => sorted.exists(a => a < b && cos(vecOf(a), vecOf(b)) >= 0.9))
    }.toSet
    assert(dropped == droppedAllPairs,
      s"LSH pruning lost pairs: pruned=${dropped.size} allpairs=${droppedAllPairs.size}")
    val expected = byCluster.map { case (cid, reps) =>
      val nVec = reps.map(r => groups.find(_._1 == r).get._3.toLong).sum
      val nKept = reps.count(r => !dropped.contains(r)).toLong
      cid -> (nVec, nKept, nVec - nKept)
    }
    val got = SparkEntry.queries("llm_semdedup")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expected, s"got $got\nwant $expected")
    // every planted mutant is a semantic dup of its (lower-id) source:
    // mutants must account for the whole dropped set, and all die
    assert(dropped == plants.map(_._1).toSet,
      s"dropped $dropped != planted ${plants.map(_._1).toSet}")
  }

  test("Ivf.assign: broadcast-join branch ≡ literal-argmax branch, and k > 4096 " +
      "routes to the join form") {
    import spark.implicits._
    // real-data equivalence at small k: both physical forms, same answer
    val reps = Tables.embeddings(spark, sf)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))
    val cents = graft.etl.Ivf.train(reps, k = 8, iters = 2)
    val viaLit = graft.etl.Ivf.assign(reps, cents)
      .select("vec_id", "cent_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaJoin = graft.etl.Ivf.assignTopAgg(reps, cents, 1)
      .select("vec_id", "cells").collect().map(r => (r.getLong(0), r.getSeq[Long](1).head)).toMap
    assert(viaLit == viaJoin, "literal and join assignment branches disagree")
    // assignTop: cells[0] IS the assign answer (same rounded-cosine +
    // lowest-cent_id total order), cells are distinct per vector, and
    // the native nearest_centroids kernel reproduces the aggregate
    // (crossJoin + collect_list + sort_array) form EXACTLY
    val viaTop = graft.etl.Ivf.assignTop(reps, cents, m = 3)
      .select("vec_id", "cells").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(viaTop.view.mapValues(_.head).toMap == viaLit,
      "assignTop's nearest cell diverges from assign")
    assert(viaTop.values.forall(cs => cs.size == 3 && cs.distinct.size == 3),
      "assignTop cells not 3 distinct centroids")
    val viaAgg = graft.etl.Ivf.assignTopAgg(reps, cents, m = 3)
      .select("vec_id", "cells").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    assert(viaTop == viaAgg,
      "native nearest_centroids kernel diverges from the aggregate top-m form")
    // k > 4096 micro-case: synthetic centroids past the literal cap —
    // assign() must take the join branch (the literal form at this k
    // would blow the codegen unit) and match a plain JVM argmax with the
    // same rounding + lowest-cent_id tie-break.
    val k = graft.etl.Ivf.LiteralArgmaxMaxK + 4
    def centVec(c: Int): Seq[Double] =
      Seq(math.sin(c * 0.7), math.cos(c * 1.3), math.sin(c * 2.1 + 1), 1.0)
    val bigCents = (0 until k).map(c => (c.toLong, centVec(c))).toDF("cent_id", "cv")
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq(math.cos(i * 0.9), math.sin(i * 1.7), math.cos(i * 0.3 + 2), 1.0)))
    val got = graft.etl.Ivf.assign(vecs.toDF("vec_id", "v"), bigCents)
      .select("vec_id", "cent_id").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    def cosRound(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val r = dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val want = vecs.map { case (id, v) =>
      id -> (0 until k).map(c => (cosRound(v, centVec(c)), -c)).max._2 * -1L
    }.toMap
    assert(got == want, "join-branch assignment != JVM argmax at k > 4096")
  }

  test("Ivf assignment: NaN cosine (zero-norm vector / dead centroid) places " +
      "identically in all three physical forms") {
    import spark.implicits._
    // cent 7 is zero-norm (dead): cosine NaN against EVERY vector, so it
    // ranks ABOVE all finite cosines (Spark's nan-safe ordering) in every
    // form; vec 99 is zero-norm: all its cosines are NaN, ties broken by
    // lowest cent_id. The r8 assignTopAgg sorted by NEGATED cosine
    // ascending, which flipped NaN to the worst rank and diverged from
    // the native kernel exactly here.
    val cents = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (3L, Seq(0.0, 1.0, 0.0)),
      (7L, Seq(0.0, 0.0, 0.0)),
      (9L, Seq(0.0, 0.0, 1.0))).toDF("cent_id", "cv")
    val vecs = Seq(
      (10L, Seq(0.9, 0.1, 0.0)),
      (11L, Seq(0.0, 0.8, 0.3)),
      (99L, Seq(0.0, 0.0, 0.0))).toDF("vec_id", "v")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cent_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLit = asMap(graft.etl.Ivf.assign(vecs, cents))
    val viaJoin = graft.etl.Ivf.assignTopAgg(vecs, cents, 1).select("vec_id", "cells")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).head)).toMap
    assert(viaLit == viaJoin, "assign branches disagree on NaN cosines")
    // dead centroid wins everywhere (NaN above all), zero-norm vector
    // ties everywhere → lowest cent_id... but cent 7 is itself NaN → 7
    assert(viaLit == Map(10L -> 7L, 11L -> 7L, 99L -> 1L),
      s"unexpected NaN placement: $viaLit")
    def topMap(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cells").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val viaTop = topMap(graft.etl.Ivf.assignTop(vecs, cents, m = 3))
    val viaAgg = topMap(graft.etl.Ivf.assignTopAgg(vecs, cents, m = 3))
    assert(viaTop == viaAgg,
      s"native vs aggregate top-m diverge on NaN: $viaTop vs $viaAgg")
    assert(viaTop.view.mapValues(_.head).toMap == viaLit,
      "assignTop cells[0] != assign under NaN cosines")
    // zero-norm vector: every cosine NaN → ties → ascending cent_ids
    assert(viaTop(99L) == Seq(1L, 3L, 7L), s"zero-norm vector order: ${viaTop(99L)}")
  }

  test("Ivf.train strategies: driver-local Lloyd ≡ distributed Lloyd, " +
      "centroid for centroid, on a real corpus") {
    // r17: small unsampled training sets collect once and iterate on the
    // driver (same nearest_centroids kernel, Spark-Decimal means). The cut
    // must be invisible in the model: compare against the distributed
    // loop on the real embeddings — genuine doubles, not round literals.
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    def centMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val local = centMap(graft.etl.Ivf.train(vecs, k = 16, iters = 3))
    val dist = centMap(graft.etl.Ivf.trainLloydDistributed(vecs, k = 16, iters = 3))
    assert(local == dist,
      s"strategies diverge: ${local.keySet} vs ${dist.keySet}, " +
        local.collect { case (k, v) if dist.get(k).exists(_ != v) =>
          s"$k: $v vs ${dist(k)}" }.take(3).mkString("; "))
  }

  test("Ivf.train sampleCap: no-op when cap ≥ N; capped training is deterministic, " +
      "partitioning-independent, and still separates well-separated clusters") {
    import spark.implicits._
    // two orthogonal-ish prototype directions, 400 points each with a tiny
    // deterministic wobble on a non-defining dimension
    def pt(cluster: Int, i: Int): (Long, Seq[Double]) = {
      val base = if (cluster == 0) Seq(1.0, 0.0, 0.0, 0.0) else Seq(0.0, 1.0, 0.0, 0.0)
      ((cluster * 1000 + i).toLong, base.updated(2 + cluster, 0.01 * (i % 7)))
    }
    val rows = (0 until 400).flatMap(i => Seq(pt(0, i), pt(1, i)))
    val vecs = rows.toDF("vec_id", "v")
    def centMap(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Double]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    // cap ≥ N: byte-identical to the uncapped overload
    val uncapped = centMap(graft.etl.Ivf.train(vecs, k = 2, iters = 2))
    val wideCap = centMap(graft.etl.Ivf.train(vecs, k = 2, iters = 2, sampleCap = 10000))
    assert(uncapped == wideCap, "cap ≥ N must be the identity on training")
    // cap < N: the xxhash64 sample is a pure function of vec_id, so the
    // result must not depend on physical partitioning, and re-runs agree
    val capped1 = centMap(graft.etl.Ivf.train(vecs, k = 2, iters = 2, sampleCap = 100))
    val capped2 = centMap(
      graft.etl.Ivf.train(vecs.repartition(7), k = 2, iters = 2, sampleCap = 100))
    assert(capped1 == capped2, "capped training depends on partitioning or run")
    assert(capped1.keySet.size == 2)
    // sample-trained centroids still partition the two planted clusters
    val asg = graft.etl.Ivf.assign(vecs, capped1.toSeq.toDF("cent_id", "cv"))
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byCluster = asg.groupBy(_._1 / 1000).map { case (c, xs) => c -> xs.map(_._2).toSet }
    assert(byCluster(0L).size == 1 && byCluster(1L).size == 1 &&
      byCluster(0L) != byCluster(1L),
      s"sample-trained centroids failed to separate planted clusters: $byCluster")
  }

  test("estimatedCandidateMass: a mid-similarity background is flagged " +
      "(bg ≫ true); a near-orthogonal corpus with planted dups is not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dims = 64
    def gauss(seed: Int): Array[Double] = {
      val r = new scala.util.Random(seed)
      Array.fill(dims)(r.nextGaussian())
    }
    val n = 4000
    // mid-similarity corpus: shared direction + comparable noise → typical
    // pairwise cosine ~0.5–0.7 (the spread-corpus profile)
    val u = gauss(1)
    val mid = (0 until n).map { i =>
      val g = gauss(100 + i)
      (i.toLong, u.zip(g).map { case (a, b) => a + 0.9 * b }.toSeq)
    }.toDF("vec_id", "v")
    // near-orthogonal corpus + planted near-dups (the operator's profile)
    val ortho = (0 until n).map { i =>
      val base = gauss(100 + i / 2) // every pair of ids shares a base → true dup
      val v = if (i % 2 == 0) base else base.map(_ * 1.01 + 1e-3)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "v")
    // evaluate at a LARGE virtual corpus (geometry AND mass scaling at
    // nVirtual, pair-similarity distribution from the sample): small-n
    // geometries over-collect DELIBERATELY (occupancy 32, cheap
    // verification), which is exactly what the guard's absolute floor
    // exempts — the discrimination claim is about the at-scale regime
    val nVirtual = 200000L
    val (bands, bits) = graft.etl.VectorLsh.adaptiveBandParams(nVirtual, simThreshold = 0.9)
    val (bgMid, trueMid) = graft.etl.VectorLsh.estimatedCandidateMass(
      mid, nVirtual, bands, bits, dims, simThreshold = 0.9, sampleSize = 512)
    val (bgOrtho, trueOrtho) = graft.etl.VectorLsh.estimatedCandidateMass(
      ortho, nVirtual, bands, bits, dims, simThreshold = 0.9, sampleSize = 512)
    def flagged(bg: Double, tru: Double): Boolean = bg > 5e7 && bg > 100.0 * tru
    // the mid-similarity profile wastes ≫100× its output at scale; the
    // planted near-orthogonal profile stays true-pair-dominated
    assert(flagged(bgMid, trueMid),
      s"mid-similarity corpus not flagged: bg=$bgMid true=$trueMid")
    assert(trueOrtho > 0.0, "planted dups not found by the estimator")
    assert(!flagged(bgOrtho, trueOrtho),
      s"clean corpus wrongly flagged: bg=$bgOrtho true=$trueOrtho")
    // determinism: same inputs, same estimate (hash-ordered sample)
    val again = graft.etl.VectorLsh.estimatedCandidateMass(
      mid.repartition(7), nVirtual, bands, bits, dims, simThreshold = 0.9, sampleSize = 512)
    assert(again == ((bgMid, trueMid)), "estimator depends on partitioning")

    // ROUTING TELEMETRY (r8 ADVICE): every routing decision is recorded
    // in lastRoute so routed runs — whose recall contract differs — are
    // attributable; the oracle only ever exercises the banded path.
    assert(graft.etl.VectorLsh.routeCandidates(
      mid, nVirtual, bands, bits, dims, simThreshold = 0.9))
    val r1 = graft.etl.VectorLsh.lastRoute
    assert(r1 != null && r1.usedCells && r1.sampled && r1.nDistinct == nVirtual &&
      r1.bgPairs > 5e7 && r1.bgPairs > 100.0 * r1.truePairs,
      s"routed decision not recorded faithfully: $r1")
    assert(!graft.etl.VectorLsh.routeCandidates(
      ortho, nVirtual, bands, bits, dims, simThreshold = 0.9))
    val r2 = graft.etl.VectorLsh.lastRoute
    assert(r2 != null && !r2.usedCells && r2.sampled, s"banded decision: $r2")
    // under the floor: banded, no sample taken
    assert(!graft.etl.VectorLsh.routeCandidates(
      mid, 4000L, bands, bits, dims, simThreshold = 0.9))
    val r3 = graft.etl.VectorLsh.lastRoute
    assert(r3 != null && !r3.usedCells && !r3.sampled && r3.nDistinct == 4000L,
      s"floor decision: $r3")
  }
}
