package graft.etl

import graft.functions.TextOps
import graft.etl.StageCheckpoint.StageCheckpointOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Near-duplicate detection pipelines (SURVEY §2 op 70) as reusable
  * operators over any (id, text) DataFrame.
  *
  * MinHash+LSH shape (the only one that scales — never all-pairs):
  *   shingle → 64-hash MinHash signature (map-side) → band keys →
  *   self-join on band key (the single shuffle; bucket sizes bounded by
  *   band selectivity) → exact-Jaccard verify on candidates only.
  */
object TextDedup {

  /** Candidate near-dup pairs with exact Jaccard ≥ `threshold`.
    * Input df must have columns (`id` bigint, `text` string).
    *
    * EXACT-DEDUP FIRST: identical normalized texts collapse to one
    * representative (min id) before any signature work — k exact copies
    * would otherwise multiply every LSH bucket by k and the candidate
    * expansion by k² (measured at sf3's 30× replica corpus: 43.6 s and a
    * 2.69 M-pair explosion, mostly copy pairs). Identity groups re-expand
    * after the banded pass: copies pair with each other at Jaccard 1.0 and
    * inherit their representative's near-dup partners — exactly the
    * all-pairs answer, produced output-linearly. */
  def minhashPairs(docs: DataFrame, shingleWords: Int, nHashes: Int,
      nBands: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    require(nBands * rowsPerBand == nHashes, "bands*rows must equal signature length")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // Both stage tables below feed MULTIPLE consumers — grouped: the
    // shingle table + both member-expansion joins; sh: the banding pass +
    // both sides of the candidate verification — and un-checkpointed,
    // Catalyst re-evaluated the normalize+groupBy+shingle pipeline once
    // per consumer (r17 RowProbe: the corpus-prep composite's dominant
    // task time was this subtree ×3). Eager checkpoints run each pass
    // exactly once; the materialized forms are the dedup-group table
    // (norm + members, text-sized) and the per-REP shingle arrays (the
    // set the verify step must hold twice anyway) — not the exploded
    // token stream the r7 bigram note warns about.
    // NOTE (r18 negative result, do not retry): merging the two
    // checkpoints into ONE (rep_id, members, shingles) table — shingles
    // computed inside the group job, norm dropped — saved a job but
    // measured a consistent ~5–8 % LOSS on llm_dedup_minhash and both
    // corpus-prep composites (warm min-of-5, two A/B rounds): the
    // member-expansion joins then deserialize every row's shingle array
    // they never read, which costs more than the second materialization
    // pass it saved. Row-format checkpoints don't column-prune.
    val grouped = docs
      .withColumn("norm", TextOps.normalize(col("text")))
      .groupBy(col("norm"))
      .agg(min(col("id")).as("rep_id"), sort_array(collect_list(col("id"))).as("members"))
      .stageCheckpoint()
    val sh = grouped
      .withColumn("shingles", expr(s"word_shingles(norm, $shingleWords)"))
      .select(col("rep_id").as("id"), col("shingles"))
      .stageCheckpoint()
    val banded = sh
      // single-pass native signature (see MinHashSignature scaladoc: a
      // higher-order per-seed composition re-hashes per seed, 64x cost)
      .withColumn("sig", expr(s"minhash_sig(shingles, $nHashes)"))
      .select(col("id"), posexplode(TextOps.lshBands(col("sig"), nBands, rowsPerBand)))
      .toDF("id", "band_idx", "band_hash")
    // ONE shuffle: group ids per band bucket and expand pairs inside the
    // bucket (bounded by band selectivity). A banded-self-join formulation
    // would execute the signature subtree twice AND shuffle both sides.
    val cand = banded
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 2), i ->
             transform(sequence(i + 1, size(ids) - 1), j ->
               struct(least(ids[i], ids[j]) AS doc_a,
                      greatest(ids[i], ids[j]) AS doc_b))))""")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    // The candidate set is small when LSH's precondition holds (exact dups
    // removed first — run op 69 before this). But a corpus that violates it
    // (k exact copies per text → k²/2 candidates per group) must degrade to
    // a shuffle join, not a forced broadcast of candidate×shingle rows that
    // OOMs the driver — measured at sf3, whose 30× replicas are exactly
    // that pathology. So: no broadcast hints; size estimation (and AQE at
    // cluster scale) picks map-side hash joins whenever cand is actually
    // small, and a bounded shuffle otherwise.
    val withA = sh.select(col("id").as("doc_a"), col("shingles").as("sh_a"))
      .join(cand, "doc_a")
    val repPairs = sh.select(col("id").as("doc_b"), col("shingles").as("sh_b"))
      .join(withA, "doc_b")
      .withColumn("jaccard", expr("jaccard_sim(sh_a, sh_b)"))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    // identity-group re-expansion (see scaladoc): cross pairs inherit the
    // representative Jaccard; within-group pairs are exact dups at 1.0
    val cross = repPairs
      .join(grouped.select(col("rep_id").as("doc_a"), col("members").as("ma")), "doc_a")
      .join(grouped.select(col("rep_id").as("doc_b"), col("members").as("mb")), "doc_b")
      .select(explode(col("ma")).as("x"), col("mb"), col("jaccard"))
      .select(col("x"), explode(col("mb")).as("y"), col("jaccard"))
      .select(least(col("x"), col("y")).as("doc_a"),
        greatest(col("x"), col("y")).as("doc_b"), col("jaccard"))
    val intra = grouped.filter(size(col("members")) > 1)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(members) - 2), i ->
             transform(sequence(i + 1, size(members) - 1), j ->
               struct(members[i] AS doc_a, members[j] AS doc_b))))""")).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), lit(1.0).as("jaccard"))
    cross.unionByName(intra)
  }

  /** Deterministic block-size cap for blocked pair generation: keep the
    * `cap` smallest `orderCol` rows per `blockCol` value. Blocked all-pairs
    * comparison is quadratic WITHIN a block — a hot block (one dominant
    * `source` at 100 TB) explodes without this bound, which caps the pair
    * count per block at cap·(cap−1)/2 regardless of skew. For unbounded
    * corpora prefer `minhashPairs`: banded LSH replaces the quadratic block
    * expansion entirely. */
  def cappedBlocks(df: DataFrame, blockCol: String, orderCol: String, cap: Int): DataFrame =
    df.withColumn("graft_block_rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(blockCol)).orderBy(col(orderCol).asc_nulls_first)))
      .filter(col("graft_block_rn") <= cap)
      .drop("graft_block_rn")

  /** Connected components over a near-dup pair graph: every node gets
    * `cluster_id` = the MINIMUM id reachable through edges — the transitive
    * closure of pairwise near-duplication, which is what corpus dedup
    * actually needs (a~b and b~c must collapse to ONE keep decision even
    * when a≁c directly; the pairwise keep-first rule cannot see the chain).
    *
    * Algorithm: iterative min-label propagation over the self-looped
    * symmetric edge set — each round every node takes the min of its
    * closed neighborhood's labels; converges in O(component diameter)
    * rounds, checked by an exact monotone-mass test (labels only ever
    * decrease, so sum(lbl) is strictly decreasing until the fixpoint)
    * and capped at `maxIters` (near-dup components are shallow — chains
    * of revisions — so the diameter is small in practice).
    * Round 1 is join-free (initial labels are the ids, so the first
    * neighborhood min is a plain groupBy-min over the edges); every later
    * round is ONE shuffle join + ONE aggregation; `localCheckpoint`
    * truncates the lineage so the plan does not nest per iteration (the
    * Ivf.train lesson, applied to data too big to collect).
    *
    * ADVERSARIAL DIAMETERS (r8): past round [[ShortcutAfter]] each
    * propagation round adds a POINTER-JUMPING shortcut — labels compose
    * through themselves (lbl ← lbl∘lbl; every label value is an active
    * node's id, so the composition join always matches), which halves
    * label-chain depth per round and bounds total rounds at
    * ~ShortcutAfter + O(log d) instead of O(d). The threshold keeps the
    * measured common case byte-identical in cost: every probed near-dup
    * corpus converges in 3 rounds — under the threshold, where the loop
    * is EXACTLY the r7 one-join-per-round shape — while a planted
    * diameter-64 chain that would take 64 plain rounds converges in ~10
    * (DedupSpec pins both). The shortcut preserves the invariants the
    * convergence test rides: labels only decrease (lbl(y) ≤ y for every
    * y), so the monotone mass still strictly drops until the fixpoint.
    *
    * Deterministic: labels are ids, min is order-free, and the iteration
    * count depends only on the graph. `nodes` must have column `id`;
    * `edges` columns (`a`, `b`). */
  /** Rounds the last [[connectedComponents]] call took to converge
    * (includes the final no-change round) — PROBE TELEMETRY ONLY: the
    * scaling probes record it next to the wall time because the loop's
    * cost is rounds × per-round join, and "the data doubled but the
    * chain diameter did not" is the claim that makes the clusters row's
    * near-flat scaling interpretable. Driver-side single-threaded use. */
  @volatile private[graft] var lastIters: Int = -1

  /** Plain-propagation rounds before pointer-jumping kicks in. 4 covers
    * every diameter the near-dup corpora exhibit (measured: 3) with one
    * round of slack, so real workloads never pay the shortcut join. */
  private[graft] val ShortcutAfter = 4

  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 30): DataFrame = {
    // Materialize the symmetric edge set ONCE: `edges` is typically an
    // EXPENSIVE subtree (a blocked/banded similarity join), and the loop
    // references it every round — without this checkpoint each iteration
    // re-executed the whole pair-generation pipeline (measured: the
    // clusters registry row spent 26 s of its 27 s re-running the
    // block-Jaccard join per propagation round at sf0.1).
    val sym = edges.select(col("a"), col("b"))
      .unionByName(edges.select(col("b").as("a"), col("a").as("b")))
      .stageCheckpoint()
    // Round 1 needs NO join and NO separate `active` materialization
    // (r18 — two fixed jobs off every call): the initial label of node b
    // IS b, so the first neighborhood min over (sym ∪ self-loops) equals
    // least(own id, min over sym's b) — computable from `sym` alone. The
    // propagation runs over the EDGE-TOUCHED subgraph only (a node with
    // no edges is its own component and never changes label; at corpus
    // scale the near-dup graph is a sliver of the node set), and the
    // label table's own id column IS that active set — the previous
    // shape materialized it separately and paid an isEmpty probe besides.
    val labels0 = sym.groupBy(col("a"))
      .agg(min(col("b")).as("mb"))
      .select(col("a").as("id"), least(col("a"), col("mb")).as("lbl"))
      .localCheckpoint()
    var labels = labels0
    // Convergence by monotone label mass: min-propagation only ever
    // DECREASES a label (the self-loop keeps the own label in the min),
    // so a round changed something iff sum(lbl) strictly dropped. The
    // test is exact — Decimal(38,0) sums any Long id set without
    // overflow — and costs one scan of the just-checkpointed labels
    // instead of the old join + count against the previous round.
    def mass(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head.getDecimal(0)
    var prevMass = mass(labels)
    // An empty edge set means every node is its own singleton component —
    // detected from the mass probe (zero label rows sum to NULL), so the
    // empty case costs no extra isEmpty job.
    if (prevMass == null) {
      lastIters = 0
      labels.unpersist(blocking = false)
      return nodes.select(col("id"), col("id").as("cluster_id"))
    }
    // the active node set rides the ROUND-1 label table (labels0), which
    // stays pinned for the whole call — symSelf and the final
    // singleton-rejoin read it every round, and an unpersisted
    // localCheckpoint cannot be recomputed (only superseded LATER rounds
    // are released in the loop below)
    val active = labels0.select(col("id"))
    // SELF-LOOPS fold each node's own label into the neighbor min, so a
    // propagation round is ONE join + ONE aggregation — the old shape's
    // second join (recombining least(own, nbrMin) against the previous
    // labels) is gone. Both inputs are checkpointed (`active` reads the
    // checkpointed label table), so referencing the union per round
    // re-reads cached blocks, never the edge subtree.
    val symSelf = sym
      .unionByName(active.select(col("id").as("a"), col("id").as("b")))
    var converged = false
    var i = 1 // the join-free init above is round 1
    while (!converged && i < maxIters) {
      val prop = symSelf
        .join(labels.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy(col("a").as("id")).agg(min(col("nlbl")).as("lbl"))
      // pointer-jumping shortcut past the threshold (scaladoc): compose
      // labels through themselves — lbl(x) ← lbl(lbl(x)). Every label
      // value is an active node's id, so the inner join is total.
      var p: DataFrame = null
      val next = (if (i < ShortcutAfter) prop
        else {
          // materialize once: the composition references prop on BOTH
          // sides, and recomputing the propagation join per side would
          // double the round's cost
          p = prop.localCheckpoint()
          p.join(p.select(col("id").as("lbl"), col("lbl").as("lbl2")), "lbl")
            .select(col("id"), col("lbl2").as("lbl"))
        })
        .localCheckpoint()
      // `next` is materialized, so the intermediate composition input can
      // be released NOW — leaving it pinned leaked one orphaned
      // checkpoint's blocks per shortcut round for the session's life
      // (r8 ADVICE).
      if (p != null) p.unpersist(blocking = false)
      val m = mass(next)
      // `next` is eagerly materialized — release the superseded round's
      // blocks before looping (NEVER labels0: symSelf and the final
      // rejoin read it, and truncated lineage cannot recompute)
      if (labels ne labels0) labels.unpersist(blocking = false)
      labels = next
      converged = m.compareTo(prevMass) == 0
      prevMass = m
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIters rounds")
    lastIters = i // probe telemetry (see field scaladoc)
    // isolated nodes rejoin as singleton components
    nodes.select(col("id")).join(active, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
      .unionByName(labels.select(col("id"), col("lbl").as("cluster_id")))
  }

  /** 64-bit SimHash per document over an (id, text) DataFrame. */
  def simhashes(docs: DataFrame): DataFrame =
    docs
      .withColumn("hashes", TextOps.tokenHashes(TextOps.normalize(col("text"))))
      .withColumn("simhash", TextOps.simhash("hashes"))
      .select("id", "simhash")
}
