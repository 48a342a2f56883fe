package graft.operators

import graft.{GraftQuery, QueryGroup, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2-B: projection / filter / row logic (ops 8–15).
  *
  * SAS semantics covered: KEEP=/DROP=/RENAME= data-set options, DATA-step
  * assignments, WHERE vs subsetting IF (pre- vs post-derivation predicates),
  * IF/THEN/ELSE, OBS=/FIRSTOBS=, seeded sampling, missing-value semantics.
  *
  * 100 TB notes: every query here is a narrow map-only pipeline — no
  * shuffle except the final presentation sort. Filters and projections
  * reach the parquet scan (PushedFilters / ReadSchema pruning verified in
  * PlanSpec); that is the difference between reading 100 TB and reading
  * the two columns you need.
  */
object RowOps extends QueryGroup {

  /** op 8 — KEEP=/DROP=/RENAME=: prune + rename columns. */
  private val projectKeepDropRename = GraftQuery(
    "project_keep_drop_rename",
    (s, dir) =>
      Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .drop("c_mktsegment")
        .withColumnRenamed("c_name", "customer_name")
        .withColumnRenamed("c_acctbal", "balance")
        .orderBy(col("c_custkey").asc_nulls_first),
    Some("""
      SELECT c_custkey, c_name AS customer_name, c_acctbal AS balance
      FROM customer
      ORDER BY c_custkey ASC NULLS FIRST"""))

  /** op 9 — DATA-step assignments: derived measures. Row-level double
    * arithmetic is IEEE-identical across engines — no rounding needed. */
  private val deriveColumns = GraftQuery(
    "derive_columns",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .withColumn("charge",
          col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
        .withColumn("margin_flag",
          (col("l_discount") > lit(0.05)).cast(IntegerType))
        .select("l_orderkey", "l_linenumber", "revenue", "charge", "margin_flag")
        .orderBy(col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first),
    Some("""
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (1.0 - l_discount) AS revenue,
             l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS charge,
             CAST(l_discount > 0.05 AS INTEGER) AS margin_flag
      FROM lineitem
      ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST"""))

  /** op 10 — WHERE (pre-PDV, pushdown-eligible): predicate on stored cols. */
  private val filterWhere = GraftQuery(
    "filter_where",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") < lit(5.0) &&
          col("l_shipdate") >= lit("2000-01-01 00:00:00").cast(TimestampNTZType))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy(col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
      FROM lineitem
      WHERE l_quantity < 5.0 AND l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
      ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST"""))

  /** op 11 — subsetting IF: predicate on a *derived* column (in SAS the
    * derivation must precede the IF; here the optimizer is free to inline —
    * semantics identical). */
  private val filterSubsettingIf = GraftQuery(
    "filter_subsetting_if",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .filter(col("revenue") > lit(80000.0))
        .select("l_orderkey", "l_linenumber", "revenue")
        .orderBy(col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first),
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue
      FROM lineitem
      WHERE l_extendedprice * (1.0 - l_discount) > 80000.0
      ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST"""))

  /** op 12 — IF/THEN/ELSE + SELECT/WHEN: conditional derivation. */
  private val caseWhenLogic = GraftQuery(
    "case_when_logic",
    (s, dir) =>
      Tables.orders(s, dir)
        .withColumn("size_band",
          when(col("o_totalprice") < 50000.0, "small")
            .when(col("o_totalprice") < 200000.0, "medium")
            .otherwise("large"))
        .withColumn("urgency",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), lit(1)).otherwise(lit(0)))
        .select("o_orderkey", "size_band", "urgency")
        .orderBy(col("o_orderkey").asc_nulls_first),
    Some("""
      SELECT o_orderkey,
             CASE WHEN o_totalprice < 50000.0 THEN 'small'
                  WHEN o_totalprice < 200000.0 THEN 'medium'
                  ELSE 'large' END AS size_band,
             CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS urgency
      FROM orders
      ORDER BY o_orderkey ASC NULLS FIRST"""))

  /** op 13 — OBS=/FIRSTOBS=: deterministic row slice (sorted first so the
    * slice is well-defined — SAS row position ≈ explicit total order). */
  private val limitObs = GraftQuery(
    "limit_obs",
    (s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_orderkey").asc_nulls_first)
        .offset(10)
        .limit(100),
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_orderkey ASC NULLS FIRST
      LIMIT 100 OFFSET 10"""))

  /** op 14 — RANUNI(seed)-style reproducible sample. Engines' RNGs differ →
    * no oracle; GraftSessionSpec's sample_seeded case asserts
    * seed-stability and the fraction bound. */
  private val sampleSeeded = GraftQuery(
    "sample_seeded",
    (s, dir) =>
      Tables.orders(s, dir)
        .sample(withReplacement = false, fraction = 0.1, seed = 42L)
        .select("o_orderkey", "o_custkey")
        .orderBy(col("o_orderkey").asc_nulls_first),
    None)

  /** PROC SURVEYSELECT STRATA-style EXACT-QUOTA stratified sample: exactly
    * k = 40 documents per `source` stratum, selected in a DETERMINISTIC
    * pseudo-random order (Knuth multiplicative hash of doc_id — the
    * llm_domain_mix arithmetic) instead of an engine RNG, so unlike
    * `sample_seeded` the drawn sample is identical across engines, re-runs
    * and cluster sizes and the row set is fully DuckDB-oracled.
    *
    * 100 TB shape: the window is PARTITIONED by stratum (never the banned
    * global window); each stratum sorts only its own rows. When a stratum
    * itself is huge relative to k, the production refinement is
    * threshold-first: pick a hash cutoff u* ≈ k/|stratum| via a cheap
    * per-stratum count, pre-filter u < c·u*, and rank only the survivors —
    * the window then sees O(k) rows per stratum instead of the stratum.
    * The hash-order contract is what makes that refinement EXACT (the
    * ranking is a pure function of u, not of arrival order). */
  private val sampleStratifiedExact = GraftQuery(
    "sample_stratified_exact",
    (s, dir) => {
      val u = graft.Det.knuthU(col("doc_id"))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), u.as("u"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("u").asc, col("doc_id").asc)))
        .filter(col("rn") <= 40)
        .select(col("doc_id"), col("source"), col("rn"))
        .orderBy(col("source").asc_nulls_first, col("rn").asc_nulls_first)
    },
    Some("""
      SELECT doc_id, source, rn FROM (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY CAST((CAST(doc_id AS DECIMAL(38,0)) * 2654435761) % 4294967296 AS BIGINT) ASC, doc_id ASC) AS rn
        FROM documents)
      WHERE rn <= 40
      ORDER BY source ASC NULLS FIRST, rn ASC NULLS FIRST"""))

  /** op 15 — SAS missing-value semantics in one query: nulls (from NULLIF)
    * propagate through arithmetic, are rescued by COALESCE, compare via
    * null-safe equality, and sort FIRST (the SAS convention). */
  private val nullMissingSemantics = GraftQuery(
    "null_missing_semantics",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .withColumn("d", nullif(col("l_discount"), lit(0.0)))
        .withColumn("d_plus_tax", col("d") + col("l_tax"))
        .withColumn("d_filled", coalesce(col("d"), lit(0.0)))
        .withColumn("is_free", col("d") <=> lit(null).cast(DoubleType))
        .select("l_orderkey", "l_linenumber", "d", "d_plus_tax", "d_filled", "is_free")
        .orderBy(col("d").asc_nulls_first,
          col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first),
    Some("""
      SELECT l_orderkey, l_linenumber,
             NULLIF(l_discount, 0.0) AS d,
             NULLIF(l_discount, 0.0) + l_tax AS d_plus_tax,
             COALESCE(NULLIF(l_discount, 0.0), 0.0) AS d_filled,
             NULLIF(l_discount, 0.0) IS NOT DISTINCT FROM NULL AS is_free
      FROM lineitem
      ORDER BY d ASC NULLS FIRST, l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST"""))

  override def queries: Seq[GraftQuery] = Seq(
    projectKeepDropRename, deriveColumns, filterWhere, filterSubsettingIf,
    caseWhenLogic, limitObs, sampleSeeded, sampleStratifiedExact,
    nullMissingSemantics)
}
