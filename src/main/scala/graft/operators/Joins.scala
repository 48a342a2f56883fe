package graft.operators

import graft.{Det, GraftQuery, QueryGroup, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** SURVEY.md §2-C: joins (ops 16–26).
  *
  * SAS semantics covered: MERGE…BY with IN= flags (inner/left/full/semi/
  * anti subsets), PROC SQL join planning, the DATA-step hash object
  * (= broadcast hash join), PUT(x, userfmt.) lookup decode, sorted-MERGE
  * carry-forward (= as-of join), inequality/interval joins.
  *
  * 100 TB notes: fact⋈fact equi joins shuffle both sides on the key —
  * that is correct and unavoidable; what matters is (a) every dimension
  * small enough to broadcast IS broadcast (ops 21/24 force it; Catalyst +
  * AQE handle the rest under the threshold), (b) non-equi joins always
  * carry an equi conjunct (ops 23/26 join on a key first, then band-filter
  * — pure theta would be a cartesian at scale), and (c) the as-of join
  * (op 25) is the union+window formulation — one shuffle, no candidate
  * blowup — rather than range-join + top-1, which explodes on dense keys.
  */
object Joins extends QueryGroup {

  /** op 16 — MERGE a(in=A) b(in=B); IF A AND B: inner equi join. */
  private val joinInnerEqui = GraftQuery(
    "join_inner_equi",
    (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"), "inner")
        .select("o_orderkey", "o_totalprice", "c_custkey", "c_name", "c_mktsegment")
        .orderBy(col("o_orderkey").asc_nulls_first),
    Some("""
      SELECT o_orderkey, o_totalprice, c_custkey, c_name, c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey ASC NULLS FIRST"""))

  /** op 17 — IF A: left outer join (customers keep their zero-order rows). */
  private val joinLeftOuter = GraftQuery(
    "join_left_outer",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("total_spend"))
        .orderBy(col("c_custkey").asc_nulls_first),
    Some(s"""
      SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
             ${Det.sqlSum("o_totalprice")} AS total_spend
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey, c_name
      ORDER BY c_custkey ASC NULLS FIRST"""))

  /** op 18 — bare MERGE…BY: full outer. Two per-customer aggregates (F-
    * status vs O-status orders) so both sides genuinely have unmatched
    * keys; output coalesces the key, SAS-merge style. */
  private val joinFullOuter = GraftQuery(
    "join_full_outer",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey").as("fk")).agg(count(lit(1)).as("n_f"))
      val op = o.filter(col("o_orderstatus") === "O")
        .groupBy(col("o_custkey").as("ok")).agg(count(lit(1)).as("n_o"))
      f.join(op, col("fk") === col("ok"), "full")
        .select(coalesce(col("fk"), col("ok")).as("custkey"), col("n_f"), col("n_o"))
        .orderBy(col("custkey").asc_nulls_first)
    },
    Some("""
      SELECT COALESCE(f.fk, o.ok) AS custkey, n_f, n_o
      FROM (SELECT o_custkey AS fk, COUNT(*) AS n_f FROM orders WHERE o_orderstatus='F' GROUP BY 1) f
      FULL JOIN (SELECT o_custkey AS ok, COUNT(*) AS n_o FROM orders WHERE o_orderstatus='O' GROUP BY 1) o
        ON f.fk = o.ok
      ORDER BY custkey ASC NULLS FIRST"""))

  /** op 19 — IF A AND B keeping only A's columns: left semi (EXISTS). */
  private val joinLeftSemi = GraftQuery(
    "join_left_semi",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey").asc_nulls_first),
    Some("""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
      ORDER BY c_custkey ASC NULLS FIRST"""))

  /** op 20 — IF A AND NOT B: left anti (customers with no big order). */
  private val joinLeftAnti = GraftQuery(
    "join_left_anti",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy(col("c_custkey").asc_nulls_first),
    Some("""
      SELECT c_custkey, c_name
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
      ORDER BY c_custkey ASC NULLS FIRST"""))

  /** op 21 — DATA-step hash object: explicit broadcast of the dim chain.
    * PlanSpec asserts BroadcastHashJoin appears in the physical plan. */
  private val joinBroadcastHash = GraftQuery(
    "join_broadcast_hash",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), Det.dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("r_name").asc_nulls_first),
    Some(s"""
      SELECT r_name, COUNT(*) AS n_customers, ${Det.sqlSum("c_acctbal")} AS sum_bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name
      ORDER BY r_name ASC NULLS FIRST"""))

  /** Single-long-key broadcast lookup with RESIDUAL cross-side
    * equalities — the codified fix for the composite-key probe tax
    * root-caused in round 7 (NOTES_r7 §6). Catalyst
    * lifts EVERY cross-side equality in a join condition into the
    * equi-key list, which silently switches the broadcast hashed
    * relation from LongHashedRelation (single bigint key — a dense
    * long-indexed probe, ~12 ns/row) to UnsafeHashedRelation (composite
    * key — per-probe-row UnsafeRow construction + byte-map lookup,
    * ~80 ns/row; 3–5× on the whole join stage at sf1, ~5 s on sf12's
    * fact stream). Expressing the extra equality as (a − b) = 0 defeats
    * the key extraction — the expression references both sides, so it
    * cannot split into an (left expr, right expr) key pair and stays a
    * residual predicate evaluated per matched row. Row semantics are
    * identical to the equality for INTEGRAL and DECIMAL operands (equal
    * ⟺ difference 0; a null on either side nulls the difference and the
    * predicate, exactly like EqualTo) — which is exactly the dim-key
    * shape the tax bites, so restrict residuals to those types. For
    * FLOATING-POINT operands the rewrite diverges at ±Infinity (Inf ==
    * Inf is true but Inf − Inf is NaN, so the rewritten predicate drops
    * the row) — do not route float residuals through this helper.
    * PlanSpec pins the single-key form.
    *
    * WHEN to reach for it: the long key is selective on the build side
    * (a PK lookup). If the retained key had huge build-side groups the
    * probe would scan them per row — that pathology is why this is an
    * explicit helper, not a blanket optimizer rule. */
  def broadcastLookupResidual(stream: DataFrame, dim: DataFrame,
      streamKey: Column, dimKey: Column,
      residual: Seq[(Column, Column)]): DataFrame = {
    val cond = residual.foldLeft(streamKey === dimKey) {
      case (c, (a, b)) => c && ((a - b) === lit(0))
    }
    stream.join(broadcast(dim), cond)
  }

  /** The residual-lookup demonstration row: a fact⋈dim broadcast lookup
    * whose join carries a second, cross-side equality. The Spark side
    * routes it through [[broadcastLookupResidual]] so the hashed relation
    * stays single-long-key; the oracle states the SAME join as the plain
    * two-equality SQL — identical rows, different physical probe. */
  private val joinBroadcastResidual = GraftQuery(
    "join_broadcast_residual",
    (s, dir) =>
      broadcastLookupResidual(
        Tables.lineitem(s, dir)
          .select("l_suppkey", "l_linenumber", "l_extendedprice"),
        Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey"), col("s_suppkey"),
        Seq((col("l_linenumber") % 25, col("s_nationkey"))))
        .groupBy(col("s_nationkey"))
        .agg(count(lit(1)).as("n_lines"), Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("s_nationkey").asc_nulls_first),
    Some(s"""
      SELECT s_nationkey, COUNT(*) AS n_lines,
             ${Det.sqlSum("l_extendedprice")} AS sum_price
      FROM lineitem JOIN supplier
        ON l_suppkey = s_suppkey AND (l_linenumber % 25) = s_nationkey
      GROUP BY s_nationkey
      ORDER BY s_nationkey ASC NULLS FIRST"""))

  /** op 22 — comma-list without ON: cartesian product (region × nation). */
  private val joinCross = GraftQuery(
    "join_cross",
    (s, dir) =>
      Tables.region(s, dir).select(col("r_name"))
        .crossJoin(Tables.nation(s, dir).select(col("n_name")))
        .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first),
    Some("""
      SELECT r_name, n_name
      FROM region CROSS JOIN nation
      ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""))

  /** op 23 — non-equi band join: lineitems shipped within 30 days of their
    * order date. Equi conjunct on the key keeps this a sort-merge join with
    * a residual band filter — the only theta-join shape that scales. */
  private val joinThetaRange = GraftQuery(
    "join_theta_range",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
        .select("l_orderkey", "l_linenumber", "l_shipdate", "o_orderdate")
        .orderBy(col("l_orderkey").asc_nulls_first, col("l_linenumber").asc_nulls_first),
    Some("""
      SELECT l_orderkey, l_linenumber, l_shipdate, o_orderdate
      FROM lineitem JOIN orders
        ON l_orderkey = o_orderkey
       AND l_shipdate >= o_orderdate
       AND l_shipdate < o_orderdate + INTERVAL 30 DAY
      ORDER BY l_orderkey ASC NULLS FIRST, l_linenumber ASC NULLS FIRST"""))

  /** op 24 — PUT(x, userfmt.) decode: tiny in-code mapping table, broadcast
    * joined (the PROC FORMAT CNTLIN= pattern). */
  private val joinLookupFormat = GraftQuery(
    "join_lookup_format",
    (s, dir) => {
      import s.implicits._
      val fmt = Seq(
        ("1-URGENT", "urgent"), ("2-HIGH", "high"), ("3-MEDIUM", "medium"),
        ("4-NOT SPECIFIED", "unspecified"), ("5-LOW", "low"))
        .toDF("code", "label")
      Tables.orders(s, dir)
        .join(broadcast(fmt), col("o_orderpriority") === col("code"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label").asc_nulls_first)
    },
    Some("""
      SELECT label, COUNT(*) AS n
      FROM orders
      LEFT JOIN (VALUES ('1-URGENT','urgent'),('2-HIGH','high'),('3-MEDIUM','medium'),
                        ('4-NOT SPECIFIED','unspecified'),('5-LOW','low')) AS fmt(code,label)
        ON o_orderpriority = code
      GROUP BY label
      ORDER BY label ASC NULLS FIRST"""))

  /** The as-of rows' oracle: DuckDB's native ASOF LEFT JOIN over the raw
    * events. Every as-of row, layout variants included, answers it. */
  private val AsofOracle = """
      SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
             CAST(c.ts AS TIMESTAMP) AS prior_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts <= p.ts
      ORDER BY p.event_id ASC NULLS FIRST"""

  /** op 25 — as-of join (sorted MERGE + RETAIN carry-forward): each
    * purchase event gets the user's most recent click at-or-before it.
    * Implemented as union + ordered window `last(ignoreNulls)` — a single
    * shuffle on user_id, no join blowup on dense keys (the 100 TB-safe
    * formulation); oracle is DuckDB's native ASOF LEFT JOIN. */
  private val joinAsof = GraftQuery(
    "join_asof",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
          lit(null).cast("long").as("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(null).cast("timestamp_ntz").as("click_ts"),
          col("event_id"))
      // Order ties so a click at the same µs as a purchase is visible to it
      // (ASOF's <= semantics): clicks (event_id null) sort first.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("prior_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
        .filter(col("event_id").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts"), col("prior_click_ts"))
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some(AsofOracle))

  /** op 26 — interval containment: error events within 1 hour after a
    * signup by the same user (equi on user + time band). `errorsHint`
    * shapes the error side before the join. */
  private def intervalJoin(e: DataFrame, errorsHint: DataFrame => DataFrame): DataFrame = {
    val signups = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("ts").as("signup_ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("error_id"), col("ts").as("error_ts"))
    errorsHint(errors).join(signups,
        col("user_id") === col("su") &&
          col("error_ts") >= col("signup_ts") &&
          col("error_ts") < col("signup_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("error_id"), col("error_ts"), col("signup_ts"))
      .orderBy(col("error_id").asc_nulls_first, col("signup_ts").asc_nulls_first)
  }

  /** The interval rows' oracle: the plain equi + band join over raw events. */
  private val IntervalOracle = """
      SELECT e.user_id, e.event_id AS error_id,
             CAST(e.ts AS TIMESTAMP) AS error_ts, CAST(s.ts AS TIMESTAMP) AS signup_ts
      FROM (SELECT * FROM events WHERE event_type = 'error') e
      JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON e.user_id = s.user_id
       AND CAST(e.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
       AND CAST(e.ts AS TIMESTAMP) < CAST(s.ts AS TIMESTAMP) + INTERVAL 1 HOUR
      ORDER BY error_id ASC NULLS FIRST, signup_ts ASC NULLS FIRST"""

  private val joinInterval = GraftQuery(
    "join_interval",
    (s, dir) => intervalJoin(Tables.events(s, dir), identity),
    Some(IntervalOracle))

  /** op 25 via the custom operator path (c): the SAME as-of semantics
    * executed by graft's native AsOfJoinPlan/AsOfJoinExec (logical node →
    * strategy → co-partitioned one-pass merge exec) instead of the
    * union+window formulation — both hash-verified against DuckDB's native
    * ASOF JOIN. The body of every native as-of row over events `e`. */
  private def asofMerge(e: DataFrame): DataFrame = {
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    graft.plans.AsOf.join(purchases, clicks, "user_id", "c_user", "ts", "click_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_ts").as("prior_click_ts"))
      .orderBy(col("event_id").asc_nulls_first)
  }

  private val joinAsofNative = GraftQuery(
    "join_asof_native",
    (s, dir) => asofMerge(Tables.events(s, dir)),
    Some(AsofOracle))

  /** TIME-SERIES layout (r8 verdict item 1 — the asof/interval-family
    * analogue of the equi-key fact layouts): events bucketed by the
    * ENTITY key and sorted WITHIN buckets by (entity, ts, event_id). The
    * whole event-stream join family — as-of, interval containment,
    * sessionize, per-entity windows — requires exactly clustering on the
    * entity plus (entity, time) ordering, and this layout serves BOTH
    * straight off the scan: the native AsOfJoinExec's
    * requiredChildDistribution/Ordering and a merge join's key ordering
    * are satisfied with ZERO exchange and ZERO sort on either side
    * (PlanSpec pins it). This is the storage answer to the r8 sf24
    * finding that the asof shape's SMJ sort spills at partition width —
    * the sort is paid ONCE at layout-build time, never per query, and at
    * 100 TB a time-series table's resident format is precisely
    * "partitioned by entity, time-ordered within partition". */
  def bucketedEvents(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.layouts.Bucketed.ensure(s, dir, Seq(
      graft.layouts.Bucketed.Spec("events_bu", Tables.events(s, dir), "user_id",
        srcTables = Seq("events"), sortCols = Seq("user_id", "ts", "event_id"))),
      buckets = graft.layouts.Bucketed.defaultBuckets(dir, "events")).head

  /** INCREMENTALLY-MAINTAINED twin of [[bucketedEvents]] (r9 verdict
    * item 1): the layout is built from a deterministic 7/8 BASE of the
    * events table, then the remaining 1/8 arrives as a named delta batch
    * through `Bucketed.appendOnce` — the nightly-ingest lifecycle
    * (build once, append deltas, never rebuild) exercised end-to-end
    * against the DuckDB oracle, which recomputes over the FULL table:
    * a lost, duplicated, or mis-bucketed delta row fails the hash gate.
    * The exactly-once stamp makes repeated calls (warmup + timed bench
    * runs, repeated verify passes, fresh JVMs over the same persisted
    * warehouse) idempotent. Multi-file buckets keep the bucket
    * CLUSTERING — consumers stay zero-exchange — and cede only the
    * reported per-bucket sort order until compaction
    * (IncrementalLayoutSpec pins both halves plus the compact). */
  def bucketedEventsIncremental(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val events = Tables.events(s, dir)
    val isDelta = pmod(xxhash64(col("event_id")), lit(8)) === 0
    val t = graft.layouts.Bucketed.ensure(s, dir, Seq(
      graft.layouts.Bucketed.Spec("events_bui", events.filter(!isDelta), "user_id",
        srcTables = Seq("events"), sortCols = Seq("user_id", "ts", "event_id"))),
      buckets = graft.layouts.Bucketed.defaultBuckets(dir, "events")).head
    graft.layouts.Bucketed.appendOnce(s, "delta-1of8", Seq(t -> events.filter(isDelta)))
    t
  }

  /** op 25 over the TIME-SERIES layout: the same native as-of merge as
    * join_asof_native, but both sides scan `events_bu` — bucketed on
    * user_id, sorted by (user_id, ts) — so EnsureRequirements inserts
    * NEITHER an exchange NOR a sort: the co-partitioned one-pass merge
    * runs directly on the layout's resident order. Same DuckDB ASOF
    * oracle as the raw-table forms (the layout changes only the physical
    * plan); PlanSpec pins zero exchange / zero sort under AsOfJoinExec. */
  private val joinAsofColocated = GraftQuery(
    "join_asof_colocated",
    (s, dir) => asofMerge(s.table(bucketedEvents(s, dir))),
    Some(AsofOracle))

  /** The as-of merge over the INCREMENTALLY-MAINTAINED time-series layout
    * ([[bucketedEventsIncremental]]: 7/8 base build + a 1/8 appendOnce
    * delta): same query and same full-table DuckDB ASOF oracle as
    * [[joinAsofColocated]] — the layout (and its append lifecycle)
    * changes only the physical plan, so a delta row lost, duplicated, or
    * placed in the wrong bucket by the append path fails the hash gate.
    * Post-append the buckets are multi-file: the merge still runs with
    * zero EXCHANGE off the bucket clustering (PlanSpec pins it), and the
    * per-task in-bucket sort it temporarily pays is exactly what
    * `Bucketed.compact` removes (IncrementalLayoutSpec). */
  private val joinAsofColocatedIncr = GraftQuery(
    "join_asof_colocated_incr",
    (s, dir) => asofMerge(s.table(bucketedEventsIncremental(s, dir))),
    Some(AsofOracle))

  /** op 26 over the TIME-SERIES layout: the interval-containment join as
    * a zero-exchange zero-sort merge join — both sides scan `events_bu`
    * (bucketed user_id, sorted (user_id, ts)), the equi conjunct rides
    * the bucketing, and the time band stays a residual predicate
    * evaluated inside each user's merged group. The per-query cost of
    * the interval join at 100 TB becomes a pure co-partitioned scan;
    * same oracle as join_interval. */
  private val joinIntervalColocated = GraftQuery(
    "join_interval_colocated",
    (s, dir) => intervalJoin(s.table(bucketedEvents(s, dir)), _.hint("merge")),
    Some(IntervalOracle))

  /** 1 h in µs — the band width every range-banded events layout here
    * uses. */
  private[graft] val HourMicros = 3600000000L

  /** The range-banded events layouts the registry rows read — exposed so
    * the bench prewarms them under `builds` with the IDENTICAL cache
    * keys (r9 verdict item 5: the salted row's driver-run timing was 4×
    * its quiet-machine value because the row's first run carried the
    * layout ensure; builds-section prewarming is the same contract every
    * other resident format gets). */
  def rangeBandedEvents(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.layouts.RangeBanded.ensure(s, dir, "events",
      Tables.events(s, dir), "ts", HourMicros, Seq("events"))

  def rangeBandedEventsSalted(s: org.apache.spark.sql.SparkSession, dir: String): String =
    graft.layouts.RangeBanded.ensure(s, dir, "events",
      Tables.events(s, dir), "ts", HourMicros, Seq("events"),
      salt = 4, saltCol = "event_id")

  def rangeBandedEventsAuto(s: org.apache.spark.sql.SparkSession, dir: String): (String, Int) =
    graft.layouts.RangeBanded.ensureAuto(s, dir, "events",
      Tables.events(s, dir), "ts", HourMicros, Seq("events"),
      targetRowsPerTask = 64, maxSalt = 8)

  def rangeBandedEventsIncremental(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val events = Tables.events(s, dir)
    val isDelta = pmod(xxhash64(col("event_id")), lit(8)) === 0
    val t = graft.layouts.RangeBanded.ensure(s, dir, "events_incr",
      events.filter(!isDelta), "ts", HourMicros, Seq("events"))
    graft.layouts.RangeBanded.append(s, t, events.filter(isDelta),
      "ts", HourMicros, tag = Some("delta-1of8"))
    t
  }

  /** PURE-RANGE join (NO equi key) over the RANGE-BANDED layout — the
    * non-equi storage analogue of the bucketed equi layouts (r8 verdict
    * item 1, layouts.RangeBanded): every error event paired with EVERY
    * signup (any user) in the preceding hour. Without a layout Spark
    * must plan this as BroadcastNestedLoopJoin — probe × corpus
    * comparisons. The banded layout stores events bucketed+sorted on
    * `band = ts div 1h`, turning the range predicate into a band EQUI
    * join (probe rows explode to their two candidate bands) with the
    * range as a residual: the banded side is never shuffled and never
    * sorted, the probe pays one shuffle of 2× its own rows, and the
    * merge hint pins the at-scale SMJ shape (under the broadcast
    * threshold the small probe would legitimately broadcast — cheaper
    * still, and still zero corpus shuffle). Oracle: the plain range-join
    * SQL (the layout changes only the physical plan); PlanSpec pins
    * no BNLJ, no banded-side exchange, no banded-side sort.
    *
    * The body of every range-banded row: banded table `t`, a window of
    * `windowMicros`, and `salt` residues enumerated per candidate band. */
  private def rangeBandedJoin(s: org.apache.spark.sql.SparkSession, dir: String, t: String,
      windowMicros: Long, salt: Int = 1): DataFrame = {
    val errors = s.table(t).filter(col("event_type") === "error")
      .select(col("band"), col("event_id").as("error_id"), col("ts").as("error_ts"))
      .hint("merge")
    val signups = Tables.events(s, dir).filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("ts").as("signup_ts"))
    graft.layouts.RangeBanded.rangeJoin(errors, signups,
        "error_ts", "signup_ts", windowMicros = windowMicros,
        bandMicros = HourMicros, salt = salt)
      .select(col("error_id"), col("signup_id"), col("error_ts"), col("signup_ts"))
      .orderBy(col("error_id").asc_nulls_first, col("signup_id").asc_nulls_first)
  }

  /** The range-banded rows' oracle: the plain range join over raw events
    * with a window of `interval` (a DuckDB interval literal). */
  private def rangeOracle(interval: String): String = s"""
      SELECT e.event_id AS error_id, s.event_id AS signup_id,
             CAST(e.ts AS TIMESTAMP) AS error_ts, CAST(s.ts AS TIMESTAMP) AS signup_ts
      FROM (SELECT * FROM events WHERE event_type = 'error') e
      JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON CAST(e.ts AS TIMESTAMP) >= CAST(s.ts AS TIMESTAMP)
       AND CAST(e.ts AS TIMESTAMP) < CAST(s.ts AS TIMESTAMP) + INTERVAL $interval
      ORDER BY error_id ASC NULLS FIRST, signup_id ASC NULLS FIRST"""

  private val joinRangeBanded = GraftQuery(
    "join_range_banded",
    (s, dir) => rangeBandedJoin(s, dir, rangeBandedEvents(s, dir), HourMicros),
    Some(rangeOracle("1 HOUR")))

  /** [[joinRangeBanded]] with a window WIDER than the layout's band
    * (2.5 h over 1 h bands — r9 verdict item 2): a user whose query
    * window outgrows the stored band width no longer hits a hard
    * require() and a layout rebuild — the probe explodes to the
    * ⌈W/B⌉+1 = 4 candidate bands that can hold a match (boundary
    * math pinned in RangeBandedSpec, fan-out recorded in
    * `RangeBanded.lastCandidateKeys`). Oracle: the plain 150-minute
    * range-join SQL over the raw tables — the wider probe enumeration
    * changes only the physical plan; the banded side is still never
    * shuffled and never sorted. */
  private val joinRangeBandedWide = GraftQuery(
    "join_range_banded_wide",
    (s, dir) => rangeBandedJoin(s, dir, rangeBandedEvents(s, dir), HourMicros * 5 / 2),
    Some(rangeOracle("150 MINUTE")))

  /** The INCREMENTALLY-MAINTAINED banded layout (r10): built from a
    * deterministic 7/8 base of events, the remaining 1/8 folded in as a
    * named batch through `RangeBanded.append` — which re-derives the
    * salted band key exactly as ensure() did (validated against the
    * layout name) and lands under the crash-safe exactly-once stamp.
    * Same full-table range-join SQL oracle: a delta row banded into the
    * wrong bucket would be invisible to the probe's candidate bands and
    * fail the hash gate. */
  private val joinRangeBandedIncr = GraftQuery(
    "join_range_banded_incr",
    (s, dir) => rangeBandedJoin(s, dir, rangeBandedEventsIncremental(s, dir), HourMicros),
    Some(rangeOracle("1 HOUR")))

  /** [[joinRangeBanded]] over an AUTO-SALTED layout (r10):
    * `RangeBanded.ensureAuto` derives the salt factor from the observed
    * band occupancy (k = ⌈hottest-band rows / task budget⌉ — here a
    * deliberately small budget so even the sf0.01 gate corpus derives
    * k > 1 and the salted probe path is what the oracle exercises) and
    * returns it alongside the table so the probe enumerates exactly the
    * derived residues. Same SQL oracle — the salt only rewrites
    * placement; a past round's salt A/B measured the economics
    * (auto within 5.7 % of the best manual pick, CROSSOVER.md). */
  private val joinRangeBandedAuto = GraftQuery(
    "join_range_banded_autosalt",
    (s, dir) => {
      val (t, k) = rangeBandedEventsAuto(s, dir)
      rangeBandedJoin(s, dir, t, HourMicros, salt = k)
    },
    Some(rangeOracle("1 HOUR")))

  /** The SALTED form of [[joinRangeBanded]] (r9: hot-band skew): the
    * layout stores `band·4 + hash(event_id) mod 4`, spreading a peak
    * hour across 4 buckets/tasks, and the probe enumerates every salt
    * residue (8 candidate keys per row instead of 2). Same SQL oracle —
    * salting only rewrites placement, never membership (the probe's
    * candidate set covers every residue; measured 5.9× on a 75 %-hot
    * corpus in a past round's salt A/B, CROSSOVER.md). */
  private val joinRangeBandedSalted = GraftQuery(
    "join_range_banded_salted",
    (s, dir) => rangeBandedJoin(s, dir, rangeBandedEventsSalted(s, dir), HourMicros, salt = 4),
    Some(rangeOracle("1 HOUR")))

  /** The bucketed fact layout the co-located-join row reads — exposed so
    * the bench prewarms it with the IDENTICAL cache key and reports the
    * one-time build separately from the per-query cost. */
  def bucketedFacts(s: org.apache.spark.sql.SparkSession, dir: String): Seq[String] =
    graft.layouts.Bucketed.ensure(s, dir, Seq(
      graft.layouts.Bucketed.Spec("orders_b", Tables.orders(s, dir), "o_orderkey"),
      graft.layouts.Bucketed.Spec("lineitem_b", Tables.lineitem(s, dir), "l_orderkey")),
      buckets = graft.layouts.Bucketed.defaultBuckets(dir))

  /** INCREMENTALLY-MAINTAINED twin of [[bucketedFacts]]: both fact
    * layouts built from a deterministic 7/8 base, then the 1/8 delta of
    * BOTH tables lands as ONE named batch under a single appendGuard
    * marker window (`Bucketed.appendOnce` family form) — the
    * mutual-consistency contract a star schema's nightly ingest needs:
    * a crash mid-batch can never leave orders appended but lineitem not.
    * The orderkey-keyed delta split means a delta order arrives WITH its
    * delta lineitems, the realistic ingest shape. */
  def bucketedFactsIncremental(s: org.apache.spark.sql.SparkSession, dir: String): Seq[String] = {
    val orders = Tables.orders(s, dir)
    val lineitem = Tables.lineitem(s, dir)
    val oDelta = pmod(xxhash64(col("o_orderkey")), lit(8)) === 0
    val lDelta = pmod(xxhash64(col("l_orderkey")), lit(8)) === 0
    def layouts(): Seq[String] = graft.layouts.Bucketed.ensure(s, dir, Seq(
      graft.layouts.Bucketed.Spec("orders_bi", orders.filter(!oDelta), "o_orderkey",
        srcTables = Seq("orders")),
      graft.layouts.Bucketed.Spec("lineitem_bi", lineitem.filter(!lDelta), "l_orderkey",
        srcTables = Seq("lineitem"))),
      buckets = graft.layouts.Bucketed.defaultBuckets(dir))
    def appendDelta(ts: Seq[String]): Seq[String] = {
      graft.layouts.Bucketed.appendOnce(s, "delta-1of8", Seq(
        ts(0) -> orders.filter(oDelta), ts(1) -> lineitem.filter(lDelta)))
      ts
    }
    val ts = layouts()
    // mixed-stamp self-heal, valid ONLY because this twin is
    // derive-from-source: base and delta are pure functions of the raw
    // tables, so the corruption remedy the refusal prescribes
    // (invalidate → rebuild → re-drive) is safe to automate. The state
    // arises from layouts stamped by a pre-r11 build (head-member-only
    // stamps, which the family rule reads as divergence). Real ingest,
    // whose deltas are NOT re-derivable, must surface the error instead.
    try appendDelta(ts) catch {
      case e: IllegalStateException if e.getMessage.contains("diverged") =>
        ts.foreach(graft.layouts.Bucketed.invalidate(s, _))
        appendDelta(layouts())
    }
  }

  /** Co-located fact⋈fact join over BUCKETED tables: both facts are laid
    * out bucketBy(8, key) + sortBy(key), so the sort-merge join reads
    * matching buckets directly — NO shuffle exchange and no per-task sort
    * on either side. This is the storage-layout answer to repeated
    * fact⋈fact joins at 100 TB (SCALE.md §C): pay one bucketed write, then
    * every subsequent join on that key is exchange-free. The layout is
    * (re)built once per source state by `layouts.Bucketed.ensure` (which
    * owns the side effects — the query builder itself stays pure); the
    * oracle is the plain SQL join on the raw tables — identical result, the
    * bucketing changes only the physical plan. The merge hint pins SMJ so
    * the co-location (not a broadcast) is what's exercised. `facts` is
    * the bucketed (orders, lineitem) pair. */
  private def bucketedJoin(s: org.apache.spark.sql.SparkSession, facts: Seq[String]): DataFrame = {
    val Seq(ordersB, lineitemB) = facts
    s.table(lineitemB).hint("merge")
      .join(s.table(ordersB), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"), Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("o_orderpriority").asc_nulls_first)
  }

  /** The co-located rows' oracle: the plain join over the raw tables. */
  private val BucketedJoinOracle = s"""
      SELECT o_orderpriority, COUNT(*) AS n_lines,
             ${Det.sqlSum("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority ASC NULLS FIRST"""

  private val joinBucketedColocated = GraftQuery(
    "join_bucketed_colocated",
    (s, dir) => bucketedJoin(s, bucketedFacts(s, dir)),
    Some(BucketedJoinOracle))

  /** The co-located fact⋈fact join over the INCREMENTALLY-MAINTAINED
    * layouts ([[bucketedFactsIncremental]]): same aggregation and same
    * full-table oracle as [[joinBucketedColocated]] — base + delta must
    * reconstruct the raw tables exactly, across BOTH family members, or
    * the hash gate fails. The merge join stays zero-exchange on the
    * multi-file buckets (clustering survives appends; only the reported
    * sort order waits for compaction — IncrementalLayoutSpec). */
  private val joinBucketedColocatedIncr = GraftQuery(
    "join_bucketed_colocated_incr",
    (s, dir) => bucketedJoin(s, bucketedFactsIncremental(s, dir)),
    Some(BucketedJoinOracle))

  /** The BIG-DIMENSION co-located layout (r4 verdict item 1): at sf12 the
    * q5 star join's dominant measured cost is building+shipping the
    * 1.8 M-row customer broadcast — the classic plan, the fact-bucketed
    * plan, and the shuffled-dim plan all pay it or worse (7.1 / 8.0 /
    * 9.6 s, CROSSOVER.md sf12). A dimension that size stops being
    * "broadcast-able" and must be CO-LOCATED like the facts are. Three
    * tables, one `Bucketed.ensure` build:
    *
    *  - `customer_b`   — customer bucketed+sorted on c_custkey;
    *  - `orders_bc`    — a second orders copy bucketed on o_custkey, so
    *    orders⋈customer runs as a zero-exchange zero-sort SMJ (the
    *    generic custkey co-location; also what the enriched build uses);
    *  - `orders_cust_b` — the orders⋈customer JOIN INDEX: the orders keys
    *    with the customer attribute (c_nationkey) already attached,
    *    bucketed+sorted on o_orderkey with the facts' bucket count. The
    *    dim join is paid ONCE at layout-build time, so a star query joins
    *    lineitem_b ⋈ orders_cust_b with ZERO exchange and ZERO broadcast
    *    on both the fact⋈orders and orders⋈customer edges — the only plan
    *    shape whose per-query cost for the big dim is zero at any scale.
    *
    * The cache signature covers BOTH source tables (Spec.srcTables), so
    * regenerating either orders or customer rotates the layout. */
  def bucketedDims(s: org.apache.spark.sql.SparkSession, dir: String,
      buckets: Int = -1): Seq[String] = {
    // default: the dir's size-driven count — MUST match bucketedFacts'
    // (lineitem_b ⋈ orders_cust_b co-locates only at equal bucket counts)
    val nBuckets =
      if (buckets > 0) buckets else graft.layouts.Bucketed.defaultBuckets(dir)
    // the join index carries every customer/order attribute the star
    // queries consume downstream of the orderkey join — c_nationkey for
    // the q5 shape, c_mktsegment + o_orderdate for the q3 shape (r9):
    // each query prunes to its own columns at scan, so widening the
    // index costs the non-consumers nothing
    val enriched = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey", "c_mktsegment"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("c_nationkey"), col("c_mktsegment"))
    graft.layouts.Bucketed.ensure(s, dir, Seq(
      graft.layouts.Bucketed.Spec("customer_b", Tables.customer(s, dir), "c_custkey"),
      graft.layouts.Bucketed.Spec("orders_bc", Tables.orders(s, dir), "o_custkey",
        srcTables = Seq("orders")),
      graft.layouts.Bucketed.Spec("orders_cust_b", enriched, "o_orderkey",
        srcTables = Seq("orders", "customer"))), buckets = nBuckets)
  }

  /** q5's star shape over the CO-LOCATED layouts: lineitem_b ⋈
    * orders_cust_b is a zero-exchange SMJ (both bucketed+sorted on
    * orderkey), the customer attributes ride along from the join index —
    * no customer broadcast, no custkey exchange ANYWHERE in the plan —
    * and only the two genuinely tiny dims (supplier, nation) broadcast.
    * The remaining exchanges are the 25-group aggregation and the
    * presentation sort, KB-scale by construction. The oracle is the plain
    * 5-table SQL over the raw tables — the layout changes only the
    * physical plan. Spec pin: PlanSpec asserts zero hash exchange on any
    * join key and no broadcast built from customer. */
  private val joinStarColocated = GraftQuery(
    "join_star_colocated",
    (s, dir) => {
      val Seq(_, lineitemB) = bucketedFacts(s, dir)
      val Seq(_, _, ordersCustB) = bucketedDims(s, dir)
      // EAGER AGGREGATION below the dim joins (r7; see Bench.q5): the
      // fact stream collapses to (l_suppkey, c_nationkey) partials off
      // the exchange-free SMJ, and supplier/nation join the ~25 k-row
      // aggregate instead of the fact stream. Root cause of the original
      // slowness (Q5Probe4, r7): the post-join filter c_nationkey =
      // s_nationkey folds into the broadcast join's key list, turning the
      // single-long-key LongHashedRelation probe (~12 ns/row dense array
      // lookup) into a COMPOSITE-key UnsafeHashedRelation probe (~80
      // ns/row: per-row UnsafeRow key build + byte-map lookup) on the
      // full fact stream — ~5 s at sf12's 72 M rows. Aggregating first
      // shrinks the probe input 3000×, making the key shape irrelevant.
      // Bit-exact vs the flat oracle: the partial revenue is an exact
      // Det.dsumPartial and only the final re-aggregated Det.dsum is
      // converted to double, so the two-level sum is the same exact
      // total Det.dsum computes in one level;
      // counts re-aggregate by summation. Equivalent join-wise because
      // s_suppkey is the supplier primary key and the nationkey equality
      // drops whole (l_suppkey, c_nationkey) groups.
      s.table(lineitemB)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .hint("merge")
        .join(s.table(ordersCustB), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_suppkey"), col("c_nationkey"))
        .agg(count(lit(1)).as("pn"),
          Det.dsumPartial(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("prev"))
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("pn")).cast(org.apache.spark.sql.types.LongType).as("n_lines"),
          Det.dsum(col("prev")).as("revenue"))
        .orderBy(col("n_name").asc_nulls_first)
    },
    Some(s"""
      SELECT n_name, COUNT(*) AS n_lines,
             ${Det.sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name ASC NULLS FIRST"""))

  /** The generic custkey co-location EARNING ITS BUILD (r5 verdict item
    * 5): a per-customer order profile where BOTH stages ride the
    * `orders_bc`/`customer_b` bucketing — the o_custkey aggregation needs
    * no exchange (the bucketed scan already satisfies its clustering), and
    * the customer join is a zero-exchange SMJ on the shared bucket count.
    * The only exchange left in the plan is the KB-scale presentation
    * sort — at 100 TB this is THE shape for repeated ad-hoc per-customer
    * rollups: every query on the custkey axis is shuffle-free once the
    * layout exists. Oracle: the plain join+group SQL over the raw tables
    * (the layout changes only the physical plan); PlanSpec pins zero
    * custkey exchange and the SMJ. */
  private val joinCustkeyColocated = GraftQuery(
    "join_custkey_colocated",
    (s, dir) => {
      val Seq(customerB, ordersBc, _) = bucketedDims(s, dir)
      val perCust = s.table(ordersBc)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("spend"))
      s.table(customerB).select("c_custkey", "c_mktsegment")
        .hint("merge")
        .join(perCust, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_mktsegment"), col("n_orders"), col("spend"))
        .orderBy(col("c_custkey").asc_nulls_first)
    },
    Some(s"""
      SELECT c_custkey, c_mktsegment, COUNT(*) AS n_orders,
             ${Det.sqlSum("o_totalprice")} AS spend
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_custkey, c_mktsegment
      ORDER BY c_custkey ASC NULLS FIRST"""))

  /** RUNTIME BLOOM-FILTER pruned join — Spark's InjectRuntimeFilter: a
    * selective predicate on the dimension side is compiled into a bloom
    * filter that is evaluated against the FACT side's join key *before*
    * the shuffle, so fact rows that cannot match never leave the map
    * stage. This is the row-level sibling of dynamic partition pruning
    * (DppSpec) and THE mechanism that keeps a 100 TB fact⋈selective-dim
    * join from shuffling the whole fact table when the dim is too big to
    * broadcast (broadcast joins already prune implicitly; the bloom path
    * covers the shuffle-join regime).
    *
    * Built in an ISOLATED child session (`newSession` — own conf, shared
    * context and catalog, no side effects on the caller's session, the
    * DppSpec lesson): broadcast is disabled to force the shuffle-join
    * regime and the application-side size threshold is zeroed so the
    * optimizer injects the filter at test scale; at production scale the
    * defaults (10 GB application side) trigger it exactly where it pays.
    * Semantics are UNCHANGED by construction (a bloom filter only drops
    * definite non-matches) — the oracle is the plain join; PlanSpec pins
    * the `might_contain` expression into the fact scan's plan.
    *
    * WHEN THE FILTER IS WORTH INJECTING (tools/BloomProbe, sf6, forced
    * injection via creationSideThreshold): in the SHUFFLE-JOIN regime it
    * pays exactly as designed — 3.35 → 1.84 s with the fact exchange cut
    * 278.8 → 65.5 MB, because pruned rows never leave the map stage. On
    * the zero-exchange BUCKETED layout it does NOT pay: 1.51 vs 1.46 s
    * (run noise) while ADDING 7.2 MB of shuffle to build the filter —
    * there is no fact exchange left to shrink, and the co-located merge
    * join discards non-matching rows as cheaply as the bloom probe would.
    * Rule: inject when the plan still shuffles the fact side (or scans a
    * remote store where pruned rows save I/O); skip it on layouts whose
    * join is already exchange-free. Note Spark's own cost guard agrees —
    * at sf6 the filtered dim's size estimate exceeds the default 10 MB
    * creationSideThreshold and vanilla Spark declines to inject. */
  private val joinBloomRuntime = GraftQuery(
    "join_bloom_runtime",
    (s, dir) => {
      val s2 = s.newSession()
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val ord = Tables.orders(s2, dir)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 150000.0)
        .select("o_orderkey")
      Tables.lineitem(s2, dir)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"), Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag").asc_nulls_first)
    },
    Some(s"""
      SELECT l_returnflag, COUNT(*) AS n_lines,
             ${Det.sqlSum("l_extendedprice")} AS sum_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
      GROUP BY l_returnflag
      ORDER BY l_returnflag ASC NULLS FIRST"""))

  override def queries: Seq[GraftQuery] = Seq(
    joinInnerEqui, joinLeftOuter, joinFullOuter, joinLeftSemi, joinLeftAnti,
    joinBroadcastHash, joinBroadcastResidual, joinCross, joinThetaRange, joinLookupFormat,
    joinAsof, joinAsofNative, joinAsofColocated, joinAsofColocatedIncr,
    joinInterval,
    joinIntervalColocated, joinRangeBanded, joinRangeBandedWide,
    joinRangeBandedSalted, joinRangeBandedIncr, joinRangeBandedAuto,
    joinBucketedColocated, joinBucketedColocatedIncr,
    joinStarColocated, joinCustkeyColocated, joinBloomRuntime)
}
