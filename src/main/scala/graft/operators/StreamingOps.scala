package graft.operators

import graft.{Det, Fixtures, GraftQuery, QueryGroup, Tables}
import graft.streaming.EventPipelines
import org.apache.spark.sql.functions._

/** SURVEY.md §2-K: streaming (ops 63–68), registered through their BATCH
  * TWINS — each `queries` entry applies an EventPipelines transform (the
  * exact code a `readStream` job runs) to the batch events table so the
  * driver's DuckDB oracle can hash-verify it; the streaming execution of
  * the same transforms (MemoryStream, watermarks, late data) is asserted
  * in StreamingSpec.
  */
object StreamingOps extends QueryGroup {

  /** op 63 — tumbling 1h counts. Window alignment: both engines bucket to
    * epoch-aligned hours (time_bucket ≡ window('1 hour')). */
  private val streamTumblingCounts = GraftQuery(
    "stream_tumbling_counts",
    (s, dir) =>
      EventPipelines.tumblingCounts(Tables.events(s, dir))
        .orderBy(col("w_start").asc_nulls_first, col("event_type").asc_nulls_first),
    Some(s"""
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w_start,
             event_type, COUNT(*) AS n, ${Det.sqlSum("value")} AS sum_value
      FROM events
      GROUP BY w_start, event_type
      ORDER BY w_start ASC NULLS FIRST, event_type ASC NULLS FIRST"""))

  /** op 64 — sliding 1h/15min windows: every event lands in 4 windows
    * (oracle reconstructs them via bucket − k·15min). */
  private val streamSlidingAvg = GraftQuery(
    "stream_sliding_avg",
    (s, dir) =>
      EventPipelines.slidingAvg(Tables.events(s, dir))
        .orderBy(col("w_start").asc_nulls_first, col("event_type").asc_nulls_first),
    Some(s"""
      SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) - k.k * INTERVAL 15 MINUTE AS w_start,
             event_type, COUNT(*) AS n,
             ${Det.sqlAvg("value")} AS avg_value
      FROM events CROSS JOIN (SELECT unnest(range(4)) AS k) k
      GROUP BY w_start, event_type
      ORDER BY w_start ASC NULLS FIRST, event_type ASC NULLS FIRST"""))

  /** Oracle subquery of the session rows: each event with `new_session`
    * = 1 where it opens a session (first event of its user, or more than
    * 30 minutes after the previous one). */
  private val NewSessionFlags = """FROM (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
                 CASE WHEN LAG(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                        OR CAST(ts AS TIMESTAMP) > LAG(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) + INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_session
          FROM events))"""

  /** op 65 — sessionization (30-min gap), lag/gap/cumsum batch twin. */
  private val streamSessionWindows = GraftQuery(
    "stream_session_windows",
    (s, dir) =>
      EventPipelines.sessionizeBatch(Tables.events(s, dir))
        .orderBy(col("user_id").asc_nulls_first, col("session_id").asc_nulls_first),
    Some(s"""
      SELECT user_id, session_id,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             COUNT(*) AS n_events, ${Det.sqlSum("value")} AS sum_value
      FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               -- CAST: DuckDB SUM(int) is HUGEINT -> pandas float64; Spark emits int64.
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        $NewSessionFlags
      GROUP BY user_id, session_id
      ORDER BY user_id ASC NULLS FIRST, session_id ASC NULLS FIRST"""))

  /** op 66 — watermark late-drop semantics replayed over arrival order. */
  private val streamWatermarkLate = GraftQuery(
    "stream_watermark_late",
    (s, dir) =>
      EventPipelines.watermarkDropLate(Tables.events(s, dir))
        .orderBy(col("w_start").asc_nulls_first, col("event_type").asc_nulls_first),
    Some("""
      SELECT time_bucket(INTERVAL 10 MINUTE, ts) AS w_start, event_type, COUNT(*) AS n
      FROM (
        SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
               MAX(CAST(ts AS TIMESTAMP)) OVER (ORDER BY event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - INTERVAL 10 MINUTE AS wm
        FROM events)
      WHERE ts >= wm
      GROUP BY w_start, event_type
      ORDER BY w_start ASC NULLS FIRST, event_type ASC NULLS FIRST"""))

  /** op 67 — stateful dedup: first arrival per (user, event_type). */
  private val streamDedupStateful = GraftQuery(
    "stream_dedup_stateful",
    (s, dir) =>
      EventPipelines.dedupFirstArrival(Tables.events(s, dir))
        .orderBy(col("event_id").asc_nulls_first),
    Some("""
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                       ORDER BY event_id ASC) AS rn
            FROM events)
      WHERE rn = 1
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 68 — stream ⋈ static dimension enrichment (broadcast). */
  private val streamStaticEnrich = GraftQuery(
    "stream_static_enrich",
    (s, dir) =>
      EventPipelines.staticEnrich(
          Tables.events(s, dir),
          Tables.customer(s, dir).select("c_custkey", "c_mktsegment"))
        .orderBy(col("event_id").asc_nulls_first),
    Some("""
      SELECT event_id, user_id, event_type, value, c_mktsegment AS segment
      FROM events LEFT JOIN customer ON user_id = c_custkey
      ORDER BY event_id ASC NULLS FIRST"""))

  /** op 65 via the NATIVE session_window operator (the same call works
    * under readStream): oracle = the lag/cumsum CTE projected to the
    * session grain — i.e. DuckDB re-derives the sessions the long way and
    * must land on identical (user, start, n, sum) rows. */
  private val streamSessionNative = GraftQuery(
    "stream_session_native",
    (s, dir) =>
      EventPipelines.sessionWindows(Tables.events(s, dir))
        .orderBy(col("user_id").asc_nulls_first, col("session_start").asc_nulls_first),
    Some(s"""
      SELECT user_id, MIN(ts) AS session_start,
             COUNT(*) AS n_events, ${Det.sqlSum("value")} AS sum_value
      FROM (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        $NewSessionFlags
      GROUP BY user_id, session_id
      ORDER BY user_id ASC NULLS FIRST, session_start ASC NULLS FIRST"""))

  /** Stream⋈stream interval join, batch twin (EventPipelines
    * .clickAttribution — identical code runs under readStream with
    * watermarks in StreamStreamJoinSpec). */
  private val streamStreamJoin = GraftQuery(
    "stream_stream_join",
    (s, dir) =>
      EventPipelines.clickAttribution(Tables.events(s, dir))
        .orderBy(col("purchase_id").asc_nulls_first, col("click_id").asc_nulls_first),
    Some("""
      SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
             CAST(p.ts AS TIMESTAMP) AS purchase_ts, CAST(c.ts AS TIMESTAMP) AS click_ts
      FROM events p JOIN events c
        ON p.user_id = c.user_id
       AND p.event_type = 'purchase' AND c.event_type = 'click'
       AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
       AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
      ORDER BY purchase_id ASC NULLS FIRST, click_id ASC NULLS FIRST"""))

  /** Streaming near-dup with LSH-bucket state (StreamingNearDup scaladoc):
    * MinHash sign map-side, flatMapGroupsWithState keyed on (band, bucket),
    * bounded bucket state, ESTIMATED-Jaccard emission. Registered through
    * its batch form (state starts empty; one batch = the corpus); the
    * actual streaming execution — multi-batch delivery, cross-batch pair
    * discovery, state bound — is asserted in StreamingNearDupSpec.
    *
    * Oracled (r6): the estimator IS SQL-expressible from the
    * Fixtures.minhashShingleHashes primitive dump — est-Jaccard is the
    * fraction of agreeing signature components (an exact k/64), bucket
    * candidacy is band-4-TUPLE equality (⊆ bucket-hash equality;
    * collisions only add candidate pairs, and a collision pair still
    * needs ≥32 agreeing components to emit — vanishing), and the
    * MaxPerBucket=64 arrival cap is ROW_NUMBER ≤ 64 under the sorted
    * (doc_id-ordered) single-batch delivery the registry row performs.
    * The corpus equals the neardup fixture corpus deduped to min-id
    * reps, so the oracle reads that parquet. StreamingNearDupSpec keeps
    * the genuinely streaming pins. */
  private val streamNeardupLsh = GraftQuery(
    "stream_neardup_lsh",
    (s, dir) => {
      graft.Fixtures.minhashShingleHashes(s, dir) // primitive dump (also builds the corpus fixture)
      val raw = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val mutants = raw.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          regexp_replace(col("text"), "^\\w+ ", "graftmutant ").as("text"))
      // op-69 precondition applied UPSTREAM, exactly as the operator's
      // contract states (StreamingNearDup scaladoc: exact dups removed by
      // stream_dedup_stateful before the bucket state sees them). Without
      // it a 30×-replica corpus re-emits every identical pair from every
      // band — measured 31 s at sf3, output 16× the true pair set.
      val docs = raw.unionByName(mutants)
        .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      graft.streaming.StreamingNearDup
        .nearDupPairs(docs.select(col("doc_id"), col("text")), threshold = 0.5)
        .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
    },
    Some(raw"""
      WITH docs AS (
        SELECT id, text
        FROM ${Fixtures.oracleScan("neardup")}),
      reps AS (SELECT min(id) AS rep, text FROM docs GROUP BY text),
      rnrm AS (
        SELECT rep, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        FROM reps),
      ${LlmOps.shingleSetCte("shing", "rnrm")}
      ${LlmOps.MinhashBandRows}
      rown AS (
        SELECT rep, b, bkey,
               ROW_NUMBER() OVER (PARTITION BY b, bkey ORDER BY rep ASC) AS rn
        FROM bandrows),
      cand AS (
        SELECT DISTINCT a.rep AS ra, c.rep AS rb
        FROM rown a JOIN rown c
          ON a.b = c.b AND a.bkey = c.bkey AND a.rn < c.rn AND a.rn <= 64),
      est AS (
        SELECT c.ra, c.rb, SUM(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS agree
        FROM cand c
        JOIN sig sa ON sa.rep = c.ra
        JOIN sig sb ON sb.rep = c.rb AND sb.seed = sa.seed
        GROUP BY c.ra, c.rb)
      SELECT ra AS doc_a, rb AS doc_b,
             round(CAST(agree AS DOUBLE) / 64.0, 4) AS est_jaccard
      FROM est WHERE agree >= 32
      ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""))

  /** Stream-static AS-OF enrichment (r9): each event takes the latest
    * order state (max o_orderkey per day collapses ties, so the dim is
    * unique on (custkey, day)) at-or-before its timestamp — the
    * EventPipelines.asofEnrich SCD2 range-lookup formulation, which is
    * the shape Structured Streaming permits for stream-static non-equi
    * joins (StreamingSpec runs the same code under MemoryStream). The
    * oracle re-derives the version intervals with the same LEAD window
    * in SQL — equivalent to a native ASOF join on the deduped dim, but
    * expressed in the exact interval form the implementation uses. */
  private val streamAsofEnrich = GraftQuery(
    "stream_asof_enrich",
    (s, dir) => {
      val dim = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("m"))
        .select(col("o_custkey"), col("o_orderdate"),
          col("m.o_orderkey").as("asof_orderkey"),
          col("m.o_totalprice").as("asof_totalprice"))
      EventPipelines.asofEnrich(Tables.events(s, dir), dim, "o_custkey", "o_orderdate")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_orderkey"), col("asof_totalprice"))
        .orderBy(col("event_id").asc_nulls_first)
    },
    Some("""
      WITH dim AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (
          SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                    ORDER BY o_orderkey DESC) AS rn
          FROM orders)
        WHERE rn = 1),
      versioned AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
               LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate ASC) AS valid_to
        FROM dim)
      SELECT e.event_id, e.user_id, CAST(e.ts AS TIMESTAMP) AS ts,
             v.o_orderkey AS asof_orderkey, v.o_totalprice AS asof_totalprice
      FROM events e
      LEFT JOIN versioned v
        ON e.user_id = v.o_custkey
       AND CAST(e.ts AS TIMESTAMP) >= CAST(v.o_orderdate AS TIMESTAMP)
       AND (v.valid_to IS NULL OR CAST(e.ts AS TIMESTAMP) < CAST(v.valid_to AS TIMESTAMP))
      ORDER BY event_id ASC NULLS FIRST"""))

  /** STREAM → LAYOUT ingest, driver-oracled end to end (r11 — the
    * exactly-once `Bucketed.foreachBatchInto` path under the hash gate,
    * not just specs): a REAL Structured Streaming query drains the
    * delta 1/4 of events through foreachBatch(appendOnce) into the
    * resident time-series layout (3 source files, maxFilesPerTrigger=1
    * → separate micro-batches, each an exactly-once named append), then
    * the row aggregates per user OFF THE LAYOUT. The DuckDB oracle
    * recomputes over the FULL raw events table, so a micro-batch lost
    * (stale checkpoint), duplicated (replayed batch whose stamp
    * failed), or mis-bucketed by the streaming append path fails the
    * hash gate. Consumer shape: the groupBy rides the layout's
    * user_id bucketing — zero exchange below the final projection,
    * multi-file buckets included. Restart/replay crash injection is
    * pinned in LayoutLifecycleSpec; this row gates the committed
    * result. */
  private val streamLayoutIngest = GraftQuery(
    "stream_layout_ingest",
    (s, dir) => {
      val t = graft.streaming.StreamIngest.ensureStreamedLayout(s, dir)
      s.table(t)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("sum_value"))
        .orderBy(col("user_id").asc_nulls_first)
    },
    Some(s"""
      SELECT user_id, COUNT(*) AS n_events, ${Det.sqlSum("value")} AS sum_value
      FROM events
      GROUP BY user_id
      ORDER BY user_id ASC NULLS FIRST"""))

  override def queries: Seq[GraftQuery] = Seq(
    streamStreamJoin, streamNeardupLsh,
    streamTumblingCounts, streamSlidingAvg, streamSessionWindows,
    streamSessionNative, streamWatermarkLate, streamDedupStateful,
    streamStaticEnrich, streamAsofEnrich, streamLayoutIngest)
}
