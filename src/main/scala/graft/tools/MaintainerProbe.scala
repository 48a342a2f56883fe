package graft.tools

import graft.{GraftSession, Tables}
import graft.layouts.Bucketed
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TWO-JVM maintenance-race evidence driver (r11 verdict item 2): every
  * in-suite race spec exercises the lease machinery with THREADS inside
  * one JVM and one SparkSession, but the deployment shape the lease
  * exists for is two separate PROCESSES — two ingest jobs, or an ingest
  * and a compaction, sharing one warehouse over a real filesystem. This
  * main is one such process; `tools/two_jvm_race.sh` orchestrates pairs
  * of them (launched with plain `java -cp`, no sbt, so they really are
  * independent JVMs) and asserts on the MPROBE result lines:
  *
  *  - `prepare`   — build + certify the shared layout once;
  *  - `build GO`  — park on the go-file barrier, then race the INITIAL
  *    ensure() of the family (no prepare — fresh warehouse): exactly one
  *    process may rebuild (`built` counters sum to 1 across the pair),
  *    the lease loser parks and re-registers the certified build;
  *  - `race TAG`  — park on a go-file barrier, then `appendOnce(TAG)`:
  *    across two racing JVMs exactly ONE must apply; the loser either
  *    refuses loudly (lease held — message names the holder's pid) or
  *    skips cleanly (arrived after the winner's stamps);
  *  - `hold MS`   — open a maintenance marker window (the exact lock +
  *    marker sequence append/compact use) and sleep inside it; the
  *    orchestrator kill -9's this JVM mid-window to fake a crashed
  *    maintainer;
  *  - `recover TAG` — retry ensure+appendOnce until the dead holder's
  *    lease goes stale and is broken (tombstone rename), the uncertified
  *    family is rebuilt from source, and the batch applies;
  *  - `compact GO` — park on the go-file barrier (`-` skips), then
  *    `Bucketed.compact` the layout — the cross-process
  *    compact-vs-append conflict (r12 verdict item 2); with
  *    `MPROBE_WAIT_MS` set, a lease loser PARKS behind the live holder
  *    and lands after release instead of refusing;
  *  - `stream SRC CKPT FLAG first|rerun` — exactly-once streaming
  *    ingest (`foreachBatchInto`) into the layout while a FOREIGN
  *    process compacts it mid-stream (r12 verdict item 4): `first`
  *    drops batch files and raises FLAG between micro-batches so the
  *    orchestrator can fire the compactor into the gap; `rerun`
  *    restarts the stream on the same checkpoint (no new data → no new
  *    batches) AND re-drives both batch tags through appendOnce, which
  *    must no-op against the stamps — across the foreign compact, whose
  *    manifest fold must preserve them;
  *  - `check ROWS|slices=LO-HI` — independent verification JVM:
  *    re-ensure (must re-register, not rebuild), count, and compare.
  *    The `slices=` form recomputes the expectation FROM SOURCE, so
  *    verification never depends on scraping a prior probe's output
  *    (r12 ADVICE, low: a crashed probe made the scraped EXPECT empty
  *    and every later comparison garbage).
  *
  * Results print as single `MPROBE {json}` lines on stdout. */
object MaintainerProbe {

  private val specName = "mprobe"

  private def session(root: String, sfDir: String, staleMs: Long): SparkSession =
    GraftSession.builder(4, sfDir)
      .appName(s"graft-maintainer-probe-${ProcessHandle.current().pid()}")
      .config("spark.graft.layout.root", root)
      .config("spark.graft.layout.leaseStaleMs", staleMs.toString)
      // MPROBE_WAIT_MS > 0 turns lease contention into parking (the
      // streaming-vs-compaction setting) — the phase-3/4 conflicts
      // assert the loser lands AFTER release instead of refusing
      .config("spark.graft.layout.leaseWaitMs",
        sys.env.getOrElse("MPROBE_WAIT_MS", "0"))
      .getOrCreate()

  private def slice(df: DataFrame, i: Int) =
    df.filter(pmod(xxhash64(col("o_orderkey")), lit(8)) === i)
  private def slices(df: DataFrame, is: Range) =
    df.filter(pmod(xxhash64(col("o_orderkey")), lit(8)).isin(is.map(_.toLong): _*))

  private def ensure(s: SparkSession, sfDir: String): String =
    Bucketed.ensure(s, sfDir, Seq(
      Bucketed.Spec(specName, slices(Tables.orders(s, sfDir), 0 to 5),
        "o_orderkey", srcTables = Seq("orders"))), buckets = 4).head

  private def out(kv: (String, String)*): Unit =
    // stdout line the orchestrator greps; values are pre-escaped tokens
    println(kv.map { case (k, v) => s""""$k":$v""" }
      .mkString("MPROBE {", ",", "}"))

  private def jstr(v: String): String =
    "\"" + v.replaceAll("[\"\\\\\\n\\r]", " ").take(300) + "\""

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val root = args(1)
    val sfDir = args(2)
    val staleMs = sys.env.getOrElse("MPROBE_STALE_MS", "60000").toLong
    val s = session(root, sfDir, staleMs)
    val pid = ProcessHandle.current().pid()
    mode match {
      case "prepare" =>
        val t = ensure(s, sfDir)
        out("mode" -> jstr("prepare"), "pid" -> pid.toString,
          "table" -> jstr(t), "rows" -> s.table(t).count().toString)

      case "race" =>
        val tag = args(3)
        val goFile = new java.io.File(args(4))
        val t = ensure(s, sfDir) // certified: re-register, no lease needed
        val delta = slice(Tables.orders(s, sfDir), 6)
        val deadline = System.currentTimeMillis() + 30000
        while (!goFile.exists() && System.currentTimeMillis() < deadline)
          Thread.sleep(2)
        val (ran, refusal) =
          try (Bucketed.appendOnce(s, tag, Seq(t -> delta)), None)
          catch { case e: IllegalStateException => (false, Some(e.getMessage)) }
        out("mode" -> jstr("race"), "pid" -> pid.toString, "tag" -> jstr(tag),
          "ran" -> ran.toString, "refused" -> refusal.isDefined.toString,
          "refusal" -> jstr(refusal.getOrElse("")))

      case "build" =>
        // ensure-vs-ensure: two fresh JVMs race the INITIAL build of the
        // same (uncertified, empty-warehouse) family — the one lifecycle
        // transition the four-phase matrix left same-JVM-only (r13
        // verdict item 6). Park on the go-file so both sessions are
        // booted before the race; with MPROBE_WAIT_MS the lease loser
        // parks behind the builder and must then RE-REGISTER the
        // winner's certified build (the under-lease re-resolve), never
        // rebuild over it. `built` is this process's rebuild count —
        // the orchestrator asserts the two logs sum to exactly 1.
        val goFile = new java.io.File(args(3))
        val deadline = System.currentTimeMillis() + 30000
        while (!goFile.exists() && System.currentTimeMillis() < deadline)
          Thread.sleep(2)
        val t0 = System.currentTimeMillis()
        val (table, refusal) =
          try (Some(ensure(s, sfDir)), None)
          catch { case e: IllegalStateException => (None, Some(e.getMessage)) }
        out("mode" -> jstr("build"), "pid" -> pid.toString,
          "built" -> Bucketed.rebuilds.toString,
          "ok" -> table.isDefined.toString,
          "refused" -> refusal.isDefined.toString,
          "elapsed_ms" -> (System.currentTimeMillis() - t0).toString,
          "rows" -> table.map(t => s.table(t).count()).getOrElse(-1L).toString,
          "refusal" -> jstr(refusal.getOrElse("")))

      case "hold" =>
        val holdMs = args(3).toLong
        val flag = new java.io.File(args(4)) // orchestrator waits for this
        val t = ensure(s, sfDir)
        Bucketed.appendGuard(s, Seq(t)) {
          // inside the marker window, lease held, heartbeats running —
          // exactly where a crashed compact/append dies
          flag.createNewFile()
          out("mode" -> jstr("hold"), "pid" -> pid.toString,
            "holding" -> "true")
          Thread.sleep(holdMs)
        }
        out("mode" -> jstr("hold"), "pid" -> pid.toString,
          "released" -> "true") // only reached if NOT killed

      case "recover" =>
        val tag = args(3)
        val t0 = System.currentTimeMillis()
        var attempts = 0
        var done = false
        var lastRefusal = ""
        var ran = false
        while (!done && System.currentTimeMillis() - t0 < 120000) {
          attempts += 1
          try {
            val t = ensure(s, sfDir) // breaks the stale lease + rebuilds
            ran = Bucketed.appendOnce(s, tag,
              Seq(t -> slice(Tables.orders(s, sfDir), 6)))
            done = true
          } catch {
            case e: IllegalStateException =>
              lastRefusal = String.valueOf(e.getMessage); Thread.sleep(1000)
          }
        }
        out("mode" -> jstr("recover"), "pid" -> pid.toString,
          "recovered" -> done.toString, "ran" -> ran.toString,
          "attempts" -> attempts.toString,
          "waited_ms" -> (System.currentTimeMillis() - t0).toString,
          "last_refusal" -> jstr(lastRefusal))

      case "compact" =>
        val goFile = args(3)
        val t = ensure(s, sfDir)
        if (goFile != "-") {
          // 90 s: the barrier may be raised by a stream JVM that is still
          // booting its own session (phase 4), not just by the orchestrator
          val go = new java.io.File(goFile)
          val deadline = System.currentTimeMillis() + 90000
          while (!go.exists() && System.currentTimeMillis() < deadline)
            Thread.sleep(2)
        }
        val t0 = System.currentTimeMillis()
        val (ok, refusal) =
          try { Bucketed.compact(s, t); (true, None) }
          catch { case e: IllegalStateException => (false, Some(e.getMessage)) }
        val dirName = new java.io.File(new java.net.URI(
          s.sql(s"DESC FORMATTED $t").filter(col("col_name") === "Location")
            .head().getString(1))).getName
        out("mode" -> jstr("compact"), "pid" -> pid.toString,
          "compacted" -> ok.toString, "refused" -> refusal.isDefined.toString,
          "elapsed_ms" -> (System.currentTimeMillis() - t0).toString,
          "dir" -> jstr(dirName), "refusal" -> jstr(refusal.getOrElse("")))

      case "stream" =>
        val srcDir = args(3)
        val ckpt = args(4)
        val flag = new java.io.File(args(5))
        val rerun = args(6) == "rerun"
        val t = ensure(s, sfDir)
        val orders = Tables.orders(s, sfDir)
        if (!rerun) // batch 0 on the source BEFORE the stream starts
          slice(orders, 6).write.mode("append").parquet(srcDir)
        val q = s.readStream.schema(orders.schema).parquet(srcDir)
          .writeStream
          .foreachBatch(Bucketed.foreachBatchInto(s, "mstream", Seq(t -> (b => b))))
          .option("checkpointLocation", ckpt)
          .start()
        try {
          q.processAllAvailable() // batch 0 applied (rerun: nothing new)
          flag.createNewFile()    // the orchestrator fires the compactor now
          if (!rerun) {
            // give the foreign compact time to take the lease, then drive
            // batch 1 INTO its window — the compact measures ~2.5 s, so a
            // 1 s gap lands this append mid-compact and its appendOnce
            // parks (leaseWaitMs) until the release; a refusal instead
            // would throw out of foreachBatch and fail the stream
            Thread.sleep(1000)
            slice(orders, 7).write.mode("append").parquet(srcDir)
            q.processAllAvailable()
          }
        } finally q.stop()
        // replay evidence: both batch tags must no-op against the stamps
        // — including across the foreign compact, whose manifest fold
        // must have preserved them
        val replayNoop = !Bucketed.appendOnce(s, "mstream-0",
          Seq(t -> slice(orders, 6))) &&
          !Bucketed.appendOnce(s, "mstream-1", Seq(t -> slice(orders, 7)))
        out("mode" -> jstr("stream"), "pid" -> pid.toString,
          "rerun" -> rerun.toString, "rows" -> s.table(t).count().toString,
          "replayed_noop" -> replayNoop.toString)

      case "cadence" =>
        // sustained cross-process append cadence (r12 verdict item 7):
        // N appendOnce calls of slice SLICE under tags `PREFIX-k`, one
        // every INTERVAL_MS, while a SECOND process does the same
        // against the shared layout — per-append latency printed so the
        // orchestrator can assert the heartbeat/lease machinery holds
        // the cadence flat under contention (MPROBE_WAIT_MS parks lease
        // losers). MPROBE_COMPACT_EVERY=k adds compactIfFragmented every
        // k appends, folding real maintenance into the contention mix.
        val sliceIdx = args(3).toInt
        val n = args(4).toInt
        val intervalMs = args(5).toLong
        val prefix = args(6)
        val compactEvery = sys.env.getOrElse("MPROBE_COMPACT_EVERY", "0").toInt
        val t = ensure(s, sfDir)
        val delta = slice(Tables.orders(s, sfDir), sliceIdx)
        var applied = 0
        for (k <- 1 to n) {
          val t0 = System.currentTimeMillis()
          val ran = Bucketed.appendOnce(s, s"$prefix-$k", Seq(t -> delta))
          val ms = System.currentTimeMillis() - t0
          if (ran) applied += 1
          var compacted = false
          var compactMs = 0L
          if (compactEvery > 0 && k % compactEvery == 0) {
            val c0 = System.currentTimeMillis()
            compacted = Bucketed.compactIfFragmented(s, Seq(t), maxFiles = 4)
            compactMs = System.currentTimeMillis() - c0
          }
          out("mode" -> jstr("cadence"), "pid" -> pid.toString,
            "k" -> k.toString, "append_ms" -> ms.toString,
            "ran" -> ran.toString, "compacted" -> compacted.toString,
            "compact_ms" -> compactMs.toString)
          Thread.sleep(intervalMs)
        }
        out("mode" -> jstr("cadence_done"), "pid" -> pid.toString,
          "applied" -> applied.toString, "n" -> n.toString)

      case "check" =>
        // `slices=LO-HI` recomputes the expectation from SOURCE in this
        // independent JVM; a plain integer compares against a pinned
        // count. The comma form `slices=LO-HI,IxK,…` sums multi-applied
        // slices — the cadence phases append one slice K times under K
        // distinct tags, so expected content is base + K×slice.
        val SlicesArg = """slices=(.+)""".r
        val RangeTerm = """(\d+)-(\d+)""".r
        val RepeatTerm = """(\d+)x(\d+)""".r
        val expect = args(3) match {
          case SlicesArg(terms) =>
            terms.split(",").map {
              case RangeTerm(lo, hi) =>
                slices(Tables.orders(s, sfDir), lo.toInt to hi.toInt).count()
              case RepeatTerm(i, k) =>
                slice(Tables.orders(s, sfDir), i.toInt).count() * k.toLong
              case one => slice(Tables.orders(s, sfDir), one.trim.toInt).count()
            }.sum
          case n => n.toLong
        }
        val t = ensure(s, sfDir)
        val rows = s.table(t).count()
        // certified = a completion marker in the CURRENT table dir
        val dirUri = s.sql(s"DESC FORMATTED $t")
          .filter(col("col_name") === "Location").head().getString(1)
        val dirFile = new java.io.File(new java.net.URI(dirUri))
        val certified = new java.io.File(dirFile, "_GRAFT_COMPLETE").exists()
        out("mode" -> jstr("check"), "pid" -> pid.toString,
          "rows" -> rows.toString, "expect" -> expect.toString,
          "content_ok" -> (rows == expect).toString,
          "certified" -> certified.toString, "dir" -> jstr(dirFile.getName))
    }
    s.stop()
  }
}
