package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Round-11 layout-store lifecycle hardening (r10 verdict items 2–6):
  *
  *  - RENAME-FREE compact: the swap stages a versioned sibling
  *    (`<name>__v<N>`), repoints the catalog, and GC's the old dir — no
  *    atomic-rename dependency, so the same code runs on object stores;
  *    re-ensure in a "fresh JVM" resolves the highest certified version;
  *  - WRITER-WRITER EXCLUSION: a heartbeat lease refuses a second
  *    concurrent maintainer loudly; a stale (dead-holder) lease is
  *    broken after `spark.graft.layout.leaseStaleMs`;
  *  - STAMP RETENTION: compact folds the per-batch exactly-once stamps
  *    into one `_GRAFT_MANIFEST`, keeping the marker population O(batches
  *    since last compact) while every historical tag still replays as a
  *    no-op;
  *  - MIXED-STAMP CORRUPTION (r10 ADVICE, medium): a family whose
  *    members disagree about a tag is refused loudly instead of silently
  *    skipping (divergence forever) or re-appending (duplication);
  *  - EXACTLY-ONCE STREAMING INGEST: `foreachBatchInto` routes micro-
  *    batches through appendOnce under `<prefix>-<batchId>`, so a
  *    crash-and-restart replay of the last uncommitted batch lands
  *    exactly one copy in the layout. */
class LayoutLifecycleSpec extends AnyFunSuite with SparkTestBase {
  import graft.layouts.Bucketed

  private val dir = "/root/testdata/sf0.001"

  private def slice(df: DataFrame, key: String, i: Int, n: Int = 8) =
    df.filter(pmod(xxhash64(col(key)), lit(n)) === i)
  private def slices(df: DataFrame, key: String, is: Seq[Int], n: Int = 8) =
    df.filter(pmod(xxhash64(col(key)), lit(n)).isin(is.map(_.toLong): _*))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Local directory backing a layout table (tests run on file://). */
  private def localDir(qname: String): java.io.File =
    new java.io.File(new java.net.URI(
      spark.sql(s"DESC FORMATTED $qname").filter(col("col_name") === "Location")
        .head().getString(1)))

  /** The NAME-SCOPED maintenance lease of a layout member: one file per
    * layout name in the WAREHOUSE dir (r12 — previously inside the
    * member dir), shared by every compact version of the member. */
  private def nameLease(qname: String): java.io.File = {
    val d = localDir(qname)
    new java.io.File(d.getParentFile,
      "_GRAFT_LEASE_" + d.getName.replaceAll("__v\\d+$", ""))
  }

  test("sibling-session DDL invalidates the location memo (r18): a compact " +
      "run from a SECOND session of the same context repoints the catalog, " +
      "and the FIRST session's next file listing resolves the new dir — " +
      "never the stale decertified one") {
    Bucketed.invalidate(spark, "sibmemo_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("sibmemo_lspec", slices(orders, "o_orderkey", 0 to 5), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    // session A memoizes the location (bucketFiles resolves through it)
    val filesBefore = Bucketed.bucketFiles(spark, t).values.flatten.toSet
    assert(filesBefore.nonEmpty)
    assert(!filesBefore.exists(_.contains("__v1")))
    // sibling session B — same SparkContext, same shared catalog — appends
    // and compacts: the catalog repoints to the __v1 dir; B's DDL must
    // invalidate the memo for A too (one weak per-context map, r18)
    val sib = spark.newSession()
    Bucketed.appendOnce(sib, "sib-6", Seq(t -> slice(orders, "o_orderkey", 6)))
    Bucketed.compact(sib, t)
    // session A must now list the NEW location — a stale memo would serve
    // the decertified pre-compact dir (pre-append content)
    val filesAfter = Bucketed.bucketFiles(spark, t).values.flatten.toSet
    assert(filesAfter.nonEmpty && filesAfter.forall(_.contains("__v1")),
      s"stale location served after sibling-session compact: $filesAfter")
    assert(sortedRows(spark.table(t)) ==
      sortedRows(slices(orders, "o_orderkey", 0 to 6)))
  }

  test("rename-free compact: each compaction repoints the catalog at a new " +
      "versioned directory, GCs the old one, and a fresh JVM's ensure() " +
      "resolves the highest certified version") {
    Bucketed.invalidate(spark, "swap_lspec")
    val orders = Tables.orders(spark, dir)
    def ensure() = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("swap_lspec", slices(orders, "o_orderkey", 0 to 5), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val Seq(t) = ensure()
    val d0 = localDir(t)
    assert(d0.getName == "swap_lspec")
    val wh = d0.getParentFile

    Bucketed.appendOnce(spark, "b-6", Seq(t -> slice(orders, "o_orderkey", 6)))
    val expect6 = sortedRows(slices(orders, "o_orderkey", 0 to 6))
    assert(sortedRows(spark.table(t)) == expect6)

    // first compact: catalog repoints to __v1. The superseded base dir
    // is KEPT (decertified) for one more cycle — the GC grace window
    // (gcGraceVersions = 1) that lets an in-flight reader who resolved
    // the old location just before the repoint finish its scan.
    Bucketed.compact(spark, t)
    val d1 = localDir(t)
    assert(d1.getName == "swap_lspec__v1", s"expected __v1, got ${d1.getName}")
    assert(d0.exists(), "superseded dir must survive one grace cycle for in-flight readers")
    assert(!new java.io.File(d0, "_GRAFT_COMPLETE").exists(),
      "superseded dir must be decertified (resolution must never pick it)")
    assert(new java.io.File(d1, "_GRAFT_COMPLETE").exists(), "new dir uncertified")
    assert(sortedRows(spark.table(t)) == expect6, "compaction changed results")

    // second compact cycle: __v1 → __v2; the grace window advances —
    // v1 is retained, the base dir (two versions behind) is GC'd
    Bucketed.appendOnce(spark, "b-7", Seq(t -> slice(orders, "o_orderkey", 7)))
    Bucketed.compact(spark, t)
    val d2 = localDir(t)
    assert(d2.getName == "swap_lspec__v2", s"expected __v2, got ${d2.getName}")
    assert(d1.exists(), "v1 must survive its grace cycle")
    assert(!d0.exists(), "base dir beyond the grace window should be GC'd")
    assert(sortedRows(spark.table(t)) == sortedRows(orders))

    // "fresh JVM": the in-memory catalog forgets the (external) table;
    // ensure() must resolve the highest CERTIFIED version — including
    // when a crashed swap left an unmarked orphan sibling behind
    val orphan = new java.io.File(wh, "swap_lspec__v9")
    orphan.mkdirs() // unmarked: a crash between stage and certification
    spark.sql(s"DROP TABLE $t")
    val Seq(t2) = ensure()
    assert(t2 == t)
    assert(localDir(t2).getName == "swap_lspec__v2",
      s"re-register must pick the certified version, got ${localDir(t2).getName}")
    assert(sortedRows(spark.table(t2)) == sortedRows(orders),
      "re-registered compacted layout lost content")
    orphan.delete()
  }

  test("stamp retention: compact folds per-batch stamps into one manifest " +
      "(O(1) marker files) while every historical tag replays as a no-op") {
    Bucketed.invalidate(spark, "mf_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("mf_lspec", slice(orders, "o_orderkey", 0, 12), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    for (i <- 1 to 10)
      assert(Bucketed.appendOnce(spark, s"night-$i",
        Seq(t -> slice(orders, "o_orderkey", i, 12))))
    def names() = localDir(t).list().toSeq
    assert(names().count(_.startsWith("_GRAFT_APPLIED_")) == 10)

    Bucketed.compact(spark, t)
    // O(1) after the fold: one manifest, no stamp files
    assert(names().count(_.startsWith("_GRAFT_APPLIED_")) == 0,
      s"stamps not folded: ${names()}")
    assert(names().count(_ == "_GRAFT_MANIFEST") == 1)
    // every historical tag is still exactly-once
    val rows = spark.table(t).count()
    for (i <- 1 to 10) {
      assert(!Bucketed.appendOnce(spark, s"night-$i",
        Seq(t -> slice(orders, "o_orderkey", i, 12))), s"night-$i replayed!")
    }
    assert(spark.table(t).count() == rows)
    // post-compact batches stamp normally and fold on the NEXT compact
    assert(Bucketed.appendOnce(spark, "night-11",
      Seq(t -> slice(orders, "o_orderkey", 11, 12))))
    assert(names().count(_.startsWith("_GRAFT_APPLIED_")) == 1)
    Bucketed.compact(spark, t)
    assert(names().count(_.startsWith("_GRAFT_APPLIED_")) == 0)
    assert(!Bucketed.appendOnce(spark, "night-3",
      Seq(t -> slice(orders, "o_orderkey", 3, 12))))
    assert(!Bucketed.appendOnce(spark, "night-11",
      Seq(t -> slice(orders, "o_orderkey", 11, 12))))
    assert(sortedRows(spark.table(t)) ==
      sortedRows(slices(orders, "o_orderkey", 0 to 11, 12)))
  }

  test("mixed-stamp family state is refused as corruption, not silently " +
      "skipped or double-appended") {
    Bucketed.invalidate(spark, "mix_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(aT, bT) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("mix_lspec_a", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders")),
      Bucketed.Spec("mix_lspec_b", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    assert(Bucketed.appendOnce(spark, "m-1", Seq(
      aT -> slice(orders, "o_orderkey", 7), bT -> slice(orders, "o_orderkey", 7))))
    // simulate the ADVICE scenario: member b was rebuilt (stamp lost)
    // while member a kept its stamp
    val bStamp = new java.io.File(localDir(bT), "_GRAFT_APPLIED_m-1")
    assert(bStamp.exists())
    assert(bStamp.delete())
    val boom = intercept[IllegalStateException] {
      Bucketed.appendOnce(spark, "m-1", Seq(
        aT -> slice(orders, "o_orderkey", 7), bT -> slice(orders, "o_orderkey", 7)))
    }
    assert(boom.getMessage.contains("diverged"), boom.getMessage)
    // a DIFFERENT tag is unaffected (the corruption check is per-batch)
    assert(Bucketed.appendOnce(spark, "m-2", Seq(
      aT -> slice(orders, "o_orderkey", 6, 16), bT -> slice(orders, "o_orderkey", 6, 16))))
  }

  test("writer-writer exclusion: a second concurrent maintainer is refused " +
      "while the lease is held, and proceeds after release; a stale " +
      "(dead-holder) lease is broken") {
    Bucketed.invalidate(spark, "lease_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("lease_lspec", slices(orders, "o_orderkey", 0 to 5), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)

    val inside = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      Bucketed.appendGuard(spark, Seq(t)) {
        inside.countDown()
        release.await()
      }
    })
    holder.start()
    assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))
    // the racing maintainer fails LOUDLY, naming the lease — it must not
    // interleave marker windows with the holder
    val refused = intercept[IllegalStateException] {
      Bucketed.appendOnce(spark, "race-1", Seq(t -> slice(orders, "o_orderkey", 6)))
    }
    assert(refused.getMessage.contains("lease"), refused.getMessage)
    release.countDown()
    holder.join(30000)
    assert(!holder.isAlive)
    // after release the same batch applies cleanly — exactly one copy
    assert(Bucketed.appendOnce(spark, "race-1", Seq(t -> slice(orders, "o_orderkey", 6))))
    assert(sortedRows(spark.table(t)) == sortedRows(slices(orders, "o_orderkey", 0 to 6)))

    // DEAD HOLDER: a lease whose heartbeats stopped (old mtime) is broken
    val lease = nameLease(t)
    assert(lease.createNewFile())
    assert(lease.setLastModified(System.currentTimeMillis() - 10 * 60 * 1000))
    assert(Bucketed.appendOnce(spark, "race-2", Seq(t -> slice(orders, "o_orderkey", 7))),
      "a stale lease must be broken, not block maintenance forever")
    assert(!lease.exists(), "the breaking maintainer must release the lease")
    assert(sortedRows(spark.table(t)) == sortedRows(slices(orders, "o_orderkey", 0 to 7)))
  }

  test("the lease covers EVERY family member: a maintainer holding a " +
      "non-head member's lease blocks the family append (r11 review)") {
    Bucketed.invalidate(spark, "leaseb_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(aT, bT) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("leaseb_lspec_a", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders")),
      Bucketed.Spec("leaseb_lspec_b", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    // a concurrent compact of member b would lease ONLY b's name — the
    // family append must conflict with it, not slip past on a head-only
    // lease (fresh mtime: not stale, not breakable)
    val bLease = nameLease(bT)
    assert(bLease.createNewFile())
    try {
      val refused = intercept[IllegalStateException] {
        Bucketed.appendOnce(spark, "famlease-1", Seq(
          aT -> slice(orders, "o_orderkey", 7), bT -> slice(orders, "o_orderkey", 7)))
      }
      assert(refused.getMessage.contains("lease"), refused.getMessage)
      // nothing landed on EITHER member and no lease leaked onto a
      assert(sortedRows(spark.table(aT)) ==
        sortedRows(slices(orders, "o_orderkey", 0 to 6)))
      assert(!nameLease(aT).exists(),
        "the loser must release the member leases it already held")
    } finally bLease.delete()
    // released: the same batch applies
    assert(Bucketed.appendOnce(spark, "famlease-1", Seq(
      aT -> slice(orders, "o_orderkey", 7), bT -> slice(orders, "o_orderkey", 7))))
  }

  test("two genuinely RACING appendOnce calls on one family: exactly one " +
      "applies, the other refuses or skips, and the layout holds one copy") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    Bucketed.invalidate(spark, "race2_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(aT, bT) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("race2_lspec_a", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders")),
      Bucketed.Spec("race2_lspec_b", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val go = new CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Boolean]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        go.await(30, TimeUnit.SECONDS)
        outcomes.add(
          try Right(Bucketed.appendOnce(spark, "race2-batch", Seq(
            aT -> slice(orders, "o_orderkey", 7), bT -> slice(orders, "o_orderkey", 7))))
          catch { case e: IllegalStateException => Left(e) })
      })
    }
    threads.foreach(_.start()); go.countDown(); threads.foreach(_.join(120000))
    val res = outcomes.toArray(Array.empty[Either[Throwable, Boolean]]).toSeq
    assert(res.length == 2, s"both racers must finish: $res")
    // exactly one applied; the other either lost the lease race (loud
    // refusal) or arrived after the winner's stamps (clean skip)
    assert(res.count(_ == Right(true)) == 1, s"outcomes: $res")
    assert(res.forall {
      case Right(true) => true
      case Right(false) => true
      case Left(e) => e.getMessage.contains("lease")
    }, s"outcomes: $res")
    // one copy, consistent and certified
    assert(sortedRows(spark.table(aT)) == sortedRows(slices(orders, "o_orderkey", 0 to 7)))
    assert(sortedRows(spark.table(bT)) == sortedRows(slices(orders, "o_orderkey", 0 to 7)))
    assert(!Bucketed.appendOnce(spark, "race2-batch", Seq(
      aT -> slice(orders, "o_orderkey", 7), bT -> slice(orders, "o_orderkey", 7))))
  }

  test("MinHashIndex.probe refuses while maintenance holds the lease") {
    import graft.layouts.MinHashIndex
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    Bucketed.invalidate(spark, "mhidx_probelock_")
    val corpus = Seq((1L, (1 to 40).map(i => s"pl$i").mkString(" ")))
      .toDF("id", "text")
    val (bandsT, repsT) = MinHashIndex.ensure(
      spark, dir, corpus, "probelock", 5, 64, 16, 4, Seq("region"))
    val lease = nameLease(bandsT)
    assert(lease.createNewFile())
    try {
      val boom = intercept[IllegalStateException] {
        MinHashIndex.probe(spark, bandsT, repsT, corpus, 5, 64, 16, 4, 0.5)
      }
      assert(boom.getMessage.contains("maintenance"), boom.getMessage)
    } finally lease.delete()
    // lease released: the probe serves
    val (pairs, _) = MinHashIndex.probe(spark, bandsT, repsT, corpus, 5, 64, 16, 4, 0.5)
    assert(pairs.count() == 1) // the exact self-match
  }

  test("spark.graft.layout.root relocates the store: the full ensure → " +
      "appendOnce → compact lifecycle runs under a non-default root") {
    val customRoot = Files.createTempDirectory("graft_custom_root").toString
    spark.conf.set("spark.graft.layout.root", customRoot)
    try {
      val orders = Tables.orders(spark, dir)
      val Seq(t) = Bucketed.ensure(spark, dir, Seq(
        Bucketed.Spec("root_lspec", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
          srcTables = Seq("orders"))), buckets = 4)
      // the layout physically lives under the custom root
      assert(localDir(t).getAbsolutePath.startsWith(customRoot),
        s"layout at ${localDir(t)} not under $customRoot")
      assert(Bucketed.appendOnce(spark, "root-7",
        Seq(t -> slice(orders, "o_orderkey", 7))))
      Bucketed.compact(spark, t)
      assert(localDir(t).getAbsolutePath.startsWith(customRoot))
      assert(localDir(t).getName == "root_lspec__v1")
      assert(sortedRows(spark.table(t)) == sortedRows(orders))
      assert(!Bucketed.appendOnce(spark, "root-7",
        Seq(t -> slice(orders, "o_orderkey", 7))), "manifest lost in relocation")
      // invalidate honours the custom root too
      Bucketed.invalidate(spark, "root_lspec")
      assert(!spark.catalog.tableExists(t))
    } finally {
      spark.conf.unset("spark.graft.layout.root")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(customRoot))
    }
  }

  test("invalidate by qualified name drops only that data dir's layout: the " +
      "same layout name over another data dir keeps its table, marker and " +
      "warehouse dir") {
    val copies = Seq("a", "b").map { c =>
      val d = Files.createTempDirectory(s"graft_scope_$c")
      org.apache.commons.io.FileUtils.copyToDirectory(
        new java.io.File(s"$dir/orders.parquet"), d.toFile)
      d.toString
    }
    try {
      val Seq(ta, tb) = copies.map { d =>
        Bucketed.ensure(spark, d, Seq(Bucketed.Spec("scope_lspec", Tables.orders(spark, d),
          "o_orderkey", srcTables = Seq("orders"))), buckets = 4).head
      }
      assert(ta != tb)
      val (da, db) = (localDir(ta), localDir(tb))
      Bucketed.invalidate(spark, ta)
      assert(!spark.catalog.tableExists(ta) && !da.exists, s"$ta was not dropped")
      assert(spark.catalog.tableExists(tb), s"$tb was dropped with $ta")
      assert(new java.io.File(db, "_GRAFT_COMPLETE").isFile, s"$tb lost its marker")
      assert(spark.table(tb).count() == Tables.orders(spark, dir).count())
    } finally {
      Bucketed.invalidate(spark, "scope_lspec")
      copies.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
    }
  }

  test("every artifact graft writes lives under spark.graft.layout.root, and " +
      "buildOnce rebuilds exactly when a part's stamp is missing or differs") {
    import graft.layouts.LayoutUtil
    val customRoot = Files.createTempDirectory("graft_store_root").toString
    // a data dir of its own, so its fixture names are unique to this case
    val data = Files.createTempDirectory("graft_store_data")
    Seq("documents", "lineitem", "embeddings", "nation").foreach { t =>
      org.apache.commons.io.FileUtils.copyToDirectory(new java.io.File(s"$dir/$t.parquet"), data.toFile)
    }
    val d = data.toString
    def tmpEntry(name: String) = new java.io.File("/tmp", name)
    val ioName = "graft_io/sink_csv_roundtrip"
    val ioBefore = tmpEntry(ioName).lastModified() // 0 when absent
    spark.conf.set("spark.graft.layout.root", customRoot)
    try {
      val (idx, cents) = operators.LlmOps.persistedIvfIndex(spark, d)
      val built = Seq(Fixtures.neardupCorpus(spark, d),
        operators.Sources.lineitemZPath(spark, d), idx, cents)
      SparkEntry.queries("sink_csv_roundtrip")(spark, d).collect()
      (built :+ s"$customRoot/$ioName").foreach { p =>
        assert(p.startsWith(customRoot + "/") && new java.io.File(p).isDirectory,
          s"$p is not a directory under $customRoot")
      }
      built.foreach { p =>
        val name = new java.io.File(p).getName
        assert(!tmpEntry(name).exists, s"$name was also written under /tmp")
        assert(new java.io.File(p, LayoutUtil.SigFile).isFile, s"$p has no stamp")
      }
      assert(tmpEntry(ioName).lastModified() == ioBefore, s"$ioName was written under /tmp")

      // a complete artifact is not rebuilt
      val marks = built.map(p => new java.io.File(p, "_SUCCESS").lastModified())
      Fixtures.neardupCorpus(spark, d)
      operators.Sources.lineitemZPath(spark, d)
      operators.LlmOps.persistedIvfIndex(spark, d)
      assert(built.map(p => new java.io.File(p, "_SUCCESS").lastModified()) == marks)

      // the rule itself: stamps go down only after build returns
      val parts = Seq(s"$customRoot/bo_a", s"$customRoot/bo_b")
      def stamped(p: String) = new java.io.File(p, LayoutUtil.SigFile).exists
      var builds = 0
      def build(): Unit = { builds += 1; parts.foreach(p => spark.range(3).write.parquet(p)) }
      intercept[IllegalStateException] {
        LayoutUtil.buildOnce(spark, "k1", parts) {
          spark.range(3).write.parquet(parts.head)
          throw new IllegalStateException("crash after the first part")
        }
      }
      assert(new java.io.File(parts.head, "_SUCCESS").exists && !parts.exists(stamped))
      LayoutUtil.buildOnce(spark, "k1", parts)(build()) // the torn part is deleted first
      assert(builds == 1 && parts.forall(stamped))
      val mark = new java.io.File(parts.head, "_SUCCESS").lastModified()
      LayoutUtil.buildOnce(spark, "k1", parts)(build())
      assert(builds == 1 && new java.io.File(parts.head, "_SUCCESS").lastModified() == mark)
      LayoutUtil.buildOnce(spark, "k2", parts)(build())
      assert(builds == 2, "a changed key did not rebuild")
      new java.io.File(parts.last, LayoutUtil.SigFile).delete()
      LayoutUtil.buildOnce(spark, "k2", parts)(build())
      assert(builds == 3, "a part without its stamp did not rebuild")
    } finally {
      spark.conf.unset("spark.graft.layout.root")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(customRoot))
      org.apache.commons.io.FileUtils.deleteQuietly(data.toFile)
    }
  }

  test("spec names ending in the reserved __v<N> compact suffix are refused") {
    val orders = Tables.orders(spark, dir)
    val boom = intercept[IllegalArgumentException] {
      Bucketed.ensure(spark, dir, Seq(
        Bucketed.Spec("resv_lspec__v2", orders, "o_orderkey",
          srcTables = Seq("orders"))), buckets = 4)
    }
    assert(boom.getMessage.contains("reserved"), boom.getMessage)
  }

  test("StreamIngest: catch-up is derived from layout stamps — a rebuilt " +
      "layout re-streams its delta, a compacted one replays as no-ops, and " +
      "the result always equals the full raw table") {
    import graft.streaming.StreamIngest
    Bucketed.invalidate(spark, "events_si")
    val t = StreamIngest.ensureStreamedLayout(spark, dir)
    val want = Tables.events(spark, dir).count()
    assert(spark.table(t).count() == want)
    // idempotent re-run: complete check short-circuits, content stable
    assert(StreamIngest.ensureStreamedLayout(spark, dir) == t)
    assert(spark.table(t).count() == want)
    // COMPACT folds the stamps into the manifest; the derived check must
    // still read complete (no re-stream, no doubling)
    graft.layouts.Bucketed.compact(spark, t)
    assert(StreamIngest.ensureStreamedLayout(spark, dir) == t)
    assert(spark.table(t).count() == want,
      "compacted layout re-streamed its delta (stamps lost or ignored)")
    // REBUILD (the r11-review hole): the layout loses its streamed
    // quarter AND its stamps; the next ensure must detect incompleteness
    // from the stamps and re-stream — never claim caught-up from a
    // sidecar that outlived the layout
    Bucketed.invalidate(spark, "events_si")
    val t2 = StreamIngest.ensureStreamedLayout(spark, dir)
    assert(spark.table(t2).count() == want,
      "rebuilt layout served as 'caught up' while missing the streamed delta")
  }

  test("exactly-once streaming ingest: a kill-and-restart replay of the last " +
      "micro-batch lands exactly one copy in the layout; consumers keep the " +
      "zero-exchange plan") {
    import spark.implicits._
    Bucketed.invalidate(spark, "sing_lspec")
    val base = Files.createTempDirectory("graft_stream_layout")
    val src = base.resolve("src"); Files.createDirectories(src)
    val ckpt = base.resolve("ckpt").toString

    // base layout: an empty shell with the stream's schema, bucketed on id
    val empty = spark.range(0).select(col("id"), lit(0.0).as("v"))
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("sing_lspec", empty, "id", srcTables = Seq("orders"))), buckets = 4)

    val sink = Bucketed.foreachBatchInto(spark, "sq1", Seq(t -> (b => b)))
    def startQuery() = spark.readStream
      .schema("id LONG, v DOUBLE")
      .parquet(src.toString)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt)
      .start()

    // batch 0 commits end-to-end
    (1L to 40L).map(i => (i, i / 2.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src.toString)
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.table(t).count() == 40)

    // CRASH INJECTION: drop the commit record of the last batch — the
    // foreachBatch body already ran (files are in the layout), but the
    // engine never learned; the restart REPLAYS the batch with the same
    // batchId and data (file source replays from the offset log)
    val commits = new java.io.File(base.resolve("ckpt").toFile, "commits")
    val last = commits.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(last.delete())
    // the local ChecksumFileSystem keeps a .crc sidecar per entry; a
    // real crash loses both together, so the injection must too (a
    // leftover sidecar makes the replayed commit write look like a
    // concurrent writer)
    new java.io.File(commits, s".${last.getName}.crc").delete()
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.table(t).count() == 40,
      "the replayed micro-batch must hit its stamp and be a no-op")
    assert(spark.table(t).select(countDistinct(col("id"))).head().getLong(0) == 40)

    // a genuinely new batch still lands
    (41L to 60L).map(i => (i, i / 2.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src.toString)
    val q3 = startQuery()
    try q3.processAllAvailable() finally q3.stop()
    assert(spark.table(t).count() == 60)

    // the ingested layout still serves the zero-exchange colocated join
    Bucketed.invalidate(spark, "sing2_lspec")
    val Seq(t2) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("sing2_lspec",
        spark.range(1, 61).select(col("id"), lit("x").as("tag2")), "id",
        srcTables = Seq("orders"))), buckets = 4)
    val q = spark.table(t).hint("merge").join(spark.table(t2), "id")
      .groupBy(col("tag2")).agg(sum(col("v")).as("sv"))
    val p = q.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning(id"),
      s"stream-ingested layout join shuffles:\n$p")
    assert(q.collect().map(_.getDouble(1)).head == (1 to 60).map(_ / 2.0).sum)
  }

  test("compact is invisible to concurrent readers: a reader loop across " +
      "20+ compactions sees zero resolution errors and stable content " +
      "(ALTER-based repoint + GC grace window, r11 verdict item 1)") {
    Bucketed.invalidate(spark, "rdr_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("rdr_lspec", slices(orders, "o_orderkey", 0 to 7), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val expect = slices(orders, "o_orderkey", 0 to 7).count()

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get) {
        try {
          val n = spark.table(t).count()
          if (n != expect) errors.add(s"wrong count $n (want $expect)")
          reads.incrementAndGet()
        } catch {
          case e: Throwable =>
            errors.add(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    }, "graft-compact-reader")
    reader.start()
    try {
      for (_ <- 1 to 21) Bucketed.compact(spark, t)
    } finally {
      stop.set(true); reader.join(60000)
    }
    assert(!reader.isAlive)
    assert(errors.isEmpty,
      s"reader hit ${errors.size} errors across compactions: " +
        errors.toArray.take(3).mkString(" | "))
    assert(reads.get > 20, s"reader only completed ${reads.get} reads — not racing")
    // the layout still serves the zero-exchange plan after 21 swaps
    val qy = spark.table(t).groupBy(col("o_orderkey")).count()
    val plan = qy.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"compacted layout lost the zero-exchange property:\n$plan")
    assert(sortedRows(spark.table(t)) == sortedRows(slices(orders, "o_orderkey", 0 to 7)))
  }

  test("ensure()'s rebuild path refuses while a maintainer's marker window " +
      "is open (r11 ADVICE, medium): a fresh-JVM rebuilder must not wipe " +
      "the live directories out from under the lease holder") {
    Bucketed.invalidate(spark, "reb_lspec")
    val orders = Tables.orders(spark, dir)
    def ensure() = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("reb_lspec", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val Seq(t) = ensure()
    val d0 = localDir(t)

    val inside = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      Bucketed.appendGuard(spark, Seq(t)) { // markers down, lease held
        inside.countDown()
        release.await()
      }
    })
    holder.start()
    assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      // simulate a fresh JVM: the catalog forgot the table; with the
      // marker legitimately DOWN, ensure() sees no certified version —
      // it must refuse on the holder's lease, not wipe and rebuild
      spark.sql(s"DROP TABLE $t")
      val refused = intercept[IllegalStateException] { ensure() }
      assert(refused.getMessage.contains("lease"), refused.getMessage)
      assert(d0.exists(), "the rebuilder wiped the holder's live directory")
    } finally release.countDown()
    holder.join(30000)
    assert(!holder.isAlive)
    // holder released (markers back up): ensure() re-registers, content intact
    val Seq(t2) = ensure()
    assert(sortedRows(spark.table(t2)) ==
      sortedRows(slices(orders, "o_orderkey", 0 to 6)))
  }

  test("leaseWaitMs: an acquirer waits out a live holder instead of " +
      "refusing — the streaming-ingest-vs-compaction setting") {
    Bucketed.invalidate(spark, "wait_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("wait_lspec", slices(orders, "o_orderkey", 0 to 5), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val inside = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      Bucketed.appendGuard(spark, Seq(t)) {
        inside.countDown()
        Thread.sleep(2000) // hold the lease ~2 s, then release normally
      }
    })
    holder.start()
    assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))
    spark.conf.set("spark.graft.layout.leaseWaitMs", "30000")
    try {
      // without the wait this refused (see the writer-writer test); with
      // it, the acquirer parks behind the holder and then applies
      assert(Bucketed.appendOnce(spark, "wait-6",
        Seq(t -> slice(orders, "o_orderkey", 6))))
    } finally spark.conf.unset("spark.graft.layout.leaseWaitMs")
    holder.join(30000)
    assert(sortedRows(spark.table(t)) ==
      sortedRows(slices(orders, "o_orderkey", 0 to 6)))
  }

  test("streaming ingest under concurrent maintenance: the family lease " +
      "serializes the micro-batch append behind the maintenance window; " +
      "the stream completes after, content exact (r11 verdict item 7)") {
    import spark.implicits._
    Bucketed.invalidate(spark, "sconc_lspec")
    val base = Files.createTempDirectory("graft_stream_conc")
    val src = base.resolve("src"); Files.createDirectories(src)
    val empty = spark.range(0).select(col("id"), lit(0.0).as("v"))
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("sconc_lspec", empty, "id", srcTables = Seq("orders"))), buckets = 4)
    (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(src.toString)

    // the "compaction": a maintainer holding the family lease with the
    // marker window open — the exact lock compact takes, held long
    // enough to overlap the stream's first micro-batch deterministically
    val inside = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      Bucketed.appendGuard(spark, Seq(t)) { inside.countDown(); release.await() }
    })
    holder.start()
    assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))

    spark.conf.set("spark.graft.layout.leaseWaitMs", "60000")
    try {
      val sink = Bucketed.foreachBatchInto(spark, "sc1", Seq(t -> (b => b)))
      val q = spark.readStream.schema("id LONG, v DOUBLE").parquet(src.toString)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try {
        // while the maintenance window is open, the micro-batch append is
        // parked on the lease — nothing may land
        Thread.sleep(3000)
        assert(spark.table(t).count() == 0,
          "a micro-batch landed INSIDE the maintenance window")
        release.countDown()
        q.processAllAvailable()
      } finally q.stop()
      holder.join(30000)
      assert(spark.table(t).count() == 30)
      assert(spark.table(t).select(countDistinct(col("id"))).head().getLong(0) == 30)
      // a real compaction + a restarted stream replay: exactly-once holds
      Bucketed.compact(spark, t)
      val q2 = spark.readStream.schema("id LONG, v DOUBLE").parquet(src.toString)
        .writeStream.foreachBatch(Bucketed.foreachBatchInto(spark, "sc1", Seq(t -> (b => b))))
        .option("checkpointLocation", base.resolve("ckpt").toString)
        .start()
      try q2.processAllAvailable() finally q2.stop()
      assert(spark.table(t).count() == 30, "replay after compaction doubled the batch")
    } finally spark.conf.unset("spark.graft.layout.leaseWaitMs")
  }

  test("stamp retention at micro-batch cadence: 500 applied tags fold into " +
      "ONE bounded manifest at compact, and every historical tag still " +
      "replays as a no-op (r11 verdict item 6)") {
    Bucketed.invalidate(spark, "ret_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("ret_lspec", slices(orders, "o_orderkey", 0 to 5), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    // two REAL batches through the protocol...
    assert(Bucketed.appendOnce(spark, "real-6", Seq(t -> slice(orders, "o_orderkey", 6))))
    assert(Bucketed.appendOnce(spark, "real-7", Seq(t -> slice(orders, "o_orderkey", 7))))
    // ...plus a micro-batch-cadence stamp population (stamps ARE the
    // exactly-once state — files, created here exactly as appendOnce does)
    for (i <- 1 to 500)
      assert(new java.io.File(localDir(t), f"_GRAFT_APPLIED_synth-$i%03d").createNewFile())
    assert(localDir(t).list().count(_.startsWith("_GRAFT_APPLIED_")) == 502)

    Bucketed.compact(spark, t)
    def names() = localDir(t).list().toSeq
    assert(names().count(_.startsWith("_GRAFT_APPLIED_")) == 0, "stamps not folded")
    assert(names().count(_ == "_GRAFT_MANIFEST") == 1)
    assert(Bucketed.appliedBatchTags(spark, t).size == 502)
    // every historical tag — real and synthetic — replays as a no-op
    val rows = spark.table(t).count()
    assert(!Bucketed.appendOnce(spark, "real-6", Seq(t -> slice(orders, "o_orderkey", 6))))
    for (i <- Seq(1, 137, 250, 499, 500))
      assert(!Bucketed.appendOnce(spark, f"synth-$i%03d",
        Seq(t -> slice(orders, "o_orderkey", 6))), s"synth-$i replayed!")
    assert(spark.table(t).count() == rows)
    // a second compact folds the folded manifest stably (no growth, no loss)
    Bucketed.compact(spark, t)
    assert(names().count(_ == "_GRAFT_MANIFEST") == 1)
    assert(Bucketed.appliedBatchTags(spark, t).size == 502)
  }

  test("ensure() heals a catalog entry whose location was compacted away " +
      "by ANOTHER process: the registered dir lost its marker, a certified " +
      "sibling exists — repoint, don't fail or rebuild") {
    Bucketed.invalidate(spark, "heal_lspec")
    val orders = Tables.orders(spark, dir)
    def ensure() = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("heal_lspec", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val Seq(t) = ensure()
    val d0 = localDir(t)
    val expect = sortedRows(spark.table(t))
    // simulate the OTHER process's compact, which our catalog never saw:
    // its staged sibling is certified, our registered dir is decertified
    // and on the GC grace clock
    val v7 = new java.io.File(d0.getParentFile, "heal_lspec__v7")
    org.apache.commons.io.FileUtils.copyDirectory(d0, v7)
    assert(new java.io.File(v7, "_GRAFT_COMPLETE").exists())
    assert(new java.io.File(d0, "_GRAFT_COMPLETE").delete())
    // a fresh consumer JVM's first ensure() (memo cleared) must detect
    // the decertified location and repoint to the certified sibling
    graft.layouts.Bucketed.resetLocationValidationMemo()
    val Seq(t2) = ensure()
    assert(t2 == t)
    assert(localDir(t2).getName == "heal_lspec__v7",
      s"expected repoint to the certified sibling, got ${localDir(t2)}")
    assert(sortedRows(spark.table(t2)) == expect, "heal changed results")
    // memoized: the next ensure() is the pure catalog-lookup fast path
    // and stays put
    val Seq(t3) = ensure()
    assert(localDir(t3).getName == "heal_lspec__v7")
  }

  test("appendOnce under a STALE catalog (foreign compact our catalog never " +
      "saw): the batch lands in the store-truth directory — the superseded " +
      "grace-kept dir is never re-certified (r12 review, second pass)") {
    Bucketed.invalidate(spark, "healap_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("healap_lspec", slices(orders, "o_orderkey", 0 to 5), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val d0 = localDir(t)
    // the foreign compact: certified sibling, our registered dir
    // decertified and on the GC grace clock — our catalog still points
    // at it
    val v1 = new java.io.File(d0.getParentFile, "healap_lspec__v1")
    org.apache.commons.io.FileUtils.copyDirectory(d0, v1)
    assert(new java.io.File(d0, "_GRAFT_COMPLETE").delete())
    assert(localDir(t) == d0, "precondition: catalog still points at the stale dir")

    assert(Bucketed.appendOnce(spark, "fc-6", Seq(t -> slice(orders, "o_orderkey", 6))))
    // the append repointed to store truth and landed there
    assert(localDir(t).getName == "healap_lspec__v1",
      s"append did not follow store truth: ${localDir(t)}")
    assert(new java.io.File(localDir(t), "_GRAFT_APPLIED_fc-6").exists(),
      "exactly-once stamp missing from the store-truth dir")
    assert(!new java.io.File(d0, "_GRAFT_COMPLETE").exists(),
      "the superseded dir was re-certified — it would shadow or lose the batch")
    assert(sortedRows(spark.table(t)) ==
      sortedRows(slices(orders, "o_orderkey", 0 to 6)))
    // replay is still a no-op against the store-truth stamps
    assert(!Bucketed.appendOnce(spark, "fc-6", Seq(t -> slice(orders, "o_orderkey", 6))))
  }

  test("the staleness heal defers to an OPEN maintenance window: a live " +
      "holder's marker-down state is not 'crashed' — nothing is dropped, " +
      "the entry keeps serving (r12 review)") {
    Bucketed.invalidate(spark, "healw_lspec")
    val orders = Tables.orders(spark, dir)
    def ensure() = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("healw_lspec", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val Seq(t) = ensure()
    val expect = spark.table(t).count()
    val inside = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      Bucketed.appendGuard(spark, Seq(t)) { inside.countDown(); release.await() }
    })
    holder.start()
    assert(inside.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try {
      // a fresh consumer JVM's first ensure() during the window: the
      // marker is down but the lease is LIVE — the heal must neither
      // throw nor DROP the table out from under the holder
      graft.layouts.Bucketed.resetLocationValidationMemo()
      val Seq(t2) = ensure()
      assert(t2 == t)
      assert(spark.catalog.tableExists(t), "heal dropped a live maintainer's table")
      assert(spark.table(t).count() == expect, "table stopped serving mid-window")
    } finally release.countDown()
    holder.join(30000)
    assert(!holder.isAlive)
    // window closed (marker restored): the next ensure validates cleanly
    graft.layouts.Bucketed.resetLocationValidationMemo()
    val Seq(t3) = ensure()
    assert(spark.table(t3).count() == expect)
  }

  test("LONG-LIVED consumer across TWO foreign compactions (grace exhausted): " +
      "the TTL'd validation memo re-probes, the heal repoints before the " +
      "vacuumed location is ever scanned — zero errors, ends repointed " +
      "(r12 verdict item 1)") {
    Bucketed.invalidate(spark, "ttl_lspec")
    val orders = Tables.orders(spark, dir)
    def ensure() = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("ttl_lspec", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val Seq(t) = ensure()
    val expect = sortedRows(spark.table(t))
    ensure() // validates the location and stamps the TTL memo
    val d0 = localDir(t)

    // foreign compact #1 (another process's catalog repointed, ours did
    // not): certified sibling __v1, our registered d0 decertified but
    // GRACE-RETAINED — within the TTL the memoized entry keeps serving
    // the retained dir, which is exactly the bargain the grace window buys
    val v1 = new java.io.File(d0.getParentFile, "ttl_lspec__v1")
    org.apache.commons.io.FileUtils.copyDirectory(d0, v1)
    assert(new java.io.File(d0, "_GRAFT_COMPLETE").delete())
    assert(ensure().head == t)
    assert(sortedRows(spark.table(t)) == expect, "grace-retained dir stopped serving")
    assert(localDir(t) == d0, "memoized entry should not repoint inside the TTL")

    // foreign compact #2 EXHAUSTS the grace window (gcGraceVersions = 1):
    // __v2 certified, __v1 decertified-retained, d0 VACUUMED — the
    // pre-TTL failure mode was a mid-scan FileNotFound with no self-heal
    val v2 = new java.io.File(d0.getParentFile, "ttl_lspec__v2")
    org.apache.commons.io.FileUtils.copyDirectory(v1, v2)
    assert(new java.io.File(v1, "_GRAFT_COMPLETE").delete())
    org.apache.commons.io.FileUtils.deleteDirectory(d0)

    // the TTL elapses (revalidateMs=0 models the long-lived JVM whose
    // 60 s default expired — in deployment the TTL beats the grace
    // horizon by orders of magnitude, so the re-probe always lands
    // before the vacuum): the next ensure() re-probes, heals, repoints
    spark.conf.set("spark.graft.layout.revalidateMs", "0")
    try {
      val Seq(t2) = ensure()
      assert(t2 == t)
      assert(localDir(t).getName == "ttl_lspec__v2",
        s"expected repoint to the certified head version, got ${localDir(t)}")
      assert(sortedRows(spark.table(t)) == expect, "heal changed results")
    } finally spark.conf.unset("spark.graft.layout.revalidateMs")
  }

  test("retryOnStaleLayout: a consumer whose CACHED handle outlived two " +
      "foreign compactions fails mid-scan on the vacuumed files, and the " +
      "wrapper maps the missing path back to the layout, heals under the " +
      "lease, and retries to the right answer (r12 verdict item 1)") {
    Bucketed.invalidate(spark, "scanheal_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("scanheal_lspec", slices(orders, "o_orderkey", 0 to 6), "o_orderkey",
        srcTables = Seq("orders"))), buckets = 4)
    val expect = sortedRows(spark.table(t)) // caches the d0 file listing
    val d0 = localDir(t)

    // two foreign compactions, grace exhausted: __v2 certified, __v1
    // decertified-retained, d0 vacuumed — our catalog AND relation cache
    // still reference d0
    val v1 = new java.io.File(d0.getParentFile, "scanheal_lspec__v1")
    org.apache.commons.io.FileUtils.copyDirectory(d0, v1)
    assert(new java.io.File(d0, "_GRAFT_COMPLETE").delete())
    val v2 = new java.io.File(d0.getParentFile, "scanheal_lspec__v2")
    org.apache.commons.io.FileUtils.copyDirectory(v1, v2)
    assert(new java.io.File(v1, "_GRAFT_COMPLETE").delete())
    org.apache.commons.io.FileUtils.deleteDirectory(d0)

    // the trap is real: the cached handle fails mid-scan on missing files
    def chain(e: Throwable): Seq[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val boom = intercept[Exception] { spark.table(t).count() }
    assert(chain(boom).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      s"expected a FileNotFound failure, got $boom")

    // the wrapper heals it at the scan site — no ensure() in sight
    val healed = Bucketed.retryOnStaleLayout(spark) { sortedRows(spark.table(t)) }
    assert(healed == expect, "healed retry changed results")
    assert(localDir(t).getName == "scanheal_lspec__v2",
      s"expected repoint to the certified head version, got ${localDir(t)}")
    // healed state is durable: plain scans serve without the wrapper
    assert(sortedRows(spark.table(t)) == expect)
    // a non-layout failure passes through the wrapper unchanged
    val other = intercept[IllegalArgumentException] {
      Bucketed.retryOnStaleLayout(spark) {
        throw new IllegalArgumentException("not a layout failure")
      }
    }
    assert(other.getMessage == "not a layout failure")
  }

  test("maintenanceInProgress on a missing table surfaces table-not-found, " +
      "not a misleading maintenance refusal (r11 ADVICE, low)") {
    val boom = intercept[org.apache.spark.sql.AnalysisException] {
      Bucketed.maintenanceInProgress(spark, "graft_no_such_db.no_such_layout")
    }
    assert(boom.getMessage.toUpperCase.contains("NOT_FOUND") ||
      boom.getMessage.toLowerCase.contains("cannot be found") ||
      boom.getMessage.toLowerCase.contains("not found"), boom.getMessage)
  }

  test("bucketFiles serves a marker-validated cached listing: a quiescent " +
      "layout re-lists once; every maintenance rewrite (append, compact) is " +
      "seen exactly — validator is the marker, not a TTL; fresh markers " +
      "inside the mtime-granularity slack are never trusted") {
    Bucketed.invalidate(spark, "bflist_lspec")
    val orders = Tables.orders(spark, dir)
    val Seq(t) = Bucketed.ensure(spark, dir, Seq(
      Bucketed.Spec("bflist_lspec", slices(orders, "o_orderkey", 0 to 5),
        "o_orderkey", srcTables = Seq("orders"))), buckets = 4)

    // the slack guard distrusts a marker younger than 2 s; backdate it
    // the way wall-clock quiescence would
    def backdateMarker(): Unit =
      Files.setLastModifiedTime(
        Paths.get(localDir(t).getPath, "_GRAFT_COMPLETE"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 10000))
    backdateMarker()
    val base = Bucketed.bucketFiles(spark, t)
    val n0 = Bucketed.bucketListings
    assert(Bucketed.bucketFiles(spark, t) == base)
    assert(Bucketed.bucketListings == n0,
      "second call on a quiescent layout walked the directory again")

    // an append rewrites the marker: the very next call must see the
    // appended files (exactness — a TTL cache would serve the old set)
    Bucketed.appendOnce(spark, "bflist-6", Seq(t -> slice(orders, "o_orderkey", 6)))
    backdateMarker()
    val after = Bucketed.bucketFiles(spark, t)
    assert(Bucketed.bucketListings > n0)
    assert(after.valuesIterator.map(_.size).sum >
      base.valuesIterator.map(_.size).sum,
      "append's files missing from the served listing")

    // compact certifies a NEW versioned dir: seen via the dir key
    Bucketed.compact(spark, t)
    backdateMarker()
    val compacted = Bucketed.bucketFiles(spark, t)
    assert(compacted.valuesIterator.forall(_.size == 1))

    // a marker younger than the slack is re-listed on EVERY call — two
    // maintenance windows closing within one mtime tick cannot alias
    Files.setLastModifiedTime(
      Paths.get(localDir(t).getPath, "_GRAFT_COMPLETE"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val n1 = Bucketed.bucketListings
    Bucketed.bucketFiles(spark, t)
    Bucketed.bucketFiles(spark, t)
    assert(Bucketed.bucketListings >= n1 + 2,
      "fresh-marker calls must re-list (mtime-granularity slack)")

    // a malformed slack override must not throw in the listing path — it
    // falls through to the scheme profile (r14 ADVICE: the bare .toLong
    // threw NumberFormatException out of bucketFiles)
    spark.conf.set("spark.graft.layout.mtimeSlackMs", "not-a-number")
    try assert(Bucketed.bucketFiles(spark, t) == compacted)
    finally spark.conf.unset("spark.graft.layout.mtimeSlackMs")

    // invalidate forgets every per-table memo of the tables it drops: the
    // cached listing and the memoized bucket count, not only the location
    backdateMarker()
    Bucketed.bucketFiles(spark, t)
    assert(Bucketed.bucketsOf(spark, t) == 4)
    assert(Bucketed.memoized(spark, t) == Set("location", "buckets", "listing"))
    Bucketed.invalidate(spark, "bflist_lspec")
    assert(Bucketed.memoized(spark, t).isEmpty, "invalidate left memo entries behind")
  }
}
